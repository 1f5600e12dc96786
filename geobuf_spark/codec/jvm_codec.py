"""JVM-side geobuf codec — registration and the many-files read plan.

Loads the compiled codec (jvm/GbCodec.java, committed as jvm/gb-codec.jar
and rebuilt by tools/build_jvm.py only when the source hash it records no
longer matches) and exposes it as Spark SQL functions that run inside the
scan stage like from_json: zero Python in the plan, so the per-task Python
dispatch and both Arrow serdes disappear.

This is the only codec in Spark: every function of spark_codec — the
point, line and polygon encoders and decoders, the full decode to
GEOM_SCHEMA rows (gb_decode), the generic encoder and the property tables
(gb_encode), the lazy one-property and keys-only reads (gb_prop, gb_keys)
and the bbox read (gb_bbox) — is a plan over the UDFs registered here,
pinned byte for byte against codec/core.py. sources.geobuf_file.read_geobuf
splits frames with gb_frames. All of them raise (naming the jar) when it
cannot be registered. This module keeps the registration (every UDF but
gb_frames nondeterministic, so each runs once per row) and the many-files
read plan.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

JAR = Path(__file__).parent / "jvm" / "gb-codec.jar"

# one decoded frame (gb_decode) and one generic-encoder input (gb_encode)
GEOM_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("geom_type", T.IntegerType()),
    T.StructField("dim", T.IntegerType()),
    T.StructField("coords", T.ArrayType(T.DoubleType())),
    T.StructField("ring_lens", T.ArrayType(T.IntegerType())),
    T.StructField("part_rings", T.ArrayType(T.IntegerType())),
    T.StructField("props_json", T.StringType()),
])

_LONGS = T.ArrayType(T.LongType())
# (SQL name, GbCodec class, return type). _register probes the LAST name,
# so a UDF added at the end makes a session holding an older jar's set
# register the whole table again.
_UDFS = [
    ("gb_point", "Point", _LONGS),
    ("gb_line_stats", "LineStats", _LONGS),
    ("gb_line_decode", "LineDecode", _LONGS),
    ("gb_poly_dec", "PolyDecode", _LONGS),
    ("gb_bbox", "Bbox", _LONGS),
    ("gb_point_enc", "PointEnc", T.BinaryType()),
    ("gb_line_enc", "LineEnc", T.BinaryType()),
    ("gb_poly_enc", "PolyEnc", T.BinaryType()),
    ("gb_frames", "Frames", T.ArrayType(T.BinaryType())),
    ("gb_decode", "Decode", GEOM_SCHEMA),
    ("gb_encode", "Encode", T.BinaryType()),
    # one field per lazy_property value_type
    ("gb_prop", "Prop", T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("string", T.StringType()),
        T.StructField("bigint", T.LongType()),
        T.StructField("double", T.DoubleType())])),
    ("gb_keys", "Keys", T.ArrayType(T.StringType())),
]


def _register(spark: SparkSession) -> None:
    """ADD JAR + register every UDF of _UDFS; raises on failure."""
    # registration is per-session (session catalog), so idempotence
    # is probed from the catalog itself: an applicationId key would skip
    # registration for a second session (spark.newSession()) in the same
    # app, and an id(spark) key can alias a GC'd session's address. One
    # Py4J call, since every codec function runs this during plan build.
    if spark.catalog.functionExists(_UDFS[-1][0]):
        return
    try:
        from tools.build_jvm import build
    except ImportError:  # repo tools not importable (installed package)
        def build():
            return JAR if JAR.exists() else None
    jar = build()
    if jar is None:
        raise FileNotFoundError(f"{JAR} is missing and no JDK can build it")
    spark.sql(f"ADD JAR '{jar.resolve().as_uri()}'")
    # A nondeterministic UDF is evaluated once per row: Catalyst neither
    # copies it into collapsed projections nor pushes a filter below it.
    # gb_frames (once per row by its explode) stays deterministic so a
    # filter on the path column beside it still reaches the scan.
    jss = spark._jsparkSession
    for name, cls, rtype in _UDFS:
        f = spark._jvm.geobufspark.GbCodec.udf(cls, jss.parseDataType(rtype.json()))
        jss.udf().register(name, f if name == "gb_frames" else f.asNondeterministic())


def register(spark: SparkSession) -> bool:
    """Register the JVM codec functions. Idempotent per session; False
    (never raises) when the jar cannot be loaded."""
    try:
        _register(spark)
    except Exception:
        return False
    return True


def require(spark: SparkSession) -> None:
    """register(), but raise — naming the jar — when it fails: for the
    read paths, which have no other implementation."""
    try:
        _register(spark)
    except Exception as e:
        raise RuntimeError(
            f"the JVM geobuf codec ({JAR}) could not be registered: {e}") from e


def read_geobuf_files_jvm(spark: SparkSession, path: str,
                          bin_col: str = "geobuf") -> DataFrame:
    """Many framed .geobuf files → one DataFrame of raw frames, zero
    Python in the plan: JVM binaryFile scan → gb_frames split → explode.
    The concurrent-read shape of the reference (geobuf_concurrent.go:
    18-63 fans file reads across goroutines; here the files fan across
    tasks — one task per file by default, binaryFile never splits a
    file). Same splitter as sources.geobuf_file.read_geobuf, but without
    the metadata-dummy sniff: subfile layouts carry no dummy
    (read_frames skip_metadata=False contract)."""
    require(spark)
    files = spark.read.format("binaryFile").load(path)
    return (files.select(
        F.col("path"),
        F.explode(F.expr("gb_frames(content, false)")).alias(bin_col)))

