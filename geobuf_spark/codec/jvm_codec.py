"""JVM-side geobuf codec — registration and the many-files read plan.

Loads the compiled codec (jvm/GbCodec.java, committed as jvm/gb-codec.jar
and rebuilt by tools/build_jvm.py only when the source hash it records no
longer matches) and exposes it as Spark SQL functions that run inside the
scan stage like from_json: zero Python in the plan, so the per-task Python
dispatch and both Arrow serdes disappear.

This is the only geometry codec in Spark: the point, line and polygon
encoders and decoders of spark_codec (encode_/decode_points,
encode_/decode_lines, decode_lines_agg, encode_/decode_polygons) and its
full decode to GEOM_SCHEMA rows (decode_features_fast) are plans over the
UDFs registered here, pinned byte for byte against codec/core.py. The
geobuf read path is JVM-only too: sources.geobuf_file.read_geobuf splits
frames with gb_frames and spark_codec.frame_bbox reads bboxes with gb_bbox.
All of them raise (naming the jar) when it cannot be registered. This
module keeps the registration and the many-files read plan.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

JAR = Path(__file__).parent / "jvm" / "gb-codec.jar"
_UDFS = {
    "gb_point": "geobufspark.GbCodec$Point",
    "gb_line_stats": "geobufspark.GbCodec$LineStats",
    "gb_line_decode": "geobufspark.GbCodec$LineDecode",
    "gb_poly_dec": "geobufspark.GbCodec$PolyDecode",
    "gb_bbox": "geobufspark.GbCodec$Bbox",
}
_ENC_UDFS = {
    "gb_point_enc": "geobufspark.GbCodec$PointEnc",
    "gb_line_enc": "geobufspark.GbCodec$LineEnc",
    "gb_poly_enc": "geobufspark.GbCodec$PolyEnc",
}
# file-stream splitter (array<binary> return type, registered separately)
_FRAMES_UDF = ("gb_frames", "geobufspark.GbCodec$Frames")
# full decode to one spark_codec.GEOM_SCHEMA struct per frame
_DECODE_UDF = ("gb_decode", "geobufspark.GbCodec$Decode")


def _register(spark: SparkSession) -> None:
    """ADD JAR + register the decode and encode UDFs; raises on failure."""
    # registerJavaFunction is per-session (session catalog), so idempotence
    # is probed from the catalog itself: an applicationId key would skip
    # registration for a second session (spark.newSession()) in the same
    # app, and an id(spark) key can alias a GC'd session's address.
    # probe the NEWEST udf name: a session that registered an older jar
    # then re-registers the full set instead of reporting done
    if spark.catalog.functionExists("gb_decode"):
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
    arr = T.ArrayType(T.LongType())
    for name, cls in _UDFS.items():
        spark.udf.registerJavaFunction(name, cls, arr)
    for name, cls in _ENC_UDFS.items():
        spark.udf.registerJavaFunction(name, cls, T.BinaryType())
    spark.udf.registerJavaFunction(
        _FRAMES_UDF[0], _FRAMES_UDF[1], T.ArrayType(T.BinaryType()))
    from geobuf_spark.codec.spark_codec import GEOM_SCHEMA

    spark.udf.registerJavaFunction(_DECODE_UDF[0], _DECODE_UDF[1], GEOM_SCHEMA)


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

