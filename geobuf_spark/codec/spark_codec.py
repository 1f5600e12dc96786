"""Geobuf codec over Spark DataFrames, run in the JVM.

Every function here is a plan over the gb_* UDFs of codec/jvm, with no
Python worker in the stage, and codec/core.py is the parity oracle:
encode_points, decode_points, decode_points_agg and roundtrip_points
(gb_point_enc/gb_point), encode_lines, decode_lines and decode_lines_agg
(gb_line_enc/gb_line_decode/gb_line_stats), encode_polygons and
decode_polygons (gb_poly_enc/gb_poly_dec), decode_features_fast
(gb_decode: any geometry type, properties included),
encode_features_generic and encode_points_with_props (gb_encode: any
geometry type, the key/value property table of WriteFeature), the lazy
reads lazy_property (gb_prop: LazyFeatureTileID, one property, geometry
jumped) and frame_keys (gb_keys: ReadKeys), and frame_bbox (gb_bbox).
Each is a plain select; the UDFs are registered nondeterministic, so each
is evaluated once per row, under a filter on an output column too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geobuf_spark.codec import jvm_codec
from geobuf_spark.codec.jvm_codec import GEOM_SCHEMA


def _gb(df: DataFrame, name: str, *args: Column) -> Column:
    """The JVM function `name` over args, registered in df's session."""
    jvm_codec.require(df.sparkSession)
    return F.call_function(name, *args)


def _id(df: DataFrame, id_col: str) -> Column:
    """The id column as bigint, under its own name."""
    return df[id_col].cast("long").alias(id_col)


def _point_enc(df: DataFrame, id_col: str, lon: str, lat: str) -> Column:
    """gb_point_enc over (id, lon, lat): 0x08 id | 0x18 1 | 0x22 zigzag
    x,y | 0x2A degenerate bbox, coordinates truncated onto the 1e-7
    lattice. Null or non-finite inputs fail the task."""
    return _gb(df, "gb_point_enc", F.col(id_col).cast("long"),
               F.col(lon).cast("double"), F.col(lat).cast("double"))


def _point_columns(df: DataFrame, p: Column, id_col: str) -> DataFrame:
    """A gb_point array [id, lon_q, lat_q] → columns (id_col, lon_q, lat_q)."""
    return df.select(p.alias("_g")).select(
        F.element_at("_g", 1).alias(id_col), F.element_at("_g", 2).alias("lon_q"),
        F.element_at("_g", 3).alias("lat_q"))


def encode_points(df: DataFrame, id_col: str = "doc_id", lon: str = "lon",
                  lat: str = "lat", out: str = "geobuf") -> DataFrame:
    """(id, lon, lat) → (id, geobuf) in the JVM (gb_point_enc), frames
    byte-identical to core.encode_feature."""
    return df.select(_id(df, id_col), _point_enc(df, id_col, lon, lat).alias(out))


def decode_points(df: DataFrame, bin_col: str = "geobuf",
                  id_col: str = "id") -> DataFrame:
    """Point frames → (id, lon_q, lat_q) in the JVM (gb_point): the exact
    int64 1e-7 lattice. Extra fields (properties, no bbox, any field
    order) are skipped; a frame whose geometry is not two values, or that
    is truncated, fails the task."""
    return _point_columns(df, _gb(df, "gb_point", F.col(bin_col)), id_col)


def decode_points_agg(df: DataFrame, bin_col: str = "geobuf") -> DataFrame:
    """Fused decode→reduce for point frames: (n, sum_id, sum_lon_q,
    sum_lat_q), with gb_point and the partial aggregate in one whole-stage
    pipeline — the engine's lazy-read shape (ReadBoundingBox /
    LazyFeature semantics, reader.go:145-166), the same fusion Catalyst
    gives from_json."""
    return decode_points(df, bin_col).agg(
        F.count("*").alias("n"), F.sum("id").alias("sum_id"),
        F.sum("lon_q").alias("sum_lon_q"), F.sum("lat_q").alias("sum_lat_q"))


def roundtrip_points(df: DataFrame, id_col: str = "doc_id", lon: str = "lon",
                     lat: str = "lat") -> DataFrame:
    """Fused encode→decode, gb_point(gb_point_enc(...)), evaluated once per
    row in the JVM (bench/verify path): proves the wire format with no
    Python worker and no Arrow serde. Output (id_col, lon_q, lat_q)."""
    p = _gb(df, "gb_point", _point_enc(df, id_col, lon, lat))
    return _point_columns(df, p, id_col)


def encode_lines(df: DataFrame, id_col: str = "line_id", coords: str = "coords",
                 out: str = "geobuf") -> DataFrame:
    """(id, coords flat x,y array<double>) → (id, geobuf) LineString frames
    in the JVM (gb_line_enc), byte-identical to core.encode_feature:
    packed zigzag vertex deltas (geom.go:204-246), bbox over the quantized
    vertices (bb.go:10-37). A null id or coords, an empty or odd-length
    coords array, or a non-finite coordinate fails the task."""
    return df.select(_id(df, id_col), _gb(
        df, "gb_line_enc", F.col(id_col).cast("long"),
        F.col(coords).cast("array<double>")).alias(out))


def decode_lines(df: DataFrame, bin_col: str = "geobuf",
                 id_col: str = "line_id") -> DataFrame:
    """LineString or MultiPoint frames → (id, coords_q flat array<bigint>)
    in the JVM (gb_line_decode): the exact int64 1e-7 lattice, each frame
    at the dim of its own geometry code, so one batch may mix dims.
    Properties, a missing bbox and any field order are skipped; a frame
    whose token count is not a multiple of its dim, or that is truncated,
    fails the task."""
    return df.select(_gb(df, "gb_line_decode", F.col(bin_col)).alias("_g")).select(
        F.element_at("_g", 1).alias(id_col),
        F.slice("_g", 2, F.size("_g") - 1).alias("coords_q"))


def decode_lines_agg(df: DataFrame, bin_col: str = "geobuf") -> DataFrame:
    """Fused decode→reduce for line frames: (n, sum_size, sum_first_x) —
    count, Σ size(coords_q) and Σ coords_q[1] of decode_lines, at any
    dim — the roads-scan reduce shape. gb_line_stats counts each frame's
    tokens and reads its first delta without building the coords array,
    and the partial aggregate folds it in the same whole-stage pipeline."""
    s = df.select(_gb(df, "gb_line_stats", F.col(bin_col)).alias("_g")).select(
        F.element_at("_g", 2).alias("size"), F.element_at("_g", 3).alias("first_x"))
    return s.agg(F.count("*").alias("n"), F.sum("size").alias("sum_size"),
                 F.sum("first_x").alias("sum_first_x"))


def encode_polygons(df: DataFrame, id_col: str = "poly_id", coords: str = "coords",
                    ring_lens: str = "ring_lens", out: str = "geobuf") -> DataFrame:
    """(id, coords flat x,y array<double>, ring_lens array<int> of vertices
    per ring) → (id, geobuf) Polygon frames in the JVM (gb_poly_enc),
    byte-identical to core.encode_feature: per ring the varint nv·2 then
    its zigzag deltas, the delta state reset at each ring
    (geom.go:255-273). No ring, an empty ring, ring_lens not summing to the
    vertex count, or a null or non-finite input fails the task."""
    return df.select(_id(df, id_col), _gb(
        df, "gb_poly_enc", F.col(id_col).cast("long"),
        F.col(coords).cast("array<double>"),
        F.col(ring_lens).cast("array<int>")).alias(out))


def decode_polygons(df: DataFrame, bin_col: str = "geobuf",
                    id_col: str = "poly_id") -> DataFrame:
    """Polygon or MultiLineString frames → (id, coords_q flat
    array<bigint>, ring_lens array<int>) in the JVM (gb_poly_dec), each
    frame at its own dim. gb_poly_dec returns [id, R, nv_1..nv_R,
    coords...]; a ring count that is zero, not a multiple of the dim or
    overrunning the payload fails the task."""
    nr = F.element_at("_g", 2).cast("int")
    return df.select(_gb(df, "gb_poly_dec", F.col(bin_col)).alias("_g")).select(
        F.element_at("_g", 1).alias(id_col),
        F.slice("_g", nr + 3, F.size("_g") - nr - 2).alias("coords_q"),
        F.slice("_g", 3, nr).cast("array<int>").alias("ring_lens"))


def decode_features_fast(df: DataFrame, bin_col: str = "geobuf") -> DataFrame:
    """Geobuf frames → GEOM_SCHEMA rows in the JVM (gb_decode), with no
    Python worker in the plan.

    One field walk per frame (reader.go:84-112 scan semantics), under
    the rules of core.frame_fields, decodes every geometry type and dim
    from its payload tokens and reads the property entries it finds, as
    json.dumps(core.decode_properties(frame), sort_keys=True); a frame
    without entries gets "{}". The frames it accepts, and their values,
    are core.decode_feature's.

    Float coords come from the exact integer lattice (go_round7(q/1e7))
    rather than the reference's per-vertex float accumulation — identical
    on every lattice value, without the reference's ≤2e-7 accumulation
    drift (geom.go:78-90 discussion in SURVEY §1.3). A corrupt frame fails
    the task; a null frame gives a row of nulls."""
    return df.select(_gb(df, "gb_decode", F.col(bin_col)).alias("_g")).select("_g.*")


# ---------------------------------------------------------------------------
# any geometry with properties: gb_encode (WriteFeature, write_feature.go:
# 180-263) and the lazy reads (split_combine.go:333-370, reader.go:120-142)
# ---------------------------------------------------------------------------

def _gb_encode(df: DataFrame, feature: list[Column], props: Column) -> Column:
    """gb_encode over GEOM_SCHEMA-ordered columns and a props struct."""
    return _gb(df, "gb_encode", F.struct(*(
        c.cast(f.dataType).alias(f.name)
        for c, f in zip(feature, GEOM_SCHEMA.fields))), props)


def encode_features_generic(df: DataFrame, out: str = "geobuf") -> DataFrame:
    """Rows shaped like GEOM_SCHEMA → the same rows plus `out`, one frame
    each, in the JVM (gb_encode), byte-identical to core.encode_feature
    of the row with properties json.loads(props_json): any geometry type,
    dims 2-15, a null id writes no id field, geometry type 0 no geometry.
    Property values are typed as core types them — str, float (NaN and
    ±Infinity included), int (int64 as field 4, [2**63, 2**64) as the
    unsigned field 5), bool; a repeated key keeps its first position and
    its last value. A null or nested value, a lone surrogate, an int out of
    range, an empty geometry or a non-finite coordinate fails the task —
    the import/export edge (ConvertGeojson, convert_geojson.go:153-193)."""
    frame = _gb_encode(df, [F.col(f.name) for f in GEOM_SCHEMA.fields], F.lit(None))
    return df.select(*(df[c] for c in df.columns if c != out), frame.alias(out))


_PROP_TYPES = (T.StringType, T.LongType, T.IntegerType, T.ShortType, T.ByteType,
               T.DoubleType, T.FloatType, T.BooleanType)


def encode_points_with_props(df: DataFrame, id_col: str = "doc_id",
                             lon: str = "lon", lat: str = "lat",
                             props: list | None = None,
                             out: str = "geobuf") -> DataFrame:
    """(id, lon, lat, props…) → (id, geobuf) point frames with a property
    table of typed columns — the web-page shape (url, lang, …) — in the
    JVM (gb_encode), byte-identical to core.encode_feature. Each column
    keeps its type on the wire: string, integral (field 4), float or
    double (float64, NaN and ±Inf included) and boolean. A null id, lon,
    lat or property value fails the task: the geobuf KeyValue has no null
    encoding, so filter or fill first."""
    props = props or []
    missing = [p for p in props if p not in df.columns]
    if missing:
        raise ValueError(f"property columns not in DataFrame: {missing}")
    for p in props:
        if not isinstance(df.schema[p].dataType, _PROP_TYPES):
            raise ValueError(
                f"unsupported property type for {p}: {df.schema[p].dataType}")
    fid = F.coalesce(F.col(id_col).cast("long"), F.raise_error(F.lit(
        f"encode_points_with_props: column {id_col!r} has null values")))
    point = [fid, F.lit(1), F.lit(2),
             F.array(F.col(lon).cast("double"), F.col(lat).cast("double")),
             F.array(F.lit(1)), F.array(F.lit(1)), F.lit(None)]
    typed = F.struct(*(F.col(p) for p in props)) if props else F.lit(None)
    return df.select(_id(df, id_col), _gb_encode(df, point, typed).alias(out))


def lazy_property(df: DataFrame, key: str, bin_col: str = "geobuf",
                  value_type: str = "string") -> DataFrame:
    """(id, <key>) per frame: the one property `key`, read in the JVM
    (gb_prop) without decoding the geometry — LazyFeatureTileID. Equals
    core.decode_properties(frame).get(key) when that is a value of
    value_type (string: a str; bigint: an int in int64, not a bool;
    double: a float), else null; of repeated keys the last wins. id is
    0 for a frame without one. Every entry's key is read, and only the
    matching entry's value: a frame fails when the field walk, a key or
    that value does not parse."""
    if value_type not in ("string", "bigint", "double"):
        raise ValueError(
            f"value_type must be string, bigint or double: {value_type!r}")
    g = _gb(df, "gb_prop", F.col(bin_col), F.lit(key))
    return df.select(g.alias("_g")).select(F.col("_g.id").alias("id"),
                                           F.col("_g")[value_type].alias(key))


def frame_keys(df: DataFrame, bin_col: str = "geobuf") -> DataFrame:
    """One (key) row per property entry of each frame, in wire order with
    repeats kept — ReadKeys in the JVM (gb_keys): values and geometry are
    jumped, never parsed. Schema inference over raw frames."""
    return df.select(F.explode(_gb(df, "gb_keys", F.col(bin_col))).alias("key"))


def frame_bbox(df: DataFrame, bin_col: str = "geobuf") -> DataFrame:
    """(w_q, s_q, e_q, n_q) per frame without decoding geometry — the JVM
    gb_bbox field walk (ReadBB, read_feature.go:103-134), no Python in the
    plan; frames lacking a bbox field (old encoders) yield nulls."""
    b = df.select(_gb(df, "gb_bbox", F.col(bin_col)).alias("bbox"))
    return b.select(*(b.bbox[i].alias(c)
                      for i, c in enumerate(("w_q", "s_q", "e_q", "n_q"))))
