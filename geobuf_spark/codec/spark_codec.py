"""Geobuf codec over Spark DataFrames.

The geometry codec runs in the JVM, over the gb_* UDFs of codec/jvm:
encode_points, decode_points, decode_points_agg and roundtrip_points
(gb_point_enc/gb_point), encode_lines, decode_lines and decode_lines_agg
(gb_line_enc/gb_line_decode/gb_line_stats), encode_polygons and
decode_polygons (gb_poly_enc/gb_poly_dec), and decode_features_fast
(gb_decode: any geometry type, properties included). Each UDF is
evaluated once per row, with no Python worker in the stage, and
codec/core.py is the parity oracle.

The fixed-schema property tables (encode_points_with_props) and the lazy
property and key reads (lazy_property, frame_keys) are numpy kernels
over Arrow batches: varint byte matrices + cumsum offsets + one scatter
on encode, bounded rounds of tag-length jumps on read.

encode_features_generic and decode_features_generic run the per-feature
core codec inside mapInPandas — the import/export edge (ConvertGeojson/
ConvertGeobuf analog, convert_geojson.go:153-193) and the reference's
float-accumulation decode, not the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geobuf_spark.codec import core, jvm_codec

# ---------------------------------------------------------------------------
# JVM geometry codec
# ---------------------------------------------------------------------------

def _read_once(df: DataFrame, g: Column, *fields: Column) -> DataFrame:
    """The columns `fields` — expressions over the column "_g" — read off
    a gb_* result `g` evaluated once per row. `g` is computed in one
    select as _g and read through inline(array(struct(...))): the
    Generate is a barrier, so a filter on an output column (pushed down
    or inferred) stays above it, and projection collapse cannot copy `g`
    (or the expressions under it) into each field read."""
    jvm_codec.require(df.sparkSession)
    return df.select(g.alias("_g")).select(F.inline(F.array(F.struct(*fields))))


def _encode_once(df: DataFrame, id_col: str, frame: Column, out: str) -> DataFrame:
    """(id_col, out) rows with the gb_*_enc `frame` computed inside the
    same one-row inline Generate, so a filter on it never re-runs the
    encoder."""
    jvm_codec.require(df.sparkSession)
    return df.select(F.inline(F.array(F.struct(
        F.col(id_col).cast("long").alias(id_col), frame.alias(out)))))


def _point_enc(id_col: str, lon: str, lat: str) -> Column:
    """gb_point_enc over (id, lon, lat): 0x08 id | 0x18 1 | 0x22 zigzag
    x,y | 0x2A degenerate bbox, coordinates truncated onto the 1e-7
    lattice. Null or non-finite inputs fail the task."""
    return F.call_function("gb_point_enc", F.col(id_col).cast("long"),
                           F.col(lon).cast("double"), F.col(lat).cast("double"))


def _point_columns(df: DataFrame, p: Column, id_col: str) -> DataFrame:
    """A gb_point array [id, lon_q, lat_q] → columns (id_col, lon_q, lat_q)."""
    return _read_once(df, p, F.element_at("_g", 1).alias(id_col),
                      F.element_at("_g", 2).alias("lon_q"),
                      F.element_at("_g", 3).alias("lat_q"))


def encode_points(df: DataFrame, id_col: str = "doc_id", lon: str = "lon",
                  lat: str = "lat", out: str = "geobuf") -> DataFrame:
    """(id, lon, lat) → (id, geobuf) in the JVM (gb_point_enc), frames
    byte-identical to core.encode_feature."""
    return _encode_once(df, id_col, _point_enc(id_col, lon, lat), out)


def decode_points(df: DataFrame, bin_col: str = "geobuf",
                  id_col: str = "id") -> DataFrame:
    """Point frames → (id, lon_q, lat_q) in the JVM (gb_point): the exact
    int64 1e-7 lattice. Extra fields (properties, no bbox, any field
    order) are skipped; a frame whose geometry is not two values, or that
    is truncated, fails the task."""
    return _point_columns(df, F.call_function("gb_point", F.col(bin_col)), id_col)


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
    p = F.call_function("gb_point", _point_enc(id_col, lon, lat))
    return _point_columns(df, p, id_col)


def encode_lines(df: DataFrame, id_col: str = "line_id", coords: str = "coords",
                 out: str = "geobuf") -> DataFrame:
    """(id, coords flat x,y array<double>) → (id, geobuf) LineString frames
    in the JVM (gb_line_enc), byte-identical to core.encode_feature:
    packed zigzag vertex deltas (geom.go:204-246), bbox over the quantized
    vertices (bb.go:10-37). A null id or coords, an empty or odd-length
    coords array, or a non-finite coordinate fails the task."""
    return _encode_once(df, id_col, F.call_function(
        "gb_line_enc", F.col(id_col).cast("long"),
        F.col(coords).cast("array<double>")), out)


def decode_lines(df: DataFrame, bin_col: str = "geobuf",
                 id_col: str = "line_id") -> DataFrame:
    """LineString or MultiPoint frames → (id, coords_q flat array<bigint>)
    in the JVM (gb_line_decode): the exact int64 1e-7 lattice, each frame
    at the dim of its own geometry code, so one batch may mix dims.
    Properties, a missing bbox and any field order are skipped; a frame
    whose token count is not a multiple of its dim, or that is truncated,
    fails the task."""
    return _read_once(
        df, F.call_function("gb_line_decode", F.col(bin_col)),
        F.element_at("_g", 1).alias(id_col),
        F.slice("_g", 2, F.size("_g") - 1).alias("coords_q"))


def decode_lines_agg(df: DataFrame, bin_col: str = "geobuf") -> DataFrame:
    """Fused decode→reduce for line frames: (n, sum_size, sum_first_x) —
    count, Σ size(coords_q) and Σ coords_q[1] of decode_lines, at any
    dim — the roads-scan reduce shape. gb_line_stats counts each frame's
    tokens and reads its first delta without building the coords array,
    and the partial aggregate folds it in the same whole-stage pipeline."""
    s = _read_once(df, F.call_function("gb_line_stats", F.col(bin_col)),
                   F.element_at("_g", 2).alias("size"),
                   F.element_at("_g", 3).alias("first_x"))
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
    return _encode_once(df, id_col, F.call_function(
        "gb_poly_enc", F.col(id_col).cast("long"),
        F.col(coords).cast("array<double>"),
        F.col(ring_lens).cast("array<int>")), out)


def decode_polygons(df: DataFrame, bin_col: str = "geobuf",
                    id_col: str = "poly_id") -> DataFrame:
    """Polygon or MultiLineString frames → (id, coords_q flat
    array<bigint>, ring_lens array<int>) in the JVM (gb_poly_dec), each
    frame at its own dim. gb_poly_dec returns [id, R, nv_1..nv_R,
    coords...]; a ring count that is zero, not a multiple of the dim or
    overrunning the payload fails the task."""
    nr = F.element_at("_g", 2).cast("int")
    return _read_once(
        df, F.call_function("gb_poly_dec", F.col(bin_col)),
        F.element_at("_g", 1).alias(id_col),
        F.slice("_g", nr + 3, F.size("_g") - nr - 2).alias("coords_q"),
        F.slice("_g", 3, nr).cast("array<int>").alias("ring_lens"))


def decode_features_fast(df: DataFrame, bin_col: str = "geobuf") -> DataFrame:
    """Geobuf frames → GEOM_SCHEMA rows in the JVM (gb_decode), with no
    Python worker in the plan.

    One field walk per frame (reader.go:84-112 scan semantics) decodes
    every geometry type and dim from its payload tokens. Properties are
    parsed only for frames whose walk shows them, as json.dumps(
    core.decode_properties(frame), sort_keys=True); every other frame gets
    "{}". The struct is computed in one select and read through a one-row
    inline Generate, so it is evaluated once per row, not once per field.

    Float coords come from the exact integer lattice (go_round7(q/1e7))
    rather than the reference's per-vertex float accumulation — identical
    on every lattice value, without the reference's ≤2e-7 accumulation
    drift (geom.go:78-90 discussion in SURVEY §1.3). A corrupt frame fails
    the task; a null frame gives a row of nulls."""
    jvm_codec.require(df.sparkSession)
    return df.select(F.inline(F.array(F.call_function("gb_decode", F.col(bin_col)))))


# ---------------------------------------------------------------------------
# generic (any geometry / properties) — the import/export edge
# ---------------------------------------------------------------------------

GEOM_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("geom_type", T.IntegerType()),
    T.StructField("dim", T.IntegerType()),
    T.StructField("coords", T.ArrayType(T.DoubleType())),
    T.StructField("ring_lens", T.ArrayType(T.IntegerType())),
    T.StructField("part_rings", T.ArrayType(T.IntegerType())),
    T.StructField("props_json", T.StringType()),
])


def encode_features_generic(df: DataFrame, out: str = "geobuf") -> DataFrame:
    """Encode rows shaped like GEOM_SCHEMA → geobuf frames (cold path)."""
    import json

    @F.pandas_udf(T.BinaryType())
    def _enc(id_s: pd.Series, gt_s: pd.Series, dim_s: pd.Series, coords_s: pd.Series,
             rl_s: pd.Series, pr_s: pd.Series, props_s: pd.Series) -> pd.Series:
        out_frames = []
        for i in range(len(id_s)):
            props = json.loads(props_s.iloc[i]) if props_s.iloc[i] else {}
            feat = core.Feature(
                geom_type=int(gt_s.iloc[i]), dim=int(dim_s.iloc[i]),
                coords=np.asarray(coords_s.iloc[i], dtype=np.float64),
                ring_lens=np.asarray(rl_s.iloc[i], dtype=np.int64),
                part_rings=np.asarray(pr_s.iloc[i], dtype=np.int64),
                id=None if pd.isna(id_s.iloc[i]) else int(id_s.iloc[i]),
                properties=props,
            )
            out_frames.append(core.encode_feature(feat))
        return pd.Series(out_frames)

    return df.withColumn(
        out,
        _enc(F.col("id"), F.col("geom_type"), F.col("dim"), F.col("coords"),
             F.col("ring_lens"), F.col("part_rings"), F.col("props_json")),
    )


def decode_features_generic(df: DataFrame, bin_col: str = "geobuf") -> DataFrame:
    """Decode arbitrary geobuf frames → GEOM_SCHEMA rows (cold path)."""
    import json

    def _dec(batches):
        for pdf in batches:
            rows = []
            for frame in pdf[bin_col]:
                f = core.decode_feature(bytes(frame))
                rows.append({
                    "id": f.id, "geom_type": f.geom_type, "dim": f.dim,
                    "coords": f.coords.tolist(), "ring_lens": f.ring_lens.tolist(),
                    "part_rings": f.part_rings.tolist(),
                    "props_json": json.dumps(f.properties, sort_keys=True),
                })
            yield pd.DataFrame(rows, columns=[f.name for f in GEOM_SCHEMA.fields])

    return df.select(bin_col).mapInPandas(_dec, GEOM_SCHEMA)


# ---------------------------------------------------------------------------
# properties on the hot path — key/value tables (write_feature.go:180-189,
# write_primitives.go:244-286) encoded vectorized for FIXED prop schemas
# (the web-page shape: every row carries the same keys, e.g. url/lang).
# ---------------------------------------------------------------------------

class _FrameWriter:
    """Scatter helpers for encode_points_props_kernel: a per-row write
    cursor over one contiguous output buffer."""

    def __init__(self, buf: np.ndarray, pos: np.ndarray):
        self.buf = buf
        self.pos = pos.copy()

    def const(self, byte: int):
        self.buf[self.pos] = byte
        self.pos = self.pos + 1

    def mat(self, mat: np.ndarray, lens: np.ndarray):
        for j in range(mat.shape[1]):
            sel = lens > j
            self.buf[self.pos[sel] + j] = mat[sel, j]
        self.pos = self.pos + lens


def encode_points_props_kernel(ids: np.ndarray, lon: np.ndarray, lat: np.ndarray,
                               props: list) -> pa.Array:
    """Encode N point features with fixed-schema properties.

    props: list of (key: str, kind: 'str'|'int', data) where data is
    (flat_utf8: uint8 array, offsets: int64 array len N+1) for 'str' or an
    int64 array for 'int'. Wire order follows WriteFeature: id(1),
    properties(2, one KeyValue per key), type(3), geometry(4), bbox(5)."""
    n = len(ids)
    qx, qy = core.quantize_vec(lon), core.quantize_vec(lat)
    zx, zy = core.zigzag_vec(qx), core.zigzag_vec(qy)
    mid, lid = core.varint_matrix(ids.astype(np.uint64))
    mx, lx = core.varint_matrix(zx)
    my, ly = core.varint_matrix(zy)
    glen = lx + ly
    blen = 2 * glen
    mgl, lgl = core.varint_matrix(glen.astype(np.uint64))
    mbl, lbl = core.varint_matrix(blen.astype(np.uint64))

    # per-prop length arithmetic + varint matrices
    enc_props = []
    props_total = np.zeros(n, dtype=np.int64)
    for key, kind, data in props:
        kb = key.encode("utf-8")
        if len(kb) >= 128:
            raise ValueError("property key too long")
        if kind == "str":
            flat, offs = data
            slen = offs[1:] - offs[:-1]
            msl, lsl = core.varint_matrix(slen.astype(np.uint64))
            val_inner = 1 + lsl + slen            # 0x0A slen s
            mvi, lvi = core.varint_matrix(val_inner.astype(np.uint64))
            inner = (2 + len(kb)) + 1 + lvi + val_inner  # key part + 0x12 vi …
            min_, lin = core.varint_matrix(inner.astype(np.uint64))
            total = 1 + lin + inner
            enc_props.append((kb, kind, (flat, offs, slen, msl, lsl, mvi, lvi, min_, lin)))
        elif kind == "int":
            mv, lv = core.varint_matrix(data.astype(np.uint64))
            val_inner = 1 + lv                    # 0x20 varint(v)
            mvi, lvi = core.varint_matrix(val_inner.astype(np.uint64))
            inner = (2 + len(kb)) + 1 + lvi + val_inner
            min_, lin = core.varint_matrix(inner.astype(np.uint64))
            total = 1 + lin + inner
            enc_props.append((kb, kind, (mv, lv, mvi, lvi, min_, lin)))
        elif kind == "float":
            # FloatVal64 (write_primitives.go:228-240): 0x19 + 8 LE bytes
            le = np.ascontiguousarray(data, dtype="<f8").view(np.uint8).reshape(n, 8)
            inner = np.full(n, (2 + len(kb)) + 2 + 9, dtype=np.int64)  # 0x12 0x09 0x19 + 8
            min_, lin = core.varint_matrix(inner.astype(np.uint64))
            total = 1 + lin + inner
            enc_props.append((kb, kind, (le, min_, lin)))
        else:
            raise ValueError(f"unsupported prop kind {kind!r}")
        props_total += total

    total = 1 + lid + props_total + 2 + 1 + lgl + glen + 1 + lbl + blen
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(total, out=offsets[1:])
    buf = np.empty(offsets[-1], dtype=np.uint8)
    w = _FrameWriter(buf, offsets[:-1])
    put_const, put_mat = w.const, w.mat

    def put_payload(flat, offs, slen):
        # byte-level segmented copy: Arrow utf8 payload is contiguous
        # row-major, so src is one arange; dst re-bases each row at w.pos[i]
        nb = int(slen.sum())
        if nb:
            row_of_byte = np.repeat(np.arange(n), slen)
            local = np.arange(nb, dtype=np.int64) - np.repeat(
                np.concatenate(([0], np.cumsum(slen)[:-1])), slen)
            buf[w.pos[row_of_byte] + local] = flat[int(offs[0]) + np.arange(nb)]
        w.pos = w.pos + slen

    put_const(8)
    put_mat(mid, lid)
    for kb, kind, packed in enc_props:
        if kind == "str":
            flat, offs, slen, msl, lsl, mvi, lvi, min_, lin = packed
            put_const(0x12); put_mat(min_, lin)
            put_const(0x0A); put_const(len(kb))
            for b in kb:
                put_const(b)
            put_const(0x12); put_mat(mvi, lvi)
            put_const(0x0A); put_mat(msl, lsl)
            put_payload(flat, offs, slen)
        elif kind == "int":
            mv, lv, mvi, lvi, min_, lin = packed
            put_const(0x12); put_mat(min_, lin)
            put_const(0x0A); put_const(len(kb))
            for b in kb:
                put_const(b)
            put_const(0x12); put_mat(mvi, lvi)
            put_const(0x20); put_mat(mv, lv)
        else:  # float64
            le, min_, lin = packed
            put_const(0x12); put_mat(min_, lin)
            put_const(0x0A); put_const(len(kb))
            for b in kb:
                put_const(b)
            put_const(0x12); put_const(9)
            put_const(0x19)
            put_mat(le, np.full(n, 8, dtype=np.int64))
    put_const(24)
    put_const(1)
    put_const(34)
    put_mat(mgl, lgl)
    put_mat(mx, lx); put_mat(my, ly)
    put_const(42)
    put_mat(mbl, lbl)
    put_mat(mx, lx); put_mat(my, ly); put_mat(mx, lx); put_mat(my, ly)
    assert np.array_equal(w.pos, offsets[1:])
    return pa.BinaryArray.from_buffers(
        pa.binary(), n,
        [None, pa.py_buffer(offsets.astype(np.int32).tobytes()), pa.py_buffer(buf.tobytes())],
    )


def encode_points_with_props(df: DataFrame, id_col: str = "doc_id",
                             lon: str = "lon", lat: str = "lat",
                             props: list | None = None,
                             out: str = "geobuf") -> DataFrame:
    """(id, lon, lat, props…) → (id, geobuf) with the fixed-schema property
    table encoded vectorized (no per-row Python). String and integer
    property columns are supported — the web-page shape (url, lang, …)."""
    props = props or []
    kinds = {}
    for f in df.schema.fields:
        if f.name in props:
            if isinstance(f.dataType, T.StringType):
                kinds[f.name] = "str"
            elif isinstance(f.dataType, (T.LongType, T.IntegerType, T.ShortType)):
                kinds[f.name] = "int"
            elif isinstance(f.dataType, (T.DoubleType, T.FloatType)):
                kinds[f.name] = "float"
            else:
                raise ValueError(f"unsupported property type for {f.name}: {f.dataType}")
    missing = [p for p in props if p not in kinds]
    if missing:
        raise ValueError(f"property columns not in DataFrame: {missing}")

    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField(out, T.BinaryType()),
    ])
    cols = [id_col, lon, lat] + list(props)

    def _enc(batches):
        for batch in batches:
            for ci, cname in enumerate(cols):
                if batch.column(ci).null_count:
                    # a null int64 round-trips through float64 NaN into
                    # INT64_MIN garbage, and a null string's offsets read
                    # as "" — corruption, not data. Fixed-schema contract:
                    # the caller drops or fills nulls first.
                    raise ValueError(
                        f"encode_points_with_props: column {cname!r} has "
                        "null values; geobuf KeyValue has no null encoding "
                        "— filter or fill before encoding")
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            lons = batch.column(1).to_numpy(zero_copy_only=False).astype(np.float64)
            lats = batch.column(2).to_numpy(zero_copy_only=False).astype(np.float64)
            plist = []
            for k, name in enumerate(props):
                arr = batch.column(3 + k)
                if kinds[name] == "str":
                    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
                    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
                        arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
                    flat = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
                    plist.append((name, "str", (flat, offs)))
                elif kinds[name] == "int":
                    plist.append((name, "int",
                                  arr.to_numpy(zero_copy_only=False).astype(np.int64)))
                else:
                    plist.append((name, "float",
                                  arr.to_numpy(zero_copy_only=False).astype(np.float64)))
            frames = encode_points_props_kernel(ids, lons, lats, plist)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()), frames], names=[id_col, out]
            )

    return df.select(*cols).mapInArrow(_enc, schema)


# ---------------------------------------------------------------------------
# lazy partial reads over raw frames — LazyFeatureTileID semantics
# (split_combine.go:333-370): decode EXACTLY one property, skipping the
# geometry/bbox bytes entirely; ReadKeys (reader.go:120-142) as the
# all-keys variant. Vectorized: bounded rounds of tag-length jumps.
# ---------------------------------------------------------------------------

def _read_varint_at(flat: np.ndarray, pos: np.ndarray):
    """Vectorized varint read at positions `pos` → (values, byte lengths)."""
    vals = np.zeros(len(pos), dtype=np.uint64)
    lens = np.zeros(len(pos), dtype=np.int64)
    done = np.zeros(len(pos), dtype=bool)
    last = len(flat) - 1
    for j in range(10):
        # clamp: rows already done may point past the buffer (a varint that
        # ends exactly at the frame/buffer boundary)
        b = flat[np.minimum(pos + j, last)]
        use = ~done
        vals[use] |= (b[use].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * j)
        fin = use & (b < 0x80)
        lens[fin] = j + 1
        done |= fin
        if done.all():
            break
    return vals, lens


def lazy_prop_kernel(frames: pa.Array, key: str, max_props: int = 32):
    """(ids, found mask, str values or int values) — walk only the props
    region of each frame; geometry and bbox bytes are never touched.

    Returns (ids int64, kinds int8 per frame: 0=absent, 1=str, 2=int,
    3=float, str_list, int_vals, float_vals). Each frame contributes its
    FIRST property matching `key`."""
    combined = pa.concat_arrays([frames.cast(pa.binary())])
    n = len(combined)
    kb = np.frombuffer(key.encode("utf-8"), dtype=np.uint8)
    klen = len(kb)
    if n == 0:
        return (np.empty(0, np.int64), np.zeros(0, np.int8), [],
                np.empty(0, np.int64), np.empty(0, np.float64))
    flat = np.frombuffer(combined.buffers()[2], dtype=np.uint8)
    offs = np.frombuffer(combined.buffers()[1], dtype=np.int32)
    starts = offs[combined.offset : combined.offset + n].astype(np.int64)
    ends = offs[combined.offset + 1 : combined.offset + n + 1].astype(np.int64)

    # id field (tag 0x08) is optional (core.encode_feature with id=None)
    has_id = flat[np.minimum(starts, len(flat) - 1)] == 0x08
    pos = starts.copy()
    ids_u = np.zeros(n, dtype=np.uint64)
    if has_id.any():
        iv, il = _read_varint_at(flat, starts[has_id] + 1)
        ids_u[has_id] = iv
        pos[has_id] = starts[has_id] + 1 + il

    kinds = np.zeros(n, dtype=np.int8)
    sval_start = np.zeros(n, dtype=np.int64)
    sval_len = np.zeros(n, dtype=np.int64)
    ival = np.zeros(n, dtype=np.int64)
    fval = np.zeros(n, dtype=np.float64)

    active = np.flatnonzero((pos < ends) & (flat[np.minimum(pos, len(flat) - 1)] == 0x12))
    for _round in range(max_props):
        if len(active) == 0:
            break
        if _round == max_props - 1:
            raise ValueError(
                f"frame with more than {max_props} properties — raise "
                "max_props (silent truncation would read as a missing key)")
        p = pos[active]
        L, ll = _read_varint_at(flat, p + 1)
        inner = p + 1 + ll              # at 0x0A
        # klen is a varint (multi-byte for keys >= 128 chars) — a single
        # byte load misparses reference-written frames silently
        frame_klen, kll = _read_varint_at(flat, inner + 1)
        key_match = frame_klen.astype(np.int64) == klen
        if key_match.any():
            cand = active[key_match]
            kstart = inner[key_match] + 1 + kll[key_match]
            eq = np.ones(len(cand), dtype=bool)
            for j in range(klen):
                eq &= flat[kstart + j] == kb[j]
            hit = cand[eq & (kinds[cand] == 0)]
            if len(hit):
                # value message begins after the key: 0x12 vlen <field>
                hpos = pos[hit]
                hL, hll = _read_varint_at(flat, hpos + 1)
                hinner = hpos + 1 + hll        # at 0x0A
                hklen, hkll = _read_varint_at(flat, hinner + 1)
                vmsg = hinner + 1 + hkll + hklen.astype(np.int64)  # at 0x12
                vlen, vll = _read_varint_at(flat, vmsg + 1)
                vfield = vmsg + 1 + vll        # first byte of the value body
                tag = flat[vfield]
                is_str = tag == 0x0A
                is_int = tag == 0x20
                is_flt = tag == 0x19
                if is_str.any():
                    h = hit[is_str]
                    slen, sll = _read_varint_at(flat, vfield[is_str] + 1)
                    kinds[h] = 1
                    sval_start[h] = vfield[is_str] + 1 + sll
                    sval_len[h] = slen.astype(np.int64)
                if is_int.any():
                    h = hit[is_int]
                    u, _ = _read_varint_at(flat, vfield[is_int] + 1)
                    v = u.astype(np.int64)  # two's complement wrap
                    kinds[h] = 2
                    ival[h] = v
                if is_flt.any():
                    h = hit[is_flt]
                    b8 = np.stack([flat[vfield[is_flt] + 1 + j] for j in range(8)], axis=1)
                    kinds[h] = 3
                    fval[h] = np.ascontiguousarray(b8).view("<f8").reshape(-1)
        pos[active] = p + 1 + ll + L
        nx = pos[active]
        still = (nx < ends[active]) & (flat[np.minimum(nx, len(flat) - 1)] == 0x12)
        active = active[still]

    strs = [
        bytes(flat[sval_start[i] : sval_start[i] + sval_len[i]]).decode("utf-8")
        if kinds[i] == 1 else None
        for i in range(n)
    ]
    return ids_u.astype(np.int64), kinds, strs, ival, fval


def lazy_property(df: DataFrame, key: str, bin_col: str = "geobuf",
                  value_type: str = "string") -> DataFrame:
    """Extract one property per frame from a geobuf binary column without
    decoding geometry — (id, <key>). value_type: string|bigint|double."""
    spark_t = {"string": T.StringType(), "bigint": T.LongType(),
               "double": T.DoubleType()}[value_type]
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField(key, spark_t),
    ])

    def _lazy(batches):
        for batch in batches:
            frames = batch.column(batch.schema.get_field_index(bin_col))
            ids, kinds, strs, ivals, fvals = lazy_prop_kernel(frames, key)
            if value_type == "string":
                col = pa.array(strs, type=pa.string())
            elif value_type == "bigint":
                col = pa.array([int(ivals[i]) if kinds[i] == 2 else None
                                for i in range(len(ids))], type=pa.int64())
            else:
                col = pa.array([float(fvals[i]) if kinds[i] == 3 else None
                                for i in range(len(ids))], type=pa.float64())
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()), col], names=["id", key])

    return df.select(bin_col).mapInArrow(_lazy, schema)


def frame_fields_walk(flat: np.ndarray, starts: np.ndarray, ends: np.ndarray,
                      max_fields: int = 64):
    """Field-level walk over frames: yields per round (active frame idx,
    tag byte, field payload start, payload length). Varint fields report
    length 0 with start at the varint."""
    n = len(starts)
    pos = starts.copy()
    rounds = []
    active = np.flatnonzero(pos < ends)
    for _round in range(max_fields):
        if len(active) == 0:
            break
        if _round == max_fields - 1:
            raise ValueError(
                f"frame with more than {max_fields} fields — raise max_fields "
                "(silent truncation would read as missing data)")
        p = pos[active]
        tag = flat[p]
        wire = tag & 0x7
        # varint fields (wire 0): value right after tag
        v, vl = _read_varint_at(flat, p + 1)
        if (vl == 0).any():
            raise ValueError(
                f"{int((vl == 0).sum())} frame(s) with a varint longer than "
                "10 bytes or running past the frame end — truncated or "
                "corrupt input")
        is_len = wire == 2
        plen = np.where(is_len, v.astype(np.int64), 0)
        pstart = p + 1 + np.where(is_len, vl, 0)
        rounds.append((active.copy(), tag.copy(), pstart, plen, v, vl))
        pos[active] = np.where(is_len, pstart + plen, p + 1 + vl)
        # a field whose payload jump lands past its frame boundary would
        # otherwise drop out of the walk silently — with its tail bytes
        # unparsed, a truncated frame could still decode (e.g. a clipped
        # trailing bbox) instead of failing
        over = (pos[active] > ends[active]) | (plen < 0)
        if over.any():
            raise ValueError(
                f"{int(over.sum())} frame(s) with a field payload running "
                "past the frame end — truncated or corrupt input")
        active = active[pos[active] < ends[active]]
    return rounds


def frame_keys_kernel(frames: pa.Array):
    """ReadKeys (reader.go:120-142): property KEYS only — values and
    geometry are skipped. Returns (row_idx, keys list[str])."""
    combined = pa.concat_arrays([frames.cast(pa.binary())])
    n = len(combined)
    if n == 0:
        return np.empty(0, np.int64), []
    flat = np.frombuffer(combined.buffers()[2], dtype=np.uint8)
    offs = np.frombuffer(combined.buffers()[1], dtype=np.int32)
    starts = offs[combined.offset : combined.offset + n].astype(np.int64)
    ends = offs[combined.offset + 1 : combined.offset + n + 1].astype(np.int64)
    rows, keys = [], []
    for active, tag, pstart, plen, _, _ in frame_fields_walk(flat, starts, ends):
        sel = tag == 0x12  # properties field
        if not sel.any():
            continue
        for i, ps, pl in zip(active[sel], pstart[sel], plen[sel]):
            # inside KeyValue: 0x0A varint(klen) key …
            kl, kp = core.decode_varint(flat, ps + 1)
            rows.append(int(i))
            keys.append(bytes(flat[kp : kp + kl]).decode("utf-8"))
    return np.asarray(rows, dtype=np.int64), keys


def frame_keys(df: DataFrame, bin_col: str = "geobuf") -> DataFrame:
    """Exploded (key) rows per frame — schema inference over raw frames."""
    schema = T.StructType([T.StructField("key", T.StringType())])

    def _k(batches):
        for batch in batches:
            frames = batch.column(batch.schema.get_field_index(bin_col))
            _, keys = frame_keys_kernel(frames)
            yield pa.RecordBatch.from_arrays([pa.array(keys, type=pa.string())], names=["key"])

    return df.select(bin_col).mapInArrow(_k, schema)


def frame_bbox(df: DataFrame, bin_col: str = "geobuf") -> DataFrame:
    """(w_q, s_q, e_q, n_q) per frame without decoding geometry — the JVM
    gb_bbox field walk (ReadBB, read_feature.go:103-134), no Python in the
    plan; frames lacking a bbox field (old encoders) yield nulls."""
    jvm_codec.require(df.sparkSession)
    b = df.select(F.call_function("gb_bbox", F.col(bin_col)).alias("bbox"))
    return b.select(*(b.bbox[i].alias(c)
                      for i, c in enumerate(("w_q", "s_q", "e_q", "n_q"))))
