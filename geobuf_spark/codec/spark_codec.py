"""Vectorized geobuf codec over Spark DataFrames — Arrow batches in, numpy
kernels inside, zero per-row Python on the hot path.

Points and the full decode are the exception. encode_points,
decode_points, decode_points_agg and roundtrip_points are JVM plans over
the gb_point_enc/gb_point UDFs of codec/jvm, and decode_features_fast is a
JVM plan over gb_decode (any geometry type, properties included): one
evaluation per row, no Python worker in the stage, codec/core.py as the
parity oracle. The line and ring batch kernels below keep the Arrow
shape: varint byte matrices + cumsum offsets + one scatter into a single
buffer on encode, one varint sweep over the concatenated geometry
payloads on decode.

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
# numpy batch kernels (testable without Spark)
# ---------------------------------------------------------------------------

class _FrameWriter:
    """Shared scatter helpers for the batch encode kernels: a per-row write
    cursor over one contiguous output buffer. One implementation — the
    kernels previously each carried a verbatim copy, and fixes drifted."""

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

    def segmented(self, mat, lens, seg_starts, seg_counts, seg_bytes):
        """Scatter a variable count of varints per row: flat byte positions
        via cumsum arithmetic (rows advance by their own byte totals)."""
        tok_off = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=tok_off[1:])
        row_of_tok = np.repeat(np.arange(len(seg_starts)), seg_counts)
        base = self.pos[row_of_tok] + (tok_off[:-1] - tok_off[seg_starts][row_of_tok])
        for j in range(mat.shape[1]):
            sel = lens > j
            self.buf[base[sel] + j] = mat[sel, j]
        self.pos = self.pos + seg_bytes


def _tokenize_geometry(frames: pa.Array):
    """Payload-level decode prologue: field-walk every frame for the id
    (tag 0x08), geom code (tag 0x18) and geometry payload (tag 0x22),
    gather the payload byte ranges contiguously, and varint-tokenize ONLY
    those bytes. It tolerates properties, missing bbox, and any field
    order — the same per-field walk the reference decoder does
    (read_feature.go:9-100), batched.

    Returns (n, ids, codes, tokens, first, counts) where tokens are the
    geometry deltas/headers only and first/counts index them per frame."""
    combined = pa.concat_arrays([frames.cast(pa.binary())])
    n = len(combined)
    if n == 0:
        e = np.empty(0, dtype=np.int64)
        return 0, e, e, np.empty(0, np.uint64), e, e
    flat = np.frombuffer(combined.buffers()[2], dtype=np.uint8)
    offs = np.frombuffer(combined.buffers()[1], dtype=np.int32)
    starts = offs[combined.offset : combined.offset + n].astype(np.int64)
    ends = offs[combined.offset + 1 : combined.offset + n + 1].astype(np.int64)

    ids = np.zeros(n, dtype=np.int64)
    codes = np.full(n, -1, dtype=np.int64)
    g_start = np.full(n, -1, dtype=np.int64)
    g_len = np.zeros(n, dtype=np.int64)
    for active, tag, pstart, plen, v, _ in frame_fields_walk(flat, starts, ends):
        is_id = tag == 0x08
        if is_id.any():
            ids[active[is_id]] = v[is_id].astype(np.int64)
        is_code = tag == 0x18
        if is_code.any():
            sel = active[is_code]
            fresh = codes[sel] < 0
            codes[sel[fresh]] = v[is_code][fresh].astype(np.int64)
        is_geom = tag == 0x22
        if is_geom.any():
            sel = active[is_geom]
            fresh = g_start[sel] < 0
            g_start[sel[fresh]] = pstart[is_geom][fresh]
            g_len[sel[fresh]] = plen[is_geom][fresh]
    # a truncated/corrupt frame whose geometry length overruns its frame
    # boundary would otherwise gather the NEXT frame's bytes — silent
    # cross-frame corruption, not an error
    overrun = (g_start >= 0) & (g_start + g_len > ends)
    if overrun.any():
        raise ValueError(
            f"{int(overrun.sum())} frame(s) with geometry payload running "
            "past the frame end — truncated or corrupt input")
    if ((codes < 0) | (g_start < 0)).any():
        raise ValueError("frame missing geometry-type or geometry field")

    byte_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(g_len, out=byte_off[1:])
    total = int(byte_off[-1])
    row_of_byte = np.repeat(np.arange(n), g_len)
    local = np.arange(total, dtype=np.int64) - byte_off[row_of_byte]
    gbuf = flat[g_start[row_of_byte] + local]
    # a payload ending mid-varint (last byte still has the continuation
    # bit) would silently merge its final token with the next frame's
    # first token in the concatenated sweep — line-shaped batches can even
    # pass the counts%dim check and decode wrong values
    tail = byte_off[1:][g_len > 0] - 1
    if len(tail) and (gbuf[tail] >= 0x80).any():
        raise ValueError(
            f"{int((gbuf[tail] >= 0x80).sum())} frame(s) whose geometry "
            "payload ends mid-varint — truncated or corrupt input")
    tokens = core.unpack_varints(gbuf, 0, len(gbuf))
    tok_ends = np.flatnonzero(gbuf < 0x80)
    tok_starts_b = (np.concatenate(([0], tok_ends[:-1] + 1))
                    if len(tok_ends) else np.empty(0, np.int64))
    counts = np.diff(np.searchsorted(tok_starts_b, byte_off))
    first = np.zeros(n, dtype=np.int64)
    np.cumsum(counts[:-1], out=first[1:])
    return n, ids, codes, tokens, first, counts


def _varint_matrix(v: np.ndarray):
    """(values → (N,10) byte matrix, lengths) — vectorized varint encode."""
    v = v.astype(np.uint64, copy=False)
    lens = core.varint_lengths(v)
    maxlen = int(lens.max()) if len(v) else 1
    j = np.arange(maxlen, dtype=np.uint64)
    groups = (v[:, None] >> (j[None, :] * np.uint64(7))) & np.uint64(0x7F)
    cont = np.where(np.arange(maxlen)[None, :] < (lens - 1)[:, None], 0x80, 0)
    return (groups | cont.astype(np.uint64)).astype(np.uint8), lens


# ---------------------------------------------------------------------------
# DataFrame-level API
# ---------------------------------------------------------------------------

def _point_enc(id_col: str, lon: str, lat: str) -> Column:
    """gb_point_enc over (id, lon, lat): 0x08 id | 0x18 1 | 0x22 zigzag
    x,y | 0x2A degenerate bbox, coordinates truncated onto the 1e-7
    lattice. Null or non-finite inputs fail the task."""
    return F.call_function("gb_point_enc", F.col(id_col).cast("long"),
                           F.col(lon).cast("double"), F.col(lat).cast("double"))


def _point_columns(df: DataFrame, p: Column, id_col: str) -> DataFrame:
    """A gb_point array [id, lon_q, lat_q] → columns (id_col, lon_q, lat_q),
    with `p` evaluated once per row. `p` is computed in one select and read
    through inline(array(struct(...))): the Generate is a barrier, so an
    inferred isnotnull filter on lon_q/lat_q stays above it, and projection
    collapse cannot copy `p` (or the expressions under it) into each of
    the three element_at reads."""
    jvm_codec.require(df.sparkSession)
    return df.select(p.alias("_p")).select(F.inline(F.array(F.struct(
        F.element_at("_p", 1).alias(id_col),
        F.element_at("_p", 2).alias("lon_q"),
        F.element_at("_p", 3).alias("lat_q")))))


def encode_points(df: DataFrame, id_col: str = "doc_id", lon: str = "lon",
                  lat: str = "lat", out: str = "geobuf") -> DataFrame:
    """(id, lon, lat) → (id, geobuf) in the JVM (gb_point_enc), frames
    byte-identical to core.encode_feature. The frame is read through the
    same one-row inline barrier as the decoders, so a filter on it never
    re-runs the encoder."""
    jvm_codec.require(df.sparkSession)
    return df.select(F.inline(F.array(F.struct(
        F.col(id_col).cast("long").alias(id_col),
        _point_enc(id_col, lon, lat).alias(out)))))


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


def decode_lines_agg(df: DataFrame, bin_col: str = "geobuf",
                     parts: int | None = None) -> DataFrame:
    """Fused decode→reduce for line frames: one Arrow pass emits per-batch
    partials of (count, Σ size(coords_q), Σ first-x) — the roads-scan
    reduce shape — and the JVM folds them. Materializing the decoded
    columns through a second Arrow serde would be pure overhead when the
    query only reduces them. `parts` right-sizes the Python stage:
    per-task dispatch costs ~0.2-0.3 s wall, so many tiny tasks lose to
    few big ones until the kernel work dominates."""
    src = df.select(bin_col)
    if parts:
        src = src.coalesce(parts)
    schema = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("sum_size", T.LongType()),
        T.StructField("sum_first_x", T.LongType()),
    ])

    def _da(batches):
        c = sz = fx = 0
        for b in batches:
            ids, coords, nv = decode_lines_kernel(b.column(0))
            if not len(ids):
                continue
            c += len(ids)
            sz += 2 * int(nv.sum())
            starts = np.zeros(len(nv), dtype=np.int64)
            np.cumsum(nv[:-1] * 2, out=starts[1:])
            fx += int(coords[starts].sum())
        yield pa.RecordBatch.from_arrays(
            [pa.array([v], type=pa.int64()) for v in (c, sz, fx)],
            names=["n", "sum_size", "sum_first_x"])

    partials = src.mapInArrow(_da, schema)
    return partials.agg(
        F.sum("n").alias("n"), F.sum("sum_size").alias("sum_size"),
        F.sum("sum_first_x").alias("sum_first_x"))


# ---------------------------------------------------------------------------
# LineString batch kernels — the reference's roads workload, fully vectorized
# (segmented deltas across a flattened batch; no per-row Python)
# ---------------------------------------------------------------------------

def encode_lines_kernel(ids: np.ndarray, coords: np.ndarray, nv: np.ndarray,
                        dim: int = 2, geom_type: int = 2) -> pa.Array:
    """Encode N LineString/MultiPoint features → Arrow binary frames.

    coords: flat float64 interleaved (x0,y0[,z0,…],x1,y1,…) across the
    whole batch; nv: vertices per feature; dim 2–15 (homogeneous per
    batch). MultiPoint (geom_type=4) shares LineString's exact wire shape
    (packed deltas, geom.go:249-252). Wire layout per WriteFeature with
    writeline delta semantics (geom.go:204-246); geom code embeds dim per
    makegeomcode (geom.go:59-76: dim==2 → code=type, else code=type<<4|dim);
    bbox stays 4-valued x/y regardless of dim (bb.go:10-37)."""
    n = len(ids)
    if n == 0:
        return pa.array([], type=pa.binary())
    if not (2 <= dim <= 15):
        raise ValueError(f"dim must be 2..15, got {dim}")
    if geom_type not in (2, 4):
        raise ValueError("encode_lines_kernel handles LineString(2)/MultiPoint(4)")
    if (np.asarray(nv) <= 0).any():
        # reduceat over an empty segment borrows the neighbor's value and
        # silently corrupts every later frame in the batch — reject
        raise ValueError("feature with zero vertices; filter before encoding")
    geom_code = geom_type if dim == 2 else (geom_type << 4) | dim
    q = core.quantize_vec(coords).reshape(-1, dim)  # (total_v, dim)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(nv[:-1], out=starts[1:])
    # segmented delta: d[i] = q[i] - q[i-1], reset at row starts
    d = np.empty_like(q)
    d[0] = q[0]
    d[1:] = q[1:] - q[:-1]
    d[starts] = q[starts]
    zz = core.zigzag_vec(d.reshape(-1))  # interleaved x,y zigzag deltas

    # per-feature bbox from quantized vertices (bb.go:10-37 over lattice)
    ends = starts + nv
    minx = np.minimum.reduceat(q[:, 0], starts)
    maxx = np.maximum.reduceat(q[:, 0], starts)
    miny = np.minimum.reduceat(q[:, 1], starts)
    maxy = np.maximum.reduceat(q[:, 1], starts)
    bbox_zz = core.zigzag_vec(np.stack([minx, miny, maxx, maxy], axis=1).reshape(-1))

    mid, lid = _varint_matrix(ids.astype(np.uint64))
    mg, lg = _varint_matrix(zz)
    mb, lb = _varint_matrix(bbox_zz)
    # per-feature packed-geometry byte length = sum of its delta varints
    tok_starts = dim * starts
    glen = np.add.reduceat(lg, tok_starts)
    blen = lb.reshape(n, 4).sum(axis=1)
    mgl, lgl = _varint_matrix(glen.astype(np.uint64))
    mbl, lbl = _varint_matrix(blen.astype(np.uint64))

    total = 1 + lid + 2 + 1 + lgl + glen + 1 + lbl + blen
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(total, out=offsets[1:])
    buf = np.empty(offsets[-1], dtype=np.uint8)

    w = _FrameWriter(buf, offsets[:-1])
    put_const, put_mat = w.const, w.mat
    put_segmented = w.segmented

    put_const(8)
    put_mat(mid, lid)
    put_const(24)
    put_const(geom_code)  # LineString; dim embedded when > 2
    put_const(34)
    put_mat(mgl, lgl)
    put_segmented(mg, lg, tok_starts, dim * nv, glen)
    put_const(42)
    put_mat(mbl, lbl)
    put_segmented(mb, lb, np.arange(n) * 4, np.full(n, 4), blen)
    assert np.array_equal(w.pos, offsets[1:])

    return pa.BinaryArray.from_buffers(
        pa.binary(), n,
        [None, pa.py_buffer(offsets.astype(np.int32).tobytes()), pa.py_buffer(buf.tobytes())],
    )


def _lines_core(ids: np.ndarray, code0: int, tokens: np.ndarray,
                counts: np.ndarray):
    """LineString/MultiPoint decode over geometry-payload tokens: every
    token is a delta, so the even/odd split IS the x/y split (per dim)."""
    n = len(ids)
    dim = 2 if code0 <= 6 else code0 & 0xF
    if int(counts.sum()) % dim or (counts % dim).any():
        raise ValueError("line geometry token count not divisible by dim")
    nv = counts // dim
    d = core.unzigzag_vec(tokens).reshape(-1, dim)
    # segmented cumsum per row
    v_starts = np.zeros(n, dtype=np.int64)
    np.cumsum(nv[:-1], out=v_starts[1:])
    c = np.cumsum(d, axis=0)
    base = np.zeros((n, dim), dtype=np.int64)
    base[1:] = c[v_starts[1:] - 1]
    coords_q = c - np.repeat(base, nv, axis=0)
    return ids, coords_q.reshape(-1), nv


def decode_lines_kernel(frames: pa.Array):
    """Decode N LineString frames → (ids, flat quantized coords, nv).

    Geometry payloads are field-walked out of each frame (properties /
    bbox / field order tolerated — reader parity with read_feature.go),
    gathered contiguously, and swept in one varint pass; segmented cumsum
    (global cumsum minus per-row offset) rebuilds absolute lattice
    coordinates."""
    n, ids, codes, tokens, first, counts = _tokenize_geometry(frames)
    if n == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e, e
    code0 = int(codes[0])
    if not np.all(codes == code0):
        raise ValueError("mixed-dim LineString batch; use decode_features_fast")
    return _lines_core(ids, code0, tokens, counts)


def encode_lines(df: DataFrame, id_col: str = "line_id", coords: str = "coords",
                 out: str = "geobuf", dim: int = 2) -> DataFrame:
    """(id, coords flat array<double>) → (id, geobuf) via the vectorized
    LineString kernel (one Arrow pass). `dim` is the vertex width (2=x/y,
    3=x/y/z, … up to 15) of the interleaved coords array."""
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField(out, T.BinaryType()),
    ])

    def _enc(batches):
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            carr = batch.column(1)
            flat = carr.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            offs = carr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            nv = (offs[1:] - offs[:-1]) // dim
            frames = encode_lines_kernel(ids, flat, nv, dim=dim)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()), frames], names=[id_col, out]
            )

    return df.select(id_col, coords).mapInArrow(_enc, schema)


def decode_lines(df: DataFrame, bin_col: str = "geobuf", id_col: str = "line_id") -> DataFrame:
    """LineString frames → (id, coords_q flat array<bigint>) — exact ints."""
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("coords_q", T.ArrayType(T.LongType())),
    ])

    def _dec(batches):
        for batch in batches:
            frames = batch.column(batch.schema.get_field_index(bin_col))
            ids, coords_q, nv = decode_lines_kernel(frames)
            total_v = int(nv.sum())
            dim = len(coords_q) // total_v if total_v else 2
            offs = np.zeros(len(ids) + 1, dtype=np.int32)
            np.cumsum(nv * dim, out=offs[1:])
            carr = pa.ListArray.from_arrays(
                pa.array(offs, type=pa.int32()), pa.array(coords_q, type=pa.int64())
            )
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()), carr], names=[id_col, "coords_q"]
            )

    return df.select(bin_col).mapInArrow(_dec, schema)


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
# Polygon / MultiLineString batch kernels — ring-structured geometries,
# fully vectorized. Wire shape (geom.go:255-273): per ring a varint
# `len(ring)·dim` then that ring's packed zigzag deltas, delta state
# resetting at each ring (readline per ring, geom.go:103-111,127-157).
# MultiPoint shares the LineString layout (packed deltas, no ring counts).
# ---------------------------------------------------------------------------

def encode_rings_kernel(ids: np.ndarray, coords: np.ndarray, ring_nv: np.ndarray,
                        rings_per_feat: np.ndarray, geom_type: int = 3,
                        dim: int = 2) -> pa.Array:
    """Encode N ring-structured features (Polygon=3 / MultiLineString=5).

    coords: flat float64 interleaved across the whole batch; ring_nv:
    vertices per ring (all rings, feature-major); rings_per_feat: rings
    per feature."""
    n = len(ids)
    if n == 0:
        return pa.array([], type=pa.binary())
    if geom_type not in (3, 5):
        raise ValueError("encode_rings_kernel handles Polygon(3)/MultiLineString(5)")
    if not (2 <= dim <= 15):
        raise ValueError(f"dim must be 2..15, got {dim}")
    if (np.asarray(ring_nv) <= 0).any() or (np.asarray(rings_per_feat) <= 0).any():
        raise ValueError("empty ring or zero-ring feature; filter before encoding")
    geom_code = geom_type if dim == 2 else (geom_type << 4) | dim

    q = core.quantize_vec(coords).reshape(-1, dim)  # (total_v, dim)
    R = len(ring_nv)
    v_starts = np.zeros(R, dtype=np.int64)
    np.cumsum(ring_nv[:-1], out=v_starts[1:])
    # per-ring segmented delta (reset each ring — geom.go:127-157)
    d = np.empty_like(q)
    d[0] = q[0]
    d[1:] = q[1:] - q[:-1]
    d[v_starts] = q[v_starts]
    zz = core.zigzag_vec(d.reshape(-1))  # (total_v*dim,) ring-major

    # token stream: per ring [count=nv·dim, deltas…]
    ring_tok_counts = 1 + ring_nv * dim
    ring_tok_offs = np.zeros(R, dtype=np.int64)
    np.cumsum(ring_tok_counts[:-1], out=ring_tok_offs[1:])
    total_toks = int(ring_tok_counts.sum())
    tokens = np.empty(total_toks, dtype=np.uint64)
    tokens[ring_tok_offs] = (ring_nv * dim).astype(np.uint64)
    is_delta = np.ones(total_toks, dtype=bool)
    is_delta[ring_tok_offs] = False
    tokens[is_delta] = zz

    # feature-level grouping
    feat_ring_start = np.zeros(n, dtype=np.int64)
    np.cumsum(rings_per_feat[:-1], out=feat_ring_start[1:])
    feat_tok_start = ring_tok_offs[feat_ring_start]
    feat_tok_counts = np.add.reduceat(ring_tok_counts, feat_ring_start)

    # per-feature bbox over quantized vertices (x/y only, bb.go:10-37)
    feat_v_start = v_starts[feat_ring_start]
    minx = np.minimum.reduceat(q[:, 0], feat_v_start)
    maxx = np.maximum.reduceat(q[:, 0], feat_v_start)
    miny = np.minimum.reduceat(q[:, 1], feat_v_start)
    maxy = np.maximum.reduceat(q[:, 1], feat_v_start)
    bbox_zz = core.zigzag_vec(np.stack([minx, miny, maxx, maxy], axis=1).reshape(-1))

    mid, lid = _varint_matrix(ids.astype(np.uint64))
    mg, lg = _varint_matrix(tokens)
    mb, lb = _varint_matrix(bbox_zz)
    glen = np.add.reduceat(lg, feat_tok_start)
    blen = lb.reshape(n, 4).sum(axis=1)
    mgl, lgl = _varint_matrix(glen.astype(np.uint64))
    mbl, lbl = _varint_matrix(blen.astype(np.uint64))

    total = 1 + lid + 2 + 1 + lgl + glen + 1 + lbl + blen
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(total, out=offsets[1:])
    buf = np.empty(offsets[-1], dtype=np.uint8)
    w = _FrameWriter(buf, offsets[:-1])
    put_const, put_mat = w.const, w.mat
    put_segmented = w.segmented

    put_const(8)
    put_mat(mid, lid)
    put_const(24)
    put_const(geom_code)
    put_const(34)
    put_mat(mgl, lgl)
    put_segmented(mg, lg, feat_tok_start, feat_tok_counts, glen)
    put_const(42)
    put_mat(mbl, lbl)
    put_segmented(mb, lb, np.arange(n) * 4, np.full(n, 4), blen)
    assert np.array_equal(w.pos, offsets[1:])

    return pa.BinaryArray.from_buffers(
        pa.binary(), n,
        [None, pa.py_buffer(offsets.astype(np.int32).tobytes()), pa.py_buffer(buf.tobytes())],
    )


def decode_rings_kernel(frames: pa.Array):
    """Decode N ring-structured frames → (ids, flat quantized coords,
    ring_nv, rings_per_feat, geom_type, dim).

    Ring boundaries are data-dependent (each ring announces its token
    count), so the walk iterates max-rings-per-feature times over the
    active frame set — vectorized within each round."""
    n, ids, codes, tokens, first, counts = _tokenize_geometry(frames)
    if n == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e, e, e, 0, 2
    code0 = int(codes[0])
    if not np.all(codes == code0):
        raise ValueError("mixed geom-code batch; use decode_features_fast")
    return _rings_core(ids, code0, tokens, first, counts)


def _rings_core(ids: np.ndarray, code0: int, tokens: np.ndarray,
                first: np.ndarray, counts: np.ndarray):
    n = len(ids)
    geom_type = code0 if code0 <= 6 else code0 >> 4
    dim = 2 if code0 <= 6 else code0 & 0xF

    # ring walk over geometry-payload tokens [first, first+counts)
    g_end = first + counts
    pos = first.copy()
    ring_feat, ring_start_tok, ring_nv_l = [], [], []
    rings_per_feat = np.zeros(n, dtype=np.int64)
    active = np.flatnonzero(pos < g_end)
    while len(active):
        cnt = tokens[pos[active]].astype(np.int64)  # nv·dim
        ring_feat.append(active.copy())
        ring_start_tok.append(pos[active] + 1)
        ring_nv_l.append(cnt // dim)
        rings_per_feat[active] += 1
        pos[active] += 1 + cnt
        active = active[pos[active] < g_end[active]]
    if not ring_feat:
        e = np.empty(0, dtype=np.int64)
        return ids, e, e, rings_per_feat, geom_type, dim
    # rings discovered round-by-round → reorder feature-major, round-minor
    rf = np.concatenate(ring_feat)
    rs = np.concatenate(ring_start_tok)
    rnv = np.concatenate(ring_nv_l)
    rounds = np.concatenate([np.full(len(a), i) for i, a in enumerate(ring_feat)])
    order = np.lexsort((rounds, rf))
    rf, rs, rnv = rf[order], rs[order], rnv[order]

    # gather delta tokens per ring
    tok_counts = rnv * dim
    R = len(rnv)
    starts = np.zeros(R, dtype=np.int64)
    np.cumsum(tok_counts[:-1], out=starts[1:])
    big = np.repeat(np.arange(R), tok_counts)
    t = np.arange(int(tok_counts.sum()), dtype=np.int64) - starts[big]
    d = core.unzigzag_vec(tokens[rs[big] + t]).reshape(-1, dim)
    # segmented cumsum reset per ring
    v_starts = np.zeros(R, dtype=np.int64)
    np.cumsum(rnv[:-1], out=v_starts[1:])
    c = np.cumsum(d, axis=0)
    base = np.zeros((R, dim), dtype=np.int64)
    base[1:] = c[v_starts[1:] - 1]
    coords_q = c - np.repeat(base, rnv, axis=0)
    return ids, coords_q.reshape(-1), rnv, rings_per_feat, geom_type, dim


def encode_polygons(df: DataFrame, id_col: str = "poly_id", coords: str = "coords",
                    ring_lens: str = "ring_lens", out: str = "geobuf",
                    geom_type: int = 3, dim: int = 2) -> DataFrame:
    """(id, coords flat array<double>, ring_lens array<int>) → (id, geobuf)
    via the vectorized ring kernel (Polygon or MultiLineString)."""
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField(out, T.BinaryType()),
    ])

    def _enc(batches):
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            carr = batch.column(1)
            flat = carr.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            rarr = batch.column(2)
            ring_nv = rarr.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            roffs = rarr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            rings_per_feat = roffs[1:] - roffs[:-1]
            frames = encode_rings_kernel(ids, flat, ring_nv, rings_per_feat,
                                         geom_type=geom_type, dim=dim)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()), frames], names=[id_col, out]
            )

    return df.select(id_col, coords, ring_lens).mapInArrow(_enc, schema)


def decode_polygons(df: DataFrame, bin_col: str = "geobuf", id_col: str = "poly_id") -> DataFrame:
    """Ring frames → (id, coords_q flat array<bigint>, ring_lens array<int>)."""
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("coords_q", T.ArrayType(T.LongType())),
        T.StructField("ring_lens", T.ArrayType(T.IntegerType())),
    ])

    def _dec(batches):
        for batch in batches:
            frames = batch.column(batch.schema.get_field_index(bin_col))
            ids, coords_q, ring_nv, rpf, _, dim = decode_rings_kernel(frames)
            coffs = np.zeros(len(ids) + 1, dtype=np.int32)
            roffs = np.zeros(len(ids) + 1, dtype=np.int32)
            np.cumsum(rpf, out=roffs[1:])
            feat_v = np.add.reduceat(ring_nv, roffs[:-1]) if len(ring_nv) else np.zeros(len(ids), np.int64)
            np.cumsum(feat_v * dim, out=coffs[1:])
            carr = pa.ListArray.from_arrays(
                pa.array(coffs, type=pa.int32()), pa.array(coords_q, type=pa.int64()))
            rarr = pa.ListArray.from_arrays(
                pa.array(roffs, type=pa.int32()), pa.array(ring_nv.astype(np.int32), type=pa.int32()))
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()), carr, rarr],
                names=[id_col, "coords_q", "ring_lens"])

    return df.select(bin_col).mapInArrow(_dec, schema)


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
# properties on the hot path — key/value tables (write_feature.go:180-189,
# write_primitives.go:244-286) encoded vectorized for FIXED prop schemas
# (the web-page shape: every row carries the same keys, e.g. url/lang).
# ---------------------------------------------------------------------------

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
    mid, lid = _varint_matrix(ids.astype(np.uint64))
    mx, lx = _varint_matrix(zx)
    my, ly = _varint_matrix(zy)
    glen = lx + ly
    blen = 2 * glen
    mgl, lgl = _varint_matrix(glen.astype(np.uint64))
    mbl, lbl = _varint_matrix(blen.astype(np.uint64))

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
            msl, lsl = _varint_matrix(slen.astype(np.uint64))
            val_inner = 1 + lsl + slen            # 0x0A slen s
            mvi, lvi = _varint_matrix(val_inner.astype(np.uint64))
            inner = (2 + len(kb)) + 1 + lvi + val_inner  # key part + 0x12 vi …
            min_, lin = _varint_matrix(inner.astype(np.uint64))
            total = 1 + lin + inner
            enc_props.append((kb, kind, (flat, offs, slen, msl, lsl, mvi, lvi, min_, lin)))
        elif kind == "int":
            mv, lv = _varint_matrix(data.astype(np.uint64))
            val_inner = 1 + lv                    # 0x20 varint(v)
            mvi, lvi = _varint_matrix(val_inner.astype(np.uint64))
            inner = (2 + len(kb)) + 1 + lvi + val_inner
            min_, lin = _varint_matrix(inner.astype(np.uint64))
            total = 1 + lin + inner
            enc_props.append((kb, kind, (mv, lv, mvi, lvi, min_, lin)))
        elif kind == "float":
            # FloatVal64 (write_primitives.go:228-240): 0x19 + 8 LE bytes
            le = np.ascontiguousarray(data, dtype="<f8").view(np.uint8).reshape(n, 8)
            inner = np.full(n, (2 + len(kb)) + 2 + 9, dtype=np.int64)  # 0x12 0x09 0x19 + 8
            min_, lin = _varint_matrix(inner.astype(np.uint64))
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
