"""S2-style cube-face cell index as pure Column expressions.

Implements the published S2 cell decomposition shape — unit-sphere point →
cube face (argmax axis) → per-face (u,v) → quantized (i,j) at a level —
with two documented simplifications:

- linear s = (u+1)/2 instead of S2's quadratic area-equalizing transform
  (cell areas vary ~3× across a face; hierarchy/equality semantics are
  unchanged);
- ids pack ((face·2^L + i)·2^L + j) rather than interleaving on a Hilbert
  curve (S2's ordering locality is not needed for equi-join indexing;
  parent/child arithmetic stays (i>>1, j>>1, L-1)).

Face/UV mapping follows the S2 convention:
  face 0 (+x): u=y/x,  v=z/x      face 3 (−x): u=z/(−x), v=y/(−x)
  face 1 (+y): u=−x/y, v=z/y      face 4 (−y): u=z/(−y), v=x/(−y)
  face 2 (+z): u=−x/z, v=−y/z     face 5 (−z): u=−y/(−z), v=−x/(−z)

All expressions are JVM-side (trig + when-chains); the identical arithmetic
is emitted as ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _xyz(lon: Column, lat: Column):
    rl, rp = F.radians(lon), F.radians(lat)
    return F.cos(rp) * F.cos(rl), F.cos(rp) * F.sin(rl), F.sin(rp)


def s2_face(lon: Column, lat: Column) -> Column:
    x, y, z = _xyz(lon, lat)
    ax, ay, az = F.abs(x), F.abs(y), F.abs(z)
    return (
        F.when((ax >= ay) & (ax >= az), F.when(x >= 0, 0).otherwise(3))
        .when(ay >= az, F.when(y >= 0, 1).otherwise(4))
        .otherwise(F.when(z >= 0, 2).otherwise(5))
    )


def _uv(lon: Column, lat: Column):
    x, y, z = _xyz(lon, lat)
    f = s2_face(lon, lat)
    u = (
        F.when(f == 0, y / x).when(f == 1, -x / y).when(f == 2, -x / z)
        .when(f == 3, z / (-x)).when(f == 4, z / (-y)).otherwise(-y / (-z))
    )
    v = (
        F.when(f == 0, z / x).when(f == 1, z / y).when(f == 2, -y / z)
        .when(f == 3, y / (-x)).when(f == 4, x / (-y)).otherwise(-x / (-z))
    )
    return u, v


def s2_fij(lon: Column, lat: Column, level: int):
    """(face, i, j) component Columns of the cell at `level` — the same
    arithmetic :func:`s2_cell` packs, exposed for ring/block construction
    (kNN candidate generation needs per-axis offsets)."""
    n = 1 << level
    u, v = _uv(lon, lat)
    i = F.least(F.greatest(F.floor((u + 1.0) / 2.0 * n), F.lit(0)), F.lit(n - 1)).cast("bigint")
    j = F.least(F.greatest(F.floor((v + 1.0) / 2.0 * n), F.lit(0)), F.lit(n - 1)).cast("bigint")
    f = s2_face(lon, lat).cast("bigint")
    return f, i, j


def s2_cell(lon: Column, lat: Column, level: int) -> Column:
    """64-bit cell id at `level` (0–28): ((face·2^L + i)·2^L + j)."""
    n = 1 << level
    f, i, j = s2_fij(lon, lat, level)
    return (f * n + i) * n + j


def s2_parent(cell: Column, level: int) -> Column:
    """Parent cell id one level up — (i>>1, j>>1, L-1) in packed form.

    Pure bit arithmetic: `/` on bigint Columns is DOUBLE division and
    corrupts ids above 2^53 (levels ≥ 26)."""
    m = 1 << (level - 1)
    j = cell.bitwiseAND(F.lit((1 << level) - 1))
    i = F.shiftright(cell, level).bitwiseAND(F.lit((1 << level) - 1))
    f = F.shiftright(cell, 2 * level)
    return (f * m + F.shiftright(i, 1)) * m + F.shiftright(j, 1)


def sql_s2_cell(lon: str, lat: str, level: int) -> str:
    """The identical arithmetic as ANSI SQL (DuckDB oracle)."""
    n = 1 << level
    x = f"(cos(radians({lat})) * cos(radians({lon})))"
    y = f"(cos(radians({lat})) * sin(radians({lon})))"
    z = f"(sin(radians({lat})))"
    face = (
        f"(CASE WHEN abs({x}) >= abs({y}) AND abs({x}) >= abs({z}) "
        f"THEN (CASE WHEN {x} >= 0 THEN 0 ELSE 3 END) "
        f"WHEN abs({y}) >= abs({z}) THEN (CASE WHEN {y} >= 0 THEN 1 ELSE 4 END) "
        f"ELSE (CASE WHEN {z} >= 0 THEN 2 ELSE 5 END) END)"
    )
    u = (
        f"(CASE {face} WHEN 0 THEN {y}/{x} WHEN 1 THEN -{x}/{y} WHEN 2 THEN -{x}/{z} "
        f"WHEN 3 THEN {z}/(-{x}) WHEN 4 THEN {z}/(-{y}) ELSE -{y}/(-{z}) END)"
    )
    v = (
        f"(CASE {face} WHEN 0 THEN {z}/{x} WHEN 1 THEN {z}/{y} WHEN 2 THEN -{y}/{z} "
        f"WHEN 3 THEN {y}/(-{x}) WHEN 4 THEN {x}/(-{y}) ELSE -{x}/(-{z}) END)"
    )
    i = f"CAST(least(greatest(floor(({u} + 1.0) / 2.0 * {n}), 0), {n - 1}) AS BIGINT)"
    j = f"CAST(least(greatest(floor(({v} + 1.0) / 2.0 * {n}), 0), {n - 1}) AS BIGINT)"
    return f"(({face} * {n} + {i}) * {n} + {j})"


# ---------------------------------------------------------------------------
# bbox → cell cover (numpy kernel + Spark wrapper)
#
# Conservative cross-face cover by interval arithmetic: bound x,y,z =
# (cos·cos, cos·sin, sin) over the lon/lat box, divide intervals per face
# to bound (u,v), clamp to the face square, emit the (i,j) range. Any
# point inside the box maps (via s2_cell) to a cell inside the cover —
# the superset property a join prefilter needs; exact refinement follows.
# ---------------------------------------------------------------------------

import numpy as np


def _iv_mul(alo, ahi, blo, bhi):
    p = np.stack([alo * blo, alo * bhi, ahi * blo, ahi * bhi])
    return p.min(axis=0), p.max(axis=0)


def _iv_cos_lat(lo, hi):
    """cos over a latitude interval ⊂ [-π/2, π/2]."""
    mx = np.where((lo <= 0) & (hi >= 0), 1.0, np.maximum(np.cos(lo), np.cos(hi)))
    return np.minimum(np.cos(lo), np.cos(hi)), mx


def _iv_sin_lon(lo, hi):
    """sin over a longitude interval ⊂ [-π, π]."""
    mn = np.minimum(np.sin(lo), np.sin(hi))
    mx = np.maximum(np.sin(lo), np.sin(hi))
    mn = np.where((lo <= -np.pi / 2) & (hi >= -np.pi / 2), -1.0, mn)
    mx = np.where((lo <= np.pi / 2) & (hi >= np.pi / 2), 1.0, mx)
    return mn, mx


def _iv_cos_lon(lo, hi):
    mn = np.minimum(np.cos(lo), np.cos(hi))
    mx = np.where((lo <= 0) & (hi >= 0), 1.0, np.maximum(np.cos(lo), np.cos(hi)))
    return mn, mx


_FACE_DENOM_MIN = 1.0 / np.sqrt(3.0)  # max axis of a unit vector ≥ 1/√3


def _iv_div(nlo, nhi, dlo, dhi):
    """Interval division for a face ratio. On a face, the denominator axis
    is the maximum |coordinate| of a unit vector, hence ≥ 1/√3 — so the
    denominator interval is clamped there, which keeps covers tight even
    when the raw interval touches 0 (box near a face edge)."""
    safe_lo = np.maximum(dlo, _FACE_DENOM_MIN)
    safe_hi = np.maximum(dhi, safe_lo)
    p = np.stack([nlo / safe_lo, nlo / safe_hi, nhi / safe_lo, nhi / safe_hi])
    return p.min(axis=0), p.max(axis=0)


def s2_cover_bbox_kernel(minx, miny, maxx, maxy, level: int):
    """Vectorized bbox → s2 cell cover.

    Inputs: float64 arrays (N,). Returns (row_idx, cell_id) int64 arrays —
    one entry per (row, covered cell). Antimeridian-crossing boxes
    (minx > maxx) conservatively widen to the full longitude range."""
    n = 1 << level
    minx = np.asarray(minx, np.float64); maxx = np.asarray(maxx, np.float64)
    miny = np.asarray(miny, np.float64); maxy = np.asarray(maxy, np.float64)
    cross = minx > maxx
    if cross.any():
        # split crossing boxes into [minx,180] + [-180,maxx] halves (the
        # full-longitude fallback covers O(n) cells per face for even a
        # sliver box): clamp the originals to their eastern half, append
        # the western half, recurse once, remap, and dedupe the (row,
        # cell) pairs the two halves share on the seam.
        idx_c = np.flatnonzero(cross)
        minx2 = np.concatenate([minx, np.full(len(idx_c), -180.0)])
        maxx2 = np.concatenate([np.where(cross, 180.0, maxx), maxx[idx_c]])
        miny2 = np.concatenate([miny, miny[idx_c]])
        maxy2 = np.concatenate([maxy, maxy[idx_c]])
        rows, cells = s2_cover_bbox_kernel(minx2, miny2, maxx2, maxy2, level)
        remap = np.concatenate([np.arange(len(minx)), idx_c])
        rows = remap[rows]
        pair = rows * (6 << (2 * level)) + cells
        _, uniq = np.unique(pair, return_index=True)
        uniq.sort()
        return rows[uniq], cells[uniq]
    lon_lo = np.radians(minx)
    lon_hi = np.radians(maxx)
    lat_lo = np.radians(np.clip(miny, -90.0, 90.0))
    lat_hi = np.radians(np.clip(maxy, -90.0, 90.0))

    cl_lo, cl_hi = _iv_cos_lat(lat_lo, lat_hi)      # cos(lat) ≥ 0
    sl_lo, sl_hi = np.sin(lat_lo), np.sin(lat_hi)   # sin monotone on [-π/2,π/2]
    co_lo, co_hi = _iv_cos_lon(lon_lo, lon_hi)
    so_lo, so_hi = _iv_sin_lon(lon_lo, lon_hi)

    x_lo, x_hi = _iv_mul(cl_lo, cl_hi, co_lo, co_hi)
    y_lo, y_hi = _iv_mul(cl_lo, cl_hi, so_lo, so_hi)
    z_lo, z_hi = sl_lo, sl_hi

    N = len(minx)
    # per-face (u,v) interval: numerator / denominator per the face table
    FACES = [
        ((y_lo, y_hi), (z_lo, z_hi), (x_lo, x_hi), +1),   # 0: +x
        ((-x_hi, -x_lo), (z_lo, z_hi), (y_lo, y_hi), +1),  # 1: +y
        ((-x_hi, -x_lo), (-y_hi, -y_lo), (z_lo, z_hi), +1),  # 2: +z
        ((z_lo, z_hi), (y_lo, y_hi), (-x_hi, -x_lo), +1),  # 3: −x
        ((z_lo, z_hi), (x_lo, x_hi), (-y_hi, -y_lo), +1),  # 4: −y
        ((-y_hi, -y_lo), (-x_hi, -x_lo), (-z_hi, -z_lo), +1),  # 5: −z
    ]
    rows_f, faces_f, i0_f, i1_f, j0_f, j1_f = [], [], [], [], [], []
    for f, ((nu_lo, nu_hi), (nv_lo, nv_hi), (d_lo, d_hi), _) in enumerate(FACES):
        # the face axis must be able to reach the max-axis floor 1/√3
        reachable = d_hi >= _FACE_DENOM_MIN - 1e-12
        u_lo, u_hi = _iv_div(nu_lo, nu_hi, d_lo, d_hi)
        v_lo, v_hi = _iv_div(nv_lo, nv_hi, d_lo, d_hi)
        # face-touch test BEFORE clipping (post-clip it is vacuously true
        # and faces the box never reaches get full columns of cells)
        ok = reachable & (u_hi >= -1.0) & (v_hi >= -1.0) & (u_lo <= 1.0) & (v_lo <= 1.0)
        u_lo = np.clip(u_lo, -1.0, 1.0); u_hi = np.clip(u_hi, -1.0, 1.0)
        v_lo = np.clip(v_lo, -1.0, 1.0); v_hi = np.clip(v_hi, -1.0, 1.0)
        if not ok.any():
            continue
        idx = np.flatnonzero(ok)
        i0 = np.clip(np.floor((u_lo[idx] + 1.0) / 2.0 * n), 0, n - 1).astype(np.int64)
        i1 = np.clip(np.floor((u_hi[idx] + 1.0) / 2.0 * n), 0, n - 1).astype(np.int64)
        j0 = np.clip(np.floor((v_lo[idx] + 1.0) / 2.0 * n), 0, n - 1).astype(np.int64)
        j1 = np.clip(np.floor((v_hi[idx] + 1.0) / 2.0 * n), 0, n - 1).astype(np.int64)
        rows_f.append(idx); faces_f.append(np.full(len(idx), f, dtype=np.int64))
        i0_f.append(i0); i1_f.append(i1); j0_f.append(j0); j1_f.append(j1)

    if not rows_f:
        e = np.empty(0, dtype=np.int64)
        return e, e
    rows = np.concatenate(rows_f); faces = np.concatenate(faces_f)
    i0 = np.concatenate(i0_f); i1 = np.concatenate(i1_f)
    j0 = np.concatenate(j0_f); j1 = np.concatenate(j1_f)
    wi = i1 - i0 + 1; wj = j1 - j0 + 1
    counts = wi * wj
    total = int(counts.sum())
    starts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    big = np.repeat(np.arange(len(counts)), counts)
    t = np.arange(total, dtype=np.int64) - starts[big]
    ii = i0[big] + t // wj[big]
    jj = j0[big] + t % wj[big]
    cells = (faces[big] * n + ii) * n + jj
    return rows[big], cells


def explode_s2_cover(df, level: int, minx="minx", miny="miny", maxx="maxx",
                     maxy="maxy", out="cell"):
    """flatMap row → covered s2 cells: one output row per (row, cell),
    all original columns preserved. One Arrow pass, no per-row Python."""
    import pyarrow as pa
    from pyspark.sql import types as T

    names = df.columns
    out_schema = T.StructType(list(df.schema.fields) + [T.StructField(out, T.LongType())])
    ix = {c: names.index(c) for c in (minx, miny, maxx, maxy)}

    def _cover(batches):
        for batch in batches:
            a = batch.column(ix[minx]).to_numpy(zero_copy_only=False)
            b = batch.column(ix[miny]).to_numpy(zero_copy_only=False)
            c = batch.column(ix[maxx]).to_numpy(zero_copy_only=False)
            d = batch.column(ix[maxy]).to_numpy(zero_copy_only=False)
            rows, cells = s2_cover_bbox_kernel(a, b, c, d, level)
            take = pa.array(rows)
            yield pa.RecordBatch.from_arrays(
                [batch.column(i).take(take) for i in range(batch.num_columns)]
                + [pa.array(cells, type=pa.int64())],
                names=names + [out],
            )

    return df.mapInArrow(_cover, out_schema)


# --- geohash (base-32 interleaved bisection cells) -------------------------
# Standard geohash over the RAW non-negative 1e-7 lattice (sources/minted
# minted_points_q): an even character count splits the bits evenly, so each
# axis index is one exact integer division of the axis offset by its domain
# — floor(off / span * 2^bits) == (off << bits) // span, identical in both
# engines. Bits interleave longitude-first via the morton mask ladder.

_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"
_GH_LON_SPAN = 3_600_000_000  # 360° in 1e-7 units; qx raw is the offset
_GH_LAT_SPAN = 1_800_000_000  # 180°
_GH_LAT_OFF = 50_000_000      # raw qy spans [-85,85): shift to the -90 edge


def sql_geohash_q(qx: str, qy: str, chars: int = 6) -> str:
    """Geohash string of a raw-lattice quantized point (qx in [0, 3.6e9)
    = lon offset from -180°, qy in [0, 1.7e9) = lat offset from -85°), as
    SQL text Spark and DuckDB both evaluate. chars must be even (odd
    geohash lengths split bits unevenly between the axes; the even case
    is one exact division per axis). Feed it SIMPLE column names (wrap the
    coordinate arithmetic in an inner SELECT) — the mask ladder repeats
    its argument 16 times."""
    from geobuf_spark.functions.tiles import _spread_sql
    if chars % 2 or not 0 < chars <= 6:
        raise ValueError("chars must be even and <= 6 (30-bit interleave)")
    bits = 5 * chars // 2

    def idiv(a, b):
        # Spark's `div` is `//` in DuckDB; for 0 <= a < 2^53 the exact
        # multiple a - a % b divides exactly in IEEE doubles on both
        return f"CAST((({a}) - ({a}) % {b}) / {b} AS BIGINT)"

    gx = idiv(f"CAST({qx} AS BIGINT) << {bits}", _GH_LON_SPAN)
    gy = idiv(f"(CAST({qy} AS BIGINT) + {_GH_LAT_OFF}) << {bits}", _GH_LAT_SPAN)
    code = f"(({_spread_sql(gx)} << 1) | {_spread_sql(gy)})"
    parts = [f"substr('{_B32}', CAST((({code}) >> {5 * (chars - 1 - k)}) & 31 AS INT) + 1, 1)"
             for k in range(chars)]
    return " || ".join(parts)
