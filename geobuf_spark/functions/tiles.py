"""Web-mercator tile math as SQL text that Spark and DuckDB both parse.

Replaces the reference's external mercantile/tilecover dependencies
(m.Tile/m.Parent at split_combine.go:47-49,390-394; tilecover.TileCover at
split_combine.go:247) with the published slippy-map formulas, evaluated
entirely JVM-side so Catalyst codegens them — no Python on the hot path.

    x = floor((lon + 180) / 360 * 2^z)
    y = floor((1 - ln(tan(φ) + sec(φ)) / π) / 2 * 2^z)
    parent(x, y, Δz) = (x >> Δz, y >> Δz)        # split_combine.go:390-394

Each formula is written once, as SQL text: Spark reads it through
`selectExpr`/`F.expr` and the DuckDB oracles (__spark_entry__.oracle_sql)
splice the same string, so driver correctness checks compare identical
IEEE expressions. `sql_*` builders are dialect-neutral; `spark_*` builders
use Spark-only functions (`sequence`, `transform`, ln/tan). Tile y keeps
two formulas by design (ORACLE_NUMERICS.md §B): `spark_tile_y` for the
engine, `sql_tile_y` (literal boundary counts) for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_LAT = 85.051128779806604  # web-mercator clip latitude
CELL_SHIFT = 536870912  # 2^29 — packs z/x/y into one bigint


def _n(z: int) -> int:
    return 1 << z


def _dbl(v: float) -> str:
    """A DOUBLE literal in both dialects: `1.0` is DECIMAL in Spark and
    DuckDB alike, `1e0` is DOUBLE in both."""
    s = repr(float(v))
    return s if "e" in s else s + "e0"


def _clamp(v: str, n: int) -> str:
    return f"least(greatest({v}, 0), {n - 1})"


def _null_guard(cols, expr: str) -> str:
    """`expr`, or NULL when any of `cols` is NULL. least/greatest skip
    NULLs, so an unguarded clamp maps a NULL coordinate to a border tile.
    The guard sits at the top of the key: Catalyst then folds the
    `isnotnull(key)` it infers for a join on the key into
    `isnotnull(col)`, instead of evaluating the key a second time."""
    nulls = " OR ".join(f"({c}) IS NULL" for c in cols)
    return f"CASE WHEN {nulls} THEN NULL ELSE {expr} END"


def sql_nonnull(cols, expr: str, zero: str) -> str:
    """`expr`, NULL only when one of `cols` is. Spark types `%`, `/` and
    `conv` nullable whatever their inputs; the coalesce (never taken)
    makes the guarded branch non-nullable, so a join's inferred
    `isnotnull` folds to `cols` (_null_guard) instead of a second `expr`."""
    return _null_guard(cols, f"coalesce({expr}, {zero})")


def _tile_x(lon: str, z: int) -> str:
    raw = f"floor(({lon} + 180e0) / 360e0 * {_dbl(_n(z))})"
    return f"CAST({_clamp(raw, _n(z))} AS BIGINT)"


def _tile_y(lat: str, z: int) -> str:
    r = f"radians(least(greatest({lat}, {_dbl(-MAX_LAT)}), {_dbl(MAX_LAT)}))"
    raw = (f"floor((1e0 - ln(tan({r}) + 1e0 / cos({r})) / "
           f"{_dbl(3.141592653589793)}) / 2e0 * {_dbl(_n(z))})")
    return f"CAST({_clamp(raw, _n(z))} AS BIGINT)"


def sql_tile_x(lon: str, z: int) -> str:
    """Slippy-map tile x at zoom z, clamped to [0, 2^z-1]; NULL lon → NULL."""
    return _null_guard([lon], _tile_x(lon, z))


def spark_tile_y(lat: str, z: int) -> str:
    """Slippy-map tile y at zoom z (north = 0), clamped to [0, 2^z-1] —
    the engine's ln(tan + sec) formula; NULL lat → NULL."""
    return _null_guard([lat], _tile_y(lat, z))


def sql_cell_id(z: int, x: str, y: str) -> str:
    """Pack (z, x, y) into one bigint join key: ((z*2^29)+x)*2^29+y.

    Pure arithmetic (no bit intrinsics). Safe for z ≤ 29. BIGINT casts:
    bare literals multiply as INT32 in DuckDB and overflow for any z >= 4."""
    return (f"((CAST({z} AS BIGINT) * {CELL_SHIFT} + ({x})) "
            f"* CAST({CELL_SHIFT} AS BIGINT) + ({y}))")


def spark_point_cell(lon: str, lat: str, z: int) -> str:
    """The cell id of the tile holding (lon, lat) at zoom z; NULL when
    either coordinate is."""
    return _null_guard([lon, lat], sql_cell_id(z, _tile_x(lon, z), _tile_y(lat, z)))


def parent_tile(x: Column, y: Column, dz: int = 1) -> tuple[Column, Column]:
    """Parent promotion — (x>>Δz, y>>Δz), split_combine.go:390-394."""
    return F.shiftright(x, dz), F.shiftright(y, dz)


def spark_cover_xs(minx: str, maxx: str, z: int) -> str:
    """The tile-x run a bbox covers at zoom z, as an array.

    Antimeridian: a box with minx > maxx crosses ±180°; its x cover is
    the WRAPPED union [x0..2^z-1] ∪ [0..x1] (two short runs), not the
    full longitude range (r01 over-cover) nor the descending sequence
    x0..x1 (the complement — wrong). array_distinct: at coarse zooms the
    two wrapped runs can overlap (e.g. z=0 → both runs are [0]) and a
    duplicate (feature, tile) row would double-count downstream."""
    x0, x1 = sql_tile_x(minx, z), sql_tile_x(maxx, z)
    return (f"CASE WHEN {minx} <= {maxx} THEN sequence({x0}, {x1}) "
            f"ELSE array_distinct(concat(sequence({x0}, CAST({_n(z) - 1} AS BIGINT)), "
            f"sequence(CAST(0 AS BIGINT), {x1}))) END")


def sql_cover_width(minx: str, maxx: str, z: int) -> str:
    """The length of spark_cover_xs, as text both engines parse: x1 - x0
    + 1, or for an antimeridian-crossing box the two wrapped runs, capped
    at 2^z where they overlap at coarse zooms."""
    x0, x1 = sql_tile_x(minx, z), sql_tile_x(maxx, z)
    return _null_guard([minx, maxx], f"CASE WHEN {minx} <= {maxx} THEN {x1} - {x0} + 1 "
                       f"ELSE least({_n(z)} - {x0} + {x1} + 1, {_n(z)}) END")


def explode_bbox_cover(df, z: int, minx="minx", miny="miny", maxx="maxx", maxy="maxy",
                       out_x="tile_x", out_y="tile_y"):
    """flatMap feature → covered tiles (MapToSubFiles semantics,
    split_combine.go:166-183): one output row per (feature, tile).

    The cover is the full x-run × y0..y1 grid (y0 comes from maxy — tile
    y grows southward) — the exact analog of the reference's per-feature
    tile cover producing 1:N duplication. Implemented as two nested
    sequence/explode generators — whole-stage codegen'd, shuffle-free
    until the caller repartitions. The x run wraps at the antimeridian
    (`spark_cover_xs`)."""
    # the y bounds are named before the x explode, so each is computed
    # once per feature, not once per covered x tile
    return (
        df.selectExpr("*", f"{spark_tile_y(maxy, z)} AS _y0", f"{spark_tile_y(miny, z)} AS _y1")
        .selectExpr("*", f"explode({spark_cover_xs(minx, maxx, z)}) AS {out_x}")
        .selectExpr("* EXCEPT (_y0, _y1)", f"explode(sequence(_y0, _y1)) AS {out_y}")
    )


def spark_ring_cells(x: str, y: str, z: int, r: int) -> str:
    """Array of cell ids within Chebyshev radius r of tile (x, y) at zoom
    z — the candidate-generation key set for kNN cell-ring expansion.

    Nested transform(sequence(...)) + flatten: pure expressions, clamped
    to the tile grid, deduplicated after the clamp. Lambda variables are
    underscored so they cannot capture a caller's column."""
    n = _n(z)
    cell = sql_cell_id(z, _clamp(f"{x} + _rdx", n), _clamp(f"{y} + _rdy", n))
    return (f"array_distinct(flatten(transform(sequence({-r}, {r}), _rdx -> "
            f"transform(sequence({-r}, {r}), _rdy -> {cell}))))")


def merc_tile_boundaries(z: int) -> list:
    """Interior tile-row boundary latitudes lat_of(1 .. n-1) at zoom z
    (merc_lat_bounds without the two outer clamps)."""
    return merc_lat_bounds(z)[1:-1]


def sql_tile_y(lat: str, z: int) -> str:
    """Transcendental-free DuckDB twin of spark_tile_y: tile row = how many
    interior boundary latitudes sit at-or-above `lat` (row y covers
    lat ∈ (s_lat(y), n_lat(y)], matching the engine's floor semantics in
    real arithmetic, boundary belonging to the northern row's south edge).

    The previous form repeated the engine's ln(tan+sec) formula in DuckDB;
    mathematically identical, but two libms can round a boundary-adjacent
    floor differently (VERDICT r3 #4 / ADVICE r2 #5). Injecting the
    boundary latitudes as literals leaves exactly ONE transcendental
    evaluation in the system (the engine's), and plain IEEE comparisons on
    the oracle side; tests/test_tiles.py pins a >=1e-8 margin between
    every testdata latitude's mercator position and the nearest tile
    boundary at all oracle zooms, so the two classifications agree."""
    bounds = ", ".join(repr(b) for b in merc_tile_boundaries(z))
    # lambda var deliberately obscure: a plain `b` would shadow any outer
    # column named b in the caller's lat expression. NULL propagates (the
    # clamped-floor form did; list_filter would otherwise silently count 0
    # → row 0); NaN latitudes remain unsupported on both engines.
    return (f"CASE WHEN ({lat}) IS NULL THEN NULL ELSE "
            f"CAST(len(list_filter([{bounds}], _yb -> ({lat}) <= _yb)) "
            "AS BIGINT) END")


def merc_lat_bounds(z: int) -> list:
    """Row-boundary latitudes lat_of(0 .. n) at zoom z — the ONE source of
    truth the engine's tile_bounds lookup AND the DuckDB oracles' literal
    injections both read, so clip bounds agree bit-for-bit across engines
    (lat_of(y) = degrees(atan(sinh(π(1 - 2y/n)))), descending)."""
    import math
    n = _n(z)
    return [math.degrees(math.atan(math.sinh(
        3.141592653589793 * (1.0 - 2.0 * yy / n)))) for yy in range(n + 1)]


def tile_bounds(z: int, x: Column, y: Column):
    """(west, south, east, north) of tile (z, x, y) — m.Extrema parity
    (used at split_combine.go:47-49), pure Column expressions.

    For z ≤ 12 the north/south bounds come from an array-literal lookup
    over merc_lat_bounds (one element_at per row — cheaper than per-row
    atan∘sinh, and bit-identical to the oracle's injected literals, so
    boundary-exact clips can't diverge by a libm ulp); larger zooms fall
    back to the closed-form expression (a 2^z-entry literal stops being
    a sane plan constant)."""
    n = float(_n(z))
    west = x.cast("double") * F.lit(360.0 / n) - F.lit(180.0)
    east = (x.cast("double") + 1.0) * F.lit(360.0 / n) - F.lit(180.0)

    if z <= 12:
        lats = F.lit(merc_lat_bounds(z))
        north = F.element_at(lats, (y + 1).cast("int"))
        south = F.element_at(lats, (y + 2).cast("int"))
        return west, south, east, north

    def lat_of(yy):
        return F.degrees(F.atan(F.sinh(
            F.lit(3.141592653589793) * (F.lit(1.0) - F.lit(2.0 / n) * yy.cast("double")))))

    north = lat_of(y)
    south = lat_of(y + 1)
    return west, south, east, north


# --- Morton (Z-order) spatial clustering key ------------------------------
# Interleaving x/y tile bits gives a 1-D sort key that keeps spatial
# neighbors in nearby file ranges — the standard 100 TB layout lever for
# min/max-pruned scans (Iceberg/Delta Z-ORDER parity). The bit-spread is
# the classic mask ladder, written once as SQL text that Spark and DuckDB
# both evaluate, so the oracle reproduces keys bit-for-bit.

_SPREAD_STEPS = [  # (shift, mask) ladder spreading 16 bits to even positions
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
]


def _spread_sql(v: str) -> str:
    for sh, mask in _SPREAD_STEPS:
        v = f"((({v}) | (({v}) << {sh})) & {mask})"
    return v


def sql_morton_key(x: str, y: str, z: int) -> str:
    """Z-order key for tile (x, y) at zoom z ≤ 16: y bits interleaved into
    the odd positions, x into the even — bigint, totally ordered along the
    Z-curve; NULL when x or y is."""
    if z > 16:
        raise ValueError("sql_morton_key supports z <= 16")
    # under the guard the ladder reads non-NULL inputs, so the key is
    # non-nullable there and Catalyst folds isnotnull(key) (_null_guard)
    xb, yb = f"CAST(coalesce({x}, 0) AS BIGINT)", f"CAST(coalesce({y}, 0) AS BIGINT)"
    return _null_guard([x, y], f"CAST((({_spread_sql(yb)} << 1) | {_spread_sql(xb)}) AS BIGINT)")


def sql_quadkey(x: str, y: str, z: int) -> str:
    """Bing-style quadkey string for tile (x, y) at zoom z: digit i
    (most-significant first) is bit (z−i) of x plus twice bit (z−i) of y.
    Pure bit/string expressions unrolled over the (small, fixed) z —
    codegen-friendly, no UDF; quadkeys prefix-nest, so a LIKE 'qk%' scan
    prunes to a subtree the way the reference's tile subfiles do."""
    parts = []
    for i in range(1, z + 1):
        d = f"((({x}) >> {z - i}) & 1) + 2 * ((({y}) >> {z - i}) & 1)"
        parts.append(f"substr('0123', CAST({d} AS INT) + 1, 1)")
    return " || ".join(parts)


def cluster_by_morton(df, z: int, lon: str = "lon", lat: str = "lat",
                      num_ranges: int | None = None):
    """Range-partition + sort a point table along the Z-curve: each output
    file covers a compact spatial extent, so bbox-filtered scans prune to
    a handful of files via parquet min/max stats instead of reading the
    world. One shuffle (the range partitioner samples the key)."""
    out = (df.selectExpr("*", f"{sql_tile_x(lon, z)} AS _mx", f"{spark_tile_y(lat, z)} AS _my")
           .selectExpr("* EXCEPT (_mx, _my)", f"{sql_morton_key('_mx', '_my', z)} AS _morton"))
    n = num_ranges or df.sparkSession.sparkContext.defaultParallelism
    return (out.repartitionByRange(n, "_morton")
            .sortWithinPartitions("_morton"))


# --- Hilbert spatial clustering key ----------------------------------------
# The Hilbert curve is the tighter clustering sibling of the Z-curve: a
# bbox scan window crosses O(perimeter) contiguous Hilbert ranges, where
# the Z-curve takes long diagonal jumps across the window (the reason
# Iceberg grew hilbert alongside zorder for sort-order transforms). The
# per-level quadrant rotation threads STATE through the bit scan, so a
# bounded Column tree can't express it (each level roughly triples the
# expression after CollapseProject inlines the CASEs); the engine side is
# one vectorized numpy pass per Arrow batch — zero shuffle, linear work —
# and the oracle side is z nested subqueries, one level each (linear SQL).


def hilbert_np(x, y, z: int):
    """Vectorized xy→d Hilbert index (the classic rotate-and-accumulate
    scan, one iteration per level over whole numpy arrays)."""
    import numpy as np

    x = x.astype(np.int64, copy=True)
    y = y.astype(np.int64, copy=True)
    d = np.zeros(len(x), dtype=np.int64)
    n = 1 << z
    s = n >> 1
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate the quadrant: ry==0 → (flip when rx==1, then swap axes)
        swap = ry == 0
        flip = swap & (rx == 1)
        xf = np.where(flip, n - 1 - x, x)
        yf = np.where(flip, n - 1 - y, y)
        x, y = np.where(swap, yf, xf), np.where(swap, xf, yf)
        s >>= 1
    return d


def with_hilbert_key(df, x: str = "x", y: str = "y", z: int = 8,
                     out: str = "hilbert"):
    """df + `out` bigint Hilbert index of tile (`x`, `y`) at zoom z ≤ 16.

    mapInArrow pass-through: every input column survives untouched (same
    contract as the codec kernels); the key lands as the last column."""
    import pyarrow as pa
    from pyspark.sql import types as T

    if z > 16:
        raise ValueError("hilbert key supports z <= 16")
    schema = T.StructType(df.schema.fields + [T.StructField(out, T.LongType())])
    xi = df.columns.index(x)
    yi = df.columns.index(y)

    def _kernel(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            xs = batch.column(xi).to_numpy(zero_copy_only=False)
            ys = batch.column(yi).to_numpy(zero_copy_only=False)
            d = hilbert_np(xs, ys, z)
            yield batch.append_column(out, pa.array(d, pa.int64()))

    return df.mapInArrow(_kernel, schema)


def sql_hilbert_wrap(inner: str, passthrough: list, x: str = "x",
                     y: str = "y", z: int = 8, out: str = "hilbert") -> str:
    """DuckDB twin of with_hilbert_key: wraps `inner` (a query yielding
    the passthrough columns plus integer `x`, `y`) in one subquery per
    Hilbert level. Level-numbered column names keep every reference
    unambiguous (DuckDB lateral alias references would otherwise be able
    to capture a same-named output column)."""
    if z > 16:
        raise ValueError("hilbert key supports z <= 16")
    cols = ", ".join(passthrough)
    n = 1 << z
    q = (f"SELECT {cols}, CAST({x} AS BIGINT) AS hx0, "
         f"CAST({y} AS BIGINT) AS hy0, CAST(0 AS BIGINT) AS hd0 "
         f"FROM ({inner})")
    lvl = 0
    s = n >> 1
    while s > 0:
        hx, hy, hd = f"hx{lvl}", f"hy{lvl}", f"hd{lvl}"
        lvl += 1
        rx, ry = f"rx{lvl}", f"ry{lvl}"
        q = (f"SELECT {cols}, {hx}, {hy}, "
             f"CASE WHEN ({hx} & {s}) > 0 THEN 1 ELSE 0 END AS {rx}, "
             f"CASE WHEN ({hy} & {s}) > 0 THEN 1 ELSE 0 END AS {ry}, "
             f"{hd} + {s * s} * xor(3 * CASE WHEN ({hx} & {s}) > 0 THEN 1 "
             f"ELSE 0 END, CASE WHEN ({hy} & {s}) > 0 THEN 1 ELSE 0 END) "
             f"AS hd{lvl} FROM ({q})")
        q = (f"SELECT {cols}, "
             f"CASE WHEN {ry} = 1 THEN {hx} WHEN {rx} = 1 "
             f"THEN {n - 1} - {hy} ELSE {hy} END AS hx{lvl}, "
             f"CASE WHEN {ry} = 1 THEN {hy} WHEN {rx} = 1 "
             f"THEN {n - 1} - {hx} ELSE {hx} END AS hy{lvl}, "
             f"hd{lvl} FROM ({q})")
        s >>= 1
    return f"SELECT {cols}, hd{lvl} AS {out} FROM ({q})"
