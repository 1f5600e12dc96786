"""Deterministic minted geometries over the driver's relational tables.

Page/document geometries are minted from integer keys with pure arithmetic
(multiply / modulo / divide by 1e7) so that the *identical* expression runs
in Spark and in the DuckDB oracle, and every coordinate lands exactly on the
geobuf 1e-7 lattice (geom.go:173-179 quantization is then lossless on the
integer path).

Each fixture is one tuple of select-list texts that Spark and DuckDB both
parse: the Spark builders run it through ``selectExpr`` and the ``sql_*`` /
``SQL_*`` oracle twins splice the same tuple into a SELECT, so the driver's
hash-compared values come from one formula text. Array-valued fixtures
share their per-element text; only the wrapper differs per engine
(``array(...)`` in Spark, ``[...]`` in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from geobuf_spark.functions import tiles

# Knuth-style multiplicative constants; values chosen so every coordinate is
# an exact integer number of 1e-7 units and well inside the mercator domain.
LON_MULT, LON_MOD = 2654435761, 3_600_000_000  # lon ∈ [-180, 180)
LAT_MULT, LAT_MOD = 2246822519, 1_700_000_000  # lat ∈ [-85, 85)
CX_MULT, CX_MOD = 40503, 3_300_000_000  # rect/triangle center x ∈ [-165, 165)
CY_MULT, CY_MOD = 104729, 1_400_000_000  # center y ∈ [-70, 70)

_SPLIT = 1 << 15  # (a·b) mod m via b = b1·2^15 + b2 — every intermediate
# stays < 2.5e14, so int64 never overflows on EITHER engine even at
# 10^12-row key ranges (a naive a*MULT overflows both Spark and DuckDB
# once a ≥ ~3.5e9). Identical value to (a*b) % m, identical formula text
# on both sides.


def _sql_mulmod(a: str, mult: int, mod: int) -> str:
    """(a · mult) mod mod, overflow-safe, over integer key text `a`."""
    b1, b2 = mult // _SPLIT, mult % _SPLIT
    ar = f"(({a}) % {mod})"
    t1 = f"(({ar} * {b1}) % {mod})"
    return f"(({t1} * {_SPLIT} + {ar} * {b2}) % {mod})"


def _select(cols, table: str) -> str:
    """A fixture's select-list tuple as the oracle's SELECT over `table`."""
    return f"SELECT {', '.join(cols)} FROM {table}"


def sql_lonlat_q(k: str) -> tuple[str, str]:
    """The (lon, lat) mint of integer key text `k` as centred lattice
    ints (degrees · 1e7)."""
    return (f"({_sql_mulmod(k, LON_MULT, LON_MOD)} - {LON_MOD // 2})",
            f"({_sql_mulmod(k, LAT_MULT, LAT_MOD)} - {LAT_MOD // 2})")


def sql_lonlat(k: str) -> tuple[str, str]:
    """The (lon, lat) mint of integer key text `k`, in degrees on the
    1e-7 lattice: (mulmod(k, LON_MULT, LON_MOD) - LON_MOD // 2) / 1e7."""
    lon_q, lat_q = sql_lonlat_q(k)
    return f"({lon_q} / 1e7)", f"({lat_q} / 1e7)"


# the degree mints are NULL only for a NULL key (tiles.sql_nonnull), so a
# join's inferred isnotnull on them folds to the key instead of re-minting
_LON, _LAT = (tiles.sql_nonnull(["doc_id"], v, "0e0") for v in sql_lonlat("doc_id"))
POINTS = ("doc_id", f"{_LON} AS lon", f"{_LAT} AS lat")


def minted_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One point per document: (doc_id, lon, lat) on the 1e-7 lattice."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(*POINTS)


SQL_MINTED_POINTS = _select(POINTS, "documents")

# The ONE source of the per-part center/halfwidth draws every rect /
# triangle / quantized-ring fixture family shares, as integer texts over
# `part` — diverging copies would silently desynchronize the families
# (each is only checked against its own oracle).
_CX = f"({_sql_mulmod('p_partkey', CX_MULT, CX_MOD)} - {CX_MOD // 2})"
_CY = f"({_sql_mulmod('p_partkey', CY_MULT, CY_MOD)} - {CY_MOD // 2})"
_HW = f"(10000000 + (p_partkey % 100) * 1000000)"
_HH = f"(8000000 + (p_partkey % 80) * 1000000)"

def _part_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`part`'s keys under a declared schema: no schema-inference job."""
    return spark.read.schema("p_partkey BIGINT").parquet(f"{sf_dir}/part.parquet")


def _part(expr: str) -> str:
    return tiles.sql_nonnull(["p_partkey"], f"{expr} / 1e7", "0e0")


RECTS = ("p_partkey AS poly_id",
         f"{_part(f'({_CX} - {_HW})')} AS minx",
         f"{_part(f'({_CY} - {_HH})')} AS miny",
         f"{_part(f'({_CX} + {_HW})')} AS maxx",
         f"{_part(f'({_CY} + {_HH})')} AS maxy")


def minted_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One axis-aligned rectangle per part: (poly_id, minx, miny, maxx, maxy).

    Mirrors the county build side (FIXTURES.md §2): bbox = the geometry for
    rectangles, so the bbox prefilter (split_combine.go:324-331 Intersect)
    IS the exact containment predicate — SQL-expressible for the oracle."""
    return _part_keys(spark, sf_dir).selectExpr(*RECTS)


SQL_MINTED_RECTS = _select(RECTS, "part")

TRIANGLES = ("p_partkey AS poly_id",
             f"{_part(_CX)} AS x0",
             f"{_part(f'({_CY} + {_HH})')} AS y0",
             f"{_part(f'({_CX} - {_HW})')} AS x1",
             f"{_part(f'({_CY} - {_HH})')} AS y1",
             f"{_part(f'({_CX} + {_HW})')} AS x2",
             f"{_part(f'({_CY} - {_HH})')} AS y2")


def minted_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One triangle per part for general point-in-polygon:
    v0=(cx, cy+hh), v1=(cx-hw, cy-hh), v2=(cx+hw, cy-hh)."""
    return _part_keys(spark, sf_dir).selectExpr(*TRIANGLES)


SQL_MINTED_TRIANGLES = _select(TRIANGLES, "part")


def minted_rings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized-integer CCW rings for the measure operators: rectangles
    (even p_partkey) and triangles (odd), as parallel bigint coordinate
    arrays on the 1e-7 lattice — the exact same center/halfwidth draws as
    minted_rects/minted_triangles, kept as integers so shoelace stats are
    int64-exact. Every edge is a whole multiple of geom.UNIT (hw/hh are
    built from 1e6-unit steps)."""
    rect_xs, rect_ys, tri_xs, tri_ys = sql_minted_ring_coords()
    is_rect = "p_partkey % 2 = 0"

    def ring(rect, tri):
        return (f"CASE WHEN {is_rect} THEN array({', '.join(rect)}) "
                f"ELSE array({', '.join(tri)}) END")

    return _part_keys(spark, sf_dir).selectExpr(
        "p_partkey AS poly_id",
        f"CASE WHEN {is_rect} THEN 'rect' ELSE 'triangle' END AS kind",
        f"{ring(rect_xs, tri_xs)} AS xs_q",
        f"{ring(rect_ys, tri_ys)} AS ys_q",
    )


def sql_minted_ring_coords() -> tuple[list, list, list, list]:
    """The per-vertex coordinate texts of minted_rings_q's two shapes:
    (rect_xs, rect_ys, tri_xs, tri_ys), each a list of quantized-integer
    expressions over `part`."""
    # rect ring (minx,miny)→(maxx,miny)→(maxx,maxy)→(minx,maxy): CCW
    rect_xs = [f"({_CX} - {_HW})", f"({_CX} + {_HW})",
               f"({_CX} + {_HW})", f"({_CX} - {_HW})"]
    rect_ys = [f"({_CY} - {_HH})", f"({_CY} - {_HH})",
               f"({_CY} + {_HH})", f"({_CY} + {_HH})"]
    # triangle ring (cx,cy+hh)→(cx−hw,cy−hh)→(cx+hw,cy−hh): CCW
    tri_xs = [f"{_CX}", f"({_CX} - {_HW})", f"({_CX} + {_HW})"]
    tri_ys = [f"({_CY} + {_HH})", f"({_CY} - {_HH})", f"({_CY} - {_HH})"]
    return rect_xs, rect_ys, tri_xs, tri_ys


# --- raw-lattice (non-negative) quantized points and walk lines -----------
# The distance-join / geohash / simplification operators need coordinates
# that stay INTEGER end to end. The raw mulmod draw (before the center
# offset) is non-negative, so integer division is identical in Spark
# (`div`, truncating) and DuckDB (`//`, flooring) — the center shift is a
# pure translation and distances / cell boundaries do not care.

# per-vertex walk-offset draws: each vertex of a minted polyline adds an
# offset inside a 2.0° x 1.6° box to the document's base corner
WX_MULT, WX_MOD = 48271, 20_000_000
WY_MULT, WY_MOD = 69621, 16_000_000
_WALK_STEP = 1_000_003  # distinct mulmod argument per vertex index


POINTS_Q = ("doc_id",
            f"CAST({_sql_mulmod('doc_id', LON_MULT, LON_MOD)} AS BIGINT) AS qx",
            f"CAST({_sql_mulmod('doc_id', LAT_MULT, LAT_MOD)} AS BIGINT) AS qy")


def minted_points_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One point per document on the RAW (non-negative) lattice:
    (doc_id, qx, qy) with qx in [0, 3.6e9), qy in [0, 1.7e9) — the same
    draws as minted_points before the center offset and the /1e7."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(*POINTS_Q)


SQL_MINTED_POINTS_Q = _select(POINTS_Q, "documents")


def _walk_coords(bx: str, by: str, k: int) -> tuple[list, list]:
    """Per-vertex texts of a k-vertex walk from base corner (bx, by):
    ([x_0..x_{k-1}], [y_0..y_{k-1}]) over a frame carrying doc_id."""
    xs = [f"({bx} + {_sql_mulmod(f'(doc_id + {i * _WALK_STEP})', WX_MULT, WX_MOD)})"
          for i in range(k)]
    ys = [f"({by} + {_sql_mulmod(f'(doc_id + {i * _WALK_STEP})', WY_MULT, WY_MOD)})"
          for i in range(k)]
    return xs, ys


def _spark_walk(xs: list, ys: list) -> tuple:
    return ("doc_id", f"array({', '.join(xs)}) AS xs_q",
            f"array({', '.join(ys)}) AS ys_q")


def minted_walk_lines_q(spark: SparkSession, sf_dir: str, k: int = 9) -> DataFrame:
    """One k-vertex polyline per document: the document's raw base corner
    plus k walk offsets inside a 2.0° x 1.6° box, as parallel bigint
    coordinate arrays (doc_id, xs_q, ys_q). Vertex deltas stay < 2e7, so
    downstream integer cross products stay far below 2^63."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        *_spark_walk(*sql_minted_walk_coords(k)))


def sql_minted_walk_coords(k: int = 9) -> tuple[list, list]:
    """minted_walk_lines_q's vertex coordinate texts over `documents`:
    ([x_0..x_{k-1}], [y_0..y_{k-1}])."""
    return _walk_coords(_sql_mulmod("doc_id", LON_MULT, LON_MOD),
                        _sql_mulmod("doc_id", LAT_MULT, LAT_MOD), k)


# clustered points: the uniform rank-1 draws never place two documents
# within radius of each other (pairwise deltas are the ~n multiples of the
# generator — the three-distance lattice structure), so the distance join
# gets its own deliberately CLUSTERED minting: a coarse per-group center
# plus a chained-mulmod (wrap-scrambled, so pair deltas mix) local offset.
N_CLUSTERS = 37
_CLX_MULT, _CLX_SPAN = 7919, LON_MOD - 60_000_000
_CLY_MULT, _CLY_SPAN = 104729, LAT_MOD - 40_000_000
_OFFX_MULT, _OFFX_SPAN = 48271, 30_000_000
_OFFY_MULT, _OFFY_SPAN = 69621, 40_000_000


def _cluster_cols(n_clusters: int) -> tuple:
    g = f"(doc_id % {n_clusters})"
    cx = _sql_mulmod(f"{g} * {_CLX_MULT}", LON_MULT, _CLX_SPAN)
    cy = _sql_mulmod(f"{g} * {_CLY_MULT}", LAT_MULT, _CLY_SPAN)
    ox = _sql_mulmod(_sql_mulmod("doc_id", LON_MULT, LON_MOD),
                     _OFFX_MULT, _OFFX_SPAN)
    oy = _sql_mulmod(_sql_mulmod("doc_id", LAT_MULT, LAT_MOD),
                     _OFFY_MULT, _OFFY_SPAN)
    return ("doc_id", f"CAST({cx} + {ox} AS BIGINT) AS qx",
            f"CAST({cy} + {oy} AS BIGINT) AS qy")


def cluster_points_from(ids: DataFrame,
                        n_clusters: int = N_CLUSTERS) -> DataFrame:
    """Clustered minting over any (doc_id) frame: cluster center by
    doc_id mod n_clusters, chained-mulmod local offset inside a
    3.0° x 4.0° box. The stress harnesses raise n_clusters with N to hold
    the per-point pair degree roughly constant."""
    return ids.selectExpr(*_cluster_cols(n_clusters))


def minted_cluster_points_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One point per document, clustered: (doc_id, qx, qy) non-negative
    lattice ints — cluster center by doc_id mod N_CLUSTERS, local offset
    inside a 3.0° x 4.0° box."""
    return cluster_points_from(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id"))


def sql_minted_cluster_points_q() -> str:
    """DuckDB twin of minted_cluster_points_q over `documents`."""
    return _select(_cluster_cols(N_CLUSTERS), "documents")


def cluster_centers(n_clusters: int = N_CLUSTERS) -> list:
    """The n cluster centers as plain python ints [(g, cx, cy)] — the same
    values cluster_points_from assigns, so a nearest-center query can fold
    the site table into constant expressions (no join at all). Python's
    arbitrary-precision (g·mult·LON_MULT) % span equals the engines'
    overflow-safe split-mulmod exactly."""
    return [(g,
             (g * _CLX_MULT * LON_MULT) % _CLX_SPAN,
             (g * _CLY_MULT * LAT_MULT) % _CLY_SPAN)
            for g in range(n_clusters)]


def sql_cluster_centers(n_clusters: int = N_CLUSTERS) -> str:
    """DuckDB sites relation (site_id, sx, sy) by the INDEPENDENT route:
    range() + the shared split-mulmod expression text (the python twin
    above multiplies directly)."""
    cx = _sql_mulmod(f"g * {_CLX_MULT}", LON_MULT, _CLX_SPAN)
    cy = _sql_mulmod(f"g * {_CLY_MULT}", LAT_MULT, _CLY_SPAN)
    return (f"SELECT CAST(g AS INT) AS site_id, CAST({cx} AS BIGINT) AS sx, "
            f"CAST({cy} AS BIGINT) AS sy "
            f"FROM (SELECT CAST(range AS BIGINT) AS g "
            f"FROM range(0, {n_clusters}))")


def walk_lines_from(base: DataFrame, k: int = 9) -> DataFrame:
    """k-vertex walk polylines from any (doc_id, qx, qy) base frame —
    shared by the fixture readers and the stress harnesses (which mint
    the base from spark.range at arbitrary N)."""
    return base.selectExpr(*_spark_walk(*_walk_coords("qx", "qy", k)))


def cluster_walk_lines_q(spark: SparkSession, sf_dir: str,
                         k: int = 9, stride: int = 7) -> DataFrame:
    """k-vertex polylines on the CLUSTERED base (segment-join fixtures):
    the rank-1 point draws never overlap walk boxes (three-distance
    lattice structure), so intersection fixtures mint from the clustered
    corners instead. `stride` thins the corpus to keep candidate-pair
    counts test-sized; values are per-doc deterministic either way."""
    ids = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    if stride > 1:
        ids = ids.filter(f"doc_id % {stride} = 0")
    return walk_lines_from(cluster_points_from(ids), k)


def sql_cluster_walk_lines_q(k: int = 9, stride: int = 7) -> str:
    """DuckDB twin of cluster_walk_lines_q: SELECT doc_id, xs, ys."""
    xs, ys = _walk_coords("qx", "qy", k)
    return (f"SELECT doc_id, [{', '.join(xs)}] AS xs, "
            f"[{', '.join(ys)}] AS ys FROM ({sql_minted_cluster_points_q()}) b "
            f"WHERE doc_id % {stride} = 0")
