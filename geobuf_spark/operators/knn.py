"""k-nearest-neighbors via cell-ring expansion (SURVEY §2.5, §7.7).

No reference analog exists — the reference's index supports only point
lookups (SubFileSeek). We define the semantics and verify against a
brute-force oracle:

    for each query point, the k nearest points by *planar squared
    euclidean distance in degree space*, ties broken by neighbor id.

Algorithm (scales to 10^12 points):
  1. candidate generation: each query joins points whose cell lies within
     Chebyshev ring R of the query's cell at zoom z — an equi-join on cell
     id after exploding the ring key set (pure expressions);
  2. top-k per query via window row_number over (dist, neighbor id);
  3. completeness proof per query: the k-th candidate distance must not
     exceed the distance from the query to the ring block's boundary
     (beyond which no candidate was examined). Mercator tiles shrink with
     latitude, so the bound is computed from the actual tile edge
     lon/lats, not a constant;
  4. queries that fail the proof (sparse neighborhoods, pole-adjacent
     blocks) fall back to a distributed brute-force join — typically a
     vanishing fraction, so the expensive path touches almost nothing.

The brute-force path doubles as the oracle implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geobuf_spark.functions import tiles

PI = 3.141592653589793


def _lon_west(x, z: int):
    return x.cast("double") * F.lit(360.0 / (1 << z)) - F.lit(180.0)


def _lat_north(y, z: int):
    # inverse mercator: lat(y) = degrees(atan(sinh(π(1 - 2y/2^z))))
    return F.degrees(F.atan(F.sinh(F.lit(PI) * (F.lit(1.0) - F.lit(2.0 / (1 << z)) * y.cast("double")))))


def _dist2(qlon, qlat, nlon, nlat):
    return (qlon - nlon) * (qlon - nlon) + (qlat - nlat) * (qlat - nlat)


def knn_bruteforce(points: DataFrame, queries: DataFrame, k: int,
                   point_id: str = "doc_id", query_id: str = "query_id") -> DataFrame:
    """Exact kNN by full cross join — the oracle and the fallback path."""
    p = points.select(
        F.col(point_id).alias("neighbor_id"),
        F.col("lon").alias("nlon"), F.col("lat").alias("nlat"),
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col("lon").alias("qlon"), F.col("lat").alias("qlat"),
    )
    joined = q.crossJoin(p).filter(F.col("neighbor_id") != F.col("query_id"))
    scored = joined.withColumn(
        "dist2", _dist2(F.col("qlon"), F.col("qlat"), F.col("nlon"), F.col("nlat"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dist2")
    )


def _prep_points(points: DataFrame, point_id: str, z: int) -> DataFrame:
    return points.selectExpr(
        f"{point_id} AS neighbor_id", "lon AS nlon", "lat AS nlat",
        f"{tiles.spark_point_cell('lon', 'lat', z)} AS cell")


def _prep_queries(queries: DataFrame, query_id: str, z: int) -> DataFrame:
    return queries.selectExpr(
        f"{query_id} AS query_id", "lon AS qlon", "lat AS qlat",
        f"{tiles.sql_tile_x('lon', z)} AS qx", f"{tiles.spark_tile_y('lat', z)} AS qy")


def _knn_ring(p: DataFrame, q: DataFrame, k: int, z: int, ring: int):
    """One ring pass → (resolved rows, resolved query ids).

    A query resolves when k candidates exist within Chebyshev ring R AND
    the k-th distance is provably inside the examined block (no closer
    point can live outside it)."""
    n = 1 << z
    # block edges (clamped sides give no guarantee → treat as unbounded reach)
    x_lo, x_hi = F.col("qx") - ring, F.col("qx") + ring
    y_lo, y_hi = F.col("qy") - ring, F.col("qy") + ring
    west = _lon_west(F.greatest(x_lo, F.lit(0)), z)
    east = _lon_west(F.least(x_hi, F.lit(n - 1)) + 1, z)
    north = _lat_north(F.greatest(y_lo, F.lit(0)), z)
    south = _lat_north(F.least(y_hi, F.lit(n - 1)) + 1, z)
    inf = F.lit(float("inf"))
    d_w = F.when(x_lo >= 0, F.col("qlon") - west).otherwise(inf)
    d_e = F.when(x_hi <= n - 1, east - F.col("qlon")).otherwise(inf)
    d_n = F.when(y_lo >= 0, north - F.col("qlat")).otherwise(inf)
    d_s = F.when(y_hi <= n - 1, F.col("qlat") - south).otherwise(inf)
    guard = F.least(d_w, d_e, d_n, d_s)
    q = q.withColumn("guard2", guard * guard)

    cand = (
        q.withColumn("cell", F.expr(f"explode({tiles.spark_ring_cells('qx', 'qy', z, ring)})"))
        .join(p, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("dist2", _dist2(F.col("qlon"), F.col("qlat"), F.col("nlon"), F.col("nlat")))
    )
    # STRICT bound: an unexamined point exactly at the block boundary can
    # tie the k-th candidate and win the id tiebreak — <= would wrongly
    # declare the query resolved
    return _resolve_with_guard(cand, k, F.col("guard2"), strict=True)


def _resolve_with_guard(cand, k: int, guard2, strict: bool):
    """Shared completeness machinery for every index family: rank the
    candidate rows, then prove completeness — k candidates found AND the
    k-th distance inside the guard — with windows over the SAME
    partitioning the ranking established (no groupBy shuffle, no
    join-back). `guard2` is the squared guard (per-query column or
    literal); `strict` is the tie rule (strict `<` for center-distance
    guards, `<=` when the guard is the exact cover radius — see knn_s2).
    Returns (resolved rows, resolved query ids)."""
    w = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(),
                                               F.col("neighbor_id").asc())
    wq = Window.partitionBy("query_id")
    kth = F.col("kth")
    ok = (kth < guard2) if strict else (kth <= guard2)
    resolved = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("n_found", F.count("*").over(wq))
        .withColumn("kth", F.max("dist2").over(wq))
        .filter((F.col("n_found") == k) & ok)
        .select("query_id", "neighbor_id", "rank", "dist2")
    )
    resolved_q = resolved.filter(F.col("rank") == 1).select("query_id")
    return resolved, resolved_q


def _fallback_union(resolved, resolved_q, p, q, k: int, point_id: str):
    """Shared tail of knn/knn_hex/knn_s2: brute-force only the queries the
    guard could not prove complete, then stitch the two result sets."""
    unresolved = q.join(resolved_q, "query_id", "left_anti") \
        .select("query_id", F.col("qlon").alias("lon"), F.col("qlat").alias("lat"))
    points2 = p.select(F.col("neighbor_id").alias(point_id),
                       F.col("nlon").alias("lon"), F.col("nlat").alias("lat"))
    fallback = knn_bruteforce(points2, unresolved, k,
                              point_id=point_id, query_id="query_id")
    return resolved.unionByName(fallback)


def knn(points: DataFrame, queries: DataFrame, k: int, *, z: int = 5, ring: int = 1,
        point_id: str = "doc_id", query_id: str = "query_id") -> DataFrame:
    """Cell-ring kNN with provable completeness + brute-force fallback.

    `points` needs (point_id, lon, lat); `queries` needs (query_id, lon, lat).
    Returns (query_id, neighbor_id, rank, dist2) — identical rows to
    :func:`knn_bruteforce`."""
    # lazily checkpoint both prepared sides: the resolved branch, the
    # completeness anti-join, and the fallback all reuse ONE scan of each
    # input instead of re-deriving it per branch
    p = _prep_points(points, point_id, z).localCheckpoint(eager=False)
    q = _prep_queries(queries, query_id, z).localCheckpoint(eager=False)
    resolved, resolved_q = _knn_ring(p, q, k, z, ring)
    return _fallback_union(resolved, resolved_q, p, q, k, point_id)


def _hex_ring_deltas(ring: int) -> list[tuple[int, int]]:
    """Axial offsets of all cells with hex distance ≤ ring (3R²+3R+1)."""
    return [(dq, dr)
            for dq in range(-ring, ring + 1)
            for dr in range(-ring, ring + 1)
            if abs(dq + dr) <= ring]


def knn_hex(points: DataFrame, queries: DataFrame, k: int, *,
            size_deg: float = 8.0, ring: int = 1,
            point_id: str = "doc_id", query_id: str = "query_id") -> DataFrame:
    """kNN over the hex index family (hexgrid.hex_cell) — same semantics
    and identical result rows as :func:`knn` / :func:`knn_bruteforce`.

    Completeness guard (TODO r2 "s2/hex kNN"; the hex plane makes it
    uniform where mercator tiles needed per-edge lat/lon arithmetic):
    the axial transform is linear in degree space, the grid is unbounded
    (no clamped edges, no poles), and for pointy-top hexes of circumradius
    s the center of any cell at hex distance d is ≥ 1.5·d·s away (the
    staggered lattice direction is the minimum; axis directions give
    √3·d·s > 1.5·d·s). A query point lies within s of its own cell
    center and any point of an unexamined cell (hex distance ≥ R+1) lies
    within s of THAT cell's center, so every unexamined point is at
    distance ≥ 1.5·(R+1)·s − 2s = s·(1.5·R − 0.5) from the query. A
    query resolves when k candidates exist and the k-th distance is
    STRICTLY below that bound; the rest fall back to brute force."""
    from geobuf_spark.functions import hexgrid

    p = points.select(
        F.col(point_id).alias("neighbor_id"),
        F.col("lon").alias("nlon"), F.col("lat").alias("nlat"),
    ).withColumn("cell", hexgrid.hex_cell(F.col("nlon"), F.col("nlat"), size_deg)) \
        .localCheckpoint(eager=False)
    qq, qr = hexgrid.hex_qr(F.col("qlon"), F.col("qlat"), size_deg)
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col("lon").alias("qlon"), F.col("lat").alias("qlat"),
    ).withColumn("hq", qq).withColumn("hr", qr).localCheckpoint(eager=False)

    guard = size_deg * (1.5 * ring - 0.5)
    guard2 = F.lit(guard * guard)

    def pack(dq: int, dr: int):
        return ((F.col("hq") + dq + F.lit(hexgrid._OFF)) * F.lit(hexgrid._M)
                + (F.col("hr") + dr + F.lit(hexgrid._OFF)))

    cells = F.array(*[pack(dq, dr) for dq, dr in _hex_ring_deltas(ring)])
    cand = (
        q.withColumn("cell", F.explode(cells))
        .join(p, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("dist2", _dist2(F.col("qlon"), F.col("qlat"),
                                    F.col("nlon"), F.col("nlat")))
    )
    # STRICT bound, same reasoning as _knn_ring: a boundary point can tie
    # the k-th candidate and win the id tiebreak
    resolved, resolved_q = _resolve_with_guard(cand, k, guard2, strict=True)
    return _fallback_union(resolved, resolved_q, p, q, k, point_id)


def s2_radius(points: DataFrame, k: int) -> float:
    """Density-chosen candidate radius (degrees): the r whose disk is
    expected to hold ≥4k points at the observed mean density over the
    data's bbox (4× margin, mirroring :func:`start_ring`). One small agg."""
    import math
    row = points.agg(F.count("*").alias("n"),
                     F.min("lon").alias("x0"), F.max("lon").alias("x1"),
                     F.min("lat").alias("y0"), F.max("lat").alias("y1")).first()
    if row["n"] == 0:
        return 1.0  # empty build side: any radius; candidates are empty
    area = max((row["x1"] - row["x0"]) * (row["y1"] - row["y0"]), 1e-9)
    density = row["n"] / area
    if density <= 0:
        return 1.0
    return math.sqrt(4.0 * k / (math.pi * density))


def knn_s2(points: DataFrame, queries: DataFrame, k: int, *,
           level: int = 3, radius_deg: float | None = None,
           point_id: str = "doc_id", query_id: str = "query_id") -> DataFrame:
    """kNN over the S2-style cube-face cell family (cells.s2_cell) — same
    semantics and identical result rows as :func:`knn` /
    :func:`knn_bruteforce` (generalizes the reference's per-tile index
    probe, reader.go:278-287, per SURVEY §2.5).

    Cross-face completeness (the guard TODO.md parked): a same-face cell
    block clipped at a face edge has sphere-neighbors on OTHER faces, so
    no per-edge boundary-distance arithmetic (the mercator/hex approach)
    can certify it. Instead candidates come from the conservative bbox
    cover of the degree box q ± r (cells.s2_cover_bbox_kernel), which
    spans faces by construction — its superset property (every point
    inside a box maps via s2_cell to a cell inside the box's cover) IS
    the completeness proof:

      every point within distance r of q lies in the closed box q ± r
      → its cell is in the cover → it was examined. So if k candidates
      exist and the k-th distance ≤ r, the candidate top-k is the
      global top-k — exact even under ties, because all tying points
      were examined (no strict-inequality margin needed, unlike the
      center-distance guards in :func:`_knn_ring` / :func:`knn_hex`).

    The cover box is inflated by 1e-9 relative so float rounding of
    qlon−r can never exclude a point at distance exactly r (oversizing
    is conservative — a few extra candidate cells — undersizing would
    be a wrong proof). Queries whose k-th distance exceeds r (sparse
    neighborhoods) fall back to brute force; face edges never force a
    fallback, so at production density the expensive path is empty.

    One Arrow cover pass over queries + one cell equi-join + one window
    — the same shuffle shape as the mercator variant."""
    from geobuf_spark.functions import cells as s2

    p = points.select(
        F.col(point_id).alias("neighbor_id"),
        F.col("lon").alias("nlon"), F.col("lat").alias("nlat"),
    ).withColumn("cell", s2.s2_cell(F.col("nlon"), F.col("nlat"), level)) \
        .localCheckpoint(eager=False)
    if radius_deg is None:
        radius_deg = s2_radius(points, k)
    r = float(radius_deg)
    ri = r * (1.0 + 1e-9) + 1e-300  # inflated cover box (see docstring)

    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col("lon").alias("qlon"), F.col("lat").alias("qlat"),
    ).localCheckpoint(eager=False)
    boxed = q \
        .withColumn("minx", F.greatest(F.col("qlon") - ri, F.lit(-180.0))) \
        .withColumn("maxx", F.least(F.col("qlon") + ri, F.lit(180.0))) \
        .withColumn("miny", F.col("qlat") - ri) \
        .withColumn("maxy", F.col("qlat") + ri)
    covered = s2.explode_s2_cover(boxed, level).drop("minx", "miny", "maxx", "maxy")

    cand = (
        covered.join(p, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("dist2", _dist2(F.col("qlon"), F.col("qlat"),
                                    F.col("nlon"), F.col("nlat")))
    )
    # NON-strict bound: r is the exact cover radius, so kth == r² is still
    # provably complete (candidates cover the closed disk)
    resolved, resolved_q = _resolve_with_guard(cand, k, F.lit(r * r),
                                               strict=False)
    return _fallback_union(resolved, resolved_q, p, q, k, point_id)


def start_ring(p: DataFrame, k: int) -> int:
    """Histogram-chosen first ring: smallest R whose (2R+1)² block is
    expected to hold ≥4k candidates at the observed mean cell occupancy
    (4× margin: occupancy is uneven and the boundary guard rejects
    candidates near the block edge). One small agg over the prepared
    points (approx distinct — no exact global count needed)."""
    row = p.agg(F.count("*").alias("n"),
                F.approx_count_distinct("cell").alias("c")).first()
    density = row["n"] / max(row["c"], 1)
    if density <= 0:
        return 1
    import math
    return max(1, math.ceil((math.sqrt(4.0 * k / density) - 1.0) / 2.0))


# crossover between "brute-force the frontier lazily inside the final plan"
# and "pay another synchronized ring pass": below ~10M query×point pairs the
# vectorized brute join is cheaper than one more driver-synchronized job;
# above it (always true at production scale) escalation wins
BRUTE_BUDGET_PAIRS = 10_000_000


def knn_adaptive(points: DataFrame, queries: DataFrame, k: int, *, z: int = 5,
                 rings=None, point_id: str = "doc_id",
                 query_id: str = "query_id") -> DataFrame:
    """kNN with adaptively growing rings: each pass re-examines only the
    queries the previous ring could not prove complete, so dense regions
    pay the cheap first join while sparse ones escalate — brute force
    touches only what survives (usually nothing).

    `rings=None` (default): pass 1 runs optimistically at ring 1 WITHOUT a
    planning job — a ring-1 join is cheap at any density (9 cells/query),
    and on dense data it resolves ~everything, so the dense path pays zero
    up-front synchronization (VERDICT r3 #5: the histogram-first design
    spent a planning agg + double-evaluated passes and lost 1.57x to the
    fixed-ring sibling at uniform density). Only if a meaningful frontier
    survives does the histogram plan (:func:`start_ring`) pick the next
    ring, doubling from there. Tiny frontiers (leftover × n_points ≤
    BRUTE_BUDGET_PAIRS) are brute-forced lazily inside the final plan —
    the same shape :func:`knn` uses — instead of paying another
    synchronized pass; n_points comes from the already-materialized
    checkpoint, so that count is ~free.

    Result rows are identical to :func:`knn_bruteforce`; only the work
    distribution differs. At 10^12 points each pass is one equi-join on
    cell ids whose probe side shrinks monotonically."""
    p = _prep_points(points, point_id, z).localCheckpoint(eager=False)
    pending = _prep_queries(queries, query_id, z).localCheckpoint(eager=False)
    ring_seq = list(rings) if rings is not None else None
    n_pending = 1  # unknown until the first frontier count; >0 = keep going
    n_points = None
    pieces = []
    r = 0
    passes = 0
    # the 8-pass cap bounds only the ADAPTIVE doubling path; explicit
    # rings are honored in full (r4 review: capping them would silently
    # swap a caller's carefully-sized ring ladder for a brute cross join)
    while n_pending > 0 and (ring_seq is not None or passes < 8):
        if ring_seq is not None:
            if not ring_seq:
                break  # explicit rings exhausted → brute-force the rest
            r = ring_seq.pop(0)
        elif r == 0:
            r = 1  # optimistic dense-path first pass, no planning job
        elif r == 1:
            r = max(2, start_ring(p, k))  # sparse regime: now pay the plan
        else:
            r *= 2
        resolved, _ = _knn_ring(p, pending, k, z, r)
        # materialize the pass ONCE: the drain check, the frontier
        # anti-join and the final union all read the checkpointed rows —
        # otherwise each pass's join + windows run twice (once under the
        # frontier materialization, again at consumption)
        resolved = resolved.localCheckpoint(eager=True)
        passes += 1
        pieces.append(resolved)
        resolved_q = resolved.filter(F.col("rank") == 1).select("query_id")
        frontier = pending.join(resolved_q, "query_id", "left_anti")
        # ONE sync point per pass: the frontier count reads the pass's
        # checkpoint + the (also checkpointed) pending side, and doubles
        # as the drain check — no separate up-front query count
        n_pending = frontier.count()
        if n_pending == 0:
            break
        pending = frontier
        if ring_seq is None:
            if n_points is None:
                n_points = p.count()  # checkpoint materialized by the pass
            if n_pending * n_points <= BRUTE_BUDGET_PAIRS:
                break  # lazy brute tail beats another synchronized pass
        # materialize the shrinking frontier: keeps each pass's plan flat
        # instead of recomputing every prior ring under the anti-join chain
        pending = pending.localCheckpoint(eager=True)
    if n_pending > 0:
        leftovers = pending.select("query_id", F.col("qlon").alias("lon"),
                                   F.col("qlat").alias("lat"))
        points2 = p.select(F.col("neighbor_id").alias(point_id),
                           F.col("nlon").alias("lon"), F.col("nlat").alias("lat"))
        pieces.append(knn_bruteforce(points2, leftovers, k,
                                     point_id=point_id, query_id="query_id"))
    out = pieces[0]
    for extra in pieces[1:]:
        out = out.unionByName(extra)
    return out
