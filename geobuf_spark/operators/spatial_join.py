"""Cell-indexed spatial joins: point-in-polygon via tile-cover equi-join.

The reference supplies the ingredients but never composes the join itself
(SURVEY §2.5): the tile/cell equi-key (tilecover at split_combine.go:247),
the bbox intersection predicate (Intersect, split_combine.go:324-331), and
the per-tile index lookup (SubFileSeek, reader.go:278-287). This module is
that composition, Spark-first:

  1. point side: one cell per point (its tile at zoom z) — cheap, narrow;
  2. polygon side: explode the bbox tile cover (1:N duplication exactly as
     MapToSubFiles, split_combine.go:166-183);
  3. equi-join on the cell id (`_cell_join`) — broadcast (hashing the
     smaller side, `plans.strategy.choose_build`), else shuffle-hash with
     AQE skew splitting;
  4. refine with the exact geometric predicate, staged AFTER the join so the
     cheap bbox/cell pruning runs first (the reference orders its stages the
     same way, split_combine.go:376-384).

Correctness note: a point has exactly one cell at zoom z, so a (point,
polygon) pair can meet on at most one cell — the join produces no duplicate
pairs and needs no distinct.

Scale notes (100 TB / 1000 executors):
  - zoom choice trades cover fan-out (build-side duplication ~ area·4^z)
    against cell selectivity (probe rows per cell ~ n/4^z); pick z so the
    build side stays a few× its input and hot cells stay under the skew
    threshold — AQE's skew-join splitting backstops the tail.
  - hot cells need no planning: under `strategy="shuffle"` AQE skew-join
    splits an oversized cell partition at runtime and replicates only the
    matching build rows (BENCH/skew_r6.json: manual salting never beat the
    better of broadcast and shuffle).
  - `strategy="broadcast"` is shuffle-free: one side is hashed and
    broadcast, the other streams through it. The cover is the polygons
    times their fan-out (611,648 rows for the flagship's 20k rects at z7,
    12× its 50k points), so `pip_join` hashes whichever side is smaller:
    the points when their plan estimate fits
    `spark.sql.autoBroadcastJoinThreshold` and undercuts the counted
    cover, else the cover (a fact-sized point table is never
    broadcast). Use it when the cover fits in executor memory.
    `pip_join_s2` and `pip_join_hex` have no exact cover count and
    always hash the cover.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geobuf_spark.functions import tiles
from geobuf_spark.plans.strategy import choose_build


def sql_rect_contains(lon: str, lat: str) -> str:
    """Closed-interval containment — bbox Intersect semantics degenerate to
    this for a point probe (split_combine.go:314-331)."""
    return (f"({lon} >= minx AND {lon} <= maxx "
            f"AND {lat} >= miny AND {lat} <= maxy)")


def sql_crossing(px: str, py: str, x1: str, y1: str, x2: str, y2: str) -> str:
    """One ray-casting edge term: 1 when the ray east from (px, py) crosses
    edge (x1, y1)→(x2, y2), else 0 —
    ((y1>py) != (y2>py)) AND px < (x2-x1)*(py-y1)/(y2-y1)+x1. Both engines
    evaluate the same text, so they agree bit-for-bit even on
    boundary-adjacent points."""
    return (
        f"(CASE WHEN (({y1} > {py}) != ({y2} > {py})) AND "
        f"({px} < ({x2} - {x1}) * ({py} - {y1}) / ({y2} - {y1}) + {x1}) "
        f"THEN 1 ELSE 0 END)"
    )


def sql_triangle_contains(px: str, py: str) -> str:
    """Crossing parity for a triangle (x0, y0, x1, y1, x2, y2)."""
    total = " + ".join([
        sql_crossing(px, py, "x0", "y0", "x1", "y1"),
        sql_crossing(px, py, "x1", "y1", "x2", "y2"),
        sql_crossing(px, py, "x2", "y2", "x0", "y0"),
    ])
    return f"(({total}) % 2 = 1)"


def _cover_side(polys: DataFrame, z: int) -> DataFrame:
    return tiles.explode_bbox_cover(polys, z).selectExpr(
        "* EXCEPT (tile_x, tile_y)", f"{tiles.sql_cell_id(z, 'tile_x', 'tile_y')} AS cell")


def _point_side(points: DataFrame, z: int, lon="lon", lat="lat") -> DataFrame:
    return points.selectExpr("*", f"{tiles.spark_point_cell(lon, lat, z)} AS cell")


def _cell_join(p: DataFrame, b: DataFrame, key: str, strategy: str,
               refine: Column | str, build: str = "cover") -> DataFrame:
    """The one cell equi-join behind pip_join, pip_join_s2 and pip_join_hex:
    point side `p` × cover side `b` on `key`, then the exact refine.

    "broadcast" hashes the `build` side ("points" or "cover") and ships it
    to every task, with no shuffle; "shuffle" hash-partitions both sides
    with the point side as the hash build (measured faster than building
    on the cover side), and AQE skew-join splits hot cells. The point side
    stays on the left either way, so the columns are the same. The refine
    runs after the join, so the join is inner only."""
    if strategy == "broadcast":
        joined = (F.broadcast(p).join(b, key) if build == "points"
                  else p.join(F.broadcast(b), key))
    elif strategy == "shuffle":
        joined = p.hint("SHUFFLE_HASH").join(b, key)
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    return joined.filter(refine).drop(key)


def pip_join(
    points: DataFrame,
    polys: DataFrame,
    *,
    z: int = 6,
    refine: Column | str | None = None,
    strategy: str = "broadcast",
    salt: int = 1,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Generic cell join: points × polygon bboxes, refined by `refine`.

    `polys` must carry minx/miny/maxx/maxy (plus any payload columns);
    `refine` (a Column or SQL text) defaults to rectangle containment,
    `sql_rect_contains`. Returns the joined rows
    (all point columns + polygon columns minus the internal cell key).

    `strategy="broadcast"` hashes the smaller side
    (`plans.strategy.choose_build`): the row order may differ between the
    two builds, the rows do not.

    `salt` is `plans.strategy.JoinPlan.salt` and must be 1: hot cells are
    split at runtime by AQE skew-join, not by replicating the cover."""
    if salt != 1:
        raise ValueError(f"salt={salt!r}: salt must be 1; hot cells are "
                         "split at runtime by AQE skew-join (strategy='shuffle')")
    if refine is None:
        refine = sql_rect_contains(lon, lat)
    build = choose_build(points, polys, z)[0] if strategy == "broadcast" else "cover"
    return _cell_join(_point_side(points, z, lon, lat), _cover_side(polys, z),
                      "cell", strategy, refine, build)


def polygon_edges(polys: DataFrame, poly_id: str = "poly_id",
                  coords: str = "coords", ring_lens: str = "ring_lens") -> DataFrame:
    """Arbitrary polygons (flat coords + ring_lens, holes included) → one
    row per edge (poly_id, x1, y1, x2, y2), pure expressions.

    GeoJSON rings are closed (first == last vertex), so edges are simply
    consecutive vertex pairs within each ring. Ring boundaries are
    respected via a flat ring-offset explode."""
    # ring start offsets (in vertices): exclusive prefix sum of ring_lens
    starts = F.expr(
        f"transform({ring_lens}, (l, i) -> "
        f"aggregate(slice({ring_lens}, 1, i), 0, (a, b) -> a + b))"
    )
    rings = polys.select(
        F.col(poly_id),
        F.col(coords),
        F.posexplode(F.arrays_zip(starts.alias("s"), F.col(ring_lens).alias("l"))),
    ).select(
        poly_id, coords,
        F.col("col.s").alias("ring_start"), F.col("col.l").alias("ring_len"),
    )
    # edge k in ring: vertices (start+k, start+k+1), k = 0..ring_len-2
    edges = rings.select(
        poly_id, coords, "ring_start",
        F.explode(F.sequence(F.lit(0), F.col("ring_len") - 2)).alias("k"),
    )
    v = lambda off, comp: F.element_at(  # noqa: E731
        F.col(coords), (F.col("ring_start") + F.col("k") + off) * 2 + comp + 1
    )
    return edges.select(
        poly_id,
        v(0, 0).alias("x1"), v(0, 1).alias("y1"),
        v(1, 0).alias("x2"), v(1, 1).alias("y2"),
    )


def pip_join_general(points: DataFrame, polys: DataFrame, *, z: int = 6,
                     strategy: str = "broadcast", lon: str = "lon", lat: str = "lat",
                     point_key: str = "doc_id", poly_id: str = "poly_id") -> DataFrame:
    """Exact point-in-polygon for arbitrary polygons (holes, multi-parts)
    entirely JVM-side:

      1. bbox cover cell join produces candidate (point, polygon) pairs;
      2. candidates join the polygon's exploded edge table;
      3. crossing-number parity per (point, polygon) via one aggregation —
         odd total crossings = inside (holes handled for free: a point in
         a hole crosses the hole ring too, flipping parity back out).

    `polys` needs (poly_id, coords, ring_lens, minx, miny, maxx, maxy).
    Returns distinct (point_key, poly_id) inside pairs."""
    slim = polys.select(poly_id, "minx", "miny", "maxx", "maxy")
    cand = pip_join(
        points.select(point_key, lon, lat), slim, z=z,
        refine=sql_rect_contains(lon, lat),  # bbox prefilter
        strategy=strategy, lon=lon, lat=lat,
    ).select(point_key, poly_id, lon, lat)

    edges = polygon_edges(polys, poly_id=poly_id)
    crossing = sql_crossing(lon, lat, "x1", "y1", "x2", "y2")
    joined = cand.join(edges, poly_id)
    inside = (
        joined.groupBy(point_key, poly_id)
        .agg(F.expr(f"sum({crossing})").alias("_crossings"))
        .filter(F.col("_crossings") % 2 == 1)
        .select(point_key, poly_id)
    )
    return inside


def pip_join_semi(points: DataFrame, polys: DataFrame, *, z: int = 6,
                  strategy: str = "broadcast", lon: str = "lon", lat: str = "lat",
                  point_key: str = "doc_id") -> DataFrame:
    """Points that fall in ANY polygon (left-semi shape).

    The join output already carries every point column, so the semi is a
    projection + per-key distinct of the join itself — the points table is
    never scanned a second time (it would be at 100 TB)."""
    matched = pip_join(points, polys, z=z, strategy=strategy, lon=lon, lat=lat)
    return matched.select(*points.columns).dropDuplicates([point_key])


def pip_join_s2(
    points: DataFrame,
    polys: DataFrame,
    *,
    level: int | None = None,
    refine: Column | str | None = None,
    strategy: str = "broadcast",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """pip_join with the S2-style cube-face cell index as the equi-key
    end-to-end: points get `cells.s2_cell` (pure expressions); the polygon
    side explodes `cells.explode_s2_cover` (interval-arithmetic bbox cover,
    cross-face safe). Same staging — cover join first, exact refine after.

    `level=None` picks the finest level whose estimated cover fits the
    planner budget (`plans.strategy.choose_s2_level`) — an over-fine level
    multiplies the exploded build side (a 12°-wide box covers ~300 cells
    at level 7 but ~6 at level 4) and can blow the broadcast.

    Unlike the mercator tile index, s2 cells keep their size near the
    poles, so high-latitude data skews less; the cover kernel guarantees
    a superset (any point in the bbox lands in a covered cell), so the
    refine sees every true pair. `strategy="broadcast"` hashes the cover:
    there is no exact s2 cover count to weigh it against the points."""
    from geobuf_spark.functions import cells
    from geobuf_spark.plans.strategy import choose_s2_level

    if level is None:
        level = choose_s2_level(polys)
    if refine is None:
        refine = sql_rect_contains(lon, lat)
    p = points.withColumn("cell", cells.s2_cell(F.col(lon), F.col(lat), level))
    return _cell_join(p, cells.explode_s2_cover(polys, level), "cell",
                      strategy, refine)


def pip_join_hex(points: DataFrame, polys: DataFrame, *, size_deg: float = 2.5,
                 refine: Column | str | None = None, strategy: str = "broadcast",
                 lon: str = "lon", lat: str = "lat") -> DataFrame:
    """pip_join keyed by H3-style hex cells: 6-regular neighborhoods give
    a rounder cover than square tiles (≈13% fewer false candidates for
    isotropic data at equal cell area). Same staging: hex-cover equi-join,
    exact refine after. `strategy="broadcast"` hashes the cover: there is
    no exact hex cover count to weigh it against the points."""
    from geobuf_spark.functions import hexgrid

    if refine is None:
        refine = sql_rect_contains(lon, lat)
    p = points.withColumn("hex", hexgrid.hex_cell(F.col(lon), F.col(lat), size_deg))
    return _cell_join(p, hexgrid.explode_hex_cover(polys, size_deg), "hex",
                      strategy, refine)


LINE_CELL = 56_250_000  # 5.625° in 1e-7 lattice units — the line-cover grid


def line_cover_cells(lines_q: DataFrame, cell: int = LINE_CELL,
                     id_col: str = "doc_id") -> DataFrame:
    """Conservative grid cover of quantized polylines — the line analog of
    the polygon bbox-cover explode (points carry ONE cell, polygons
    explode their bbox cover; this completes the family so lines can ride
    the same cell equi-join). Each segment contributes the cells of its
    bbox (a superset of the cells the segment truly crosses — the exact
    refine after the join owns false positives, exactly like the polygon
    path).

    Input: (id_col, xs_q, ys_q) parallel non-negative bigint coordinate
    arrays. Output: (id_col, seg, cx, cy), one row per (segment, cell),
    duplicates across segments NOT collapsed (callers distinct() when
    building an index key set). Pure expressions: two staged explodes —
    segments, then the 2-D cell range (sequence × sequence) — no shuffle.
    """
    n = F.size("xs_q")
    segs = lines_q.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(1), n - 1)).alias("seg"),
        F.col("xs_q"), F.col("ys_q"))

    def coord(arr, i):
        return F.element_at(F.col(arr), i.cast("int"))

    i = F.col("seg")
    x1, x2 = coord("xs_q", i), coord("xs_q", i + 1)
    y1, y2 = coord("ys_q", i), coord("ys_q", i + 1)
    # name the bbox corners first, then integer-divide by name: `div` on
    # non-negative operands matches DuckDB `//` exactly (a double `/` +
    # floor could round across a cell boundary)
    b = (segs.select(id_col, "seg",
                     F.least(x1, x2).alias("bx1"),
                     F.greatest(x1, x2).alias("bx2"),
                     F.least(y1, y2).alias("by1"),
                     F.greatest(y1, y2).alias("by2"))
         .select(id_col, "seg",
                 F.expr(f"bx1 div {cell}").alias("gx1"),
                 F.expr(f"bx2 div {cell}").alias("gx2"),
                 F.expr(f"by1 div {cell}").alias("gy1"),
                 F.expr(f"by2 div {cell}").alias("gy2")))
    return (b.select(id_col, "seg",
                     F.explode(F.sequence(F.col("gx1"), F.col("gx2")))
                     .alias("cx"), "gy1", "gy2")
            .select(id_col, "seg", "cx",
                    F.explode(F.sequence(F.col("gy1"), F.col("gy2")))
                    .alias("cy")))


def radius_self_join(pts_q: DataFrame, r: int, id_col: str = "doc_id",
                     qx: str = "qx", qy: str = "qy") -> DataFrame:
    """All unordered point pairs within planar lattice distance r — the
    distance self-join, as a grid-bucketed equi-join.

    Coordinates must be NON-NEGATIVE quantized integers (sources/minted
    minted_points_q); r is in the same lattice units. Plan: every point
    lands in one r×r home cell; one side fans out to its 3×3 cell
    neighborhood (map-side, ×9); equi-join on the cell key; exact integer
    squared-distance refine. A qualifying pair meets exactly twice — (a
    exploded)→(b home) and (b exploded)→(a home) — so the id_a < id_b
    order filter keeps each exactly once; no distinct needed.

    Scale: ONE shuffle per side on the cell key (the ×9 fan-out happens
    before the exchange but the join stays an equi-join, so AQE's skew
    split backstops hot cells, as in pip_join's shuffle strategy).
    Integer-exact: cell index is `div` on non-negative
    operands; dist2 ≤ 8r² needs r < 2^30. Output (id_a, id_b, dist2),
    dist2 = Δx² + Δy² ≤ r².
    """
    if not 0 < r < 1 << 30:
        raise ValueError("r must be in (0, 2^30) lattice units")
    home = pts_q.select(
        F.col(id_col), F.col(qx).cast("bigint").alias("qx"),
        F.col(qy).cast("bigint").alias("qy"),
        F.expr(f"cast({qx} as bigint) div {r}").alias("cx"),
        F.expr(f"cast({qy} as bigint) div {r}").alias("cy"))
    probe = home.select(
        F.col(id_col).alias("id_a"), F.col("qx").alias("ax"),
        F.col("qy").alias("ay"),
        F.explode(F.array(*[
            F.struct((F.col("cx") + F.lit(dx)).alias("cx"),
                     (F.col("cy") + F.lit(dy)).alias("cy"))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)])).alias("nc"),
    ).select("id_a", "ax", "ay", "nc.cx", "nc.cy")
    build = home.select(
        F.col(id_col).alias("id_b"), F.col("qx").alias("bx"),
        F.col("qy").alias("by"), "cx", "cy")
    d2 = ((F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
          + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by")))
    return (probe.join(build, ["cx", "cy"])
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("dist2", d2)
            .filter(F.col("dist2") <= F.lit(r * r))
            .select("id_a", "id_b", "dist2"))


def rect_cell_weights(rects_q: DataFrame, cell: int,
                      id_col: str = "poly_id") -> DataFrame:
    """Areal interpolation weights: for each rectangle, its planar-grid
    cover with the EXACT integer overlap area per cell and the ppm weight
    (overlap/rect area) — the classic proportional-allocation step that
    redistributes a zone-level measure onto a raster grid.

    Input: (id_col, x1, y1, x2, y2) non-negative half-open lattice boxes
    (x2 > x1, y2 > y1). Output: (id_col, cx, cy, overlap_area,
    weight_ppm). One staged 2-D explode (no shuffle): cells x1//cell ..
    (x2-1)//cell per axis; overlap widths are least/greatest int
    arithmetic, areas int64 (lattice boxes are < 2^31 per side), and the
    ppm ratio is one IEEE floor division — bit-identical in the oracle.
    `div` on non-negative operands matches DuckDB `//` exactly."""
    cov = _box_cover(rects_q, cell, id_col)
    w = (F.least(F.col("x2"), (F.col("cx") + 1) * cell)
         - F.greatest(F.col("x1"), F.col("cx") * cell))
    h = (F.least(F.col("y2"), (F.col("cy") + 1) * cell)
         - F.greatest(F.col("y1"), F.col("cy") * cell))
    area = (w * h).alias("overlap_area")
    rect_area = (F.col("x2") - F.col("x1")) * (F.col("y2") - F.col("y1"))
    return cov.select(
        id_col, "cx", "cy", area,
        F.floor((w * h).cast("double") * 1000000.0
                / rect_area.cast("double")).cast("bigint").alias("weight_ppm"))


def _box_cover(df: DataFrame, cell: int, id_col: str) -> DataFrame:
    """Planar-grid cover of non-negative half-open lattice boxes: one row
    per (box, cell), box coords carried along. Pure staged explodes.
    The ONE cover-explode implementation behind rect_cell_weights and
    box_iou_join (tiling.adaptive_cover's seed is the same form at its
    z_min cell size — kept separate there to avoid an import cycle, with
    this docstring as the cross-reference)."""
    g = df.select(
        id_col, "x1", "y1", "x2", "y2",
        F.expr(f"x1 div {cell}").alias("gx1"),
        F.expr(f"(x2 - 1) div {cell}").alias("gx2"),
        F.expr(f"y1 div {cell}").alias("gy1"),
        F.expr(f"(y2 - 1) div {cell}").alias("gy2"))
    return (g.select(id_col, "x1", "y1", "x2", "y2", "gy1", "gy2",
                     F.explode(F.sequence(F.col("gx1"), F.col("gx2")))
                     .alias("cx"))
            .select(id_col, "x1", "y1", "x2", "y2", "cx",
                    F.explode(F.sequence(F.col("gy1"), F.col("gy2")))
                    .alias("cy")))


def box_iou_join(a: DataFrame, b: DataFrame, cell: int,
                 a_id: str = "a_id", b_id: str = "b_id") -> DataFrame:
    """Overlay join of two box layers with EXACT integer intersection
    areas and IoU — the two-layer overlay primitive (and the
    object-detection IoU matcher). Both inputs: (id, x1, y1, x2, y2)
    non-negative half-open lattice boxes.

    Shape: cell-cover equi-join on the planar grid, then REFERENCE-POINT
    deduplication — a pair surviving in several shared cells is kept only
    in the one cell containing the intersection's min corner (a known
    dedup trick from the distributed spatial-join literature, e.g.
    SpatialHadoop's duplicate-avoidance) — so there is NO distinct
    shuffle: the only exchange is the cell join itself. Intersection and
    union areas are int64 (lattice boxes < 2^31 per side); iou_ppm is one
    IEEE floor division, bit-identical in the oracle."""
    ca = _box_cover(a, cell, a_id)
    cb = (_box_cover(b, cell, b_id)
          .withColumnRenamed("x1", "bx1").withColumnRenamed("y1", "by1")
          .withColumnRenamed("x2", "bx2").withColumnRenamed("y2", "by2"))
    j = ca.join(cb, ["cx", "cy"])
    ix1 = F.greatest(F.col("x1"), F.col("bx1"))
    iy1 = F.greatest(F.col("y1"), F.col("by1"))
    ix2 = F.least(F.col("x2"), F.col("bx2"))
    iy2 = F.least(F.col("y2"), F.col("by2"))
    hit = (ix1 < ix2) & (iy1 < iy2)
    owner = (F.expr(f"greatest(x1, bx1) div {cell}") == F.col("cx")) & \
            (F.expr(f"greatest(y1, by1) div {cell}") == F.col("cy"))
    inter = (ix2 - ix1) * (iy2 - iy1)
    union = ((F.col("x2") - F.col("x1")) * (F.col("y2") - F.col("y1"))
             + (F.col("bx2") - F.col("bx1")) * (F.col("by2") - F.col("by1"))
             - inter)
    return (j.filter(hit & owner)
            .select(a_id, b_id, inter.alias("inter_area"),
                    F.floor(inter.cast("double") * 1000000.0
                            / union.cast("double")).cast("bigint")
                    .alias("iou_ppm")))


def sql_cross(ox, oy, px, py, qx, qy) -> str:
    """2D integer cross product (p−o) × (q−o) as shared expression text —
    the exact orientation predicate both engines evaluate identically."""
    return (f"((({px}) - ({ox})) * (({qy}) - ({oy})) "
            f"- (({py}) - ({oy})) * (({qx}) - ({ox})))")


def sql_proper_xing() -> str:
    """Strict proper-crossing predicate over candidate columns
    a_ax..b_by (segment a = a_a→a_b, segment b = b_a→b_b)."""
    d1 = sql_cross("b_ax", "b_ay", "b_bx", "b_by", "a_ax", "a_ay")
    d2 = sql_cross("b_ax", "b_ay", "b_bx", "b_by", "a_bx", "a_by")
    d3 = sql_cross("a_ax", "a_ay", "a_bx", "a_by", "b_ax", "b_ay")
    d4 = sql_cross("a_ax", "a_ay", "a_bx", "a_by", "b_bx", "b_by")

    def opp(u, v):
        return f"((({u}) > 0 AND ({v}) < 0) OR (({u}) < 0 AND ({v}) > 0))"

    return f"({opp(d1, d2)} AND {opp(d3, d4)})"


def segment_xing_join(wl: DataFrame, cell: int, k: int = 9) -> DataFrame:
    """Exact segment-intersection join over (doc_id, xs_q, ys_q) walk
    polylines: grid-cell candidate generation (never all-pairs),
    reference-point dedup (each candidate pair kept only in the cell of
    max(bbox min-corners) — no distinct), strict integer orientation
    refine, per-(doc_a, doc_b) crossing counts.

    Scale shape: ONE equi-join shuffle on (cx, cy); `cell` must be ≥ the
    max per-segment extent (cover ≤ 2 cells/axis) and tunes to density;
    hot cells are split by AQE skew-join like any cell join.
    Reference analog: the bbox prefilter staging of split_combine.go's
    Intersect, upgraded to an exact predicate."""
    n = k - 1
    seg = (wl.select("doc_id", F.explode(F.arrays_zip(
               F.slice("xs_q", 1, n).alias("ax"),
               F.slice("ys_q", 1, n).alias("ay"),
               F.slice("xs_q", 2, n).alias("bx"),
               F.slice("ys_q", 2, n).alias("by"))).alias("s"))
           .select("doc_id", "s.ax", "s.ay", "s.bx", "s.by")
           .withColumn("x1", F.least("ax", "bx"))
           .withColumn("x2", F.greatest("ax", "bx"))
           .withColumn("y1", F.least("ay", "by"))
           .withColumn("y2", F.greatest("ay", "by")))
    sc = (seg.withColumn("cx", F.explode(F.sequence(
              F.expr(f"x1 div {cell}"), F.expr(f"x2 div {cell}"))))
          .withColumn("cy", F.explode(F.sequence(
              F.expr(f"y1 div {cell}"), F.expr(f"y2 div {cell}")))))

    def pref(p):
        return sc.select([F.col(c).alias(p + c) for c in sc.columns])

    cand = (pref("a_").join(
                pref("b_"),
                (F.col("a_cx") == F.col("b_cx"))
                & (F.col("a_cy") == F.col("b_cy"))
                & (F.col("a_doc_id") < F.col("b_doc_id")))
            .filter(F.expr(f"a_cx = greatest(a_x1, b_x1) div {cell} "
                           f"AND a_cy = greatest(a_y1, b_y1) div {cell}"))
            .filter(F.expr("a_x1 <= b_x2 AND b_x1 <= a_x2 "
                           "AND a_y1 <= b_y2 AND b_y1 <= a_y2")))
    return (cand.filter(F.expr(sql_proper_xing()))
            .groupBy(F.col("a_doc_id").alias("doc_a"),
                     F.col("b_doc_id").alias("doc_b"))
            .agg(F.count("*").alias("n_xings")))
