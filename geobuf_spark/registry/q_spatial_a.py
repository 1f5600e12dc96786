"""Registry family: spatial joins, kNN, geometry ops, codec round-trips.

Split out of the former __spark_entry__.py monolith (VERDICT r4 #2);
query functions keep their original text, oracles sit beside them in
this module's oracles(). Driver-window ORDER lives in window.py, not here.

Queries here (42):
bbox_intersect_join, bearing_sectors, cell_skew_stats, csv_export,
distinct_prop_keys, feature_count, feature_meta, geo_bounds,
geobuf_roundtrip, geom_area_centroid, geom_validity, hausdorff_pairs,
hex_density, hotspot_clusters, increment_limit, knn_adaptive_k5,
knn_hex_k5, knn_k5, knn_s2_k5, line_length_stats, map_features,
mint_points, nn_dist_stats, pip_join_general, pip_join_hex,
pip_join_rects, pip_join_s2, pip_join_triangles, pip_semi,
polygon_roundtrip, props_roundtrip,
radius_join_pairs, rect_overlay_iou, route_snap_join, s2_cells_l8,
segment_xing_join, simplify_vw, skyline_docs, staypoints, traj_steps,
union_datasets, wkt_quantized
"""
from __future__ import annotations
from collections.abc import Callable
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from geobuf_spark.codec import spark_codec
from geobuf_spark.functions import text as TXT
from geobuf_spark.functions import geom, hexgrid, phash, tiles
from geobuf_spark.operators import dedup, knn, ranking, similarity, sketch
from geobuf_spark.operators import spatial_join as sj
from geobuf_spark.operators import tiling
from geobuf_spark.sources import minted, pages
from geobuf_spark.streaming import windows as W
from ._shared import *  # noqa: F401,F403


def q_geom_area_centroid(spark, sf):
    # shoelace 2·area and floored centroid of every minted CCW ring
    # (rects + triangles), computed entirely in int64 on the 1e-7 lattice
    # (functions/geom.py local-origin + unit-rescale) — one projection,
    # no shuffle, no Python
    r = minted.minted_rings_q(spark, sf)
    st = geom.ring_stats_q(F.col("xs_q"), F.col("ys_q"))
    return (r.withColumn("st", st)
             .select("poly_id", "kind", F.col("st.area2_u2").alias("area2_u2"),
                     F.col("st.cx_q").alias("cx_q"),
                     F.col("st.cy_q").alias("cy_q")))

def q_radius_join_pairs(spark, sf):
    # the distance self-join: all unordered point pairs within RADIUS_R,
    # via one-cell-per-point grid bucketing + a 3x3 neighbor fan-out on
    # the probe side (operators/spatial_join.radius_self_join — exactly
    # one equi-join shuffle pair; exact integer d² refine after). Runs on
    # the CLUSTERED minting — uniform rank-1 draws have no close pairs.
    from geobuf_spark.sources.tables import widen
    p = widen(minted.minted_cluster_points_q(spark, sf), spark)
    return sj.radius_self_join(p, r=RADIUS_R)

def q_simplify_vw(spark, sf):
    # polyline simplification: one-pass Visvalingam effective-area filter
    # over the minted 9-vertex walk lines, integer cross products on
    # vertex deltas — one projection, no shuffle, no Python
    wl = minted.minted_walk_lines_q(spark, sf, k=9)
    st = geom.vw_simplify_q(F.col("xs_q"), F.col("ys_q"), VW_AREA2_MIN)
    return (wl.withColumn("st", st)
              .select("doc_id", F.col("st.n_kept").alias("n_kept"),
                      F.col("st.xy_s").alias("xy_s")))

def q_hotspot_clusters(spark, sf):
    # density hotspots: HOT_Z tiles holding >= HOT_MIN_PTS points, merged
    # into clusters across 4-adjacency by min-label connected components
    # (reuses dedup.near_dup_components). Adjacency is TWO coordinate
    # equi-joins (right + up neighbor) over the dense-tile table — tiny
    # after the density gate, so both broadcast; the only corpus-scale
    # work is the one tile-count aggregation.
    dense = (tiling.assign_tiles_points(_points(spark, sf), z=HOT_Z)
             .groupBy("x", "y").agg(F.count("*").alias("n_pts"))
             .filter(F.col("n_pts") >= HOT_MIN_PTS)
             .withColumn("k", F.expr(tiles.sql_cell_id(HOT_Z, "x", "y")))
             .localCheckpoint(eager=False))

    def shifted(dx, dy):
        return dense.select(F.col("k").alias("a"),
                            (F.col("x") + dx).alias("x"),
                            (F.col("y") + dy).alias("y"))

    nbr = dense.select(F.col("k").alias("b"), "x", "y")
    pairs = (shifted(1, 0).join(nbr, ["x", "y"]).select("a", "b")
             .unionByName(shifted(0, 1).join(nbr, ["x", "y"])
                          .select("a", "b")))
    comps = dedup.near_dup_components(pairs, "a", "b")
    return (dense.join(comps.withColumnRenamed("doc_id", "k"), "k", "left")
            .withColumn("cluster_id",
                        F.coalesce("rep_id", "k").cast("bigint"))
            .groupBy("cluster_id")
            .agg(F.count("*").alias("n_tiles"),
                 F.sum("n_pts").alias("n_pts")))

def q_wkt_quantized(spark, sf):
    # WKT export on the 1e-7 integer lattice — exact strings on both
    # engines (float WKT would hinge on cross-engine double formatting);
    # points and the even-keyed rect rings, one projection, no shuffle
    pts = minted.minted_points_q(spark, sf)
    wkt = F.concat(F.lit("POINT ("), F.col("qx").cast("string"),
                   F.lit(" "), F.col("qy").cast("string"), F.lit(")"))
    return pts.select("doc_id", wkt.alias("wkt"))

def q_traj_steps(spark, sf):
    # per-user trajectory measures: events get deterministic minted
    # lattice positions, ordered by (ts, event_id); squared step lengths,
    # the max step, and net displacement — all exact int64 (planar sqrt
    # would be cross-engine float). ONE user_id exchange: the lag and the
    # first/last-value windows share the partitioning, the rollup reuses
    # it.
    from pyspark.sql import Window
    e = spark.read.parquet(f"{sf}/events.parquet")

    def pos(axis):
        return F.pmod(
            phash.hash60(F.concat(F.lit(axis),
                                  F.col("event_id").cast("string"))),
            F.lit(2_000_001)) - 1_000_000

    d = e.select("user_id", "ts", "event_id",
                 pos("tx").alias("px"), pos("ty").alias("py"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    d = d.select(
        "user_id",
        (F.col("px") - F.lag("px").over(w)).alias("dx"),
        (F.col("py") - F.lag("py").over(w)).alias("dy"),
        F.first("px").over(wf).alias("fx"), F.first("py").over(wf).alias("fy"),
        F.last("px").over(wf).alias("lx"), F.last("py").over(wf).alias("ly"))
    d2 = F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy")
    net = ((F.col("lx") - F.col("fx")) * (F.col("lx") - F.col("fx"))
           + (F.col("ly") - F.col("fy")) * (F.col("ly") - F.col("fy")))
    return (d.select("user_id", d2.alias("d2"), net.alias("net"))
            .groupBy("user_id")
            .agg(F.count("d2").alias("n_steps"),
                 F.coalesce(F.sum("d2"), F.lit(0)).cast("bigint")
                     .alias("sum_step_d2"),
                 F.coalesce(F.max("d2"), F.lit(0)).cast("bigint")
                     .alias("max_step_d2"),
                 F.min("net").cast("bigint").alias("net_d2")))

def _traj_steps_sql() -> str:
    """Oracle for q_traj_steps: same minted positions, same (ts, event_id)
    window order, lag/first/last twins."""
    def pos(axis):
        h = phash.sql_hash60(f"'{axis}' || CAST(event_id AS VARCHAR)")
        return f"(({h}) % 2000001 - 1000000)"
    return f"""
        WITH p AS (SELECT user_id, ts, event_id,
                          {pos('tx')} AS px, {pos('ty')} AS py
                   FROM events),
        d AS (SELECT user_id,
                     px - lag(px) OVER w AS dx,
                     py - lag(py) OVER w AS dy,
                     first_value(px) OVER wf AS fx,
                     first_value(py) OVER wf AS fy,
                     last_value(px) OVER wf AS lx,
                     last_value(py) OVER wf AS ly
              FROM p
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
                     wf AS (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING))
        SELECT user_id,
               count(dx * dx + dy * dy) AS n_steps,
               CAST(coalesce(sum(dx * dx + dy * dy), 0) AS BIGINT)
                   AS sum_step_d2,
               CAST(coalesce(max(dx * dx + dy * dy), 0) AS BIGINT)
                   AS max_step_d2,
               CAST(min((lx - fx) * (lx - fx) + (ly - fy) * (ly - fy))
                    AS BIGINT) AS net_d2
        FROM d GROUP BY 1"""

def q_geom_validity(spark, sf):
    # exact geometric-validity gate over the closed walk rings: signed
    # doubled area (winding), convexity, PROPER self-intersection count —
    # the integer orientation-test primitives the clip/overlay passes rely
    # on, surfaced as a per-feature quality column. Zero shuffles.
    wl = minted.minted_walk_lines_q(spark, sf, k=9)
    return geom.ring_validity_cols(wl, k=9).select(
        "doc_id", "area2", "is_ccw", "is_convex", "n_self_x")

def _geom_validity_sql(k: int = 9) -> str:
    """Oracle for q_geom_validity: walk coords named, local deltas via
    least(), then the shared-index unrolled predicates
    (geom.sql_ring_validity — ring_pair_indices is the SAME generator
    both sides use)."""
    xs, ys = minted.sql_minted_walk_coords(k)
    cols = ",\n               ".join(
        [f"{e} AS x{i}" for i, e in enumerate(xs)]
        + [f"{e} AS y{i}" for i, e in enumerate(ys)])
    lx = "least(" + ", ".join(f"x{i}" for i in range(k)) + ")"
    ly = "least(" + ", ".join(f"y{i}" for i in range(k)) + ")"
    deltas = ", ".join(
        [f"x{i} - lx AS vx{i}" for i in range(k)]
        + [f"y{i} - ly AS vy{i}" for i in range(k)])
    v = geom.sql_ring_validity(k)
    return f"""
        WITH wl AS (SELECT doc_id, {cols} FROM documents),
        m AS (SELECT doc_id, *, {lx} AS lx, {ly} AS ly FROM wl),
        dd AS (SELECT doc_id, {deltas} FROM m)
        SELECT doc_id, {v['area2']} AS area2, {v['is_ccw']} AS is_ccw,
               {v['is_convex']} AS is_convex, {v['n_self_x']} AS n_self_x
        FROM dd"""

def _overlay_boxes_cte(name: str, salt: str, id_name: str,
                       w_base: int, w_mod: int, w_step: int,
                       h_base: int, h_mod: int, h_step: int) -> str:
    def h(axis, mod):
        e = phash.sql_hash60(f"'{salt}{axis}' || CAST(p_partkey AS VARCHAR)")
        return f"({e}) % {mod}"

    w = f"({w_base} + (p_partkey % {w_mod}) * {w_step})"
    hh = f"({h_base} + (p_partkey % {h_mod}) * {h_step})"
    return f"""{name} AS (SELECT p_partkey AS {id_name},
                {h('x', 3_000_000_000)} AS x1, {h('y', 1_300_000_000)} AS y1,
                {h('x', 3_000_000_000)} + 2 * {w} AS x2,
                {h('y', 1_300_000_000)} + 2 * {hh} AS y2
         FROM part)"""

def q_rect_overlay_iou(spark, sf):
    # two-layer overlay join with exact integer intersection areas + IoU
    # (also the object-detection box-matching primitive). Cell-cover
    # equi-join + REFERENCE-POINT dedup — a pair is kept only in the cell
    # holding the intersection's min corner, so no distinct shuffle; see
    # spatial_join.box_iou_join.
    a = _overlay_boxes(spark, sf, *_OVA)
    b = _overlay_boxes(spark, sf, *_OVB)
    return sj.box_iou_join(a, b, AREAL_CELL)

def _rect_overlay_iou_sql() -> str:
    """Oracle for q_rect_overlay_iou: brute θ-join over both regenerated
    layers (no cover, no dedup — the predicate alone), same exact-area
    arithmetic."""
    return f"""
        WITH {_overlay_boxes_cte('r', *_OVA)},
        {_overlay_boxes_cte('rb', *_OVB)},
        p AS (SELECT r.a_id, rb.b_id,
                     (least(r.x2, rb.x2) - greatest(r.x1, rb.x1))
                     * (least(r.y2, rb.y2) - greatest(r.y1, rb.y1))
                         AS inter_area,
                     (r.x2 - r.x1) * (r.y2 - r.y1)
                     + (rb.x2 - rb.x1) * (rb.y2 - rb.y1) AS sum_area
              FROM r JOIN rb
                ON r.x1 < rb.x2 AND rb.x1 < r.x2
               AND r.y1 < rb.y2 AND rb.y1 < r.y2)
        SELECT a_id, b_id, inter_area,
               CAST(floor(CAST(inter_area AS DOUBLE) * 1000000.0
                    / CAST(sum_area - inter_area AS DOUBLE)) AS BIGINT)
                   AS iou_ppm
        FROM p"""

def q_cell_skew_stats(spark, sf):
    # skew diagnostics as a query — the probe-side cell histogram (the
    # mass AQE skew-join splits at runtime), surfaced as shape stats:
    # one row (n_cells, n_points, max_count, mean_x100, skew_ratio_x100 =
    # max/mean). Two narrow aggregations, all integer.
    a = tiling.assign_tiles_points(_points(spark, sf), z=6)
    h = a.groupBy("x", "y").agg(F.count("*").alias("c"))
    return h.agg(
        F.count("*").alias("n_cells"),
        F.sum("c").cast("bigint").alias("n_points"),
        F.max("c").alias("max_count"),
        F.expr("sum(c) * 100 div count(*)").alias("mean_x100"),
        F.expr("max(c) * count(*) * 100 div sum(c)").alias("skew_ratio_x100"))

def _cell_skew_stats_sql() -> str:
    """Oracle for q_cell_skew_stats over the minted points."""
    pts = minted.SQL_MINTED_POINTS.strip()
    x6, y6 = tiles.sql_tile_x("lon", 6), tiles.sql_tile_y("lat", 6)
    return f"""
        WITH h AS (SELECT {x6} AS x, {y6} AS y, count(*) AS c
                   FROM ({pts}) GROUP BY 1, 2)
        SELECT CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(c) AS BIGINT) AS n_points,
               CAST(max(c) AS BIGINT) AS max_count,
               CAST(sum(c) * 100 // count(*) AS BIGINT) AS mean_x100,
               CAST(max(c) * count(*) * 100 // sum(c) AS BIGINT)
                   AS skew_ratio_x100
        FROM h"""

def q_line_length_stats(spark, sf):
    # linear-referencing measures per walk polyline: planar length (sum
    # of per-segment sqrt — IEEE sqrt is correctly rounded, and the
    # additions are unrolled in one fixed left-to-right order on BOTH
    # engines, so the doubles match bit-for-bit), chord length, and
    # integer sinuosity. Zero shuffles.
    k = 9
    wl = minted.minted_walk_lines_q(spark, sf, k=k)
    X = [F.element_at(F.col("xs_q"), i + 1) for i in range(k)]
    Y = [F.element_at(F.col("ys_q"), i + 1) for i in range(k)]
    d2s = [(X[i + 1] - X[i]) * (X[i + 1] - X[i])
           + (Y[i + 1] - Y[i]) * (Y[i + 1] - Y[i]) for i in range(k - 1)]
    length = F.sqrt(d2s[0].cast("double"))
    for d2 in d2s[1:]:
        length = length + F.sqrt(d2.cast("double"))
    chord2 = ((X[k - 1] - X[0]) * (X[k - 1] - X[0])
              + (Y[k - 1] - Y[0]) * (Y[k - 1] - Y[0]))
    chord = F.sqrt(chord2.cast("double"))
    sinuosity = F.when(chord2 > 0,
                       F.floor(length * 1000.0 / chord)).otherwise(F.lit(0))
    return wl.select(
        "doc_id", length.alias("length_q"), chord.alias("chord_q"),
        F.greatest(*d2s).alias("max_seg_d2"),
        sinuosity.cast("bigint").alias("sinuosity_x1000"))

def _line_length_stats_sql(k: int = 9) -> str:
    """Oracle for q_line_length_stats: the same unrolled left-to-right
    sqrt sum (IEEE sqrt + additions in identical order → bit-equal)."""
    xs, ys = minted.sql_minted_walk_coords(k)
    cols = ",\n               ".join(
        [f"{e} AS x{i}" for i, e in enumerate(xs)]
        + [f"{e} AS y{i}" for i, e in enumerate(ys)])
    d2s = [f"((x{i + 1} - x{i}) * (x{i + 1} - x{i})"
           f" + (y{i + 1} - y{i}) * (y{i + 1} - y{i}))" for i in range(k - 1)]
    length = " + ".join(f"sqrt(CAST({d} AS DOUBLE))" for d in d2s)
    chord2 = (f"((x{k - 1} - x0) * (x{k - 1} - x0)"
              f" + (y{k - 1} - y0) * (y{k - 1} - y0))")
    return f"""
        WITH wl AS (SELECT doc_id, {cols} FROM documents)
        SELECT doc_id,
               ({length}) AS length_q,
               sqrt(CAST({chord2} AS DOUBLE)) AS chord_q,
               CAST(greatest({', '.join(d2s)}) AS BIGINT) AS max_seg_d2,
               CAST(CASE WHEN {chord2} > 0
                    THEN floor(({length}) * 1000.0
                               / sqrt(CAST({chord2} AS DOUBLE)))
                    ELSE 0 END AS BIGINT) AS sinuosity_x1000
        FROM wl"""

def q_mint_points(spark, sf):
    return _points(spark, sf)

def q_geo_bounds(spark, sf):
    # Expand_BoundingBoxs / Splitter bounds accumulation (bb.go:39-86,
    # split_combine.go:137-152) as one global agg
    return _points(spark, sf).agg(
        F.min("lon").alias("west"), F.min("lat").alias("south"),
        F.max("lon").alias("east"), F.max("lat").alias("north"),
        F.count("*").alias("n_features"),
    )

def q_hex_density(spark, sf):
    # H3-style hex binning (flat-plane axial + cube rounding) as a density
    # rollup — hexagonal analog of tile_counts
    return (
        _points(spark, sf)
        .withColumn("hex", hexgrid.hex_cell(F.col("lon"), F.col("lat"), 5.0))
        .groupBy("hex").agg(F.count("*").alias("n_features"))
    )

def q_pip_join_rects(spark, sf):
    return sj.pip_join(_points(spark, sf), _rects(spark, sf), z=6,
                       strategy="broadcast").select("doc_id", "poly_id")

def q_pip_join_s2(spark, sf):
    # same semantics as pip_join_rects, s2 cube-face cells as the equi-key;
    # level auto-chosen by the cover-budget planner (choose_s2_level)
    return sj.pip_join_s2(_points(spark, sf), _rects(spark, sf),
                          strategy="broadcast").select("doc_id", "poly_id")

def q_pip_join_hex(spark, sf):
    # hex-indexed variant — identical pairs to the tile/s2 joins
    return sj.pip_join_hex(_points(spark, sf), _rects(spark, sf), size_deg=3.0,
                           strategy="broadcast").select("doc_id", "poly_id")

def q_pip_join_triangles(spark, sf):
    tri = _tris(spark, sf) \
        .withColumn("minx", F.col("x1")).withColumn("maxx", F.col("x2")) \
        .withColumn("miny", F.col("y1")).withColumn("maxy", F.col("y0"))
    return sj.pip_join(
        _points(spark, sf), tri, z=6,
        refine=sj.sql_triangle_contains("lon", "lat"),
    ).select("doc_id", "poly_id")

def q_pip_semi(spark, sf):
    return sj.pip_join_semi(_points(spark, sf), _rects(spark, sf), z=6).select("doc_id")

def q_knn_k5(spark, sf):
    pts = _points(spark, sf)
    queries = pts.filter(F.col("doc_id") % 20 == 0) \
        .select(F.col("doc_id").alias("query_id"), "lon", "lat")
    return knn.knn(pts, queries, 5, z=4, ring=1).select("query_id", "neighbor_id", "rank")

def q_knn_hex_k5(spark, sf):
    # hex index family kNN (TODO r2 item): identical rows to knn_k5 via
    # the flat-plane hex completeness guard (operators/knn.knn_hex)
    pts = _points(spark, sf)
    queries = pts.filter(F.col("doc_id") % 20 == 0) \
        .select(F.col("doc_id").alias("query_id"), "lon", "lat")
    return knn.knn_hex(pts, queries, 5, size_deg=8.0, ring=1) \
        .select("query_id", "neighbor_id", "rank")

def q_knn_s2_k5(spark, sf):
    # S2 cube-face index kNN (TODO r2's parked cross-face guard): radius-
    # cover candidates span faces, completeness via the cover superset
    # property (operators/knn.knn_s2) — identical rows to knn_k5
    pts = _points(spark, sf)
    queries = pts.filter(F.col("doc_id") % 20 == 0) \
        .select(F.col("doc_id").alias("query_id"), "lon", "lat")
    return knn.knn_s2(pts, queries, 5, level=3) \
        .select("query_id", "neighbor_id", "rank")

def q_knn_adaptive_k5(spark, sf):
    # geometric ring growth from the histogram-chosen start ring — same
    # exact rows as knn_k5; sparse queries escalate instead of falling
    # straight to brute force, and the pass loop stops once the frontier
    # drains (dense data pays one ring pass, no fallback stages)
    pts = _points(spark, sf)
    queries = pts.filter(F.col("doc_id") % 20 == 0) \
        .select(F.col("doc_id").alias("query_id"), "lon", "lat")
    return knn.knn_adaptive(pts, queries, 5, z=4) \
        .select("query_id", "neighbor_id", "rank")

def q_geobuf_roundtrip(spark, sf):
    # real encode → decode through the binary column; exact integer lattice
    enc = spark_codec.encode_points(_points(spark, sf))
    return spark_codec.decode_points(enc) \
        .select(F.col("id").alias("doc_id"), "lon_q", "lat_q")

def q_polygon_roundtrip(spark, sf):
    # ring-structured codec through the JVM Polygon codec (gb_poly_enc →
    # gb_poly_dec): rect → 5-vertex ring → encode → decode; corners exact
    # on the 1e-7 lattice
    r = _rects(spark, sf)
    ring = F.array(
        "minx", "miny", "maxx", "miny", "maxx", "maxy", "minx", "maxy", "minx", "miny",
    )
    src = r.select("poly_id", ring.alias("coords"),
                   F.array(F.lit(5)).alias("ring_lens"))
    dec = spark_codec.decode_polygons(spark_codec.encode_polygons(src))
    return dec.select(
        "poly_id",
        F.element_at("coords_q", 1).alias("x0_q"),
        F.element_at("coords_q", 2).alias("y0_q"),
        F.element_at("coords_q", 5).alias("x2_q"),
        F.element_at("coords_q", 6).alias("y2_q"),
    )

def q_props_roundtrip(spark, sf):
    # property key/value tables through the REAL binary, in the JVM both
    # ways: typed-column encode → wire-level lazy single-prop reads
    # (LazyFeatureTileID semantics) — no per-row Python anywhere
    d = _docs(spark, sf).select("doc_id", "lang", "n_chars")
    pts = minted.minted_points(spark, sf).join(d, "doc_id")
    enc = spark_codec.encode_points_with_props(pts, props=["lang", "n_chars"])
    langs = spark_codec.lazy_property(enc, "lang")
    nchars = spark_codec.lazy_property(enc, "n_chars", value_type="bigint")
    return langs.join(nchars, "id").select(
        F.col("id").alias("doc_id"), "lang", "n_chars")

def q_feature_count(spark, sf):
    # NumberFeatures counter (reader.go:27) — total + per-lang
    return _docs(spark, sf).groupBy("lang").agg(F.count("*").alias("n_features"))

def q_increment_limit(spark, sf):
    # Increment (increment.go:9-32): take first N by id, tag COLORKEY purple
    return (
        _docs(spark, sf).orderBy("doc_id").limit(20)
        .select("doc_id", F.lit("purple").alias("COLORKEY"))
    )

def q_union_datasets(spark, sf):
    # AddGeobuf / CombineFileSubFiles (writer.go:119-130) — union of subsets
    d = _docs(spark, sf)
    return d.filter(F.col("lang") == "en").select("doc_id", "lang").unionAll(
        d.filter(F.col("lang") == "de").select("doc_id", "lang")
    )

def q_csv_export(spark, sf):
    # ReadGeobufCSV projection (read_geobuf_stdout.go:188-221): fixed column
    # list flattened to a pipe-delimited line
    return _docs(spark, sf).select(
        "doc_id",
        F.concat_ws("|", F.col("doc_id"), F.col("lang"), F.col("n_chars")).alias("line"),
    )

def q_distinct_prop_keys(spark, sf):
    # GetKeys (read_geobuf_stdout.go:168-186): distinct property keys over
    # the dynamic per-row map (events.props JSON)
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return (
        ev.select(F.explode(F.json_object_keys("props")).alias("key"))
        .groupBy("key").agg(F.count("*").alias("n"))
    )

def q_bbox_intersect_join(spark, sf):
    # Intersect — the reference's only spatial predicate
    # (split_combine.go:324-331, two Overlapping_1D conjuncts): all
    # intersecting rect pairs, via cell cover equi-join + exact predicate
    a = _rects(spark, sf)
    b = _rects(spark, sf).select(
        F.col("poly_id").alias("b_id"), F.col("minx").alias("b_minx"),
        F.col("miny").alias("b_miny"), F.col("maxx").alias("b_maxx"),
        F.col("maxy").alias("b_maxy"),
    )
    ca = tiling.assign_tiles_bbox(a, z=4).withColumn(
        "cell", F.expr(tiles.sql_cell_id(4, "x", "y"))).drop("z", "x", "y")
    cb = tiling.assign_tiles_bbox(
        b.withColumnRenamed("b_minx", "minx").withColumnRenamed("b_miny", "miny")
         .withColumnRenamed("b_maxx", "maxx").withColumnRenamed("b_maxy", "maxy"), z=4
    ).withColumn("cell", F.expr(tiles.sql_cell_id(4, "x", "y"))).drop("z", "x", "y") \
     .withColumnRenamed("minx", "b_minx").withColumnRenamed("miny", "b_miny") \
     .withColumnRenamed("maxx", "b_maxx").withColumnRenamed("maxy", "b_maxy")
    pairs = (
        ca.join(cb, "cell")
        .filter(F.col("poly_id") < F.col("b_id"))
        .filter(
            (F.col("maxx") >= F.col("b_minx")) & (F.col("b_maxx") >= F.col("minx"))
            & (F.col("maxy") >= F.col("b_miny")) & (F.col("b_maxy") >= F.col("miny"))
        )
        .select("poly_id", "b_id").distinct()  # pairs can share several cells
    )
    return pairs

def q_map_features(spark, sf):
    # MapGeobuf (convert_geojson.go:195-206): user feature→feature transform
    # — a projection: shift each point one lattice-safe step northeast
    p = _points(spark, sf)
    return p.select(
        "doc_id",
        (F.col("lon") + F.lit(0.5)).alias("lon"),
        (F.col("lat") + F.lit(0.25)).alias("lat"),
    )

def q_pip_join_general(spark, sf):
    # the general-polygon PIP machinery (edge explode + crossing parity)
    # driven end-to-end on rect-shaped polygons, where ray-casting equals
    # half-open containment [minx,maxx)×[miny,maxy) — SQL-expressible
    r = _rects(spark, sf)
    polys = r.select(
        "poly_id", "minx", "miny", "maxx", "maxy",
        F.array("minx", "miny", "maxx", "miny", "maxx", "maxy",
                "minx", "maxy", "minx", "miny").alias("coords"),
        F.array(F.lit(5)).alias("ring_lens"),
    )
    return sj.pip_join_general(_points(spark, sf), polys, z=6) \
        .select("doc_id", "poly_id")

def q_s2_cells_l8(spark, sf):
    # S2-style cube-face cell index (functions/cells.py): id + parent
    from geobuf_spark.functions import cells
    p = _points(spark, sf)
    c = cells.s2_cell(F.col("lon"), F.col("lat"), 8)
    return p.select("doc_id", c.alias("s2_cell"),
                    cells.s2_parent(c, 8).alias("s2_parent"))

# --- ops without SQL oracles (rows-only driver check; pytest has oracles) ---


def q_feature_meta(spark, sf):
    # metadata.MakeMeta (meta.go:54-105): per-feature size stats, JSON vs BUF.
    # The JSON twin uses the quantized-integer canonical form (lon7/lat7 are
    # the exact minted lattice ints) so both engines format identically —
    # double rendering differs across engines, integers never do.
    enc = spark_codec.encode_points(_points(spark, sf))
    d = _docs(spark, sf)
    lon7, lat7 = (F.expr(q) for q in minted.sql_lonlat_q("doc_id"))
    j = d.select(
        "doc_id",
        F.octet_length(F.concat(
            F.lit('{"doc_id":'), F.col("doc_id").cast("string"),
            F.lit(',"lon7":'), lon7.cast("string"),
            F.lit(',"lat7":'), lat7.cast("string"), F.lit("}"),
        )).alias("json_bytes"),
    )
    return (
        enc.select("doc_id", F.octet_length("geobuf").alias("buf_bytes"))
        .join(j, "doc_id")
        .withColumn("ratio_x100",
                    F.floor(F.col("buf_bytes") * 100.0 / F.col("json_bytes")).cast("bigint"))
    )

def q_nn_dist_stats(spark, sf):
    # nearest-neighbor distance statistics per 1° cell — the point-pattern
    # dispersion diagnostic (clustered vs dispersed) next to moran_i's
    # intensity autocorrelation. NN comes from the SAME grid-bucketed
    # distance join as radius_join_pairs (both pair orientations, min d²
    # per point: exact lattice integers); points with no neighbor inside
    # RADIUS_R drop out (documented estimator truncation — at corpus
    # scale the radius is chosen from the density histogram).
    from geobuf_spark.sources.tables import widen
    p = widen(minted.minted_cluster_points_q(spark, sf), spark)
    pairs = sj.radius_self_join(p, r=RADIUS_R)
    both = (pairs.select(F.col("id_a").alias("doc_id"), "dist2")
            .unionByName(pairs.select(F.col("id_b").alias("doc_id"), "dist2")))
    nn = both.groupBy("doc_id").agg(F.min("dist2").alias("nn_d2"))
    cells = p.select("doc_id",
                     (F.col("qx") / MORAN_BIN).cast("bigint").alias("cx"),
                     (F.col("qy") / MORAN_BIN).cast("bigint").alias("cy"))
    return (nn.join(cells, "doc_id")
            .groupBy("cx", "cy")
            .agg(F.count("*").alias("n_pts"),
                 F.sum("nn_d2").alias("sum_nn_d2"),
                 F.min("nn_d2").alias("min_nn_d2"),
                 F.max("nn_d2").alias("max_nn_d2")))

def _nn_dist_stats_sql() -> str:
    return f"""
        WITH p AS ({minted.sql_minted_cluster_points_q()}),
        cand AS (SELECT a.doc_id, a.qx - b.qx AS dx, a.qy - b.qy AS dy
                 FROM p a JOIN p b ON a.doc_id != b.doc_id),
        d AS (SELECT doc_id,
                     CAST(dx AS HUGEINT) * dx + CAST(dy AS HUGEINT) * dy AS d2
              FROM cand),
        nn AS (SELECT doc_id, CAST(min(d2) AS BIGINT) AS nn_d2
               FROM d GROUP BY doc_id
               HAVING min(d2) <= {RADIUS_R * RADIUS_R})
        SELECT p.qx // {MORAN_BIN} AS cx, p.qy // {MORAN_BIN} AS cy,
               count(*) AS n_pts,
               CAST(sum(nn_d2) AS BIGINT) AS sum_nn_d2,
               min(nn_d2) AS min_nn_d2, max(nn_d2) AS max_nn_d2
        FROM nn JOIN p USING (doc_id)
        GROUP BY 1, 2"""

def _sql_proper_xing() -> str:
    """Shared predicate text (operators/spatial_join.sql_proper_xing)."""
    return sj.sql_proper_xing()

def q_segment_xing_join(spark, sf):
    # exact segment-intersection join (roads × rivers analog) over the
    # minted walk polylines: grid-cell candidate generation (never
    # all-pairs), reference-point dedup (NO distinct — each candidate pair
    # is kept only in the cell holding the max of the two bbox min-corners,
    # the rect_overlay_iou technique), then the strict integer orientation
    # predicate. Scale: one equi-join shuffle on (cx, cy); cell span tunes
    # to density; hot cells fall under AQE skew-join like any cell join.
    # Fixture: the CLUSTERED walk mint (the rank-1 base never overlaps).
    # Core: operators/spatial_join.segment_xing_join (stress harness
    # tools/bench_segment_stress.py runs the same code at arbitrary N).
    wl = minted.cluster_walk_lines_q(spark, sf, k=9)
    return sj.segment_xing_join(wl, cell=SEG_CELL, k=9)

def _segment_xing_join_sql() -> str:
    return f"""
        WITH w AS ({minted.sql_cluster_walk_lines_q(9)}),
        seg AS (SELECT doc_id, xs[i + 1] AS ax, ys[i + 1] AS ay,
                       xs[i + 2] AS bx, ys[i + 2] AS by
                FROM w, LATERAL (SELECT unnest(range(8)) AS i) t),
        sb AS (SELECT seg.*,
                      least(ax, bx) AS x1, greatest(ax, bx) AS x2,
                      least(ay, by) AS y1, greatest(ay, by) AS y2
               FROM seg),
        sc AS (SELECT sb.*, cxs.cx, cys.cy FROM sb,
               LATERAL (SELECT unnest(range(x1 // {SEG_CELL},
                                            x2 // {SEG_CELL} + 1)) AS cx) cxs,
               LATERAL (SELECT unnest(range(y1 // {SEG_CELL},
                                            y2 // {SEG_CELL} + 1)) AS cy) cys),
        cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.ax AS a_ax, a.ay AS a_ay, a.bx AS a_bx, a.by AS a_by,
                        b.ax AS b_ax, b.ay AS b_ay, b.bx AS b_bx, b.by AS b_by
                 FROM sc a JOIN sc b
                   ON a.cx = b.cx AND a.cy = b.cy AND a.doc_id < b.doc_id
                 WHERE a.cx = greatest(a.x1, b.x1) // {SEG_CELL}
                   AND a.cy = greatest(a.y1, b.y1) // {SEG_CELL}
                   AND a.x1 <= b.x2 AND b.x1 <= a.x2
                   AND a.y1 <= b.y2 AND b.y1 <= a.y2)
        SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_xings
        FROM cand WHERE {_sql_proper_xing()}
        GROUP BY 1, 2"""

def q_staypoints(spark, sf):
    # trajectory dwell detection over the SAME minted trajectory as
    # traj_steps: a staypoint is a maximal run of consecutive fixes whose
    # successive squared displacement stays ≤ STAY_R2 (gaps-and-islands —
    # the spatial twin of interval_union_time's running window). Exact
    # int64 lattice arithmetic + epoch-second dwell times; ONE user_id
    # exchange shared by the lag, the island sum, and both rollups.
    from pyspark.sql import Window as Win
    e = spark.read.parquet(f"{sf}/events.parquet")

    def pos(axis):
        return F.pmod(
            phash.hash60(F.concat(F.lit(axis),
                                  F.col("event_id").cast("string"))),
            F.lit(2_000_001)) - 1_000_000

    d = e.select("user_id", "ts", "event_id",
                 F.unix_timestamp("ts").alias("te"),
                 pos("tx").alias("px"), pos("ty").alias("py"))
    w = Win.partitionBy("user_id").orderBy("ts", "event_id")
    dx = F.col("px") - F.lag("px").over(w)
    dy = F.col("py") - F.lag("py").over(w)
    d2 = dx * dx + dy * dy
    iv = (d.withColumn("new_island",
                       F.when(d2.isNull() | (d2 > STAY_R2), 1).otherwise(0))
          .withColumn("island", F.sum("new_island").over(
              w.rowsBetween(Win.unboundedPreceding, 0))))
    isl = (iv.groupBy("user_id", "island")
           .agg(F.count("*").alias("n_ev"),
                F.min("te").alias("t0"), F.max("te").alias("t1")))
    return (isl.filter(F.col("n_ev") >= 2)
            .groupBy("user_id")
            .agg(F.count("*").alias("n_staypoints"),
                 F.sum(F.col("t1") - F.col("t0")).alias("dwell_s"),
                 F.max(F.col("t1") - F.col("t0")).alias("max_dwell_s"),
                 F.max("n_ev").alias("max_fixes")))

def _staypoints_sql() -> str:
    def pos(axis):
        h = phash.sql_hash60(f"'{axis}' || CAST(event_id AS VARCHAR)")
        return f"(({h}) % 2000001 - 1000000)"
    return f"""
        WITH p AS (SELECT user_id, ts, event_id,
                          CAST(floor(epoch(ts)) AS BIGINT) AS te,
                          {pos('tx')} AS px, {pos('ty')} AS py
                   FROM events),
        d AS (SELECT user_id, ts, event_id, te,
                     px - lag(px) OVER w AS dx, py - lag(py) OVER w AS dy
              FROM p
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        iv AS (SELECT user_id, ts, event_id, te,
                      CASE WHEN dx IS NULL
                             OR dx * dx + dy * dy > {STAY_R2}
                           THEN 1 ELSE 0 END AS new_island
               FROM d),
        ii AS (SELECT user_id, te,
                      sum(new_island) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS island
               FROM iv),
        isl AS (SELECT user_id, island, count(*) AS n_ev,
                       min(te) AS t0, max(te) AS t1
                FROM ii GROUP BY 1, 2)
        SELECT user_id, count(*) AS n_staypoints,
               CAST(sum(t1 - t0) AS BIGINT) AS dwell_s,
               CAST(max(t1 - t0) AS BIGINT) AS max_dwell_s,
               max(n_ev) AS max_fixes
        FROM isl WHERE n_ev >= 2 GROUP BY 1"""

def q_bearing_sectors(spark, sf):
    # movement-bearing histogram over the minted trajectories: each step
    # classified into one of 8 octants by EXACT integer comparisons
    # (signs + |dx| vs |dy| — no atan2, whose libm rounding differs
    # across engines). Shared CASE text runs in both engines. ONE user
    # window exchange, then a tiny 8-row rollup.
    from pyspark.sql import Window as Win
    e = spark.read.parquet(f"{sf}/events.parquet")

    def pos(axis):
        return F.pmod(
            phash.hash60(F.concat(F.lit(axis),
                                  F.col("event_id").cast("string"))),
            F.lit(2_000_001)) - 1_000_000

    d = e.select("user_id", "ts", "event_id",
                 pos("tx").alias("px"), pos("ty").alias("py"))
    w = Win.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (d.select("user_id",
                      (F.col("px") - F.lag("px").over(w)).alias("dx"),
                      (F.col("py") - F.lag("py").over(w)).alias("dy"))
             .filter(F.col("dx").isNotNull()))
    return (steps.withColumn("sector", F.expr(_OCTANT_EXPR))
            .groupBy("sector")
            .agg(F.count("*").alias("n_steps"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.sum(F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy"))
                 .cast("bigint").alias("sum_d2")))

def _bearing_sectors_sql() -> str:
    def pos(axis):
        h = phash.sql_hash60(f"'{axis}' || CAST(event_id AS VARCHAR)")
        return f"(({h}) % 2000001 - 1000000)"
    return f"""
        WITH p AS (SELECT user_id, ts, event_id,
                          {pos('tx')} AS px, {pos('ty')} AS py
                   FROM events),
        s AS (SELECT user_id,
                     px - lag(px) OVER w AS dx, py - lag(py) OVER w AS dy
              FROM p
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT {_OCTANT_EXPR} AS sector,
               count(*) AS n_steps,
               count(DISTINCT user_id) AS n_users,
               CAST(sum(dx * dx + dy * dy) AS BIGINT) AS sum_d2
        FROM s WHERE dx IS NOT NULL
        GROUP BY 1"""

def q_hausdorff_pairs(spark, sf):
    # discrete Hausdorff distance² between each clustered walk line and
    # its successor in the same cluster — the trajectory-similarity
    # measure (map-matching / route-dedup building block). All 81 vertex
    # distances fold inside ONE projection (nested transform +
    # array_min/max — no join, no explode); the only exchange is the
    # cluster window that picks the successor. Exact int64 throughout.
    from pyspark.sql import Window as Win
    wl = minted.cluster_walk_lines_q(spark, sf, k=9, stride=1)
    w = Win.partitionBy(F.col("doc_id") % 37).orderBy("doc_id")
    p = (wl.withColumn("b_id", F.lead("doc_id").over(w))
         .withColumn("bxs", F.lead("xs_q").over(w))
         .withColumn("bys", F.lead("ys_q").over(w))
         .filter(F.col("b_id").isNotNull()))
    idx = F.sequence(F.lit(1), F.lit(9))

    def dmin(xs_a, ys_a, i, xs_b, ys_b):
        ax = F.element_at(xs_a, i)
        ay = F.element_at(ys_a, i)
        return F.array_min(F.transform(
            F.sequence(F.lit(1), F.lit(9)),
            lambda j: (ax - F.element_at(xs_b, j))
            * (ax - F.element_at(xs_b, j))
            + (ay - F.element_at(ys_b, j))
            * (ay - F.element_at(ys_b, j))))

    h_ab = F.array_max(F.transform(
        idx, lambda i: dmin(F.col("xs_q"), F.col("ys_q"), i,
                            F.col("bxs"), F.col("bys"))))
    h_ba = F.array_max(F.transform(
        idx, lambda i: dmin(F.col("bxs"), F.col("bys"), i,
                            F.col("xs_q"), F.col("ys_q"))))
    return p.select(F.col("doc_id").alias("doc_a"),
                    F.col("b_id").alias("doc_b"),
                    F.greatest(h_ab, h_ba).alias("hausdorff2"))

def _hausdorff_pairs_sql() -> str:
    base = minted.sql_cluster_walk_lines_q(9, stride=1)
    d2 = ("(axs[i] - bxs[j]) * (axs[i] - bxs[j])"
          " + (ays[i] - bys[j]) * (ays[i] - bys[j])")
    fold = (f"list_max(list_transform(range(1, 10), i -> "
            f"list_min(list_transform(range(1, 10), j -> {d2}))))")
    d2r = ("(bxs[i] - axs[j]) * (bxs[i] - axs[j])"
           " + (bys[i] - ays[j]) * (bys[i] - ays[j])")
    foldr = (f"list_max(list_transform(range(1, 10), i -> "
             f"list_min(list_transform(range(1, 10), j -> {d2r}))))")
    return f"""
        WITH w AS ({base}),
        p AS (SELECT doc_id AS doc_a, xs AS axs, ys AS ays,
                     lead(doc_id) OVER cw AS doc_b,
                     lead(xs) OVER cw AS bxs, lead(ys) OVER cw AS bys
              FROM w WINDOW cw AS (PARTITION BY doc_id % 37
                                   ORDER BY doc_id))
        SELECT doc_a, doc_b, greatest({fold}, {foldr}) AS hausdorff2
        FROM p WHERE doc_b IS NOT NULL"""

def q_skyline_docs(spark, sf):
    # skyline / Pareto-dominance operator over (n_tok, n_types): a doc
    # survives iff no other doc is ≥ on both metrics and strictly better
    # on one. NOT the quadratic anti-join — the sort-sweep form: ordered
    # by n_tok desc, a doc is dominated exactly when some strictly-longer
    # doc reaches its n_types (RANGE frame excludes n_tok ties) or a
    # same-length doc strictly exceeds it (per-group max). ONE global
    # sort exchange; at cluster scale the same sweep runs per range
    # partition with a boundary-max merge.
    from pyspark.sql import Window as Win
    t = _docs(spark, sf).select(
        "doc_id",
        TXT.token_count(F.col("text")).cast("bigint").alias("n_tok"),
        F.size(F.array_distinct(F.split("text", " "))).cast("bigint")
        .alias("n_types"))
    ws = (Win.orderBy(F.col("n_tok").desc())
          .rangeBetween(Win.unboundedPreceding, -1))
    wt = Win.partitionBy("n_tok")
    return (t.withColumn("best_longer",
                         F.coalesce(F.max("n_types").over(ws), F.lit(-1)))
            .withColumn("best_tie", F.max("n_types").over(wt))
            .filter((F.col("n_types") > F.col("best_longer"))
                    & (F.col("n_types") == F.col("best_tie")))
            .select("doc_id", "n_tok", "n_types"))

def _skyline_docs_sql() -> str:
    return """
        WITH t AS (SELECT doc_id,
                          CAST(len(string_split(text, chr(32))) AS BIGINT)
                              AS n_tok,
                          CAST(len(list_distinct(string_split(text,
                              chr(32)))) AS BIGINT) AS n_types
                   FROM documents),
        s AS (SELECT doc_id, n_tok, n_types,
                     coalesce(max(n_types) OVER (ORDER BY n_tok DESC
                         RANGE BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), -1) AS best_longer,
                     max(n_types) OVER (PARTITION BY n_tok) AS best_tie
              FROM t)
        SELECT doc_id, n_tok, n_types FROM s
        WHERE n_types > best_longer AND n_types = best_tie"""

def q_route_snap_join(spark, sf):
    # map-matching step 1: snap every clustered point to the nearest
    # OTHER document's walk segment within SNAP_R — a point→polyline
    # distance join. Grid candidates (point probes its 3×3 ring at
    # cell = R; segments cover their bbox cells), exact integer
    # dot/len² feeding the shared IEEE distance text, nearest picked by
    # row_number over (d2, seg ids) so ties are total-ordered. Never
    # all-pairs; the 3×3 ring is complete for radius R by construction.
    from pyspark.sql import Window as Win
    pts = minted.minted_cluster_points_q(spark, sf)
    wl = minted.cluster_walk_lines_q(spark, sf, k=9, stride=7)
    seg = (wl.select(F.col("doc_id").alias("seg_doc"),
                     F.posexplode(F.arrays_zip(
                         F.slice("xs_q", 1, 8).alias("ax"),
                         F.slice("ys_q", 1, 8).alias("ay"),
                         F.slice("xs_q", 2, 8).alias("bx"),
                         F.slice("ys_q", 2, 8).alias("by")))
                     .alias("seg_i", "s"))
           .select("seg_doc", "seg_i", "s.ax", "s.ay", "s.bx", "s.by"))
    segc = (seg
            .withColumn("cx", F.explode(F.sequence(
                F.expr(f"least(ax, bx) div {SNAP_CELL}"),
                F.expr(f"greatest(ax, bx) div {SNAP_CELL}"))))
            .withColumn("cy", F.explode(F.sequence(
                F.expr(f"least(ay, by) div {SNAP_CELL}"),
                F.expr(f"greatest(ay, by) div {SNAP_CELL}")))))
    ptc = (pts
           .withColumn("dx", F.explode(F.sequence(F.lit(-1), F.lit(1))))
           .withColumn("dy", F.explode(F.sequence(F.lit(-1), F.lit(1))))
           .select("doc_id", "qx", "qy",
                   F.expr(f"qx div {SNAP_CELL} + dx").alias("cx"),
                   F.expr(f"qy div {SNAP_CELL} + dy").alias("cy")))
    cand = (ptc.join(segc, ["cx", "cy"])
            .filter(F.col("doc_id") != F.col("seg_doc"))
            .dropDuplicates(["doc_id", "seg_doc", "seg_i"])
            .withColumn("vx", F.col("bx") - F.col("ax"))
            .withColumn("vy", F.col("by") - F.col("ay"))
            .withColumn("wx", F.col("qx") - F.col("ax"))
            .withColumn("wy", F.col("qy") - F.col("ay"))
            .withColumn("d2", F.expr(_SNAP_D2))
            .filter(F.col("d2") <= float(SNAP_R) * float(SNAP_R)))
    w = Win.partitionBy("doc_id").orderBy("d2", "seg_doc", "seg_i")
    return (cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "seg_doc", "seg_i", "d2"))

def _route_snap_join_sql() -> str:
    pts = minted.sql_minted_cluster_points_q()
    wl = minted.sql_cluster_walk_lines_q(9, stride=7)
    return f"""
        WITH p AS ({pts}),
        w AS ({wl}),
        seg AS (SELECT doc_id AS seg_doc, i AS seg_i,
                       xs[i + 1] AS ax, ys[i + 1] AS ay,
                       xs[i + 2] AS bx, ys[i + 2] AS by
                FROM w, LATERAL (SELECT unnest(range(8)) AS i) t),
        segc AS (SELECT seg.*, cxs.cx, cys.cy FROM seg,
                 LATERAL (SELECT unnest(range(least(ax, bx) // {SNAP_CELL},
                     greatest(ax, bx) // {SNAP_CELL} + 1)) AS cx) cxs,
                 LATERAL (SELECT unnest(range(least(ay, by) // {SNAP_CELL},
                     greatest(ay, by) // {SNAP_CELL} + 1)) AS cy) cys),
        ptc AS (SELECT doc_id, qx, qy,
                       qx // {SNAP_CELL} + dxs.dx AS cx,
                       qy // {SNAP_CELL} + dys.dy AS cy
                FROM p,
                LATERAL (SELECT unnest(range(-1, 2)) AS dx) dxs,
                LATERAL (SELECT unnest(range(-1, 2)) AS dy) dys),
        cand0 AS (SELECT DISTINCT doc_id, qx, qy, seg_doc, seg_i,
                         ax, ay, bx, by
                  FROM ptc JOIN segc ON ptc.cx = segc.cx
                       AND ptc.cy = segc.cy AND doc_id <> seg_doc),
        cand AS (SELECT doc_id, seg_doc, seg_i, {_SNAP_D2} AS d2
                 FROM (SELECT doc_id, seg_doc, seg_i,
                              bx - ax AS vx, by - ay AS vy,
                              qx - ax AS wx, qy - ay AS wy
                       FROM cand0)),
        r AS (SELECT doc_id, seg_doc, seg_i, d2,
                     row_number() OVER (PARTITION BY doc_id
                         ORDER BY d2, seg_doc, seg_i) AS rn
              FROM cand WHERE d2 <= {float(SNAP_R) * float(SNAP_R)!r})
        SELECT doc_id, seg_doc, seg_i, d2 FROM r WHERE rn = 1"""

def _s2_sql():
    from geobuf_spark.functions import cells
    pts = minted.SQL_MINTED_POINTS.strip()
    c8 = cells.sql_s2_cell("lon", "lat", 8)
    # parent in packed form: face*128 + (i>>1) … = ((c // 256^2)*128 + ((c // 256) % 256) // 2) * 128 + (c % 256) // 2
    n, m = 256, 128
    parent = (f"((({c8}) // {n * n}) * {m} + ((({c8}) // {n}) % {n}) // 2) * {m} "
              f"+ (({c8}) % {n}) // 2")
    return f"SELECT doc_id, {c8} AS s2_cell, {parent} AS s2_parent FROM ({pts})"

def _sql_vlen(v: str) -> str:
    """DuckDB varint byte length of a non-negative BIGINT expression —
    exact integer threshold chain (no log2 float risk)."""
    terms = " + ".join(
        f"CAST(({v}) >= {1 << (7 * k)} AS BIGINT)" for k in range(1, 9)
    )
    return f"(1 + {terms})"

def _feature_meta_sql() -> str:
    """Oracle for q_feature_meta: geobuf point-frame byte length by pure
    varint arithmetic (layout per GbCodec.PointEnc / write_feature.go:
    tag8+id, tag24+code, tag34+len+geometry, tag42+len+bbox) vs the
    canonical integer JSON length."""
    lon7, lat7 = minted.sql_lonlat_q("doc_id")
    return f"""
        WITH q AS (
            SELECT doc_id, {lon7} AS lon7, {lat7} AS lat7 FROM documents),
        lens AS (
            SELECT doc_id, lon7, lat7,
                   {_sql_vlen('doc_id')} AS lid,
                   {_sql_vlen(_sql_zigzag('lon7'))} AS lx,
                   {_sql_vlen(_sql_zigzag('lat7'))} AS ly
            FROM q),
        sized AS (
            SELECT doc_id, lon7, lat7,
                   1 + lid + 2
                     + 1 + {_sql_vlen('lx + ly')} + (lx + ly)
                     + 1 + {_sql_vlen('2*(lx + ly)')} + 2*(lx + ly) AS buf_bytes,
                   octet_length(encode('{{"doc_id":' || doc_id || ',"lon7":' || lon7
                                || ',"lat7":' || lat7 || '}}')) AS json_bytes
            FROM lens)
        SELECT doc_id, buf_bytes, json_bytes,
               CAST(floor(buf_bytes * 100.0 / json_bytes) AS BIGINT) AS ratio_x100
        FROM sized"""

def _geom_area_centroid_sql() -> str:
    """Oracle for q_geom_area_centroid: the same local-origin unit-rescaled
    shoelace terms expanded per shape (functions/geom.sql_ring_stats_q)
    over the regenerated quantized ring coordinates."""
    rx, ry, tx, ty = minted.sql_minted_ring_coords()
    rs, ts = geom.sql_ring_stats_q(rx, ry), geom.sql_ring_stats_q(tx, ty)
    return f"""
        SELECT p_partkey AS poly_id, 'rect' AS kind,
               {rs['area2_u2']} AS area2_u2,
               {rs['cx_q']} AS cx_q, {rs['cy_q']} AS cy_q
        FROM part WHERE p_partkey % 2 = 0
        UNION ALL
        SELECT p_partkey AS poly_id, 'triangle' AS kind,
               {ts['area2_u2']} AS area2_u2,
               {ts['cx_q']} AS cx_q, {ts['cy_q']} AS cy_q
        FROM part WHERE p_partkey % 2 = 1"""

def _radius_join_sql(r: int = RADIUS_R) -> str:
    """Oracle for q_radius_join_pairs: the brute-force O(n²) pair scan —
    an independent method, not the grid join. HUGEINT squares on the
    DuckDB side only (far pairs overflow int64 there; the Spark operator
    never squares a pair outside the 3x3 cell neighborhood); surviving
    dist2 values are back under 2^63 and cast to BIGINT."""
    return f"""
        WITH p AS ({minted.sql_minted_cluster_points_q()}),
        cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                        a.qx - b.qx AS dx, a.qy - b.qy AS dy
                 FROM p a JOIN p b ON a.doc_id < b.doc_id),
        d AS (SELECT id_a, id_b,
                     CAST(dx AS HUGEINT) * dx + CAST(dy AS HUGEINT) * dy AS d2
              FROM cand)
        SELECT id_a, id_b, CAST(d2 AS BIGINT) AS dist2
        FROM d WHERE d2 <= {r * r}"""

def _simplify_vw_sql(k: int = 9, t: int = VW_AREA2_MIN) -> str:
    """Oracle for q_simplify_vw: the same keep predicates unrolled per
    vertex (functions/geom.sql_vw_simplify_q) over an inner CTE that
    names each walk coordinate once."""
    xs, ys = minted.sql_minted_walk_coords(k)
    cols = ",\n               ".join(
        [f"{e} AS x{i}" for i, e in enumerate(xs)]
        + [f"{e} AS y{i}" for i, e in enumerate(ys)])
    d = geom.sql_vw_simplify_q([f"x{i}" for i in range(k)],
                               [f"y{i}" for i in range(k)], t)
    return f"""
        WITH wl AS (SELECT doc_id, {cols} FROM documents)
        SELECT doc_id, {d['n_kept']} AS n_kept, {d['xy_s']} AS xy_s
        FROM wl"""

def _hotspot_clusters_sql(z: int = HOT_Z, min_pts: int = HOT_MIN_PTS) -> str:
    """Oracle for q_hotspot_clusters: dense-tile adjacency walked by a
    recursive CTE (same min-label semantics as near_dup_components);
    singleton dense tiles keep their own key."""
    x, y = tiles.sql_tile_x("lon", z), tiles.sql_tile_y("lat", z)
    return f"""
        WITH RECURSIVE p AS (
            SELECT {x} AS x, {y} AS y
            FROM ({minted.SQL_MINTED_POINTS.strip()})),
        dense AS (SELECT x, y, {tiles.sql_cell_id(z, 'x', 'y')} AS k,
                         count(*) AS n_pts
                  FROM p GROUP BY x, y HAVING count(*) >= {min_pts}),
        edges AS (
            SELECT u.k AS u, v.k AS v FROM dense u JOIN dense v
              ON (u.x + 1 = v.x AND u.y = v.y)
              OR (u.x = v.x AND u.y + 1 = v.y)
            UNION
            SELECT v.k, u.k FROM dense u JOIN dense v
              ON (u.x + 1 = v.x AND u.y = v.y)
              OR (u.x = v.x AND u.y + 1 = v.y)),
        walk(u, label) AS (
            SELECT u, u AS label FROM (SELECT DISTINCT u FROM edges)
            UNION
            SELECT e.u, w.label FROM edges e JOIN walk w ON e.v = w.u),
        comp AS (SELECT u, min(label) AS rep FROM walk GROUP BY u)
        SELECT coalesce(c.rep, d.k) AS cluster_id,
               count(*) AS n_tiles, CAST(sum(d.n_pts) AS BIGINT) AS n_pts
        FROM dense d LEFT JOIN comp c ON c.u = d.k
        GROUP BY 1"""


def oracles() -> dict[str, str]:
    """DuckDB oracle twins for this module's queries."""
    pts = minted.SQL_MINTED_POINTS.strip()
    rects = minted.SQL_MINTED_RECTS.strip()
    tris = minted.SQL_MINTED_TRIANGLES.strip()
    out = {
        "geom_area_centroid": _geom_area_centroid_sql(),
        "radius_join_pairs": _radius_join_sql(),
        "simplify_vw": _simplify_vw_sql(),
        "hotspot_clusters": _hotspot_clusters_sql(),
        "wkt_quantized": f"""
            SELECT doc_id, 'POINT (' || CAST(qx AS VARCHAR) || ' '
                   || CAST(qy AS VARCHAR) || ')' AS wkt
            FROM ({minted.SQL_MINTED_POINTS_Q.strip()})""",
        "traj_steps": _traj_steps_sql(),
        "geom_validity": _geom_validity_sql(),
        "rect_overlay_iou": _rect_overlay_iou_sql(),
        "cell_skew_stats": _cell_skew_stats_sql(),
        "line_length_stats": _line_length_stats_sql(),
        "mint_points": pts,
        "geo_bounds": f"""
            SELECT min(lon) AS west, min(lat) AS south, max(lon) AS east,
                   max(lat) AS north, count(*) AS n_features
            FROM ({pts})""",
        "hex_density": f"""
            SELECT {hexgrid.sql_hex_cell('lon', 'lat', 5.0)} AS hex,
                   count(*) AS n_features
            FROM ({pts}) GROUP BY 1""",
        "pip_join_rects": f"""
            SELECT p.doc_id, r.poly_id FROM ({pts}) p, ({rects}) r
            WHERE p.lon >= r.minx AND p.lon <= r.maxx
              AND p.lat >= r.miny AND p.lat <= r.maxy""",
        "pip_join_s2": f"""
            SELECT p.doc_id, r.poly_id FROM ({pts}) p, ({rects}) r
            WHERE p.lon >= r.minx AND p.lon <= r.maxx
              AND p.lat >= r.miny AND p.lat <= r.maxy""",
        "pip_join_hex": f"""
            SELECT p.doc_id, r.poly_id FROM ({pts}) p, ({rects}) r
            WHERE p.lon >= r.minx AND p.lon <= r.maxx
              AND p.lat >= r.miny AND p.lat <= r.maxy""",
        "pip_join_triangles": f"""
            SELECT p.doc_id, t.poly_id FROM ({pts}) p, ({tris}) t
            WHERE {sj.sql_triangle_contains('p.lon', 'p.lat')}""",
        "pip_semi": f"""
            SELECT DISTINCT p.doc_id FROM ({pts}) p
            WHERE EXISTS (SELECT 1 FROM ({rects}) r
                          WHERE p.lon >= r.minx AND p.lon <= r.maxx
                            AND p.lat >= r.miny AND p.lat <= r.maxy)""",
        "knn_k5": f"""
            WITH p AS ({pts}),
            q AS (SELECT doc_id AS query_id, lon AS qlon, lat AS qlat FROM p
                  WHERE doc_id % 20 = 0),
            scored AS (
                SELECT q.query_id, p.doc_id AS neighbor_id,
                       (q.qlon - p.lon) * (q.qlon - p.lon)
                     + (q.qlat - p.lat) * (q.qlat - p.lat) AS dist2
                FROM q, p WHERE p.doc_id != q.query_id),
            ranked AS (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY dist2 ASC, neighbor_id ASC) AS rank
                FROM scored)
            SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5""",
        "knn_hex_k5": f"""
            WITH p AS ({pts}),
            q AS (SELECT doc_id AS query_id, lon AS qlon, lat AS qlat FROM p
                  WHERE doc_id % 20 = 0),
            scored AS (
                SELECT q.query_id, p.doc_id AS neighbor_id,
                       (q.qlon - p.lon) * (q.qlon - p.lon)
                     + (q.qlat - p.lat) * (q.qlat - p.lat) AS dist2
                FROM q, p WHERE p.doc_id != q.query_id),
            ranked AS (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY dist2 ASC, neighbor_id ASC) AS rank
                FROM scored)
            SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5""",
        "knn_s2_k5": f"""
            WITH p AS ({pts}),
            q AS (SELECT doc_id AS query_id, lon AS qlon, lat AS qlat FROM p
                  WHERE doc_id % 20 = 0),
            scored AS (
                SELECT q.query_id, p.doc_id AS neighbor_id,
                       (q.qlon - p.lon) * (q.qlon - p.lon)
                     + (q.qlat - p.lat) * (q.qlat - p.lat) AS dist2
                FROM q, p WHERE p.doc_id != q.query_id),
            ranked AS (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY dist2 ASC, neighbor_id ASC) AS rank
                FROM scored)
            SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5""",
        "knn_adaptive_k5": f"""
            WITH p AS ({pts}),
            q AS (SELECT doc_id AS query_id, lon AS qlon, lat AS qlat FROM p
                  WHERE doc_id % 20 = 0),
            scored AS (
                SELECT q.query_id, p.doc_id AS neighbor_id,
                       (q.qlon - p.lon) * (q.qlon - p.lon)
                     + (q.qlat - p.lat) * (q.qlat - p.lat) AS dist2
                FROM q, p WHERE p.doc_id != q.query_id),
            ranked AS (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY dist2 ASC, neighbor_id ASC) AS rank
                FROM scored)
            SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5""",
        "geobuf_roundtrip": f"""
            SELECT doc_id, CAST(trunc(lon * 10000000.0) AS BIGINT) AS lon_q,
                   CAST(trunc(lat * 10000000.0) AS BIGINT) AS lat_q
            FROM ({pts})""",
        "polygon_roundtrip": f"""
            SELECT poly_id,
                   CAST(trunc(minx * 10000000.0) AS BIGINT) AS x0_q,
                   CAST(trunc(miny * 10000000.0) AS BIGINT) AS y0_q,
                   CAST(trunc(maxx * 10000000.0) AS BIGINT) AS x2_q,
                   CAST(trunc(maxy * 10000000.0) AS BIGINT) AS y2_q
            FROM ({rects})""",
        "props_roundtrip": "SELECT doc_id, lang, n_chars FROM documents",
        "feature_count": "SELECT lang, count(*) AS n_features FROM documents GROUP BY lang",
        "increment_limit": """
            SELECT doc_id, 'purple' AS COLORKEY FROM documents
            ORDER BY doc_id LIMIT 20""",
        "union_datasets": """
            SELECT doc_id, lang FROM documents WHERE lang = 'en'
            UNION ALL
            SELECT doc_id, lang FROM documents WHERE lang = 'de'""",
        "csv_export": """
            SELECT doc_id,
                   concat_ws('|', doc_id, lang, n_chars) AS line
            FROM documents""",
        "distinct_prop_keys": """
            SELECT k AS key, count(*) AS n
            FROM (SELECT unnest(json_keys(props)) AS k FROM events)
            GROUP BY k""",
        "bbox_intersect_join": f"""
            WITH r AS ({rects})
            SELECT a.poly_id AS poly_id, b.poly_id AS b_id
            FROM r a, r b
            WHERE a.poly_id < b.poly_id
              AND a.maxx >= b.minx AND b.maxx >= a.minx
              AND a.maxy >= b.miny AND b.maxy >= a.miny""",
        "map_features": f"""
            SELECT doc_id, lon + 0.5 AS lon, lat + 0.25 AS lat FROM ({pts})""",
        "pip_join_general": f"""
            SELECT p.doc_id, r.poly_id FROM ({pts}) p, ({rects}) r
            WHERE p.lon >= r.minx AND p.lon < r.maxx
              AND p.lat >= r.miny AND p.lat < r.maxy""",
        "s2_cells_l8": _s2_sql(),
        "feature_meta": _feature_meta_sql(),
        "nn_dist_stats": _nn_dist_stats_sql(),
        "segment_xing_join": _segment_xing_join_sql(),
        "staypoints": _staypoints_sql(),
        "bearing_sectors": _bearing_sectors_sql(),
        "hausdorff_pairs": _hausdorff_pairs_sql(),
        "skyline_docs": _skyline_docs_sql(),
        "route_snap_join": _route_snap_join_sql(),
    }
    return out
