"""Registry family: spatial joins, kNN, geometry ops, codec round-trips.

Split out of the former __spark_entry__.py monolith (VERDICT r4 #2);
query functions keep their original text, oracles sit beside them in
this module's oracles(). Driver-window ORDER lives in window.py, not here.

Queries here (16):
bounding_circles, convex_hull_stats, dominant_bearing,
flow_divergence, frechet_pairs, line_self_intersect, od_flows,
rect_nesting, rect_prefix_counts, ring_normalize, ripley_band_pairs,
simplify_collinear, spatial_split_leakage, turning_angles,
union_area_rects, voronoi_assign
"""
from __future__ import annotations
from collections.abc import Callable
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from geobuf_spark.functions import text as TXT
from geobuf_spark.functions import geom, hexgrid, phash, tiles
from geobuf_spark.operators import dedup, knn, ranking, similarity, sketch
from geobuf_spark.operators import spatial_join as sj
from geobuf_spark.operators import tiling
from geobuf_spark.sources import minted, pages
from geobuf_spark.streaming import windows as W
from ._shared import *  # noqa: F401,F403


def q_od_flows(spark, sf):
    # origin-destination matrix over the minted trajectories: consecutive
    # fixes binned to a coarse grid, (from, to) transition counts + the
    # moved/dwell split — the spatial-flow rollup behind every mobility
    # dashboard. ONE user window exchange + a tiny flow rollup.
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
    d2 = d.select("user_id", "ts", "event_id",
                  F.expr(f"(px + 1000000) div {OD_BIN}").alias("cx"),
                  F.expr(f"(py + 1000000) div {OD_BIN}").alias("cy"))
    fl = (d2.select("user_id",
                    F.lag("cx").over(w).alias("fx"),
                    F.lag("cy").over(w).alias("fy"),
                    F.col("cx").alias("tx"), F.col("cy").alias("ty"))
          .filter(F.col("fx").isNotNull()))
    return (fl.groupBy("fx", "fy", "tx", "ty")
            .agg(F.count("*").alias("n_trips"),
                 F.countDistinct("user_id").alias("n_users"))
            .withColumn("moved",
                        (F.col("fx") != F.col("tx"))
                        | (F.col("fy") != F.col("ty"))))

def _od_flows_sql() -> str:
    def pos(axis):
        h = phash.sql_hash60(f"'{axis}' || CAST(event_id AS VARCHAR)")
        return f"(({h}) % 2000001 - 1000000)"
    return f"""
        WITH p AS (SELECT user_id, ts, event_id,
                          ({pos('tx')} + 1000000) // {OD_BIN} AS cx,
                          ({pos('ty')} + 1000000) // {OD_BIN} AS cy
                   FROM events),
        fl AS (SELECT user_id,
                      lag(cx) OVER w AS fx, lag(cy) OVER w AS fy,
                      cx AS tx, cy AS ty
               FROM p
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT fx, fy, tx, ty, count(*) AS n_trips,
               count(DISTINCT user_id) AS n_users,
               (fx <> tx OR fy <> ty) AS moved
        FROM fl WHERE fx IS NOT NULL
        GROUP BY 1, 2, 3, 4"""

def q_union_area_rects(spark, sf):
    # EXACT area of the union of all minted boxes — the slab
    # decomposition: x-slabs between consecutive distinct x-boundaries,
    # per-slab y-interval union via gaps-and-islands, Σ width × covered.
    # Every step is an equi-join or a window (rect → slab-index range via
    # boundary ranks, then explode — no inequality join); pure int64.
    # At cluster scale the same sweep runs per coarse x-band with
    # band-clipped rects — exactness is preserved band-by-band.
    from pyspark.sql import Window as Win
    # stride-5 fixture: the slab decomposition is inherently ~quadratic
    # in overlapping-rect density (rr rows = slabs x rects-per-slab);
    # production bounds it with coarse x-bands, the fixture by thinning.
    r = _shifted_rects(spark, sf).filter(F.col("poly_id") % 5 == 0)
    bx = (r.select(F.col("x1").alias("b"))
          .unionByName(r.select(F.col("x2").alias("b")))
          .distinct())
    ranked = bx.withColumn("rk", F.row_number().over(Win.orderBy("b")))
    slabs = (ranked
             .withColumn("nb", F.lead("b").over(Win.orderBy("rk")))
             .filter(F.col("nb").isNotNull())
             .select("rk", (F.col("nb") - F.col("b")).alias("w")))
    rr = (r.join(ranked.select(F.col("b").alias("x1"),
                               F.col("rk").alias("r1")), "x1")
          .join(ranked.select(F.col("b").alias("x2"),
                              F.col("rk").alias("r2")), "x2")
          .withColumn("s", F.explode(F.sequence(
              F.col("r1"), F.col("r2") - 1)))
          .select("s", "y1", "y2", "poly_id"))
    w = Win.partitionBy("s").orderBy("y1", "y2", "poly_id")
    prev_max = F.max("y2").over(w.rowsBetween(Win.unboundedPreceding, -1))
    isl = (rr.withColumn("ni", F.when(
               F.col("y1") > F.coalesce(prev_max, F.lit(-1)), 1).otherwise(0))
           .withColumn("island", F.sum("ni").over(
               w.rowsBetween(Win.unboundedPreceding, 0)))
           .groupBy("s", "island")
           .agg(F.min("y1").alias("i_y1"), F.max("y2").alias("i_y2")))
    cov = (isl.groupBy("s")
           .agg(F.sum(F.col("i_y2") - F.col("i_y1")).alias("cov")))
    area = (cov.join(slabs, F.col("s") == F.col("rk"))
            .agg(F.sum(F.col("w") * F.col("cov")).alias("union_area")))
    # Σ of individual areas overflows int64 at corpus scale; widths and
    # heights are multiples of 1e6 by construction (hw/hh minting), so
    # the witness ships exactly in kilounit² instead.
    tot = r.agg(
        F.count("*").alias("n_rects"),
        F.sum(F.expr("((x2 - x1) div 1000) * ((y2 - y1) div 1000)"))
        .alias("sum_area_k"))
    return tot.crossJoin(area).select(
        "n_rects", "sum_area_k", "union_area")

def _union_area_rects_sql() -> str:
    return f"""
        WITH {_shifted_rects_cte()},
        r5 AS (SELECT * FROM r WHERE poly_id % 5 = 0),
        bx AS (SELECT DISTINCT b FROM (
                   SELECT x1 AS b FROM r5 UNION SELECT x2 AS b FROM r5)),
        ranked AS (SELECT b, row_number() OVER (ORDER BY b) AS rk FROM bx),
        slabs AS (SELECT rk, lead(b) OVER (ORDER BY rk) - b AS w
                  FROM ranked QUALIFY lead(b) OVER (ORDER BY rk) IS NOT NULL),
        rr AS (SELECT sx.s, r5.y1, r5.y2, r5.poly_id
               FROM r5
               JOIN ranked a ON r5.x1 = a.b
               JOIN ranked bq ON r5.x2 = bq.b,
               LATERAL (SELECT unnest(range(a.rk, bq.rk)) AS s) sx),
        iv AS (SELECT s, y1, y2, poly_id,
                      CASE WHEN y1 > coalesce(max(y2) OVER (
                               PARTITION BY s ORDER BY y1, y2, poly_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), -1)
                           THEN 1 ELSE 0 END AS ni
               FROM rr),
        ii AS (SELECT s, y1, y2,
                      sum(ni) OVER (PARTITION BY s
                          ORDER BY y1, y2, poly_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS island
               FROM iv),
        isl AS (SELECT s, island, min(y1) AS i_y1, max(y2) AS i_y2
                FROM ii GROUP BY 1, 2),
        cov AS (SELECT s, sum(i_y2 - i_y1) AS cov FROM isl GROUP BY 1),
        area AS (SELECT CAST(sum(slabs.w * cov.cov) AS BIGINT)
                     AS union_area
                 FROM cov JOIN slabs ON cov.s = slabs.rk),
        tot AS (SELECT count(*) AS n_rects,
                       CAST(sum(((x2 - x1) // 1000) * ((y2 - y1) // 1000))
                            AS BIGINT) AS sum_area_k
                FROM r5)
        SELECT n_rects, sum_area_k, union_area FROM tot, area"""

def q_flow_divergence(spark, sf):
    # net flow per OD cell: inflow − outflow over the moved transitions
    # of the od_flows fixture — the "net migration" rollup. The flow
    # table is tiny after the OD rollup; the corpus-scale work is the
    # same single user window.
    fl = (q_od_flows(spark, sf)
          .filter(F.col("moved"))
          .localCheckpoint(eager=False))
    inf = (fl.groupBy(F.col("tx").alias("cx"), F.col("ty").alias("cy"))
           .agg(F.sum("n_trips").alias("inflow")))
    outf = (fl.groupBy(F.col("fx").alias("cx"), F.col("fy").alias("cy"))
            .agg(F.sum("n_trips").alias("outflow")))
    return (inf.join(outf, ["cx", "cy"], "full_outer")
            .select("cx", "cy",
                    F.coalesce("inflow", F.lit(0)).alias("inflow"),
                    F.coalesce("outflow", F.lit(0)).alias("outflow"))
            .withColumn("net", F.col("inflow") - F.col("outflow")))

def _flow_divergence_sql() -> str:
    return f"""
        WITH flows AS ({_od_flows_sql()}),
        mv AS (SELECT * FROM flows WHERE moved),
        i AS (SELECT tx AS cx, ty AS cy, CAST(sum(n_trips) AS BIGINT)
                  AS inflow FROM mv GROUP BY 1, 2),
        o AS (SELECT fx AS cx, fy AS cy, CAST(sum(n_trips) AS BIGINT)
                  AS outflow FROM mv GROUP BY 1, 2)
        SELECT coalesce(i.cx, o.cx) AS cx, coalesce(i.cy, o.cy) AS cy,
               coalesce(inflow, 0) AS inflow,
               coalesce(outflow, 0) AS outflow,
               coalesce(inflow, 0) - coalesce(outflow, 0) AS net
        FROM i FULL OUTER JOIN o ON i.cx = o.cx AND i.cy = o.cy"""

def q_dominant_bearing(spark, sf):
    # per-user dominant movement octant + its share — the directional
    # summary of the bearing histogram (migration-corridor detector).
    # Reuses the octant CASE text; the mode is a max(struct) over the
    # tiny per-user sector table — tie-free via the (count, sector)
    # total order.
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
             .filter(F.col("dx").isNotNull())
             .withColumn("sector", F.expr(_OCTANT_EXPR)))
    per = steps.groupBy("user_id", "sector").agg(F.count("*").alias("c"))
    return (per.groupBy("user_id")
            .agg(F.sum("c").alias("n_steps"),
                 F.max(F.struct(F.col("c"), F.col("sector"))).alias("m"))
            .select("user_id", "n_steps",
                    F.col("m.sector").alias("dominant_sector"),
                    F.col("m.c").alias("dominant_n")))

def _dominant_bearing_sql() -> str:
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
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        per AS (SELECT user_id, {_OCTANT_EXPR} AS sector,
                       CAST(count(*) AS BIGINT) AS c
                FROM s WHERE dx IS NOT NULL GROUP BY 1, 2)
        SELECT user_id, CAST(sum(c) AS BIGINT) AS n_steps,
               arg_max(sector, c * 8 + sector) AS dominant_sector,
               CAST(max(c) AS BIGINT) AS dominant_n
        FROM per GROUP BY 1"""

def q_ring_normalize(spark, sf):
    # geometry normalization: enforce CCW ring orientation (the MVT /
    # geobuf writer convention) — rings already CCW keep their vertex
    # order, CW rings reverse. Witnessed by the exact signed doubled
    # area and an order-sensitive position-weighted checksum of the
    # normalized ring (Σ (i+1)·(x_i mod 2^20)), which flips iff the
    # reversal happened. Zero shuffles beyond one projection.
    wl = minted.minted_walk_lines_q(spark, sf, k=9)
    v = geom.ring_validity_cols(wl, k=9)
    xs_n = F.when(F.col("is_ccw") == 1, F.col("xs_q")).otherwise(
        F.reverse(F.col("xs_q")))
    chk = F.aggregate(
        F.zip_with(xs_n, F.sequence(F.lit(1), F.lit(9)),
                   lambda x, i: (x % 1048576) * i),
        F.lit(0).cast("bigint"), lambda a, b: a + b)
    return v.select("doc_id", "area2", "is_ccw",
                    chk.alias("norm_checksum"))

def _ring_normalize_sql() -> str:
    xs, ys = minted.sql_minted_walk_coords(9)
    xl = "[" + ", ".join(xs) + "]"
    yl = "[" + ", ".join(ys) + "]"
    # translated shoelace over the CLOSED ring (vertex k+1 = vertex 1),
    # same local-delta form as geom.ring_validity_cols
    terms = []
    for i in range(9):
        j = (i + 1) % 9
        terms.append(f"((xs[{i + 1}] - mnx) * (ys[{j + 1}] - mny) "
                     f"- (xs[{j + 1}] - mnx) * (ys[{i + 1}] - mny))")
    area2 = " + ".join(terms)
    return f"""
        WITH w AS (SELECT doc_id, {xl} AS xs, {yl} AS ys FROM documents),
        m AS (SELECT doc_id, xs, ys,
                     list_min(xs) AS mnx, list_min(ys) AS mny
              FROM w),
        a AS (SELECT doc_id, xs, CAST({area2} AS BIGINT) AS area2
              FROM m),
        n AS (SELECT doc_id, area2,
                     CAST(area2 > 0 AS INT) AS is_ccw,
                     CASE WHEN area2 > 0 THEN xs
                          ELSE list_reverse(xs) END AS xs_n
              FROM a)
        SELECT doc_id, area2, is_ccw,
               CAST(list_sum(list_transform(range(1, 10),
                   i -> (xs_n[CAST(i AS INT)] % 1048576) * i)) AS BIGINT)
                   AS norm_checksum
        FROM n"""

def q_bounding_circles(spark, sf):
    # per-cluster bounding circle (box-center form — exact integers):
    # center = bbox midpoint (div 2), radius² = max distance² to it.
    # The two-pass shape (extent then max-dist) shares one cluster
    # partitioning; the summary every spatial-index root stores.
    p = (minted.minted_cluster_points_q(spark, sf)
         .withColumn("g", F.col("doc_id") % 37))
    ext = (p.groupBy("g")
           .agg(F.count("*").alias("n_pts"),
                F.min("qx").alias("x1"), F.max("qx").alias("x2"),
                F.min("qy").alias("y1"), F.max("qy").alias("y2"))
           .withColumn("cx", F.expr("(x1 + x2) div 2"))
           .withColumn("cy", F.expr("(y1 + y2) div 2")))
    j = (p.join(F.broadcast(ext.select("g", "cx", "cy")), "g")
         .withColumn("d2", (F.col("qx") - F.col("cx"))
                     * (F.col("qx") - F.col("cx"))
                     + (F.col("qy") - F.col("cy"))
                     * (F.col("qy") - F.col("cy"))))
    r = j.groupBy("g").agg(F.max("d2").alias("r2"))
    return (ext.join(r, "g")
            .select("g", "n_pts", "cx", "cy", "r2"))

def _bounding_circles_sql() -> str:
    pts = minted.sql_minted_cluster_points_q()
    return f"""
        WITH p AS (SELECT doc_id % 37 AS g, qx, qy FROM ({pts})),
        ext AS (SELECT g, count(*) AS n_pts,
                       min(qx) AS x1, max(qx) AS x2,
                       min(qy) AS y1, max(qy) AS y2,
                       (min(qx) + max(qx)) // 2 AS cx,
                       (min(qy) + max(qy)) // 2 AS cy
                FROM p GROUP BY 1),
        r AS (SELECT p.g, max((qx - cx) * (qx - cx)
                              + (qy - cy) * (qy - cy)) AS r2
              FROM p JOIN ext ON p.g = ext.g GROUP BY 1)
        SELECT ext.g, n_pts, cx, cy, CAST(r2 AS BIGINT) AS r2
        FROM ext JOIN r ON ext.g = r.g"""

def q_spatial_split_leakage(spark, sf):
    # ML-data hygiene for geospatial training sets: block-level
    # train/test split (hash over SPLIT_BLOCK-sized blocks, so nearby
    # points usually share a side), then the LEAKAGE audit — cross-split
    # point pairs within DBSCAN_EPS, counted via the same 3×3 cell join
    # as dbscan_core. One row: split sizes + leak-pair count + nearest
    # leak distance² witness.
    p = minted.minted_cluster_points_q(spark, sf)
    blk_split = F.pmod(phash.hash60_parts(
        F.lit("split"), F.expr(f"qx div {SPLIT_BLOCK}"),
        F.expr(f"qy div {SPLIT_BLOCK}")), F.lit(SPLIT_TEST_MOD))
    d = (p.withColumn("is_test", (blk_split == 0).cast("int"))
         .localCheckpoint(eager=False))
    sizes = d.agg(
        F.sum(F.lit(1) - F.col("is_test")).cast("bigint").alias("n_train"),
        F.sum("is_test").cast("bigint").alias("n_test"))
    a = (d.withColumn("dx", F.explode(F.sequence(F.lit(-1), F.lit(1))))
         .withColumn("dy", F.explode(F.sequence(F.lit(-1), F.lit(1))))
         .select(F.col("doc_id").alias("a_id"), F.col("qx").alias("ax"),
                 F.col("qy").alias("ay"), F.col("is_test").alias("a_t"),
                 F.expr(f"qx div {DBSCAN_EPS} + dx").alias("cx"),
                 F.expr(f"qy div {DBSCAN_EPS} + dy").alias("cy")))
    b = d.select(F.col("doc_id").alias("b_id"), F.col("qx").alias("bx"),
                 F.col("qy").alias("by"), F.col("is_test").alias("b_t"),
                 F.expr(f"qx div {DBSCAN_EPS}").alias("cx"),
                 F.expr(f"qy div {DBSCAN_EPS}").alias("cy"))
    leaks = (a.join(b, ["cx", "cy"])
             .filter((F.col("a_id") < F.col("b_id"))
                     & (F.col("a_t") != F.col("b_t"))
                     & ((F.col("ax") - F.col("bx"))
                        * (F.col("ax") - F.col("bx"))
                        + (F.col("ay") - F.col("by"))
                        * (F.col("ay") - F.col("by"))
                        <= DBSCAN_EPS * DBSCAN_EPS))
             .dropDuplicates(["a_id", "b_id"])
             .agg(F.count("*").alias("n_leak_pairs"),
                  F.min((F.col("ax") - F.col("bx"))
                        * (F.col("ax") - F.col("bx"))
                        + (F.col("ay") - F.col("by"))
                        * (F.col("ay") - F.col("by")))
                  .alias("min_leak_d2")))
    return (sizes.crossJoin(leaks)
            .select("n_train", "n_test", "n_leak_pairs",
                    F.coalesce("min_leak_d2", F.lit(-1))
                    .alias("min_leak_d2")))

def _spatial_split_leakage_sql() -> str:
    pts = minted.sql_minted_cluster_points_q()
    h = phash.sql_hash60_parts(
        "'split'", f"qx // {SPLIT_BLOCK}", f"qy // {SPLIT_BLOCK}")
    eps = DBSCAN_EPS
    return f"""
        WITH p AS (SELECT doc_id, qx, qy,
                          CASE WHEN ({h}) % {SPLIT_TEST_MOD} = 0
                               THEN 1 ELSE 0 END AS is_test
                   FROM ({pts})),
        sizes AS (SELECT CAST(sum(1 - is_test) AS BIGINT) AS n_train,
                         CAST(sum(is_test) AS BIGINT) AS n_test
                  FROM p),
        a AS (SELECT doc_id AS a_id, qx AS ax, qy AS ay, is_test AS a_t,
                     qx // {eps} + dxs.dx AS cx, qy // {eps} + dys.dy AS cy
              FROM p,
              LATERAL (SELECT unnest(range(-1, 2)) AS dx) dxs,
              LATERAL (SELECT unnest(range(-1, 2)) AS dy) dys),
        b AS (SELECT doc_id AS b_id, qx AS bx, qy AS by, is_test AS b_t,
                     qx // {eps} AS cx, qy // {eps} AS cy
              FROM p),
        lp AS (SELECT DISTINCT a_id, b_id, ax, ay, bx, by
               FROM a JOIN b ON a.cx = b.cx AND a.cy = b.cy
               WHERE a_id < b_id AND a_t <> b_t
                 AND (ax - bx) * (ax - bx) + (ay - by) * (ay - by)
                     <= {eps * eps}),
        leaks AS (SELECT count(*) AS n_leak_pairs,
                         min((ax - bx) * (ax - bx)
                             + (ay - by) * (ay - by)) AS min_leak_d2
                  FROM lp)
        SELECT n_train, n_test, n_leak_pairs,
               CAST(coalesce(min_leak_d2, -1) AS BIGINT) AS min_leak_d2
        FROM sizes, leaks"""

def q_turning_angles(spark, sf):
    # trajectory curvature without trig: each consecutive step pair is
    # classified left / straight / right by the EXACT sign of the step
    # cross product, plus the reversal count (dot < 0 and collinear).
    # Per-user turn bias in ppm — the tortuosity signal. ONE user window
    # exchange (two lags share it).
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
    s = (d.withColumn("dx", F.col("px") - F.lag("px").over(w))
         .withColumn("dy", F.col("py") - F.lag("py").over(w))
         .withColumn("pdx", F.lag("dx").over(w))
         .withColumn("pdy", F.lag("dy").over(w))
         .filter(F.col("pdx").isNotNull()))
    cross = F.col("pdx") * F.col("dy") - F.col("pdy") * F.col("dx")
    dot = F.col("pdx") * F.col("dx") + F.col("pdy") * F.col("dy")
    return (s.groupBy("user_id")
            .agg(F.count("*").alias("n_turns"),
                 F.sum(F.when(cross > 0, 1).otherwise(0)).cast("bigint")
                 .alias("n_left"),
                 F.sum(F.when(cross < 0, 1).otherwise(0)).cast("bigint")
                 .alias("n_right"),
                 F.sum(F.when((cross == 0) & (dot < 0), 1).otherwise(0))
                 .cast("bigint").alias("n_reversals"))
            .withColumn("left_bias_ppm", F.expr(
                "(n_left - n_right) * 1000000 div n_turns")))

def _turning_angles_sql() -> str:
    def pos(axis):
        h = phash.sql_hash60(f"'{axis}' || CAST(event_id AS VARCHAR)")
        return f"(({h}) % 2000001 - 1000000)"
    return f"""
        WITH p AS (SELECT user_id, ts, event_id,
                          {pos('tx')} AS px, {pos('ty')} AS py
                   FROM events),
        s1 AS (SELECT user_id, ts, event_id,
                      px - lag(px) OVER wo AS dx,
                      py - lag(py) OVER wo AS dy
               FROM p
               WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s2 AS (SELECT user_id, dx, dy,
                      lag(dx) OVER wo AS pdx, lag(dy) OVER wo AS pdy
               FROM s1
               WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id)),
        t AS (SELECT user_id,
                     pdx * dy - pdy * dx AS cr,
                     pdx * dx + pdy * dy AS dt
              FROM s2 WHERE pdx IS NOT NULL)
        SELECT user_id, count(*) AS n_turns,
               CAST(sum(CASE WHEN cr > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_left,
               CAST(sum(CASE WHEN cr < 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_right,
               CAST(sum(CASE WHEN cr = 0 AND dt < 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_reversals,
               (CAST(sum(CASE WHEN cr > 0 THEN 1 ELSE 0 END) AS BIGINT)
                - CAST(sum(CASE WHEN cr < 0 THEN 1 ELSE 0 END) AS BIGINT))
                   * 1000000 // count(*) AS left_bias_ppm
        FROM t GROUP BY 1"""

def q_rect_nesting(spark, sf):
    # containment hierarchy (R-tree nesting audit): for each minted box,
    # how many OTHER boxes fully contain it. Candidates: the contained
    # box's min corner lands in exactly ONE grid cell, and any container
    # covers that cell — so the join is (corner cell) = (cover cell),
    # never all-pairs and naturally asymmetric (no pair dedup needed).
    # Exact integer containment predicate.
    r = _shifted_rects(spark, sf).localCheckpoint(eager=False)
    inner = r.select(
        F.col("poly_id").alias("i_id"),
        F.col("x1").alias("ix1"), F.col("x2").alias("ix2"),
        F.col("y1").alias("iy1"), F.col("y2").alias("iy2"),
        F.expr(f"x1 div {NEST_CELL}").alias("cx"),
        F.expr(f"y1 div {NEST_CELL}").alias("cy"))
    outer = (r.select(
                F.col("poly_id").alias("o_id"),
                F.col("x1").alias("ox1"), F.col("x2").alias("ox2"),
                F.col("y1").alias("oy1"), F.col("y2").alias("oy2"))
             .withColumn("cx", F.explode(F.sequence(
                 F.expr(f"ox1 div {NEST_CELL}"),
                 F.expr(f"ox2 div {NEST_CELL}"))))
             .withColumn("cy", F.explode(F.sequence(
                 F.expr(f"oy1 div {NEST_CELL}"),
                 F.expr(f"oy2 div {NEST_CELL}")))))
    contained = (inner.join(outer, ["cx", "cy"])
                 .filter((F.col("i_id") != F.col("o_id"))
                         & (F.col("ox1") <= F.col("ix1"))
                         & (F.col("ix2") <= F.col("ox2"))
                         & (F.col("oy1") <= F.col("iy1"))
                         & (F.col("iy2") <= F.col("oy2")))
                 .groupBy("i_id").agg(F.count("*").alias("n_containers")))
    return (r.select(F.col("poly_id"))
            .join(contained.withColumnRenamed("i_id", "poly_id"),
                  "poly_id", "left")
            .select("poly_id",
                    F.coalesce("n_containers", F.lit(0))
                    .alias("n_containers"))
            .groupBy("n_containers")
            .agg(F.count("*").alias("n_rects")))

def _rect_nesting_sql() -> str:
    return f"""
        WITH {_shifted_rects_cte()},
        inner_r AS (SELECT poly_id AS i_id, x1 AS ix1, x2 AS ix2,
                           y1 AS iy1, y2 AS iy2,
                           x1 // {NEST_CELL} AS cx, y1 // {NEST_CELL} AS cy
                    FROM r),
        outer_r AS (SELECT poly_id AS o_id, x1 AS ox1, x2 AS ox2,
                           y1 AS oy1, y2 AS oy2, cxs.cx, cys.cy
                    FROM r,
                    LATERAL (SELECT unnest(range(x1 // {NEST_CELL},
                        x2 // {NEST_CELL} + 1)) AS cx) cxs,
                    LATERAL (SELECT unnest(range(y1 // {NEST_CELL},
                        y2 // {NEST_CELL} + 1)) AS cy) cys),
        contained AS (SELECT i_id, count(*) AS n_containers
                      FROM inner_r JOIN outer_r
                        ON inner_r.cx = outer_r.cx
                       AND inner_r.cy = outer_r.cy
                       AND i_id <> o_id
                       AND ox1 <= ix1 AND ix2 <= ox2
                       AND oy1 <= iy1 AND iy2 <= oy2
                      GROUP BY 1)
        SELECT coalesce(n_containers, 0) AS n_containers,
               count(*) AS n_rects
        FROM r LEFT JOIN contained ON r.poly_id = contained.i_id
        GROUP BY 1"""

def q_ripley_band_pairs(spark, sf):
    # spatial second-order statistics: point-pair counts by distance
    # band (the Ripley K / pair-correlation numerator) over the
    # clustered mint — exact integer d² band classification, candidates
    # from the 3×3 cell ring at cell = max radius (complete by
    # construction), each unordered pair counted once via id ordering +
    # reference-cell dedup-free a<b filter.
    p = minted.minted_cluster_points_q(spark, sf)
    a = (p.withColumn("dx", F.explode(F.sequence(F.lit(-1), F.lit(1))))
         .withColumn("dy", F.explode(F.sequence(F.lit(-1), F.lit(1))))
         .select(F.col("doc_id").alias("a_id"),
                 F.col("qx").alias("ax"), F.col("qy").alias("ay"),
                 F.expr(f"qx div {RIPLEY_MAX} + dx").alias("cx"),
                 F.expr(f"qy div {RIPLEY_MAX} + dy").alias("cy")))
    b = p.select(F.col("doc_id").alias("b_id"),
                 F.col("qx").alias("bx"), F.col("qy").alias("by"),
                 F.expr(f"qx div {RIPLEY_MAX}").alias("cx"),
                 F.expr(f"qy div {RIPLEY_MAX}").alias("cy"))
    d2 = ((F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
          + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by")))
    pairs = (a.join(b, ["cx", "cy"])
             .filter(F.col("a_id") < F.col("b_id"))
             .dropDuplicates(["a_id", "b_id"])
             .withColumn("d2", d2)
             .filter(F.col("d2") <= RIPLEY_MAX * RIPLEY_MAX)
             # integer CASE thresholds — sqrt+CAST would hit the
             # Spark-truncates / DuckDB-rounds divergence
             .withColumn("band", F.expr("CASE WHEN d2 < 4000000000000 THEN 0 WHEN d2 < 16000000000000 THEN 1 WHEN d2 < 36000000000000 THEN 2 ELSE 3 END")))
    return (pairs.groupBy("band")
            .agg(F.count("*").alias("n_pairs"),
                 F.min("d2").alias("min_d2"), F.max("d2").alias("max_d2")))

def _ripley_band_pairs_sql() -> str:
    pts = minted.sql_minted_cluster_points_q()
    r = RIPLEY_MAX
    return f"""
        WITH p AS ({pts}),
        a AS (SELECT doc_id AS a_id, qx AS ax, qy AS ay,
                     qx // {r} + dxs.dx AS cx, qy // {r} + dys.dy AS cy
              FROM p,
              LATERAL (SELECT unnest(range(-1, 2)) AS dx) dxs,
              LATERAL (SELECT unnest(range(-1, 2)) AS dy) dys),
        b AS (SELECT doc_id AS b_id, qx AS bx, qy AS by,
                     qx // {r} AS cx, qy // {r} AS cy
              FROM p),
        prs AS (SELECT DISTINCT a_id, b_id, ax, ay, bx, by
                FROM a JOIN b ON a.cx = b.cx AND a.cy = b.cy
                     AND a_id < b_id),
        d AS (SELECT (ax - bx) * (ax - bx) + (ay - by) * (ay - by) AS d2
              FROM prs)
        SELECT CASE WHEN d2 < 4000000000000 THEN 0 WHEN d2 < 16000000000000 THEN 1 WHEN d2 < 36000000000000 THEN 2 ELSE 3 END AS band,
               count(*) AS n_pairs,
               CAST(min(d2) AS BIGINT) AS min_d2,
               CAST(max(d2) AS BIGINT) AS max_d2
        FROM d WHERE d2 <= {r * r}
        GROUP BY 1"""

def q_line_self_intersect(spark, sf):
    # geometry-validity tier for LINES: proper self-crossings per walk
    # polyline, counted over the 21 non-adjacent segment pairs entirely
    # inside the row (one projection, ZERO joins / ZERO shuffles —
    # segment_xing_join is the cross-FEATURE sibling). A crossing count
    # of 0 certifies the line simple; the exact integer orientation
    # predicate has no epsilon.
    wl = minted.cluster_walk_lines_q(spark, sf, k=9, stride=1)
    cnt = _self_xing_count(lambda a, i: f"element_at({a}_q, {i + 1})")
    return wl.select("doc_id", F.expr(cnt).alias("n_self"))

def _line_self_intersect_sql() -> str:
    wl = minted.sql_cluster_walk_lines_q(k=9, stride=1)
    cnt = _self_xing_count(lambda a, i: f"{a}[{i + 1}]")
    return f"SELECT doc_id, {cnt} AS n_self FROM ({wl}) w"

def q_rect_prefix_counts(spark, sf):
    # rectangle COUNT queries answered from a 2D summed-area table:
    # occupied-cell counts (the only N-sized aggregate, map-side
    # combinable) densified onto the constant 36×17 grid, then two
    # cascaded cumulative windows (cum over cy within cx, then cum over
    # cx within cy) build S(x,y) = Σ_{i≤x,j≤y} c — the separable-scan
    # identity. Each minted query rectangle is answered by the 4-corner
    # inclusion-exclusion S(x2,y2)−S(x1−1,y2)−S(x2,y1−1)+S(x1−1,y1−1):
    # O(1) per query regardless of rectangle area, vs the direct
    # containment join the oracle runs. Corners at −1 fall off the dense
    # grid and contribute 0 via the left join.
    from pyspark.sql import Window
    p = minted.minted_points_q(spark, sf)
    occ = (p.select(F.expr(f"qx div {SAT_R}").alias("cx"),
                    F.expr(f"qy div {SAT_R}").alias("cy"))
           .groupBy("cx", "cy").agg(F.count("*").alias("c")))
    grid = (spark.range(SAT_W * SAT_H)
            .select(F.expr(f"id div {SAT_H}").alias("cx"),
                    F.expr(f"id % {SAT_H}").alias("cy")))
    dense = (grid.join(occ, ["cx", "cy"], "left")
             .select("cx", "cy", F.coalesce("c", F.lit(0)).alias("c")))
    wy = (Window.partitionBy("cx").orderBy("cy")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wx = (Window.partitionBy("cy").orderBy("cx")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    sat = (dense.withColumn("sy", F.sum("c").over(wy))
           .withColumn("s", F.sum("sy").over(wx))
           .select("cx", "cy", "s"))
    rects = _sat_rects(spark, sf)
    corners = (rects.select(
        "rect_id", "x1", "y1", "x2", "y2",
        F.explode(F.array(
            F.struct(F.col("x2").alias("px"), F.col("y2").alias("py"),
                     F.lit(1).alias("sgn")),
            F.struct((F.col("x1") - 1).alias("px"), F.col("y2").alias("py"),
                     F.lit(-1).alias("sgn")),
            F.struct(F.col("x2").alias("px"), (F.col("y1") - 1).alias("py"),
                     F.lit(-1).alias("sgn")),
            F.struct((F.col("x1") - 1).alias("px"),
                     (F.col("y1") - 1).alias("py"),
                     F.lit(1).alias("sgn")))).alias("k")))
    joined = corners.join(
        F.broadcast(sat),
        (F.col("k.px") == F.col("cx")) & (F.col("k.py") == F.col("cy")),
        "left")
    return (joined.groupBy("rect_id", "x1", "y1", "x2", "y2")
            .agg(F.sum(F.col("k.sgn") * F.coalesce(F.col("s"), F.lit(0)))
                 .alias("n_points")))

def _sat_rects_sql() -> str:
    return minted._select(_sat_rect_cols(), "customer")

def _rect_prefix_counts_sql() -> str:
    # independent oracle: the DIRECT containment count per rectangle
    # (no SAT, no prefix sums) — left join keeps empty rectangles at 0
    return f"""
        WITH p AS ({minted.SQL_MINTED_POINTS_Q.strip()}),
        cells AS (SELECT qx // {SAT_R} AS cx, qy // {SAT_R} AS cy FROM p),
        r AS ({_sat_rects_sql()})
        SELECT r.rect_id, r.x1, r.y1, r.x2, r.y2,
               CAST(count(cells.cx) AS BIGINT) AS n_points
        FROM r LEFT JOIN cells
          ON cells.cx BETWEEN r.x1 AND r.x2
         AND cells.cy BETWEEN r.y1 AND r.y2
        GROUP BY 1, 2, 3, 4, 5"""

# ---------------------------------------------------------------------------
# batch 61 — constant-folded Voronoi / k-means assignment step, CUSUM
# changepoint scan
# ---------------------------------------------------------------------------


def q_voronoi_assign(spark, sf):
    # one Lloyd iteration's assign+update over the clustered point mint:
    # each point goes to its nearest of the 37 true cluster centers by
    # EXACT integer d² (decimal(23) products — (Δ≤3.6e9)² overflows
    # int64), ties broken by min site_id; per site emit the count, the
    # exact integer centroid (floor(Σq/n) — decimal sums, so the same
    # plan survives 10^12 rows where Σqx ~ 3.6e21), and own_ppm (the
    # fraction minted from that center — cluster-recovery diagnostic).
    # The site table is 37 plan-time constants: assignment is a pure
    # projection via array_min over 37 structs — NO join, NO broadcast,
    # whole-stage codegen end to end; the only exchange is the final
    # 37-group map-side-combinable agg. The oracle is the INDEPENDENT
    # plan: cross join × row_number over a range()-minted site relation.
    from geobuf_spark.sources import minted
    pts = minted.minted_cluster_points_q(spark, sf)
    cand = []
    for g, sx, sy in minted.cluster_centers():
        dx = (F.col("qx") - F.lit(sx)).cast("decimal(11,0)")
        dy = (F.col("qy") - F.lit(sy)).cast("decimal(11,0)")
        cand.append(F.struct((dx * dx + dy * dy).alias("d2"),
                             F.lit(g).alias("site_id")))
    a = pts.select(
        "doc_id", "qx", "qy",
        F.array_min(F.array(*cand)).getField("site_id").alias("site_id"))
    own = (F.col("doc_id") % minted.N_CLUSTERS
           == F.col("site_id").cast("bigint")).cast("bigint")
    return (a.groupBy("site_id")
            .agg(F.count("*").alias("n_points"),
                 F.sum(F.col("qx").cast("decimal(20,0)")).alias("sqx"),
                 F.sum(F.col("qy").cast("decimal(20,0)")).alias("sqy"),
                 F.sum(own).alias("n_own"))
            .select("site_id",
                    F.col("n_points").cast("bigint").alias("n_points"),
                    F.floor(F.col("sqx") / F.col("n_points"))
                    .cast("bigint").alias("cent_qx"),
                    F.floor(F.col("sqy") / F.col("n_points"))
                    .cast("bigint").alias("cent_qy"),
                    F.expr("1000000 * n_own div n_points")
                    .cast("bigint").alias("own_ppm")))

def _voronoi_assign_sql() -> str:
    from geobuf_spark.sources import minted
    return f"""
        WITH pts AS ({minted.sql_minted_cluster_points_q()}),
        sites AS ({minted.sql_cluster_centers()}),
        d AS (SELECT p.doc_id, p.qx, p.qy, s.site_id,
                     CAST(p.qx - s.sx AS HUGEINT) * (p.qx - s.sx)
                     + CAST(p.qy - s.sy AS HUGEINT) * (p.qy - s.sy) AS d2
              FROM pts p CROSS JOIN sites s),
        r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY d2, site_id) AS rn
              FROM d)
        SELECT site_id, CAST(count(*) AS BIGINT) AS n_points,
               CAST(CAST(sum(qx) AS HUGEINT) // count(*) AS BIGINT)
                   AS cent_qx,
               CAST(CAST(sum(qy) AS HUGEINT) // count(*) AS BIGINT)
                   AS cent_qy,
               CAST(1000000 * sum(CASE WHEN doc_id % {minted.N_CLUSTERS}
                                            = site_id
                                       THEN 1 ELSE 0 END) // count(*)
                    AS BIGINT) AS own_ppm
        FROM r WHERE rn = 1 GROUP BY 1"""

def q_simplify_collinear(spark, sf):
    # exact collinear-vertex removal (the integer-predicate sibling of
    # simplify_vw): one pass marks interior vertex i iff
    # cross(v_{i-1}, v_i, v_{i+1}) == 0 with ORIGINAL neighbors, then
    # drops marked — deterministic, no epsilon. Input plants exact
    # midpoints on the doubled lattice between each pair of walk
    # vertices (17 per line), so the 8 planted vertices must vanish —
    # and the walk mint's constant-step deltas (mulmod wraps aside)
    # make many ORIGINAL triples exactly collinear too, so the pass
    # does real compression beyond the plant (pytest pins both).
    # Everything is a fixed-width unrolled projection (17 coordinate
    # expressions, 15 cross products) — zero joins, zero shuffles, pure
    # whole-stage codegen; per-row output keeps the hash surface.
    from geobuf_spark.sources import minted
    w = minted.minted_walk_lines_q(spark, sf)
    ex = [F.element_at("xs_q", i + 1) for i in range(9)]
    ey = [F.element_at("ys_q", i + 1) for i in range(9)]
    x2, y2 = [], []
    for i in range(17):
        if i % 2 == 0:
            x2.append(ex[i // 2] * 2)
            y2.append(ey[i // 2] * 2)
        else:
            x2.append(ex[(i - 1) // 2] + ex[(i + 1) // 2])
            y2.append(ey[(i - 1) // 2] + ey[(i + 1) // 2])
    kept = [F.lit(True)]
    for i in range(1, 16):
        cr = ((x2[i] - x2[i - 1]) * (y2[i + 1] - y2[i - 1])
              - (y2[i] - y2[i - 1]) * (x2[i + 1] - x2[i - 1]))
        kept.append(cr != F.lit(0))
    kept.append(F.lit(True))
    n_after = sum(k.cast("int") for k in kept)
    sx = sum(F.when(kept[i], x2[i]).otherwise(F.lit(0)) for i in range(17))
    sy = sum(F.when(kept[i], y2[i]).otherwise(F.lit(0)) for i in range(17))
    return w.select("doc_id", n_after.cast("int").alias("n_after"),
                    sx.cast("bigint").alias("sum_kept_x"),
                    sy.cast("bigint").alias("sum_kept_y"))

def _simplify_collinear_sql() -> str:
    from geobuf_spark.sources import minted
    xs, ys = minted.sql_minted_walk_coords(9)
    base = ", ".join([f"{xs[i]} AS x{i}" for i in range(9)]
                     + [f"{ys[i]} AS y{i}" for i in range(9)])
    v2 = []
    for i in range(17):
        if i % 2 == 0:
            v2.append(f"2*x{i // 2} AS a{i}")
            v2.append(f"2*y{i // 2} AS b{i}")
        else:
            v2.append(f"x{(i - 1) // 2} + x{(i + 1) // 2} AS a{i}")
            v2.append(f"y{(i - 1) // 2} + y{(i + 1) // 2} AS b{i}")
    keeps = ["TRUE"]
    for i in range(1, 16):
        keeps.append(
            f"((a{i} - a{i - 1}) * (b{i + 1} - b{i - 1})"
            f" - (b{i} - b{i - 1}) * (a{i + 1} - a{i - 1})) <> 0")
    keeps.append("TRUE")
    kcols = ", ".join(f"({keeps[i]}) AS k{i}" for i in range(17))
    n_after = " + ".join(f"CASE WHEN k{i} THEN 1 ELSE 0 END"
                         for i in range(17))
    sx = " + ".join(f"CASE WHEN k{i} THEN a{i} ELSE 0 END"
                    for i in range(17))
    sy = " + ".join(f"CASE WHEN k{i} THEN b{i} ELSE 0 END"
                    for i in range(17))
    return f"""
        WITH w AS (SELECT doc_id, {base} FROM documents),
        v AS (SELECT doc_id, {', '.join(v2)} FROM w),
        k AS (SELECT doc_id, {kcols},
                     {', '.join(f'a{i}' for i in range(17))},
                     {', '.join(f'b{i}' for i in range(17))}
              FROM v)
        SELECT doc_id, CAST({n_after} AS INT) AS n_after,
               CAST({sx} AS BIGINT) AS sum_kept_x,
               CAST({sy} AS BIGINT) AS sum_kept_y
        FROM k"""

# ---------------------------------------------------------------------------
# batch 72 — discrete Fréchet distance pairs, multi-vector maxsim retrieval
# ---------------------------------------------------------------------------


def q_frechet_pairs(spark, sf):
    # discrete Fréchet distance² between each clustered walk line and
    # its cluster successor — the ORDER-AWARE trajectory similarity
    # (Hausdorff ignores traversal order; Fréchet is the leash length,
    # so reversed or re-ordered routes stop looking identical). The
    # 9×9 DP runs as ONE Arrow-batched pandas UDF vectorized across
    # pairs (81 numpy steps regardless of pair count — no per-row
    # python); pairing reuses the hausdorff_pairs successor window.
    # Exact int64 d² throughout. The oracle is a recursive CTE whose
    # step builds each DP row via DuckDB lateral column references —
    # a fully independent formulation.
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from pyspark.sql import Window as Win
    wl = minted.cluster_walk_lines_q(spark, sf, k=9, stride=1)
    w = Win.partitionBy(F.col("doc_id") % 37).orderBy("doc_id")
    p = (wl.withColumn("b_id", F.lead("doc_id").over(w))
         .withColumn("bxs", F.lead("xs_q").over(w))
         .withColumn("bys", F.lead("ys_q").over(w))
         .filter(F.col("b_id").isNotNull()))

    @pandas_udf("long")
    def frechet2(axs, ays, bxs, bys):
        ax = np.stack(axs.to_numpy()).astype(np.int64)
        ay = np.stack(ays.to_numpy()).astype(np.int64)
        bx = np.stack(bxs.to_numpy()).astype(np.int64)
        by = np.stack(bys.to_numpy()).astype(np.int64)
        # d2[p, i, j] over all pairs at once
        dx = ax[:, :, None] - bx[:, None, :]
        dy = ay[:, :, None] - by[:, None, :]
        d2 = dx * dx + dy * dy
        n = d2.shape[1]
        c = np.empty_like(d2)
        c[:, 0, 0] = d2[:, 0, 0]
        for j in range(1, n):
            c[:, 0, j] = np.maximum(d2[:, 0, j], c[:, 0, j - 1])
        for i in range(1, n):
            c[:, i, 0] = np.maximum(d2[:, i, 0], c[:, i - 1, 0])
            for j in range(1, n):
                m = np.minimum(np.minimum(c[:, i - 1, j],
                                          c[:, i - 1, j - 1]),
                               c[:, i, j - 1])
                c[:, i, j] = np.maximum(d2[:, i, j], m)
        return pd.Series(c[:, n - 1, n - 1])

    return p.select(F.col("doc_id").alias("doc_a"),
                    F.col("b_id").alias("doc_b"),
                    frechet2("xs_q", "ys_q", "bxs", "bys")
                    .alias("frechet2"))

def _frechet_pairs_sql() -> str:
    base = minted.sql_cluster_walk_lines_q(9, stride=1)
    d2 = ("(axs[{i}] - bxs[j]) * (axs[{i}] - bxs[j])"
          " + (ays[{i}] - bys[j]) * (ays[{i}] - bys[j])")
    d2row = ("list_transform(range(1, 10), j -> " + d2 + ")")
    # DP row i from row i−1 via lateral column references n1..n9
    cols = ["greatest(d[1], r[1]) AS n1"]
    for j in range(2, 10):
        cols.append(f"greatest(d[{j}], least(r[{j}], r[{j - 1}], "
                    f"n{j - 1})) AS n{j}")
    nlist = "[" + ", ".join(f"n{j}" for j in range(1, 10)) + "]"
    # row 1 is the prefix-max of d2 row 1 — same lateral-ref chain
    r1 = ["d[1] AS n1"]
    for j in range(2, 10):
        r1.append(f"greatest(d[{j}], n{j - 1}) AS n{j}")
    return f"""
        WITH RECURSIVE w AS ({base}),
        p AS (SELECT doc_id AS doc_a, xs AS axs, ys AS ays,
                     lead(doc_id) OVER cw AS doc_b,
                     lead(xs) OVER cw AS bxs, lead(ys) OVER cw AS bys
              FROM w WINDOW cw AS (PARTITION BY doc_id % 37
                                   ORDER BY doc_id)),
        pp AS (SELECT * FROM p WHERE doc_b IS NOT NULL),
        dp AS (
            SELECT doc_a, doc_b, axs, ays, bxs, bys, 1 AS i, {nlist} AS r
            FROM (SELECT *, {', '.join(r1)}
                  FROM (SELECT *, {d2row.format(i=1)} AS d FROM pp))
            UNION ALL
            SELECT doc_a, doc_b, axs, ays, bxs, bys, i + 1, {nlist}
            FROM (SELECT *, {', '.join(cols)}
                  FROM (SELECT *, {d2row.format(i='i + 1')} AS d
                        FROM dp WHERE i < 9))
        )
        SELECT doc_a, doc_b, CAST(r[9] AS BIGINT) AS frechet2
        FROM dp WHERE i = 9"""

def q_convex_hull_stats(spark, sf):
    # exact convex hull per minted cluster: strict-corner count, doubled
    # shoelace area, and squared-edge-length sum — all exact int64 (the
    # bbox family's next geometry summary; hull cover beats bbox cover
    # on diagonal clusters). Engine: Andrew monotone chain per group via
    # applyInPandas (groups are cluster-bounded — the inherently
    # sequential part rides inside one task; the shuffle is just the
    # cluster id). Oracle: the INDEPENDENT O(n³) hull-edge test — a
    # directed pair is a CCW hull edge iff every other point is strictly
    # left, or collinear strictly between (which is exactly what makes
    # the strict-turn chain's corners match). Degenerate groups excluded
    # by both sides.
    from geobuf_spark.operators import hull
    p = (minted.minted_cluster_points_q(spark, sf)
         .withColumn("gid", F.col("doc_id") % minted.N_CLUSTERS))
    return hull.convex_hull_stats(p)

def _convex_hull_stats_sql() -> str:
    from geobuf_spark.operators import hull
    pts = (f"SELECT doc_id % {minted.N_CLUSTERS} AS gid, qx, qy "
           f"FROM ({minted.sql_minted_cluster_points_q()})")
    return hull.sql_convex_hull_stats(pts)


def oracles() -> dict[str, str]:
    """DuckDB oracle twins for this module's queries."""
    out = {
        "od_flows": _od_flows_sql(),
        "union_area_rects": _union_area_rects_sql(),
        "flow_divergence": _flow_divergence_sql(),
        "dominant_bearing": _dominant_bearing_sql(),
        "ring_normalize": _ring_normalize_sql(),
        "bounding_circles": _bounding_circles_sql(),
        "spatial_split_leakage": _spatial_split_leakage_sql(),
        "turning_angles": _turning_angles_sql(),
        "rect_nesting": _rect_nesting_sql(),
        "ripley_band_pairs": _ripley_band_pairs_sql(),
        "line_self_intersect": _line_self_intersect_sql(),
        "rect_prefix_counts": _rect_prefix_counts_sql(),
        "voronoi_assign": _voronoi_assign_sql(),
        "simplify_collinear": _simplify_collinear_sql(),
        "frechet_pairs": _frechet_pairs_sql(),
        "convex_hull_stats": _convex_hull_stats_sql(),
    }
    return out
