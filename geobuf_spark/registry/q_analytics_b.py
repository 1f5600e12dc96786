"""Registry family: exact-statistics / generic analytics extension batches.

Split out of the former __spark_entry__.py monolith (VERDICT r4 #2);
query functions keep their original text, oracles sit beside them in
this module's oracles(). Driver-window ORDER lives in window.py, not here.

Queries here (30):
bandit_replay, bwt_runs, compaction_plan, convex_layers,
did_purchases, dtw_daily, ear_triangulate, haar_energy,
hash_collision_audit, hodges_lehmann, huffman_cost, isotonic_daily,
join_size_audit, lis_daily, lz_factors, mase_seasonal,
negative_samples, poisson_bootstrap, qn_scale, quantile_normalize,
ransac_line, rmq_daily, runs_test_daily, simpsons_paradox,
soundex_groups, source_overlap, stump_split, theil_sen_daily,
topk_two_level, weighted_schedule
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
from geobuf_spark.operators.fixpoint import With, iterate, sql_rounds
from geobuf_spark.sources import minted, pages
from geobuf_spark.streaming import windows as W
from ._shared import *  # noqa: F401,F403


def q_haar_energy(spark, sf):
    # which TIMESCALE carries the crawl-volume variance: unnormalized
    # Haar wavelet decomposition of the daily event-count series
    # (padded to 32), exact integers — level-l details are differences
    # of 2^(l-1)-day sums, so level 3 ≈ half-week structure, level 5 ≈
    # fortnight trend. Output per level: coefficient count and detail
    # energy Σd². The daily rollup is the only data-sized exchange; the
    # 32-point transform happens in ONE single-row projection via
    # map lookup + unrolled per-level transforms.
    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        F.expr("unix_timestamp(ts) div 86400").alias("day"))
    days = ev.groupBy("day").agg(F.count("*").alias("n"))
    one = (days.agg(
        F.min("day").alias("d0"),
        F.map_from_entries(F.collect_list(F.struct("day", "n")))
        .alias("m")))
    x = F.transform(
        F.sequence(F.lit(0), F.lit(HAAR_N - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("m"),
                         (F.col("d0") + i.cast("bigint"))),
            F.lit(0)).cast("bigint"))
    one = one.select(x.alias("x"))
    rows = []
    cur = F.col("x")
    n = HAAR_N
    for lvl in range(1, 6):
        half = n // 2
        idx = F.sequence(F.lit(1), F.lit(half))
        det = F.transform(
            idx, lambda j: F.element_at(cur, 2 * j - 1)
            - F.element_at(cur, 2 * j))
        app = F.transform(
            idx, lambda j: F.element_at(cur, 2 * j - 1)
            + F.element_at(cur, 2 * j))
        energy = F.aggregate(det, F.lit(0).cast("bigint"),
                             lambda a, d: a + d * d)
        rows.append(one.select(F.lit(lvl).alias("level"),
                               F.lit(half).cast("bigint")
                               .alias("n_coeffs"),
                               energy.alias("energy")))
        one = one.select(app.alias("x"))
        cur = F.col("x")
        n = half
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.select(F.col("level").cast("int").alias("level"),
                      "n_coeffs",
                      F.col("energy").cast("bigint").alias("energy"))

def _haar_energy_sql() -> str:
    parts = [f"""
        d AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                     CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1),
        d0 AS (SELECT min(day) AS d0 FROM d),
        grid AS (SELECT CAST(range AS BIGINT) AS i FROM
                     range(0, {HAAR_N})),
        x0 AS (SELECT list(coalesce(d.n, 0) ORDER BY grid.i) AS x
               FROM grid CROSS JOIN d0
               LEFT JOIN d ON d.day = d0.d0 + grid.i)"""]
    n = HAAR_N
    sels = []
    for lvl in range(1, 6):
        half = n // 2
        parts.append(f"""
        l{lvl} AS (SELECT
            list_transform(range(1, {half} + 1),
                j -> x[2*j - 1] - x[2*j]) AS det,
            list_transform(range(1, {half} + 1),
                j -> x[2*j - 1] + x[2*j]) AS x
            FROM {'x0' if lvl == 1 else f'l{lvl - 1}'})""")
        sels.append(f"SELECT {lvl} AS level, {half} AS n_coeffs, "
                    f"list_sum(list_transform(det, v -> v * v)) "
                    f"AS energy FROM l{lvl}")
        n = half
    u = "\n        UNION ALL ".join(sels)
    return (f"WITH {','.join(parts)}"
            f"""
        SELECT CAST(level AS INT) AS level,
               CAST(n_coeffs AS BIGINT) AS n_coeffs,
               CAST(energy AS BIGINT) AS energy
        FROM ({u})""")

def q_negative_samples(spark, sf):
    # link-prediction training needs negatives: for every positive host
    # edge, mint NEG_K deterministic candidates (hash-indexed into the
    # ranked host table) and AUDIT them — a candidate that equals the
    # source or hits a real edge is a false negative that poisons the
    # training set. Output: positives, candidates, self-collisions,
    # edge-collisions, clean_ppm. One broadcast of the host index + one
    # semi-join against the edge set; at 10^8 hosts the index join
    # stays a hash join on int keys.
    from geobuf_spark.functions import phash
    from pyspark.sql import Window as Win
    ed = (_host_edges(spark)
          .select(F.col("src_host").alias("src"),
                  F.col("dst_host").alias("dst")).distinct()
          .localCheckpoint(eager=False))
    hosts = (ed.select(F.col("src").alias("h"))
             .unionByName(ed.select(F.col("dst").alias("h"))).distinct())
    w = Win.orderBy("h")
    hid = hosts.withColumn("idx",
                           F.row_number().over(w).cast("bigint") - 1)
    nh = hid.count()
    cands = None
    for k in range(NEG_K):
        c = ed.select(
            "src", "dst",
            F.pmod(phash.hash60_parts(F.lit("neg"), F.col("src"),
                                      F.col("dst"), F.lit(k)),
                   F.lit(nh)).alias("idx"))
        cands = c if cands is None else cands.unionByName(c)
    j = cands.join(F.broadcast(hid), "idx").withColumnRenamed("h", "cand")
    hit = (j.join(ed.select(F.col("src").alias("src"),
                            F.col("dst").alias("cand"))
                  .withColumn("_e", F.lit(1)).distinct(),
                  ["src", "cand"], "left"))
    agg = hit.agg(
        F.count("*").alias("n_cand"),
        F.sum((F.col("cand") == F.col("src")).cast("bigint"))
        .alias("n_self"),
        F.sum(F.col("_e").isNotNull().cast("bigint")).alias("n_hit"))
    npos = ed.count()
    return agg.select(
        F.lit(npos).cast("bigint").alias("n_pos"),
        F.col("n_cand").cast("bigint").alias("n_cand"),
        F.col("n_self").cast("bigint").alias("n_self"),
        F.col("n_hit").cast("bigint").alias("n_hit"),
        F.expr("1000000 * (n_cand - n_self - n_hit) div n_cand")
        .cast("bigint").alias("clean_ppm"))

def _negative_samples_sql() -> str:
    from geobuf_spark.functions import phash
    h = phash.sql_hash60_parts("'neg'", "src", "dst", "k")
    return f"""
        WITH {_host_edges_cte()},
        pe AS (SELECT DISTINCT src, dst FROM ed),
        hosts AS (SELECT src AS h FROM pe UNION SELECT dst FROM pe),
        hid AS (SELECT h, row_number() OVER (ORDER BY h) - 1 AS idx
                FROM hosts),
        nh AS (SELECT CAST(count(*) AS BIGINT) AS nh FROM hid),
        cand AS (SELECT pe.src, pe.dst, k.k,
                        {h} % nh.nh AS idx
                 FROM pe CROSS JOIN (SELECT CAST(range AS BIGINT) AS k
                                     FROM range(0, {NEG_K})) k
                 CROSS JOIN nh),
        jj AS (SELECT cand.src, hid.h AS cand_h
               FROM cand JOIN hid USING (idx)),
        hit AS (SELECT jj.src, jj.cand_h,
                       CASE WHEN jj.cand_h = jj.src THEN 1 ELSE 0 END
                           AS is_self,
                       CASE WHEN EXISTS (SELECT 1 FROM pe
                                         WHERE pe.src = jj.src
                                           AND pe.dst = jj.cand_h)
                            THEN 1 ELSE 0 END AS is_hit
                FROM jj)
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM pe) AS n_pos,
               CAST(count(*) AS BIGINT) AS n_cand,
               CAST(sum(is_self) AS BIGINT) AS n_self,
               CAST(sum(is_hit) AS BIGINT) AS n_hit,
               CAST(1000000 * (count(*) - sum(is_self) - sum(is_hit))
                    // count(*) AS BIGINT) AS clean_ppm
        FROM hit"""

def q_bandit_replay(spark, sf):
    # offline policy evaluation by replay (Li et al. 2011): walk each
    # user's event stream in time order; at every step the greedy
    # policy picks the arm (event type) with the best PRIOR empirical
    # mean value for that user — unexplored arms first (optimistic,
    # alphabetical), means compared in deterministic milli-cent
    # quantization, ties → alphabetical. The step scores only when the
    # logged action matches the policy's pick (the unbiased replay
    # estimator). Per-user windows (5 count + 5 sum aggregates over ONE
    # sort) — no global sequence, so the plan scales with users.
    from pyspark.sql import Window as Win
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", "event_id", "event_type",
        F.unix_timestamp("ts").alias("te"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("v"))
    w = (Win.partitionBy("user_id").orderBy("te", "event_id")
         .rowsBetween(Win.unboundedPreceding, -1))
    d = e
    for arm in BANDIT_ARMS:
        is_a = (F.col("event_type") == arm).cast("bigint")
        d = (d.withColumn(f"c_{arm}", F.coalesce(
                F.sum(is_a).over(w), F.lit(0)))
             .withColumn(f"s_{arm}", F.coalesce(
                F.sum(is_a * F.col("v")).over(w), F.lit(0))))
    # chosen arm: first unexplored alphabetically, else argmax of the
    # quantized prior mean (1000·s div c), ties → alphabetical
    unexplored = None
    for arm in BANDIT_ARMS:
        cond = F.col(f"c_{arm}") == 0
        pick = F.when(cond, F.lit(arm))
        unexplored = pick if unexplored is None else \
            F.coalesce(unexplored, pick)
    # argmax by (mean, arm-asc) via ONE array_max over (m, −idx)
    # structs — the nested-CASE form blew past the codegen method
    # limit; this stays inside whole-stage codegen (and differs from
    # the oracle's CASE chain, which is a feature: two formulations)
    cands = [F.struct(
        F.expr(f"1000 * s_{arm} div greatest(c_{arm}, 1)").alias("m"),
        F.lit(-i).alias("ni")) for i, arm in enumerate(BANDIT_ARMS)]
    bi = (-F.array_max(F.array(*cands)).getField("ni")).cast("int")
    arm_arr = F.array(*[F.lit(a) for a in BANDIT_ARMS])
    chosen = F.coalesce(unexplored, F.element_at(arm_arr, bi + 1))
    d = d.withColumn("chosen", chosen)
    m = (F.col("chosen") == F.col("event_type")).cast("bigint")
    return (d.agg(F.count("*").alias("n_events"),
                  F.sum(m).alias("n_matches"),
                  F.sum(m * F.col("v")).alias("reward_cents"))
            .select(F.col("n_events").cast("bigint").alias("n_events"),
                    F.col("n_matches").cast("bigint").alias("n_matches"),
                    F.col("reward_cents").cast("bigint")
                    .alias("reward_cents"),
                    F.expr("1000000 * n_matches div n_events")
                    .cast("bigint").alias("match_ppm")))

def _bandit_replay_sql() -> str:
    arms = BANDIT_ARMS
    cs = ", ".join(
        f"coalesce(sum(CASE WHEN event_type = '{a}' THEN 1 ELSE 0 END) "
        f"OVER wp, 0) AS c_{a}, "
        f"coalesce(sum(CASE WHEN event_type = '{a}' THEN v ELSE 0 END) "
        f"OVER wp, 0) AS s_{a}" for a in arms)
    unex = "CASE " + " ".join(
        f"WHEN c_{a} = 0 THEN '{a}'" for a in arms) + " ELSE NULL END"
    # argmax by (mean, arm-asc) via chained comparisons
    best = f"'{arms[0]}'"
    bm = f"(1000 * s_{arms[0]} // greatest(c_{arms[0]}, 1))"
    for a in arms[1:]:
        m = f"(1000 * s_{a} // greatest(c_{a}, 1))"
        best = (f"CASE WHEN {m} > {bm} THEN '{a}' "
                f"WHEN {m} = {bm} AND '{a}' < ({best}) THEN '{a}' "
                f"ELSE ({best}) END")
        bm = f"greatest({bm}, {m})"
    return f"""
        WITH e AS (SELECT user_id, event_id, event_type,
                          CAST(floor(epoch(ts)) AS BIGINT) AS te,
                          CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                   FROM events),
        d AS (SELECT *, {cs}
              FROM e
              WINDOW wp AS (PARTITION BY user_id ORDER BY te, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING)),
        p AS (SELECT *, coalesce({unex}, {best}) AS chosen FROM d)
        SELECT CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN chosen = event_type THEN 1 ELSE 0
                        END) AS BIGINT) AS n_matches,
               CAST(sum(CASE WHEN chosen = event_type THEN v ELSE 0
                        END) AS BIGINT) AS reward_cents,
               CAST(1000000 * sum(CASE WHEN chosen = event_type THEN 1
                                  ELSE 0 END) // count(*) AS BIGINT)
                   AS match_ppm
        FROM p"""

def q_stump_split(spark, sf):
    # the decision-tree building block as a query: the best single
    # threshold on n_chars separating English from non-English docs by
    # weighted Gini impurity. For cut t: impurity_side = n_side −
    # Σ_c n_c²/n_side; minimize the sum over sides. Kept deterministic
    # cross-engine by the otsu trick — per-side impurity quantized as
    # (n_side² − Σn_c²)·STUMP_Q div n_side, summed, argmin by
    # (score, t). One histogram agg over (level, label), cumulative
    # sums over ≤ a few hundred levels.
    from pyspark.sql import Window as Win
    d = spark.read.parquet(f"{sf}/documents.parquet").select(
        F.expr(f"n_chars div {STUMP_LEVEL}").alias("lv"),
        (F.col("lang") == "en").cast("bigint").alias("y"))
    h = d.groupBy("lv").agg(F.count("*").alias("c"),
                            F.sum("y").alias("p"))
    wcum = Win.orderBy("lv").rowsBetween(Win.unboundedPreceding, 0)
    wall = Win.partitionBy()
    g = (h.withColumn("n0", F.sum("c").over(wcum))
         .withColumn("p0", F.sum("p").over(wcum))
         .withColumn("n", F.sum("c").over(wall))
         .withColumn("p", F.sum(F.col("p")).over(wall))
         .filter(F.col("n0") < F.col("n")))
    imp = ("((n0 * n0 - p0 * p0 - (n0 - p0) * (n0 - p0))"
           f" * {STUMP_Q} div n0"
           " + ((n - n0) * (n - n0) - (p - p0) * (p - p0)"
           " - ((n - n0) - (p - p0)) * ((n - n0) - (p - p0)))"
           f" * {STUMP_Q} div (n - n0))")
    g = g.withColumn("score", F.expr(imp))
    return (g.orderBy(F.col("score").asc(), F.col("lv").asc()).limit(1)
            .select((F.col("lv") * STUMP_LEVEL).cast("bigint")
                    .alias("threshold_chars"),
                    F.col("score").cast("bigint")
                    .alias("impurity_scaled"),
                    F.col("n0").cast("bigint").alias("n_left"),
                    (F.col("n") - F.col("n0")).cast("bigint")
                    .alias("n_right"),
                    F.col("p0").cast("bigint").alias("pos_left"),
                    (F.col("p") - F.col("p0")).cast("bigint")
                    .alias("pos_right")))

def _stump_split_sql() -> str:
    return f"""
        WITH d AS (SELECT n_chars // {STUMP_LEVEL} AS lv,
                          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
                   FROM documents),
        h AS (SELECT lv, count(*) AS c, sum(y) AS p FROM d GROUP BY 1),
        g AS (SELECT lv,
                     sum(c) OVER (ORDER BY lv) AS n0,
                     sum(p) OVER (ORDER BY lv) AS p0,
                     sum(c) OVER () AS n, sum(p) OVER () AS p
              FROM h),
        f AS (SELECT lv, n0, p0, n, p,
                     ((n0 * n0 - p0 * p0 - (n0 - p0) * (n0 - p0))
                      * {STUMP_Q} // n0
                      + ((n - n0) * (n - n0) - (p - p0) * (p - p0)
                         - ((n - n0) - (p - p0))
                           * ((n - n0) - (p - p0)))
                        * {STUMP_Q} // (n - n0)) AS score
              FROM g WHERE n0 < n)
        SELECT CAST(lv * {STUMP_LEVEL} AS BIGINT) AS threshold_chars,
               CAST(score AS BIGINT) AS impurity_scaled,
               CAST(n0 AS BIGINT) AS n_left,
               CAST(n - n0 AS BIGINT) AS n_right,
               CAST(p0 AS BIGINT) AS pos_left,
               CAST(p - p0 AS BIGINT) AS pos_right
        FROM f ORDER BY score ASC, lv ASC LIMIT 1"""

def q_topk_two_level(spark, sf):
    # the EXACT distributed top-k pattern spelled out as a query: hash-
    # partition hosts into B buckets, take each bucket's local top-k,
    # then re-top the B·k survivors — correct BECAUSE the bucket key is
    # the group key (each host's full count lives in one bucket), so
    # the union provably contains the global top-k. The final top runs
    # on B·k rows — no global sort of the host table. Ties → host asc.
    # Oracle: the direct single-level top-k; equality IS the proof.
    from pyspark.sql import Window as Win
    from geobuf_spark.functions import phash
    counts = (_docs(spark, sf)
              .select(TXT.url_host(F.concat(F.lit("https://"),
                                            F.col("source"),
                                            F.lit(".example/x")))
                      .alias("host"))
              .groupBy("host").agg(F.count("*").alias("n")))
    b = F.pmod(phash.hash60(F.col("host")), F.lit(TOPK2_B))
    wb = Win.partitionBy("b").orderBy(F.col("n").desc(),
                                      F.col("host").asc())
    local = (counts.withColumn("b", b)
             .withColumn("rn", F.row_number().over(wb))
             .filter(F.col("rn") <= TOPK2_K))
    wg = Win.orderBy(F.col("n").desc(), F.col("host").asc())
    return (local.withColumn("rk", F.row_number().over(wg))
            .filter(F.col("rk") <= TOPK2_K)
            .select("host", F.col("n").cast("bigint").alias("n"),
                    F.col("rk").cast("int").alias("rank")))

def _topk_two_level_sql() -> str:
    from geobuf_spark.functions import text as T2
    host = T2.sql_url_host("'https://' || source || '.example/x'")
    return f"""
        WITH c AS (SELECT {host} AS host, CAST(count(*) AS BIGINT) AS n
                   FROM documents GROUP BY 1),
        r AS (SELECT host, n, row_number() OVER (ORDER BY n DESC,
                  host ASC) AS rank
              FROM c)
        SELECT host, n, CAST(rank AS INT) AS rank
        FROM r WHERE rank <= {TOPK2_K}"""

def q_did_purchases(spark, sf):
    # difference-in-differences on purchase value: treatment = odd
    # user_id, cutover = day DID_SPLIT_DAY of the series; DiD =
    # (T_after − T_before) − (C_after − C_before) on mean cents, with
    # every mean quantized identically (1000·sum div n) so the
    # estimate hashes exactly. One four-cell rollup; the output keeps
    # all four cell means plus the DiD — the causal-analytics shape.
    e = spark.read.parquet(f"{sf}/events.parquet").filter(
        F.col("event_type") == "purchase")
    day0 = e.agg(F.expr("min(unix_timestamp(ts) div 86400)")
                 .alias("d0")).collect()[0]["d0"]
    cell = e.select(
        (F.col("user_id") % 2 == 1).cast("int").alias("treat"),
        (F.expr("unix_timestamp(ts) div 86400") - F.lit(day0)
         >= DID_SPLIT_DAY).cast("int").alias("after"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("v"))
    g = (cell.groupBy("treat", "after")
         .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
         .withColumn("mean_m", F.expr("1000 * s div n")))
    # four quantized cell means via conditional aggregation
    m = g.agg(
        F.sum(F.when((F.col("treat") == 1) & (F.col("after") == 1),
                     F.col("mean_m"))).alias("t_after"),
        F.sum(F.when((F.col("treat") == 1) & (F.col("after") == 0),
                     F.col("mean_m"))).alias("t_before"),
        F.sum(F.when((F.col("treat") == 0) & (F.col("after") == 1),
                     F.col("mean_m"))).alias("c_after"),
        F.sum(F.when((F.col("treat") == 0) & (F.col("after") == 0),
                     F.col("mean_m"))).alias("c_before"))
    return m.select(
        F.col("t_before").cast("bigint").alias("t_before_m"),
        F.col("t_after").cast("bigint").alias("t_after_m"),
        F.col("c_before").cast("bigint").alias("c_before_m"),
        F.col("c_after").cast("bigint").alias("c_after_m"),
        ((F.col("t_after") - F.col("t_before"))
         - (F.col("c_after") - F.col("c_before"))).cast("bigint")
        .alias("did_millicents"))

def _did_purchases_sql() -> str:
    return f"""
        WITH e AS (SELECT user_id,
                          CAST(floor(epoch(ts)) AS BIGINT) // 86400
                              AS day,
                          CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
                   FROM events WHERE event_type = 'purchase'),
        d0 AS (SELECT min(day) AS d0 FROM e),
        c AS (SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END
                         AS treat,
                     CASE WHEN e.day - d0.d0 >= {DID_SPLIT_DAY} THEN 1
                          ELSE 0 END AS after, v
              FROM e, d0),
        g AS (SELECT treat, after, 1000 * sum(v) // count(*) AS mean_m
              FROM c GROUP BY 1, 2)
        SELECT CAST(sum(CASE WHEN treat = 1 AND after = 0 THEN mean_m
                        END) AS BIGINT) AS t_before_m,
               CAST(sum(CASE WHEN treat = 1 AND after = 1 THEN mean_m
                        END) AS BIGINT) AS t_after_m,
               CAST(sum(CASE WHEN treat = 0 AND after = 0 THEN mean_m
                        END) AS BIGINT) AS c_before_m,
               CAST(sum(CASE WHEN treat = 0 AND after = 1 THEN mean_m
                        END) AS BIGINT) AS c_after_m,
               CAST((sum(CASE WHEN treat = 1 AND after = 1 THEN mean_m
                         END)
                     - sum(CASE WHEN treat = 1 AND after = 0 THEN
                           mean_m END))
                    - (sum(CASE WHEN treat = 0 AND after = 1 THEN
                           mean_m END)
                       - sum(CASE WHEN treat = 0 AND after = 0 THEN
                             mean_m END)) AS BIGINT) AS did_millicents
        FROM g"""

def q_poisson_bootstrap(spark, sf):
    # deterministic Poisson bootstrap of the per-language mean document
    # length — THE bootstrap that works at 100 TB: instead of resampling
    # n rows with replacement (impossible distributed), each row gets an
    # independent Poisson(1) weight per resample; one pass, map-side
    # combinable, no global state. Determinism: the weight is the
    # Poisson inverse CDF evaluated on a 60-bit md5 hash of
    # (doc_id, b) against integer thresholds — bit-identical in Spark,
    # DuckDB, and the pytest's hashlib brute. Every resample mean is
    # quantized (1000·sum div n) so the CI order statistics hash
    # exactly; the CI is ranks 2/39 of B=40 resample means (~95%).
    from geobuf_spark.functions import phash
    from pyspark.sql import Window as Win
    d = _docs(spark, sf).select(
        "doc_id", "lang", F.col("n_chars").alias("x"))
    u = phash.hash60_parts(F.lit("pb"), F.col("doc_id"), F.col("b"))
    w = F.when(u < _PB_T[0], 0)
    for j in range(1, 5):
        w = w.when(u < _PB_T[j], j)
    w = w.otherwise(5)
    r = (d.select("doc_id", "lang", "x",
                  F.explode(F.sequence(F.lit(0), F.lit(_PB_B - 1)))
                  .alias("b"))
         .withColumn("w", w))
    g = (r.groupBy("lang", "b")
         .agg(F.sum(F.col("w") * F.col("x")).alias("s"),
              F.sum("w").alias("wn"))
         .filter(F.col("wn") > 0)
         .withColumn("mean_m", F.expr("1000 * s div wn")))
    win = Win.partitionBy("lang").orderBy("mean_m", "b")
    ci = (g.withColumn("rn", F.row_number().over(win))
          .groupBy("lang")
          .agg(F.max(F.when(F.col("rn") == _PB_LO, F.col("mean_m")))
               .alias("lo_m"),
               F.max(F.when(F.col("rn") == _PB_HI, F.col("mean_m")))
               .alias("hi_m"),
               F.count("*").alias("n_boot")))
    point = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.expr("1000 * sum(x) div count(*)").alias("point_m"))
    return (point.join(ci, "lang")
            .select("lang", F.col("n_docs").cast("bigint"),
                    F.col("point_m").cast("bigint"),
                    F.col("lo_m").cast("bigint"),
                    F.col("hi_m").cast("bigint"),
                    F.col("n_boot").cast("int").alias("n_boot")))

def _poisson_bootstrap_sql() -> str:
    from geobuf_spark.functions import phash
    u = phash.sql_hash60_parts("'pb'", "doc_id", "b")
    cases = " ".join(f"WHEN u < {t} THEN {j}"
                     for j, t in enumerate(_PB_T))
    return f"""
        WITH d AS (SELECT doc_id, lang, n_chars AS x FROM documents),
        r AS (SELECT lang, x, b, {u} AS u
              FROM d, range(0, {_PB_B}) t(b)),
        w AS (SELECT lang, b, x, CASE {cases} ELSE 5 END AS w FROM r),
        g AS (SELECT lang, b, sum(w * x) AS s, sum(w) AS wn
              FROM w GROUP BY 1, 2),
        m AS (SELECT lang, b, 1000 * s // wn AS mean_m
              FROM g WHERE wn > 0),
        rk AS (SELECT lang, mean_m, row_number() OVER (
                   PARTITION BY lang ORDER BY mean_m, b) AS rn
               FROM m),
        ci AS (SELECT lang,
                      max(CASE WHEN rn = {_PB_LO} THEN mean_m END)
                          AS lo_m,
                      max(CASE WHEN rn = {_PB_HI} THEN mean_m END)
                          AS hi_m,
                      count(*) AS n_boot
               FROM rk GROUP BY 1),
        p AS (SELECT lang, count(*) AS n_docs,
                     1000 * sum(x) // count(*) AS point_m
              FROM d GROUP BY 1)
        SELECT p.lang, CAST(n_docs AS BIGINT) AS n_docs,
               CAST(point_m AS BIGINT) AS point_m,
               CAST(lo_m AS BIGINT) AS lo_m,
               CAST(hi_m AS BIGINT) AS hi_m,
               CAST(n_boot AS INT) AS n_boot
        FROM p JOIN ci USING (lang)"""

def q_theil_sen_daily(spark, sf):
    # Theil–Sen robust trend of the per-event-type daily count series:
    # the LOWER MEDIAN of all pairwise slopes (cj−ci)/(dj−di) as an
    # EXACT rational — immune to the outlier days that bend the
    # trend_slope_weekly least-squares line. Exact rational order
    # without floats: day gaps divide TS_LCM=lcm(1..42), so
    # num·(TS_LCM div den) in decimal(38) is a faithful sort key; ties
    # (equal rationals with different representations) are pinned by
    # (den, num) so both engines pick the same pair row. The series is
    # bounded (days × types), so the quadratic pair set is tiny at any
    # SF — a driver-side-sized robust statistic computed fully
    # distributed.
    from pyspark.sql import Window as Win
    daily = (spark.read.parquet(f"{sf}/events.parquet")
             .groupBy("event_type",
                      F.expr("unix_timestamp(ts) div 86400").alias("d"))
             .agg(F.count("*").alias("c")))
    a = daily.select("event_type", F.col("d").alias("da"),
                     F.col("c").alias("ca"))
    b = daily.select("event_type", F.col("d").alias("db"),
                     F.col("c").alias("cb"))
    pairs = (a.join(b, "event_type")
             .filter(F.col("da") < F.col("db"))
             .select("event_type",
                     (F.col("cb") - F.col("ca")).alias("num"),
                     (F.col("db") - F.col("da")).alias("den")))
    key = (F.col("num").cast("decimal(38,0)")
           * F.expr(f"CAST({TS_LCM} div den AS DECIMAL(38,0))"))
    win = Win.partitionBy("event_type").orderBy(key.asc(),
                                                F.col("den").asc(),
                                                F.col("num").asc())
    ranked = pairs.withColumn("rn", F.row_number().over(win))
    cnt = pairs.groupBy("event_type").agg(F.count("*").alias("n_pairs"))
    med = (ranked.join(cnt, "event_type")
           .filter(F.col("rn") == F.expr("(n_pairs + 1) div 2")))
    nd = daily.groupBy("event_type").agg(F.count("*").alias("n_days"))
    return (med.join(nd, "event_type")
            .select("event_type", F.col("n_days").cast("bigint"),
                    F.col("n_pairs").cast("bigint"),
                    F.col("num").cast("bigint").alias("med_num"),
                    F.col("den").cast("bigint").alias("med_den"),
                    F.expr("1000 * num div den").cast("bigint")
                    .alias("slope_milli")))

def _theil_sen_daily_sql() -> str:
    return f"""
        WITH daily AS (
            SELECT event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
                   count(*) AS c
            FROM events GROUP BY 1, 2),
        pairs AS (
            SELECT a.event_type, b.c - a.c AS num, b.d - a.d AS den
            FROM daily a JOIN daily b ON a.event_type = b.event_type
                AND a.d < b.d),
        rk AS (
            SELECT event_type, num, den,
                   row_number() OVER (PARTITION BY event_type
                       ORDER BY CAST(num AS HUGEINT)
                                * ({TS_LCM} // den) ASC,
                                den ASC, num ASC) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n_pairs
            FROM pairs),
        nd AS (SELECT event_type, count(*) AS n_days FROM daily
               GROUP BY 1)
        SELECT rk.event_type, CAST(n_days AS BIGINT) AS n_days,
               CAST(n_pairs AS BIGINT) AS n_pairs,
               CAST(num AS BIGINT) AS med_num,
               CAST(den AS BIGINT) AS med_den,
               CAST(1000 * num // den AS BIGINT) AS slope_milli
        FROM rk JOIN nd USING (event_type)
        WHERE rn = (n_pairs + 1) // 2"""

def q_compaction_plan(spark, sf):
    # small-file compaction planning — the table-maintenance op every
    # 100 TB lakehouse runs nightly: within each partition (source),
    # pack the per-lang data files into target-sized output bins by
    # next-fit-decreasing (sort size DESC — tie lang ASC — and split
    # the sorted stream greedily at the target; files larger than the
    # target become single-file oversized bins, exactly what Iceberg's
    # binpack rewrite does). The file LIST is metadata-sized, so the
    # sequential greedy rides applyInPandas per partition — the shuffle
    # is only the partition key; the oracle replays the same stream
    # with one recursive CTE (state = (bin, fill), depth = files per
    # partition).
    schema = ("source string, bin int, n_files long, fill_bytes long, "
              "oversized boolean")

    def pack(pdf):
        import pandas as pd
        pdf = pdf.sort_values(["size", "lang"],
                              ascending=[False, True],
                              kind="mergesort")
        src = pdf["source"].iloc[0]
        bins = []  # (bin, n_files, fill)
        b, n, fill = 0, 0, 0
        for s in pdf["size"].astype("int64"):
            s = int(s)
            if b == 0 or fill + s > COMPACT_TARGET:
                if b > 0:
                    bins.append((b, n, fill))
                b, n, fill = b + 1, 1, s
            else:
                n, fill = n + 1, fill + s
        bins.append((b, n, fill))
        return pd.DataFrame(
            [{"source": src, "bin": b, "n_files": n, "fill_bytes": f,
              "oversized": f > COMPACT_TARGET} for b, n, f in bins])

    files = (_docs(spark, sf)
             .groupBy("source", "lang")
             .agg((F.lit(256) + F.sum("n_chars")).alias("size")))
    return files.groupBy("source").applyInPandas(pack, schema)

def _compaction_plan_sql() -> str:
    t = COMPACT_TARGET
    return f"""
        WITH RECURSIVE cf AS (
            SELECT source, lang, 256 + sum(n_chars) AS size,
                   row_number() OVER (PARTITION BY source
                       ORDER BY 256 + sum(n_chars) DESC, lang ASC)
                       AS rn
            FROM documents GROUP BY source, lang),
        st AS (
            SELECT source, rn, 1 AS bin, size AS fill
            FROM cf WHERE rn = 1
            UNION ALL
            SELECT f.source, f.rn,
                   CASE WHEN s.fill + f.size > {t} THEN s.bin + 1
                        ELSE s.bin END,
                   CASE WHEN s.fill + f.size > {t} THEN f.size
                        ELSE s.fill + f.size END
            FROM st s JOIN cf f ON f.source = s.source
                AND f.rn = s.rn + 1)
        SELECT source, CAST(bin AS INT) AS bin,
               CAST(count(*) AS BIGINT) AS n_files,
               CAST(max(fill) AS BIGINT) AS fill_bytes,
               max(fill) > {t} AS oversized
        FROM st GROUP BY source, bin"""

def q_simpsons_paradox(spark, sf):
    # Simpson's-paradox audit on purchase conversion: treatment (odd
    # user_id, the did_purchases cohort) vs control, stratified by
    # day-of-week — does the pooled direction of the conversion-rate
    # difference contradict the strata? Direction without division:
    # sign(t_conv·c_tot − c_conv·t_tot) is exact int64, so the audit is
    # hashable. Emits the 7 strata plus the pooled row (stratum −1);
    # one conditional rollup, map-side combinable.
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        (F.col("user_id") % 2 == 1).cast("int").alias("treat"),
        F.expr("(unix_timestamp(ts) div 86400) % 7").alias("dow"),
        (F.col("event_type") == "purchase").cast("long").alias("conv"))
    cells = (e.groupBy("dow").agg(
        F.sum(F.when(F.col("treat") == 1, F.col("conv"))).alias("tc"),
        F.sum(F.col("treat").cast("long")).alias("tt"),
        F.sum(F.when(F.col("treat") == 0, F.col("conv"))).alias("cc"),
        F.sum((1 - F.col("treat")).cast("long")).alias("ct")))
    pooled = (cells.agg(F.sum("tc").alias("tc"), F.sum("tt").alias("tt"),
                        F.sum("cc").alias("cc"), F.sum("ct").alias("ct"))
              .withColumn("dow", F.lit(-1)))
    allrows = cells.unionByName(pooled.select("dow", "tc", "tt",
                                              "cc", "ct"))
    d = F.col("tc") * F.col("ct") - F.col("cc") * F.col("tt")
    return allrows.select(
        F.col("dow").cast("int").alias("stratum"),
        F.col("tc").cast("bigint").alias("t_conv"),
        F.col("tt").cast("bigint").alias("t_tot"),
        F.col("cc").cast("bigint").alias("c_conv"),
        F.col("ct").cast("bigint").alias("c_tot"),
        F.when(d > 0, 1).when(d < 0, -1).otherwise(0)
        .cast("int").alias("dir"))

def _simpsons_paradox_sql() -> str:
    return """
        WITH e AS (SELECT
                CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS treat,
                (CAST(floor(epoch(ts)) AS BIGINT) // 86400) % 7 AS dow,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                    AS conv
            FROM events),
        c AS (SELECT dow,
                     sum(CASE WHEN treat = 1 THEN conv END) AS tc,
                     sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS tt,
                     sum(CASE WHEN treat = 0 THEN conv END) AS cc,
                     sum(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS ct
              FROM e GROUP BY 1),
        u AS (SELECT dow, tc, tt, cc, ct FROM c
              UNION ALL
              SELECT -1, sum(tc), sum(tt), sum(cc), sum(ct) FROM c)
        SELECT CAST(dow AS INT) AS stratum,
               CAST(tc AS BIGINT) AS t_conv,
               CAST(tt AS BIGINT) AS t_tot,
               CAST(cc AS BIGINT) AS c_conv,
               CAST(ct AS BIGINT) AS c_tot,
               CAST(CASE WHEN tc * ct - cc * tt > 0 THEN 1
                         WHEN tc * ct - cc * tt < 0 THEN -1
                         ELSE 0 END AS INT) AS dir
        FROM u"""

def q_lz_factors(spark, sf):
    # LZ76 factor count of each document's first LZ_PREFIX chars — the
    # compression-complexity quality signal (templated/boilerplate text
    # factorizes into few long factors, diverse text into many): greedy
    # shortest-unseen-prefix productions, matches restricted to the
    # already-emitted prefix (non-overlapping variant, so the spec is a
    # pure function both engines replay). Engine side: one Arrow-
    # batched pandas UDF (the factorization is sequential IN A DOC but
    # the corpus is embarrassingly parallel); oracle: one recursive CTE
    # stepping every doc one factor per round.
    def f(s):
        s = s[:LZ_PREFIX]
        n = len(s)
        pos, nf = 0, 0
        while pos < n:
            lmax = 0
            prefix = s[:pos]
            for l in range(1, n - pos + 1):
                if s[pos:pos + l] in prefix:
                    lmax = l  # monotone: longer fails ⇒ stop
                else:
                    break
            pos += min(lmax + 1, n - pos)
            nf += 1
        return nf

    def mapper(batches):
        for pdf in batches:
            out = pdf[["doc_id"]].copy()
            out["plen"] = (pdf["text"].str.slice(0, LZ_PREFIX)
                           .str.len().astype("int32"))
            out["n_factors"] = pdf["text"].map(f).astype("int32")
            yield out

    return (_docs(spark, sf).select("doc_id", "text")
            .mapInPandas(mapper, "doc_id long, plen int, n_factors int"))

def _lz_factors_sql() -> str:
    p = LZ_PREFIX
    return f"""
        WITH RECURSIVE lzd AS (
            SELECT doc_id, substr(text, 1, {p}) AS t,
                   length(substr(text, 1, {p})) AS n
            FROM documents),
        st AS (
            SELECT doc_id, 1 AS pos, 0 AS nf FROM lzd
            UNION ALL
            SELECT s.doc_id,
                   CAST(s.pos + least(
                       (SELECT coalesce(max(l), 0)
                        FROM (SELECT unnest(range(1, d.n - s.pos + 2))
                                  AS l) ls
                        WHERE strpos(substr(d.t, 1, s.pos - 1),
                                     substr(d.t, s.pos, l)) > 0) + 1,
                       d.n - s.pos + 1) AS INT),
                   s.nf + 1
            FROM st s JOIN lzd d USING (doc_id) WHERE s.pos <= d.n)
        SELECT doc_id, CAST(any_value(n) AS INT) AS plen,
               CAST(max(nf) AS INT) AS n_factors
        FROM st JOIN lzd USING (doc_id) GROUP BY doc_id"""

def q_huffman_cost(spark, sf):
    # optimal prefix-code (Huffman) length per vocabulary token — the
    # entropy-coding cost model a storage/tokenizer planner reads
    # (bpe_merges builds merges, this prices the result): repeatedly
    # merge the two lightest nodes, every leaf in a merged subtree gets
    # one bit deeper. Tie-breaks pinned to (count, min-token-label) so
    # the tree — not just the total cost — is deterministic and the
    # fixed-round MATERIALIZED oracle replays it. The token histogram
    # is VOCAB-sized (bounded, 31 on the fixture), so folding it on the
    # driver is the documented bounded-aggregate edge — the corpus-
    # sized token count stays a distributed aggregation.
    toks = (_docs(spark, sf)
            .select(F.explode(F.split("text", " ")).alias("tok"))
            .groupBy("tok").agg(F.count("*").alias("cnt")))
    hist = sorted((r["tok"], int(r["cnt"])) for r in toks.collect())
    # greedy merges on (count, min-label); track per-leaf depth
    nodes = {t: (c, t, frozenset([t])) for t, c in hist}
    depth = {t: 0 for t, _ in hist}
    while len(nodes) > 1:
        picked = sorted(nodes.values(), key=lambda n: (n[0], n[1]))[:2]
        (c1, l1, m1), (c2, l2, m2) = picked
        for t in m1 | m2:
            depth[t] += 1
        del nodes[l1], nodes[l2]
        lab = min(l1, l2)
        nodes[lab] = (c1 + c2, lab, m1 | m2)
    cnts = dict(hist)
    return spark.createDataFrame(
        [(t, cnts[t], depth[t]) for t in sorted(depth)],
        "tok string, cnt bigint, code_len int")

def _huffman_cost_sql() -> str:
    steps = []
    for r in range(1, HUF_ROUNDS + 1):
        p = r - 1
        steps.append(f"""
        n{r} AS (SELECT nlabel, ncnt FROM s{p} GROUP BY 1, 2),
        t{r} AS (SELECT nlabel, ncnt, row_number() OVER (
                     ORDER BY ncnt, nlabel) AS rk FROM n{r}),
        p{r} AS (SELECT (SELECT count(*) FROM n{r}) AS nn,
                        min(CASE WHEN rk = 1 THEN nlabel END) AS l1,
                        min(CASE WHEN rk = 2 THEN nlabel END) AS l2,
                        min(CASE WHEN rk = 1 THEN ncnt END) AS c1,
                        min(CASE WHEN rk = 2 THEN ncnt END) AS c2
                 FROM t{r}),
        s{r} AS MATERIALIZED (
            SELECT s.tok, s.cnt,
                   s.depth + CASE WHEN p.nn >= 2
                                   AND s.nlabel IN (p.l1, p.l2)
                             THEN 1 ELSE 0 END AS depth,
                   CASE WHEN p.nn >= 2 AND s.nlabel IN (p.l1, p.l2)
                        THEN least(p.l1, p.l2) ELSE s.nlabel END
                       AS nlabel,
                   CASE WHEN p.nn >= 2 AND s.nlabel IN (p.l1, p.l2)
                        THEN p.c1 + p.c2 ELSE s.ncnt END AS ncnt
            FROM s{p} s, p{r} p)""")
    return f"""
        WITH s0 AS (
            SELECT tok, count(*) AS cnt, 0 AS depth, tok AS nlabel,
                   count(*) AS ncnt
            FROM (SELECT unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            GROUP BY tok),
        {','.join(steps)}
        SELECT tok, CAST(cnt AS BIGINT) AS cnt,
               CAST(depth AS INT) AS code_len
        FROM s{HUF_ROUNDS}"""

def q_ransac_line(spark, sf):
    # deterministic RANSAC line fit per cluster — robust structure
    # detection with EXACT integers: candidate models pair hash-ranked
    # points (rank 2t−1 with 2t), a point is an inlier iff its squared
    # line distance ≤ tol² without any division — cross² ≤ tol²·len²
    # (cross ≤ ~5e15 so cross² rides decimal(38)/HUGEINT); the winner
    # per cluster is max inliers, tie → lowest candidate index. One
    # candidates×points equi-join on the cluster id — RANSAC's random
    # sampling replaced by a pinned hash draw so both engines and the
    # brute see the same models.
    from geobuf_spark.functions import phash
    from pyspark.sql import Window as Win
    p = (minted.minted_cluster_points_q(spark, sf)
         .withColumn("gid", F.col("doc_id") % minted.N_CLUSTERS))
    rkd = p.withColumn("rn", F.row_number().over(
        Win.partitionBy("gid").orderBy(
            phash.hash60_parts(F.lit("rs"), F.col("doc_id")),
            "doc_id")))
    a = rkd.filter(F.col("rn") % 2 == 1).select(
        "gid", F.expr("CAST((rn + 1) div 2 AS INT)").alias("t"),
        F.col("qx").alias("px"), F.col("qy").alias("py"))
    b = rkd.filter(F.col("rn") % 2 == 0).select(
        "gid", F.expr("CAST(rn div 2 AS INT)").alias("t"),
        F.col("qx").alias("qx2"), F.col("qy").alias("qy2"))
    cand = (a.join(b, ["gid", "t"])
            .filter((F.col("px") != F.col("qx2"))
                    | (F.col("py") != F.col("qy2"))))
    j = cand.join(p.select("gid", F.col("qx").alias("rx"),
                           F.col("qy").alias("ry")), "gid")
    cross = ((F.col("qx2") - F.col("px")) * (F.col("ry") - F.col("py"))
             - (F.col("qy2") - F.col("py"))
             * (F.col("rx") - F.col("px"))).cast("decimal(38,0)")
    len2 = ((F.col("qx2") - F.col("px")) * (F.col("qx2") - F.col("px"))
            + (F.col("qy2") - F.col("py"))
            * (F.col("qy2") - F.col("py"))).cast("decimal(38,0)")
    inl = (j.withColumn("isin", (cross * cross
                                 <= F.lit(RS_TOL).cast("decimal(38,0)")
                                 * F.lit(RS_TOL) * len2).cast("long"))
           .groupBy("gid", "t")
           .agg(F.sum("isin").alias("n_inliers")))
    w = Win.partitionBy("gid").orderBy(F.col("n_inliers").desc(),
                                       F.col("t").asc())
    best = (inl.withColumn("brk", F.row_number().over(w))
            .filter(F.col("brk") == 1))
    npts = p.groupBy("gid").agg(F.count("*").alias("n_pts"))
    return (best.join(npts, "gid")
            .select(F.col("gid").cast("bigint"),
                    F.col("t").cast("int").alias("cand_t"),
                    F.col("n_inliers").cast("bigint"),
                    F.col("n_pts").cast("bigint")))

def _ransac_line_sql() -> str:
    from geobuf_spark.functions import phash
    h = phash.sql_hash60_parts("'rs'", "doc_id")
    return f"""
        WITH rp AS (SELECT doc_id % {minted.N_CLUSTERS} AS gid, qx, qy,
                           doc_id
                    FROM ({minted.sql_minted_cluster_points_q()})),
        rkd AS (SELECT gid, qx, qy, row_number() OVER (
                    PARTITION BY gid ORDER BY {h}, doc_id) AS rn
                FROM rp),
        ca AS (SELECT gid, (rn + 1) // 2 AS t, qx AS px, qy AS py
               FROM rkd WHERE rn % 2 = 1),
        cb AS (SELECT gid, rn // 2 AS t, qx AS qx2, qy AS qy2
               FROM rkd WHERE rn % 2 = 0),
        cand AS (SELECT ca.gid, ca.t, px, py, qx2, qy2
                 FROM ca JOIN cb ON cb.gid = ca.gid AND cb.t = ca.t
                 WHERE px <> qx2 OR py <> qy2),
        jn AS (SELECT c.gid, c.t,
                      CAST((qx2 - px) * (r.qy - py)
                           - (qy2 - py) * (r.qx - px) AS HUGEINT)
                          AS cr,
                      CAST((qx2 - px) * (qx2 - px)
                           + (qy2 - py) * (qy2 - py) AS HUGEINT)
                          AS l2
               FROM cand c JOIN rp r ON r.gid = c.gid),
        inl AS (SELECT gid, t,
                       sum(CASE WHEN cr * cr
                                <= {RS_TOL}::HUGEINT * {RS_TOL} * l2
                                THEN 1 ELSE 0 END) AS n_inliers
                FROM jn GROUP BY 1, 2),
        best AS (SELECT gid, t, n_inliers, row_number() OVER (
                     PARTITION BY gid ORDER BY n_inliers DESC, t ASC)
                     AS brk
                 FROM inl),
        np AS (SELECT gid, count(*) AS n_pts FROM rp GROUP BY 1)
        SELECT CAST(best.gid AS BIGINT) AS gid,
               CAST(t AS INT) AS cand_t,
               CAST(n_inliers AS BIGINT) AS n_inliers,
               CAST(n_pts AS BIGINT) AS n_pts
        FROM best JOIN np USING (gid) WHERE brk = 1"""

def q_dtw_daily(spark, sf):
    # dynamic-time-warping distance between every pair of event types'
    # daily count series — the alignment-tolerant series similarity
    # (Fréchet covers trajectories; DTW is its sum-cost cousin for time
    # series): |c_a(i) − c_b(j)| cell costs, the classic 3-way DP.
    # Engine: mapInPandas DP per pair (pairs are tiny, series bounded);
    # oracle: the frechet-style recursive CTE advancing one DP row per
    # recursion step with lateral column-alias chains.
    sers = (spark.read.parquet(f"{sf}/events.parquet")
            .groupBy("event_type",
                     F.expr("unix_timestamp(ts) div 86400").alias("d"))
            .agg(F.count("*").alias("c"))
            .groupBy("event_type")
            .agg(F.expr(
                "transform(array_sort(collect_list(struct(d, c))),"
                " x -> x.c)").alias("cs")))
    a = sers.select(F.col("event_type").alias("ta"),
                    F.col("cs").alias("ca"))
    b = sers.select(F.col("event_type").alias("tb"),
                    F.col("cs").alias("cb"))
    pairs = a.join(b, F.col("ta") < F.col("tb"))

    def mapper(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                ca, cb = list(r.ca), list(r.cb)
                if len(ca) != DTW_N or len(cb) != DTW_N:
                    raise ValueError("dtw_daily: unexpected series len")
                prev = None
                for i in range(DTW_N):
                    cur = [0] * DTW_N
                    for j in range(DTW_N):
                        cost = abs(ca[i] - cb[j])
                        if i == 0 and j == 0:
                            cur[j] = cost
                        elif i == 0:
                            cur[j] = cost + cur[j - 1]
                        elif j == 0:
                            cur[j] = cost + prev[j]
                        else:
                            cur[j] = cost + min(prev[j], cur[j - 1],
                                                prev[j - 1])
                    prev = cur
                rows.append({"type_a": r.ta, "type_b": r.tb,
                             "dtw": prev[-1]})
            yield pd.DataFrame(rows,
                               columns=["type_a", "type_b", "dtw"])

    return (pairs.mapInPandas(mapper,
                              "type_a string, type_b string, dtw long")
            .select("type_a", "type_b", F.col("dtw").cast("bigint")))

def _dtw_daily_sql() -> str:
    n = DTW_N
    cost = "abs(ca[{i}] - cb[j])"
    crow = f"list_transform(range(1, {n + 1}), j -> " + cost + ")"
    r1 = ["dd[1] AS n1"]
    for j in range(2, n + 1):
        r1.append(f"dd[{j}] + n{j - 1} AS n{j}")
    cols = ["dd[1] + r[1] AS n1"]
    for j in range(2, n + 1):
        cols.append(f"dd[{j}] + least(r[{j}], r[{j - 1}], n{j - 1}) "
                    f"AS n{j}")
    nlist = "[" + ", ".join(f"n{j}" for j in range(1, n + 1)) + "]"
    return f"""
        WITH RECURSIVE sers AS (
            SELECT event_type, list(c ORDER BY d) AS cs FROM (
                SELECT event_type,
                       CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
                       count(*) AS c
                FROM events GROUP BY 1, 2)
            GROUP BY 1),
        pp AS (SELECT a.event_type AS ta, a.cs AS ca,
                      b.event_type AS tb, b.cs AS cb
               FROM sers a JOIN sers b ON a.event_type < b.event_type),
        dp AS (
            SELECT ta, tb, ca, cb, 1 AS i, {nlist} AS r
            FROM (SELECT *, {', '.join(r1)}
                  FROM (SELECT *, {crow.format(i=1)} AS dd FROM pp))
            UNION ALL
            SELECT ta, tb, ca, cb, i + 1, {nlist}
            FROM (SELECT *, {', '.join(cols)}
                  FROM (SELECT *, {crow.format(i='i + 1')} AS dd
                        FROM dp WHERE i < {n}))
        )
        SELECT ta AS type_a, tb AS type_b, CAST(r[{n}] AS BIGINT)
                   AS dtw
        FROM dp WHERE i = {n}"""

# ---------------------------------------------------------------------------
# batch 92 — quantile normalization, Markov next-event prediction eval
# ---------------------------------------------------------------------------


def q_quantile_normalize(spark, sf):
    # cross-source quantile normalization of document lengths — the
    # batch-effect correction a mixed-corpus pipeline runs so one
    # crawler's length distribution can't masquerade as quality: each
    # doc's within-source rank r (of n_s) maps to the GLOBAL order
    # statistic at position (r−1)·N div n_s + 1 — all integer, so the
    # mapping is exact and hashable. Two rank windows + one equi-join
    # on position; both rank orders tie-break by doc_id so the mapping
    # is a function.
    from pyspark.sql import Window as Win
    d = _docs(spark, sf).select("doc_id", "source",
                                F.col("n_chars").alias("x"))
    ws = Win.partitionBy("source").orderBy("x", "doc_id")
    wg = Win.orderBy("x", "doc_id")
    ranked = d.withColumn("r", F.row_number().over(ws))
    ns = d.groupBy("source").agg(F.count("*").alias("n_s"))
    N = d.count()
    glob = (d.withColumn("gpos", F.row_number().over(wg))
            .select(F.col("gpos"), F.col("x").alias("gx")))
    pos = (ranked.join(ns, "source")
           .withColumn("gpos", F.expr(
               f"(r - 1) * {N} div n_s + 1")))
    return (pos.join(glob, "gpos")
            .select("doc_id", "source",
                    F.col("x").cast("bigint").alias("n_chars"),
                    F.col("gx").cast("bigint").alias("norm_chars")))

def _quantile_normalize_sql() -> str:
    return """
        WITH d AS (SELECT doc_id, source, n_chars AS x
                   FROM documents),
        nn AS (SELECT count(*) AS n FROM d),
        rk AS (SELECT doc_id, source, x, row_number() OVER (
                   PARTITION BY source ORDER BY x, doc_id) AS r
               FROM d),
        ns AS (SELECT source, count(*) AS n_s FROM d GROUP BY 1),
        gl AS (SELECT x AS gx, row_number() OVER (ORDER BY x, doc_id)
                   AS gpos
               FROM d),
        ps AS (SELECT rk.doc_id, rk.source, rk.x,
                      (r - 1) * nn.n // n_s + 1 AS gpos
               FROM rk JOIN ns USING (source), nn)
        SELECT doc_id, source, CAST(x AS BIGINT) AS n_chars,
               CAST(gx AS BIGINT) AS norm_chars
        FROM ps JOIN gl USING (gpos)"""

def q_rmq_daily(spark, sf):
    # range-minimum index over the daily total-event series: the
    # sparse-table (doubling) construction — level k holds
    # min over [i, i+2^k) built from two level-(k−1) cells — then each
    # hash-drawn query (l, r) is answered with the classic TWO
    # overlapping power-of-two windows. The oracle never builds the
    # table: it takes the direct min over each range — two genuinely
    # different algorithms, equality is the proof. Build = K self-joins
    # on the position index (the log-depth index-construction shape).
    from pyspark.sql import Window as Win
    daily = (spark.read.parquet(f"{sf}/events.parquet")
             .groupBy(F.expr("unix_timestamp(ts) div 86400")
                      .alias("d"))
             .agg(F.count("*").alias("c")))
    lvl = (daily.withColumn("i", F.row_number().over(Win.orderBy("d")))
           .select("i", F.col("c").cast("bigint").alias("m"))
           .localCheckpoint(eager=False))
    tables = {0: lvl}
    for k in range(1, RMQ_K + 1):
        half = 1 << (k - 1)
        prev = tables[k - 1]
        shifted = prev.select((F.col("i") - half).alias("i"),
                              F.col("m").alias("m2"))
        tables[k] = (prev.join(shifted, "i")
                     .select("i", F.least("m", "m2").alias("m"))
                     .localCheckpoint(eager=False))
    import math as _m
    rows = None
    for q, l, r in _rmq_queries():
        k = _m.floor(_m.log2(r - l + 1))
        a = tables[k].filter(F.col("i") == l)
        b = tables[k].filter(F.col("i") == r - (1 << k) + 1)
        one = (a.crossJoin(b.select(F.col("m").alias("mb")))
               .select(F.lit(q).alias("qid"), F.lit(l).alias("l"),
                       F.lit(r).alias("r"),
                       F.least("m", "mb").alias("range_min")))
        rows = one if rows is None else rows.unionByName(one)
    return rows.select(F.col("qid").cast("int"),
                       F.col("l").cast("int"), F.col("r").cast("int"),
                       F.col("range_min").cast("bigint"))

def _rmq_daily_sql() -> str:
    qs = ", ".join(f"({q}, {l}, {r})" for q, l, r in _rmq_queries())
    return f"""
        WITH daily AS (
            SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
                   count(*) AS c
            FROM events GROUP BY 1),
        pos AS (SELECT row_number() OVER (ORDER BY d) AS i,
                       CAST(c AS BIGINT) AS m
                FROM daily),
        qq (qid, l, r) AS (VALUES {qs})
        SELECT CAST(qid AS INT) AS qid, CAST(l AS INT) AS l,
               CAST(r AS INT) AS r,
               (SELECT min(m) FROM pos
                WHERE pos.i >= qq.l AND pos.i <= qq.r) AS range_min
        FROM qq"""

def q_isotonic_daily(spark, sf):
    # monotone (isotonic) regression of each event type's daily series
    # by PARALLEL pool-adjacent-violators: blocks carry exact (sum,
    # len); a round flags every adjacent pair whose means violate
    # (cross-multiplied — no division), groups each maximal violating
    # CHAIN to its head with one conditional running-max window, and
    # merges chains in one aggregation. The PAV optimum is unique and
    # invariant to merge order, so chain-merging converges to the same
    # fit as the sequential stack algorithm (the pytest's independent
    # brute). Converge-or-raise in ISO_ROUNDS; fitted values reported
    # as the exact block rational (sum, len) plus a quantized milli
    # value.
    from pyspark.sql import Window as Win
    daily = (spark.read.parquet(f"{sf}/events.parquet")
             .groupBy("event_type",
                      F.expr("unix_timestamp(ts) div 86400").alias("d"))
             .agg(F.count("*").alias("c")))
    wo = Win.partitionBy("event_type").orderBy("d")
    pts = (daily.withColumn("i", F.row_number().over(wo))
           .localCheckpoint(eager=False))
    blocks = pts.select("event_type", F.col("i").alias("bs"),
                        F.col("i").alias("be"),
                        F.col("c").cast("bigint").alias("s"),
                        F.lit(1).cast("bigint").alias("l"))
    wb = Win.partitionBy("event_type").orderBy("bs")
    whead = (Win.partitionBy("event_type").orderBy("bs")
             .rowsBetween(Win.unboundedPreceding, 0))

    def step(blocks, _):
        flagged = (blocks
                   .withColumn("ps", F.lag("s").over(wb))
                   .withColumn("pl", F.lag("l").over(wb))
                   .withColumn("viol_prev",
                               F.coalesce(F.col("ps") * F.col("l")
                                          > F.col("s") * F.col("pl"),
                                          F.lit(False))))
        grouped = (flagged.withColumn(
            "grp", F.max(F.when(~F.col("viol_prev"), F.col("bs")))
            .over(whead)))
        return (grouped.groupBy("event_type", "grp")
                .agg(F.min("bs").alias("bs"), F.max("be").alias("be"),
                     F.sum("s").alias("s"), F.sum("l").alias("l"),
                     (F.count("*") > 1).alias("merged")))

    # a round without a violation merges nothing: that is the fixpoint
    blocks = iterate(blocks, step, ISO_ROUNDS,
                     until=lambda new, old: new.filter("merged"),
                     what="isotonic_daily")
    fit = (pts.join(blocks, (pts["event_type"] == blocks["event_type"])
                    & (pts["i"] >= F.col("bs"))
                    & (pts["i"] <= F.col("be")))
           .select(pts["event_type"], "d",
                   F.col("c").cast("bigint").alias("c"),
                   F.col("s").alias("fit_num"),
                   F.col("l").alias("fit_den"),
                   F.expr("1000 * s div l").alias("fit_milli")))
    return fit

def _isotonic_daily_sql() -> str:
    def step(r):
        p = r - 1
        return {
            f"f{r}": f"""(SELECT *,
                        coalesce(lag(s) OVER wb * l
                                 > s * lag(l) OVER wb, false)
                            AS viol_prev
                 FROM b{p}
                 WINDOW wb AS (PARTITION BY event_type ORDER BY bs))""",
            f"g{r}": f"""(SELECT *, max(CASE WHEN NOT viol_prev THEN bs END)
                     OVER (PARTITION BY event_type ORDER BY bs
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS grp
                 FROM f{r})""",
            f"b{r}": f"""MATERIALIZED (
            SELECT event_type, min(bs) AS bs, max(be) AS be,
                   sum(s) AS s, sum(l) AS l
            FROM g{r} GROUP BY event_type, grp)"""}

    return (With("""daily AS (
            SELECT event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
                   count(*) AS c
            FROM events GROUP BY 1, 2),
        pts AS (SELECT event_type, d, CAST(c AS BIGINT) AS c,
                       row_number() OVER (PARTITION BY event_type
                           ORDER BY d) AS i
                FROM daily),
        b0 AS (SELECT event_type, i AS bs, i AS be, c AS s,
                      CAST(1 AS BIGINT) AS l
               FROM pts)""")
            .extend(sql_rounds(ISO_ROUNDS, step))
            .select(f"""SELECT p.event_type, p.d, p.c,
               CAST(b.s AS BIGINT) AS fit_num,
               CAST(b.l AS BIGINT) AS fit_den,
               CAST(1000 * b.s // b.l AS BIGINT) AS fit_milli
        FROM pts p JOIN b{ISO_ROUNDS} b
            ON b.event_type = p.event_type
            AND p.i >= b.bs AND p.i <= b.be"""))

def q_mase_seasonal(spark, sf):
    # seasonal-naive forecast evaluation (MASE-style): predict each
    # day as the value 7 days earlier, scale by the one-step naive
    # |Δ| over the SAME index set — both absolute-error sums exact
    # integers, the ratio quantized to milli. The forecast-backtest
    # shape: two lag windows and one rollup, nothing else.
    from pyspark.sql import Window as Win
    daily = (spark.read.parquet(f"{sf}/events.parquet")
             .groupBy("event_type",
                      F.expr("unix_timestamp(ts) div 86400").alias("d"))
             .agg(F.count("*").alias("c")))
    wo = Win.partitionBy("event_type").orderBy("d")
    lagd = (daily.withColumn("c7", F.lag("c", 7).over(wo))
            .withColumn("c1", F.lag("c", 1).over(wo))
            .filter(F.col("c7").isNotNull()))
    return (lagd.groupBy("event_type")
            .agg(F.count("*").alias("n_terms"),
                 F.sum(F.abs(F.col("c") - F.col("c7")))
                 .alias("m_abs_sum"),
                 F.sum(F.abs(F.col("c") - F.col("c1")))
                 .alias("naive_abs_sum"))
            .select("event_type", F.col("n_terms").cast("bigint"),
                    F.col("m_abs_sum").cast("bigint"),
                    F.col("naive_abs_sum").cast("bigint"),
                    F.expr("1000 * m_abs_sum div naive_abs_sum")
                    .cast("bigint").alias("mase_milli")))

def _mase_seasonal_sql() -> str:
    return """
        WITH daily AS (
            SELECT event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
                   count(*) AS c
            FROM events GROUP BY 1, 2),
        lagd AS (SELECT event_type, c,
                        lag(c, 7) OVER wo AS c7,
                        lag(c, 1) OVER wo AS c1
                 FROM daily
                 WINDOW wo AS (PARTITION BY event_type ORDER BY d))
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_terms,
               CAST(sum(abs(c - c7)) AS BIGINT) AS m_abs_sum,
               CAST(sum(abs(c - c1)) AS BIGINT) AS naive_abs_sum,
               CAST(1000 * sum(abs(c - c7)) // sum(abs(c - c1))
                    AS BIGINT) AS mase_milli
        FROM lagd WHERE c7 IS NOT NULL GROUP BY event_type"""

def q_join_size_audit(spark, sf):
    # the join-size side of the CBO audit (selectivity_audit covers
    # conjunctive filters): for three self-equi-joins, compare the
    # optimizer's independence estimate |A|·|B| div ndv(key) against
    # the exact join size Σ n_k² — signed error in ppm, all integers.
    # The skew the estimate misses (Σ n² ≥ N²/ndv by Cauchy–Schwarz)
    # is exactly why AQE skew handling exists; this query measures it.
    def one(df, key, name):
        g = df.groupBy(key).agg(F.count("*").alias("n"))
        return g.agg(
            F.lit(name).alias("join_key"),
            F.sum("n").alias("n_rows"),
            F.count("*").alias("ndv"),
            F.sum(F.col("n") * F.col("n")).alias("true_size")
        ).select(
            "join_key", F.col("n_rows").cast("bigint"),
            F.col("ndv").cast("bigint"),
            F.expr("n_rows * n_rows div ndv").cast("bigint")
            .alias("est_size"),
            F.col("true_size").cast("bigint"),
            F.expr("1000000 * (n_rows * n_rows div ndv - true_size) "
                   "div true_size").cast("bigint").alias("err_ppm"))

    d = _docs(spark, sf)
    e = spark.read.parquet(f"{sf}/events.parquet")
    return (one(d, "lang", "documents.lang")
            .unionByName(one(d, "source", "documents.source"))
            .unionByName(one(e, "user_id", "events.user_id")))

def _join_size_audit_sql() -> str:
    def one(table, key, name):
        return f"""
        SELECT '{name}' AS join_key,
               CAST(sum(n) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS ndv,
               CAST(sum(n) * sum(n) // count(*) AS BIGINT) AS est_size,
               CAST(sum(n * n) AS BIGINT) AS true_size,
               CAST(1000000 * (sum(n) * sum(n) // count(*)
                               - sum(n * n)) // sum(n * n) AS BIGINT)
                   AS err_ppm
        FROM (SELECT {key}, count(*) AS n FROM {table} GROUP BY 1)"""
    return (one("documents", "lang", "documents.lang")
            + " UNION ALL " + one("documents", "source",
                                  "documents.source")
            + " UNION ALL " + one("events", "user_id",
                                  "events.user_id"))

def q_bwt_runs(spark, sf):
    # Burrows–Wheeler transform of each document's first BWT_PREFIX
    # chars (+ a chr(1) sentinel, lexicographically smallest and
    # unique, so every rotation is distinct and the transform is
    # invertible — the pytest RECONSTRUCTS the input by LF mapping,
    # which is the independent proof): rotations by posexplode, one
    # per-doc sort window, last-column concat, plus equal-run counts
    # before/after — the clustering the bzip2 family exploits, here a
    # per-doc compressibility signal. Pure column expressions; the
    # per-doc rotation set is bounded by the prefix length.
    s = F.concat(F.substring("text", 1, BWT_PREFIX), F.lit("\x01"))
    d = _docs(spark, sf).select("doc_id", s.alias("s"),
                                F.length(s).alias("ln"))
    rot = (d.select("doc_id", "s", "ln",
                    F.explode(F.sequence(F.lit(0),
                                         F.col("ln") - 1)).alias("i"))
           .select("doc_id",
                   F.concat(F.expr("substring(s, i + 1, ln - i)"),
                            F.expr("substring(s, 1, i)")).alias("rt")))
    runs = ("size(filter(sequence(2, length({0})), "
            "k -> substring({0}, k, 1) != substring({0}, k - 1, 1)))"
            " + 1")
    bwt = (rot.groupBy("doc_id")
           .agg(F.expr(
               "array_join(transform(array_sort(collect_list(rt)),"
               " x -> substring(x, length(x), 1)), '')").alias("bwt")))
    return (bwt.join(d.select("doc_id", "s"), "doc_id")
            .select("doc_id", "bwt",
                    F.expr(runs.format("s")).cast("int")
                    .alias("runs_raw"),
                    F.expr(runs.format("bwt")).cast("int")
                    .alias("runs_bwt")))

def _bwt_runs_sql() -> str:
    runs = ("len(list_filter(range(2, len({0}) + 1), "
            "k -> substr({0}, k, 1) <> substr({0}, k - 1, 1))) + 1")
    return f"""
        WITH bd AS (SELECT doc_id,
                           substr(text, 1, {BWT_PREFIX}) || chr(1)
                               AS s
                    FROM documents),
        rot AS (SELECT doc_id,
                       substr(s, i + 1, len(s) - i)
                           || substr(s, 1, i) AS rt
                FROM bd, LATERAL (SELECT unnest(range(0, len(s)))
                                  AS i) t),
        bw AS (SELECT doc_id,
                      string_agg(substr(rt, len(rt), 1), ''
                                 ORDER BY rt) AS bwt
               FROM rot GROUP BY 1)
        SELECT bd.doc_id, bwt,
               CAST({runs.format('s')} AS INT) AS runs_raw,
               CAST({runs.format('bwt')} AS INT) AS runs_bwt
        FROM bw JOIN bd USING (doc_id)"""

def q_ear_triangulate(spark, sf):
    # polygon triangulation by ear clipping over minted NON-CONVEX
    # L-shaped hexagons (the rect draws bent into an L, so every ring
    # has a reflex vertex and naive fan triangulation would be wrong):
    # repeatedly clip the LOWEST-INDEX strictly convex vertex whose ear
    # triangle contains no other ring vertex (boundary counts as
    # blocking) — the pinned deterministic spec both the list-state
    # recursive oracle and the python brute replay. Rings are bounded,
    # rows are independent → mapInPandas, zero shuffles. The output
    # carries the conservation invariant in the open: Σ|ear area2| ==
    # |ring shoelace area2|, exact int64.
    xs, ys = _ear_ring()
    p = spark.read.parquet(f"{sf}/part.parquet").selectExpr(
        "p_partkey AS poly_id", f"array({', '.join(xs)}) AS xs",
        f"array({', '.join(ys)}) AS ys")

    def clip(xs, ys):
        xs, ys = list(xs), list(ys)
        tacc, tcnt = 0, 0
        while len(xs) >= 3:
            n = len(xs)
            ear = None
            for j in range(n):
                p_, c_, nx = (j - 1) % n, j, (j + 1) % n
                cr = ((xs[c_] - xs[p_]) * (ys[nx] - ys[p_])
                      - (ys[c_] - ys[p_]) * (xs[nx] - xs[p_]))
                if cr <= 0:
                    continue
                blocked = False
                for k in range(n):
                    if k in (p_, c_, nx):
                        continue
                    c1 = ((xs[c_] - xs[p_]) * (ys[k] - ys[p_])
                          - (ys[c_] - ys[p_]) * (xs[k] - xs[p_]))
                    c2 = ((xs[nx] - xs[c_]) * (ys[k] - ys[c_])
                          - (ys[nx] - ys[c_]) * (xs[k] - xs[c_]))
                    c3 = ((xs[p_] - xs[nx]) * (ys[k] - ys[nx])
                          - (ys[p_] - ys[nx]) * (xs[k] - xs[nx]))
                    if c1 >= 0 and c2 >= 0 and c3 >= 0:
                        blocked = True
                        break
                if not blocked:
                    ear = (j, cr)
                    break
            if ear is None:
                raise ValueError("ear_triangulate: no ear (bad ring)")
            j, cr = ear
            tacc += abs(cr)
            tcnt += 1
            del xs[j], ys[j]
        return tcnt, tacc

    def mapper(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                xs = [int(v) for v in r.xs]
                ys = [int(v) for v in r.ys]
                area2 = abs(sum(
                    xs[i] * ys[(i + 1) % len(xs)]
                    - xs[(i + 1) % len(xs)] * ys[i]
                    for i in range(len(xs))))
                tcnt, tacc = clip(xs, ys)
                rows.append({"poly_id": int(r.poly_id),
                             "n_vertices": len(xs),
                             "n_triangles": tcnt,
                             "tri_area2_sum": tacc,
                             "ring_area2": area2})
            yield pd.DataFrame(rows, columns=[
                "poly_id", "n_vertices", "n_triangles",
                "tri_area2_sum", "ring_area2"])

    return p.mapInPandas(mapper, ("poly_id long, n_vertices int, "
                                  "n_triangles int, tri_area2_sum "
                                  "long, ring_area2 long"))

def _ear_ring() -> tuple[list, list]:
    """Per-vertex texts of the L-shaped hexagon ring over `part`: the rect
    draws bent into an L (x0, x2, x2, x1, x1, x0 / y0, y0, y1, y1, y2, y2)."""
    x0, x1, x2 = (f"({minted._CX} - {minted._HW})", minted._CX,
                  f"({minted._CX} + {minted._HW})")
    y0, y1, y2 = (f"({minted._CY} - {minted._HH})", minted._CY,
                  f"({minted._CY} + {minted._HH})")
    return [x0, x2, x2, x1, x1, x0], [y0, y0, y1, y1, y2, y2]

def _ear_triangulate_sql() -> str:
    xs, ys = _ear_ring()
    return f"""
        WITH RECURSIVE ply AS (
            SELECT p_partkey AS pid, [{', '.join(xs)}]::BIGINT[] AS xs,
                   [{', '.join(ys)}]::BIGINT[] AS ys
            FROM part),
        ring AS (SELECT pid,
                        abs(xs[1]*ys[2]-xs[2]*ys[1] + xs[2]*ys[3]-xs[3]*ys[2]
                          + xs[3]*ys[4]-xs[4]*ys[3] + xs[4]*ys[5]-xs[5]*ys[4]
                          + xs[5]*ys[6]-xs[6]*ys[5] + xs[6]*ys[1]-xs[1]*ys[6])
                            AS ring_area2
                 FROM ply),
        est AS (
            SELECT pid, xs, ys, CAST(0 AS BIGINT) AS tacc, 0 AS tcnt
            FROM ply
            UNION ALL
            SELECT s.pid,
                   s.xs[:e.j-1] || s.xs[e.j+1:],
                   s.ys[:e.j-1] || s.ys[e.j+1:],
                   s.tacc + e.a2, s.tcnt + 1
            FROM est s,
            LATERAL (
                SELECT j,
                       abs((s.xs[cur]-s.xs[prv])*(s.ys[nxt]-s.ys[prv])
                         - (s.ys[cur]-s.ys[prv])*(s.xs[nxt]-s.xs[prv]))
                           AS a2
                FROM (SELECT j,
                             CASE WHEN j = 1 THEN len(s.xs)
                                  ELSE j - 1 END AS prv,
                             j AS cur,
                             CASE WHEN j = len(s.xs) THEN 1
                                  ELSE j + 1 END AS nxt
                      FROM (SELECT unnest(range(1, len(s.xs) + 1))
                                AS j)) c
                WHERE (s.xs[cur]-s.xs[prv])*(s.ys[nxt]-s.ys[prv])
                    - (s.ys[cur]-s.ys[prv])*(s.xs[nxt]-s.xs[prv]) > 0
                  AND NOT EXISTS (
                    SELECT 1 FROM (SELECT unnest(
                        range(1, len(s.xs) + 1)) AS k)
                    WHERE k NOT IN (prv, cur, nxt)
                      AND (s.xs[cur]-s.xs[prv])*(s.ys[k]-s.ys[prv])
                        - (s.ys[cur]-s.ys[prv])*(s.xs[k]-s.xs[prv])
                            >= 0
                      AND (s.xs[nxt]-s.xs[cur])*(s.ys[k]-s.ys[cur])
                        - (s.ys[nxt]-s.ys[cur])*(s.xs[k]-s.xs[cur])
                            >= 0
                      AND (s.xs[prv]-s.xs[nxt])*(s.ys[k]-s.ys[nxt])
                        - (s.ys[prv]-s.ys[nxt])*(s.xs[k]-s.xs[nxt])
                            >= 0)
                ORDER BY j LIMIT 1) e
            WHERE len(s.xs) >= 3)
        SELECT est.pid AS poly_id, CAST(6 AS INT) AS n_vertices,
               CAST(tcnt AS INT) AS n_triangles,
               CAST(tacc AS BIGINT) AS tri_area2_sum,
               CAST(ring_area2 AS BIGINT) AS ring_area2
        FROM est JOIN ring ON ring.pid = est.pid
        WHERE len(est.xs) = 2"""

def q_hash_collision_audit(spark, sf):
    # feature-hashing collision audit: hash three key spaces (vocab
    # tokens, user ids, doc ids) into FH_BUCKETS buckets with the
    # portable hash and measure what the hashing trick actually costs —
    # used buckets, keys sharing a bucket, the hottest bucket. One
    # groupBy per space, exact integers (the birthday arithmetic is the
    # pytest's job).
    from geobuf_spark.functions import phash

    def one(df, col, name):
        keys = df.select(F.col(col).cast("string").alias("k")).distinct()
        b = keys.select(
            F.pmod(phash.hash60_parts(F.lit("fh"), F.col("k")),
                   F.lit(FH_BUCKETS)).alias("b"))
        g = b.groupBy("b").agg(F.count("*").alias("n"))
        return g.agg(
            F.lit(name).alias("space"),
            F.sum("n").alias("n_keys"),
            F.count("*").alias("n_used"),
            F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0))
            .alias("n_colliding"),
            F.max("n").alias("max_bucket")
        ).select("space", F.col("n_keys").cast("bigint"),
                 F.col("n_used").cast("bigint"),
                 F.col("n_colliding").cast("bigint"),
                 F.col("max_bucket").cast("bigint"))

    d = _docs(spark, sf)
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
    e = spark.read.parquet(f"{sf}/events.parquet")
    return (one(toks, "tok", "tokens")
            .unionByName(one(e, "user_id", "users"))
            .unionByName(one(d, "doc_id", "docs")))

def _hash_collision_audit_sql() -> str:
    from geobuf_spark.functions import phash

    def one(src, name):
        h = phash.sql_hash60_parts("'fh'", "k")
        return f"""
        SELECT '{name}' AS space,
               CAST(sum(n) AS BIGINT) AS n_keys,
               CAST(count(*) AS BIGINT) AS n_used,
               CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
                   AS n_colliding,
               CAST(max(n) AS BIGINT) AS max_bucket
        FROM (SELECT {h} % {FH_BUCKETS} AS b, count(*) AS n
              FROM (SELECT DISTINCT CAST(k AS VARCHAR) AS k
                    FROM ({src}) t(k)) GROUP BY 1)"""

    return (one("SELECT unnest(string_split(text, ' ')) FROM documents",
                "tokens")
            + " UNION ALL "
            + one("SELECT user_id FROM events", "users")
            + " UNION ALL "
            + one("SELECT doc_id FROM documents", "docs"))

def q_convex_layers(spark, sf):
    # onion peeling per cluster — convex-hull DATA DEPTH (each layer
    # strips the strict hull corners of what remains; the layer count
    # is the cluster's depth, the unpeelable core its interior mass):
    # reuses the batch-84 strict-corner hull semantics, so "corner"
    # means exactly what the O(n³) oracle's hull-edge endpoints mean.
    # Peeling stops when fewer than 3 strict corners remain (collinear
    # leftovers are core). Bounded groups → in-task chain via
    # applyInPandas; the oracle peels with CL_ROUNDS fixed MATERIALIZED
    # rounds of the independent edge test.
    from geobuf_spark.operators.hull import _chain
    p = (minted.minted_cluster_points_q(spark, sf)
         .withColumn("gid", F.col("doc_id") % minted.N_CLUSTERS))
    schema = "gid long, n_pts long, n_layers int, core_pts long"

    def peel(pdf):
        import pandas as pd
        gid = int(pdf["gid"].iloc[0])
        pts = list({(int(x), int(y))
                    for x, y in zip(pdf["qx"], pdf["qy"])})
        n0 = len(pts)
        layers = 0
        while True:
            hull = _chain(pts)
            if not hull:
                break
            layers += 1
            hs = set(hull)
            pts = [q for q in pts if q not in hs]
        return pd.DataFrame([{"gid": gid, "n_pts": n0,
                              "n_layers": layers,
                              "core_pts": len(pts)}])

    return p.groupBy("gid").applyInPandas(peel, schema)

def _convex_layers_sql() -> str:
    def edges(src):
        cross = "(b.qx - a.qx) * (r.qy - a.qy) - (b.qy - a.qy) * (r.qx - a.qx)"
        dot = "(r.qx - a.qx) * (b.qx - a.qx) + (r.qy - a.qy) * (b.qy - a.qy)"
        len2 = "(b.qx - a.qx) * (b.qx - a.qx) + (b.qy - a.qy) * (b.qy - a.qy)"
        return f"""(SELECT a.gid, a.qx AS px, a.qy AS py,
                           b.qx AS qx2, b.qy AS qy2
                    FROM {src} a JOIN {src} b ON a.gid = b.gid
                        AND (a.qx <> b.qx OR a.qy <> b.qy)
                    WHERE NOT EXISTS (
                        SELECT 1 FROM {src} r
                        WHERE r.gid = a.gid
                          AND (r.qx <> a.qx OR r.qy <> a.qy)
                          AND (r.qx <> b.qx OR r.qy <> b.qy)
                          AND NOT ({cross} > 0
                                   OR ({cross} = 0 AND {dot} > 0
                                       AND {dot} < {len2}))))"""

    steps = []
    for r in range(1, CL_ROUNDS + 1):
        p = r - 1
        steps.append(f"""
        la{r} AS MATERIALIZED (
            SELECT gid, px, py, qx2, qy2 FROM {edges(f'lp{p}')} e),
        le{r} AS (SELECT gid, px, py, qx2, qy2 FROM (
                      SELECT *, count(*) OVER (PARTITION BY gid) AS ec
                      FROM la{r}) WHERE ec >= 3),
        lc{r} AS (SELECT DISTINCT gid, px AS qx, py AS qy FROM le{r}
                  UNION SELECT DISTINCT gid, qx2, qy2 FROM le{r}),
        lv{r} AS (SELECT DISTINCT gid FROM le{r}),
        lp{r} AS MATERIALIZED (
            SELECT p.gid, p.qx, p.qy FROM lp{p} p
            WHERE NOT EXISTS (SELECT 1 FROM lc{r} c
                              WHERE c.gid = p.gid AND c.qx = p.qx
                                AND c.qy = p.qy))""")
    lay = " UNION ALL ".join(f"SELECT gid, 1 AS one FROM lv{r}"
                             for r in range(1, CL_ROUNDS + 1))
    return f"""
        WITH lp0 AS MATERIALIZED (
            SELECT DISTINCT doc_id % {minted.N_CLUSTERS} AS gid, qx, qy
            FROM ({minted.sql_minted_cluster_points_q()})),
        {','.join(steps)},
        nl AS (SELECT gid, count(*) AS n_layers FROM ({lay})
               GROUP BY 1),
        n0 AS (SELECT gid, count(*) AS n_pts FROM lp0 GROUP BY 1),
        core AS (SELECT gid, count(*) AS c FROM lp{CL_ROUNDS}
                 GROUP BY 1)
        SELECT n0.gid AS gid, CAST(n_pts AS BIGINT) AS n_pts,
               CAST(coalesce(n_layers, 0) AS INT) AS n_layers,
               CAST(coalesce(core.c, 0) AS BIGINT) AS core_pts
        FROM n0 LEFT JOIN nl USING (gid) LEFT JOIN core USING (gid)"""

def _soundex_duck(col):
    cases = " ".join(f"WHEN x = '{k}' THEN '{v}'"
                     for k, v in _SOUNDEX.items())
    seq = (f"list_filter(list_transform(string_split({col}, ''), "
           f"x -> CASE {cases} ELSE '~' END), x -> x != '~')")
    coll = (f"list_filter({seq}, (x, i) -> i = 1 OR x != {seq}[i - 1])")
    first_hw = f"substr({col}, 1, 1) IN ('h', 'w')"
    tail = (f"CASE WHEN {first_hw} THEN {coll} "
            f"ELSE {coll}[2:] END")
    digits = f"list_filter({tail}, x -> x != '0')"
    return (f"upper(substr({col}, 1, 1)) || "
            f"rpad(coalesce(array_to_string(({digits})[1:3], ''), "
            f"''), 3, '0')")

def q_soundex_groups(spark, sf):
    # Soundex phonetic coding of the vocabulary — the classic blocking
    # key for name-like entity resolution, implemented as PURE column
    # expressions (letter→digit map, h/w-transparent adjacent collapse,
    # vowel separators, 3-digit zero-padded code) in both engines; the
    # pytest's textbook sequential coder plus the standard published
    # examples (Robert→R163, Tymczak→T522, Pfister→P236) pin the spec.
    toks = (_docs(spark, sf)
            .select(F.explode(F.split("text", " ")).alias("tok"))
            .groupBy("tok").agg(F.count("*").alias("n_occ")))
    from pyspark.sql import Window as Win
    coded = toks.withColumn("soundex", F.expr(_soundex_spark("tok")))
    w = Win.partitionBy("soundex")
    return (coded.withColumn("group_size", F.count("*").over(w))
            .select("tok", "soundex",
                    F.col("n_occ").cast("bigint"),
                    F.col("group_size").cast("int")))

def _soundex_groups_sql() -> str:
    sx = _soundex_duck("tok")
    return f"""
        WITH toks AS (SELECT tok, count(*) AS n_occ FROM (
                SELECT unnest(string_split(text, ' ')) AS tok
                FROM documents) GROUP BY 1),
        coded AS (SELECT tok, n_occ, {sx} AS soundex FROM toks)
        SELECT tok, soundex, CAST(n_occ AS BIGINT) AS n_occ,
               CAST(count(*) OVER (PARTITION BY soundex) AS INT)
                   AS group_size
        FROM coded"""

def q_source_overlap(spark, sf):
    # pairwise histogram-intersection similarity between sources over
    # their language mix — the distribution-overlap audit that says
    # which crawlers feed interchangeable content: inter(a,b) =
    # Σ_lang min(n_a,lang, n_b,lang), normalized by the smaller source
    # in exact ppm. One rollup + one language equi-join (never a full
    # cross of rows — only the bounded histogram table self-joins).
    h = (_docs(spark, sf).groupBy("source", "lang")
         .agg(F.count("*").alias("n")))
    tot = h.groupBy("source").agg(F.sum("n").alias("tot"))
    a = h.select(F.col("source").alias("src_a"), "lang",
                 F.col("n").alias("na"))
    b = h.select(F.col("source").alias("src_b"), "lang",
                 F.col("n").alias("nb"))
    inter = (a.join(b, "lang")
             .filter(F.col("src_a") < F.col("src_b"))
             .groupBy("src_a", "src_b")
             .agg(F.sum(F.least("na", "nb")).alias("inter")))
    return (inter
            .join(tot.withColumnRenamed("source", "src_a")
                  .withColumnRenamed("tot", "tot_a"), "src_a")
            .join(tot.withColumnRenamed("source", "src_b")
                  .withColumnRenamed("tot", "tot_b"), "src_b")
            .select("src_a", "src_b",
                    F.col("inter").cast("bigint"),
                    F.col("tot_a").cast("bigint"),
                    F.col("tot_b").cast("bigint"),
                    F.expr("1000000 * inter div least(tot_a, tot_b)")
                    .cast("bigint").alias("overlap_ppm")))

def _source_overlap_sql() -> str:
    return """
        WITH h AS (SELECT source, lang, count(*) AS n FROM documents
                   GROUP BY 1, 2),
        tt AS (SELECT source, sum(n) AS tot FROM h GROUP BY 1),
        iv AS (SELECT a.source AS src_a, b.source AS src_b,
                      sum(least(a.n, b.n)) AS inter
               FROM h a JOIN h b ON a.lang = b.lang
                   AND a.source < b.source
               GROUP BY 1, 2)
        SELECT src_a, src_b, CAST(inter AS BIGINT) AS inter,
               CAST(ta.tot AS BIGINT) AS tot_a,
               CAST(tb.tot AS BIGINT) AS tot_b,
               CAST(1000000 * inter // least(ta.tot, tb.tot)
                    AS BIGINT) AS overlap_ppm
        FROM iv JOIN tt ta ON ta.source = iv.src_a
                JOIN tt tb ON tb.source = iv.src_b"""

# ---------------------------------------------------------------------------
# batch 101 — weighted interval scheduling DP, longest increasing
# subsequence
# ---------------------------------------------------------------------------


def q_weighted_schedule(spark, sf):
    # weighted interval scheduling — the DP-optimal sibling of
    # interval_schedule's greedy (greedy is optimal only for COUNTING;
    # with values the classic best[i] = max(best[i−1], w_i + best[p_i])
    # recurrence is required): same event-anchored jobs, value = the
    # event's cents. p(i) — the last job ending strictly before job i
    # starts — is ONE backward as-of-style join; the DP itself rides
    # applyInPandas per user, and the oracle replays it with a
    # LIST-state recursion (bests[] grows one slot per step, random
    # access to bests[p] is a list index). Output per user: jobs, DP
    # optimum in cents, and the greedy COUNT for contrast.
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("t0"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("w"))
    iv = e.select("user_id", "event_id", "t0",
                  (F.col("t0") + 1800 + F.col("event_id") % 7200)
                  .alias("t1"), "w")
    schema = ("user_id long, n_jobs long, best_cents long, "
              "n_greedy long")

    def dp(pdf):
        import pandas as pd
        pdf = pdf.sort_values(["t1", "t0", "event_id"],
                              kind="mergesort")
        t0s = pdf["t0"].astype("int64").tolist()
        t1s = pdf["t1"].astype("int64").tolist()
        ws = pdf["w"].astype("int64").tolist()
        n = len(t0s)
        best = [0] * (n + 1)
        for i in range(1, n + 1):
            # p(i): last j (1-based) with t1[j] < t0[i] — ends sorted
            p = 0
            for j in range(i - 1, 0, -1):
                if t1s[j - 1] < t0s[i - 1]:
                    p = j
                    break
            best[i] = max(best[i - 1], ws[i - 1] + best[p])
        cur, cnt = None, 0
        for a, b in zip(t0s, t1s):
            if cur is None or a > cur:
                cnt += 1
                cur = b
        return pd.DataFrame([{"user_id": int(pdf["user_id"].iloc[0]),
                              "n_jobs": n, "best_cents": best[n],
                              "n_greedy": cnt}])

    return iv.groupBy("user_id").applyInPandas(dp, schema)

def _weighted_schedule_sql() -> str:
    return """
        WITH RECURSIVE wiv AS (
            SELECT user_id, event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS t0,
                   CAST(floor(epoch(ts)) AS BIGINT) + 1800
                       + event_id % 7200 AS t1,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS w
            FROM events),
        wrk AS (SELECT user_id, t0, t1, w, row_number() OVER (
                    PARTITION BY user_id
                    ORDER BY t1, t0, event_id) AS rn
                FROM wiv),
        wp AS (SELECT a.user_id, a.rn,
                      coalesce(max(b.rn), 0) AS p
               FROM wrk a LEFT JOIN wrk b ON b.user_id = a.user_id
                   AND b.rn < a.rn AND b.t1 < a.t0
               GROUP BY 1, 2),
        wst AS (
            SELECT user_id, 0 AS rn, [CAST(0 AS BIGINT)] AS bests
            FROM (SELECT DISTINCT user_id FROM wrk)
            UNION ALL
            SELECT s.user_id, s.rn + 1,
                   list_append(s.bests,
                       greatest(s.bests[s.rn + 1],
                                r.w + s.bests[p.p + 1]))
            FROM wst s
            JOIN wrk r ON r.user_id = s.user_id AND r.rn = s.rn + 1
            JOIN wp p ON p.user_id = s.user_id AND p.rn = s.rn + 1),
        wlast AS (SELECT user_id, rn, bests[rn + 1] AS best,
                         row_number() OVER (PARTITION BY user_id
                             ORDER BY rn DESC) AS rr
                  FROM wst),
        wgreedy AS (
            SELECT user_id, 1 AS rn, t1 AS cur_end, 1 AS cnt
            FROM wrk WHERE rn = 1
            UNION ALL
            SELECT r.user_id, r.rn,
                   CASE WHEN r.t0 > g.cur_end THEN r.t1
                        ELSE g.cur_end END,
                   g.cnt + CASE WHEN r.t0 > g.cur_end THEN 1
                                ELSE 0 END
            FROM wgreedy g JOIN wrk r ON r.user_id = g.user_id
                AND r.rn = g.rn + 1),
        wglast AS (SELECT user_id, cnt, row_number() OVER (
                       PARTITION BY user_id ORDER BY rn DESC) AS rr
                   FROM wgreedy)
        SELECT l.user_id, CAST(l.rn AS BIGINT) AS n_jobs,
               CAST(l.best AS BIGINT) AS best_cents,
               CAST(g.cnt AS BIGINT) AS n_greedy
        FROM wlast l JOIN wglast g ON g.user_id = l.user_id
            AND g.rr = 1
        WHERE l.rr = 1"""

def q_lis_daily(spark, sf):
    # longest strictly-increasing subsequence of each event type's
    # daily series — the monotone-trend persistence length (how long a
    # growth story can be told without cherry-picking reversals; the
    # Erdős–Szekeres counterpart of the runs tests). O(n²) DP per
    # bounded series via mapInPandas; LIST-state recursion oracle
    # (lis[] grows one slot per step, the inner max is a list
    # comprehension over earlier slots).
    sers = (spark.read.parquet(f"{sf}/events.parquet")
            .groupBy("event_type",
                     F.expr("unix_timestamp(ts) div 86400").alias("d"))
            .agg(F.count("*").alias("c"))
            .groupBy("event_type")
            .agg(F.expr(
                "transform(array_sort(collect_list(struct(d, c))),"
                " x -> x.c)").alias("cs")))

    def mapper(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                cs = [int(v) for v in r.cs]
                n = len(cs)
                lis = [1] * n
                for i in range(n):
                    for j in range(i):
                        if cs[j] < cs[i]:
                            lis[i] = max(lis[i], lis[j] + 1)
                rows.append({"event_type": r.event_type,
                             "n_days": n, "lis_len": max(lis)})
            yield pd.DataFrame(rows, columns=["event_type", "n_days",
                                              "lis_len"])

    return sers.mapInPandas(
        mapper, "event_type string, n_days int, lis_len int")

def _lis_daily_sql() -> str:
    return """
        WITH RECURSIVE lsr AS (
            SELECT event_type, list(c ORDER BY d) AS cs FROM (
                SELECT event_type,
                       CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
                       count(*) AS c
                FROM events GROUP BY 1, 2)
            GROUP BY 1),
        lst AS (
            SELECT event_type, cs, 0 AS i, []::INT[] AS lis
            FROM lsr
            UNION ALL
            SELECT event_type, cs, i + 1,
                   list_append(lis,
                       1 + coalesce(list_max(list_filter(
                           list_transform(range(1, i + 1),
                               j -> CASE WHEN cs[j] < cs[i + 1]
                                         THEN lis[j] END),
                           x -> x IS NOT NULL)), 0))
            FROM lst WHERE i < len(cs))
        SELECT event_type, CAST(len(cs) AS INT) AS n_days,
               CAST(list_max(lis) AS INT) AS lis_len
        FROM lst WHERE i = len(cs)"""

def q_runs_test_daily(spark, sf):
    # Wald–Wolfowitz runs test ingredients for each event type's daily
    # series, exactly: sign = above/below the type's EXACT median
    # (two-phase-median semantics — lower median; equal-to-median days
    # are excluded, the standard treatment), observed run count via one
    # lag window, and the expected-runs rational 1 + 2·n1·n2/(n1+n2)
    # as (num, den) — too few runs ⇒ trending, too many ⇒
    # oscillating; the audit behind dow_residual_outliers' whiteness
    # assumption.
    from pyspark.sql import Window as Win
    daily = (spark.read.parquet(f"{sf}/events.parquet")
             .groupBy("event_type",
                      F.expr("unix_timestamp(ts) div 86400").alias("d"))
             .agg(F.count("*").alias("c")))
    wm = Win.partitionBy("event_type").orderBy("c", "d")
    med = (daily.withColumn("rn", F.row_number().over(wm))
           .withColumn("nn", F.count("*").over(
               Win.partitionBy("event_type")))
           .filter(F.col("rn") == F.expr("(nn + 1) div 2"))
           .select("event_type", F.col("c").alias("med")))
    signed = (daily.join(med, "event_type")
              .filter(F.col("c") != F.col("med"))
              .withColumn("s", (F.col("c") > F.col("med"))
                          .cast("int")))
    wo = Win.partitionBy("event_type").orderBy("d")
    runs = (signed.withColumn("ps", F.lag("s").over(wo))
            .withColumn("new_run",
                        (F.col("ps").isNull()
                         | (F.col("s") != F.col("ps"))).cast("long"))
            .groupBy("event_type")
            .agg(F.sum("new_run").alias("n_runs"),
                 F.sum("s").alias("n1"),
                 F.sum(F.expr("1 - s")).alias("n2")))
    return runs.select(
        "event_type", F.col("n_runs").cast("bigint"),
        F.col("n1").cast("bigint"), F.col("n2").cast("bigint"),
        (F.col("n1") + F.col("n2") + 2 * F.col("n1") * F.col("n2"))
        .cast("bigint").alias("exp_num"),
        (F.col("n1") + F.col("n2")).cast("bigint").alias("exp_den"))

def _runs_test_daily_sql() -> str:
    return """
        WITH daily AS (
            SELECT event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
                   count(*) AS c
            FROM events GROUP BY 1, 2),
        med AS (SELECT event_type, c AS med FROM (
                    SELECT event_type, c,
                           row_number() OVER (PARTITION BY event_type
                               ORDER BY c, d) AS rn,
                           count(*) OVER (PARTITION BY event_type)
                               AS nn
                    FROM daily) WHERE rn = (nn + 1) // 2),
        signed AS (SELECT daily.event_type, d,
                          CASE WHEN c > med THEN 1 ELSE 0 END AS s
                   FROM daily JOIN med USING (event_type)
                   WHERE c <> med),
        rr AS (SELECT event_type, s,
                      CASE WHEN lag(s) OVER wo IS NULL
                            OR s <> lag(s) OVER wo THEN 1 ELSE 0 END
                          AS new_run
               FROM signed
               WINDOW wo AS (PARTITION BY event_type ORDER BY d))
        SELECT event_type,
               CAST(sum(new_run) AS BIGINT) AS n_runs,
               CAST(sum(s) AS BIGINT) AS n1,
               CAST(sum(1 - s) AS BIGINT) AS n2,
               CAST(sum(s) + sum(1 - s)
                    + 2 * sum(s) * sum(1 - s) AS BIGINT) AS exp_num,
               CAST(sum(s) + sum(1 - s) AS BIGINT) AS exp_den
        FROM rr GROUP BY event_type"""

# ---------------------------------------------------------------------------
# batch 104 — Hodges–Lehmann location, Qn-style robust scale
# ---------------------------------------------------------------------------


def q_hodges_lehmann(spark, sf):
    # Hodges–Lehmann pseudo-median of each type's daily counts: the
    # lower median of all pairwise Walsh averages (x_i + x_j)/2 over
    # i ≤ j — the location estimator dual to the Wilcoxon test (30%
    # breakdown, far more efficient than the median at the Gaussian).
    # Exact: sums x_i + x_j are integers, ordered by (sum, i, j), the
    # selected element reported as (sum, 2) — no halving, no floats.
    # Pair set is days², bounded at any SF.
    from pyspark.sql import Window as Win
    daily = (spark.read.parquet(f"{sf}/events.parquet")
             .groupBy("event_type",
                      F.expr("unix_timestamp(ts) div 86400").alias("d"))
             .agg(F.count("*").alias("c")))
    a = daily.select("event_type", F.col("d").alias("da"),
                     F.col("c").alias("ca"))
    b = daily.select("event_type", F.col("d").alias("db"),
                     F.col("c").alias("cb"))
    pairs = (a.join(b, "event_type")
             .filter(F.col("da") <= F.col("db"))
             .select("event_type",
                     (F.col("ca") + F.col("cb")).alias("s"),
                     "da", "db"))
    w = Win.partitionBy("event_type").orderBy("s", "da", "db")
    ranked = (pairs.withColumn("rn", F.row_number().over(w))
              .withColumn("np", F.count("*").over(
                  Win.partitionBy("event_type"))))
    return (ranked.filter(F.col("rn") == F.expr("(np + 1) div 2"))
            .select("event_type",
                    F.col("np").cast("bigint").alias("n_pairs"),
                    F.col("s").cast("bigint").alias("hl_num"),
                    F.lit(2).cast("bigint").alias("hl_den")))

def _hodges_lehmann_sql() -> str:
    return """
        WITH daily AS (
            SELECT event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
                   count(*) AS c
            FROM events GROUP BY 1, 2),
        pairs AS (
            SELECT a.event_type, a.c + b.c AS s, a.d AS da, b.d AS db
            FROM daily a JOIN daily b ON a.event_type = b.event_type
                AND a.d <= b.d),
        rk AS (SELECT event_type, s,
                      row_number() OVER (PARTITION BY event_type
                          ORDER BY s, da, db) AS rn,
                      count(*) OVER (PARTITION BY event_type) AS np
               FROM pairs)
        SELECT event_type, CAST(np AS BIGINT) AS n_pairs,
               CAST(s AS BIGINT) AS hl_num,
               CAST(2 AS BIGINT) AS hl_den
        FROM rk WHERE rn = (np + 1) // 2"""

def q_qn_scale(spark, sf):
    # the Qn robust-scale core for each type's daily counts: the k-th
    # smallest pairwise absolute difference |x_i − x_j| (i < j) with
    # k = C(h,2), h = n div 2 + 1 — Rousseeuw–Croux's 50%-breakdown
    # dispersion that, unlike MAD (outlier_mad), needs no location
    # estimate and stays efficient at the Gaussian. Exact integer
    # selection, deterministic ties by (diff, i, j); the consistency
    # CONSTANT is deliberately omitted (it is irrational) — the core
    # statistic is the exact part.
    from pyspark.sql import Window as Win
    daily = (spark.read.parquet(f"{sf}/events.parquet")
             .groupBy("event_type",
                      F.expr("unix_timestamp(ts) div 86400").alias("d"))
             .agg(F.count("*").alias("c")))
    a = daily.select("event_type", F.col("d").alias("da"),
                     F.col("c").alias("ca"))
    b = daily.select("event_type", F.col("d").alias("db"),
                     F.col("c").alias("cb"))
    pairs = (a.join(b, "event_type")
             .filter(F.col("da") < F.col("db"))
             .select("event_type",
                     F.abs(F.col("ca") - F.col("cb")).alias("ad"),
                     "da", "db"))
    w = Win.partitionBy("event_type").orderBy("ad", "da", "db")
    nd = daily.groupBy("event_type").agg(F.count("*").alias("n"))
    ranked = (pairs.withColumn("rn", F.row_number().over(w))
              .join(nd, "event_type")
              .withColumn("k", F.expr(
                  "((n div 2 + 1) * (n div 2)) div 2")))
    return (ranked.filter(F.col("rn") == F.col("k"))
            .select("event_type", F.col("n").cast("bigint")
                    .alias("n_days"),
                    F.col("k").cast("bigint").alias("k"),
                    F.col("ad").cast("bigint").alias("qn_core")))

def _qn_scale_sql() -> str:
    return """
        WITH daily AS (
            SELECT event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
                   count(*) AS c
            FROM events GROUP BY 1, 2),
        pairs AS (
            SELECT a.event_type, abs(a.c - b.c) AS ad,
                   a.d AS da, b.d AS db
            FROM daily a JOIN daily b ON a.event_type = b.event_type
                AND a.d < b.d),
        nd AS (SELECT event_type, count(*) AS n FROM daily
               GROUP BY 1),
        rk AS (SELECT p.event_type, ad, nd.n,
                      ((nd.n // 2 + 1) * (nd.n // 2)) // 2 AS k,
                      row_number() OVER (PARTITION BY p.event_type
                          ORDER BY ad, da, db) AS rn
               FROM pairs p JOIN nd ON nd.event_type = p.event_type)
        SELECT event_type, CAST(n AS BIGINT) AS n_days,
               CAST(k AS BIGINT) AS k,
               CAST(ad AS BIGINT) AS qn_core
        FROM rk WHERE rn = k"""


def oracles() -> dict[str, str]:
    """DuckDB oracle twins for this module's queries."""
    out = {
        "haar_energy": _haar_energy_sql(),
        "negative_samples": _negative_samples_sql(),
        "bandit_replay": _bandit_replay_sql(),
        "stump_split": _stump_split_sql(),
        "topk_two_level": _topk_two_level_sql(),
        "did_purchases": _did_purchases_sql(),
        "poisson_bootstrap": _poisson_bootstrap_sql(),
        "theil_sen_daily": _theil_sen_daily_sql(),
        "compaction_plan": _compaction_plan_sql(),
        "simpsons_paradox": _simpsons_paradox_sql(),
        "lz_factors": _lz_factors_sql(),
        "huffman_cost": _huffman_cost_sql(),
        "ransac_line": _ransac_line_sql(),
        "dtw_daily": _dtw_daily_sql(),
        "quantile_normalize": _quantile_normalize_sql(),
        "rmq_daily": _rmq_daily_sql(),
        "isotonic_daily": _isotonic_daily_sql(),
        "mase_seasonal": _mase_seasonal_sql(),
        "join_size_audit": _join_size_audit_sql(),
        "bwt_runs": _bwt_runs_sql(),
        "ear_triangulate": _ear_triangulate_sql(),
        "hash_collision_audit": _hash_collision_audit_sql(),
        "convex_layers": _convex_layers_sql(),
        "soundex_groups": _soundex_groups_sql(),
        "source_overlap": _source_overlap_sql(),
        "weighted_schedule": _weighted_schedule_sql(),
        "lis_daily": _lis_daily_sql(),
        "runs_test_daily": _runs_test_daily_sql(),
        "hodges_lehmann": _hodges_lehmann_sql(),
        "qn_scale": _qn_scale_sql(),
    }
    return out
