"""Registry family: event-time, session, as-of and interval queries.

Split out of the former __spark_entry__.py monolith (VERDICT r4 #2);
query functions keep their original text, oracles sit beside them in
this module's oracles(). Driver-window ORDER lives in window.py, not here.

Queries here (38):
active_users_7d, asof_nearest, asof_purchase_view,
attribution_compare, churn_rollup, click_attribution, cusum_days,
dwell_event_mix, dwell_session_overlap, event_motifs_3, event_rle,
event_transitions, events_enriched, events_window, funnel_conversion,
interval_schedule, interval_union_time, late_arrival_hist,
max_burst_window, multi_grain_actives, novelty_weekly, outage_gaps,
peak_concurrency, pip_versioned, range_join_sessions,
retention_cohorts, revisit_cadence, running_total, scd2_asof_enrich,
scd2_history, session_paths, sessionize, sliding_window,
time_to_purchase, time_weighted_value, token_bucket,
watermark_policy_sim, wow_change
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


def q_funnel_conversion(spark, sf):
    # ordered event-funnel attribution per user: first 'view', first
    # 'click' strictly after it, first 'purchase' strictly after that.
    # Three stacked unordered window-mins over ONE user_id partitioning
    # (a single exchange; the final groupBy reuses it) — no per-user
    # event-list collection, no self-joins. -1 sentinels keep the epoch
    # columns non-null for the driver hash.
    from pyspark.sql import Window
    e = spark.read.parquet(f"{sf}/events.parquet")
    w = Window.partitionBy("user_id")
    d = e.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w))
    d = d.withColumn(
        "t2", F.min(F.when((F.col("event_type") == "click")
                           & (F.col("ts") > F.col("t1")), F.col("ts"))).over(w))
    d = d.withColumn(
        "t3", F.min(F.when((F.col("event_type") == "purchase")
                           & (F.col("ts") > F.col("t2")), F.col("ts"))).over(w))
    g = d.groupBy("user_id").agg(F.min("t1").alias("t1"),
                                 F.min("t2").alias("t2"),
                                 F.min("t3").alias("t3"))

    def ep(c):
        return F.coalesce(F.unix_timestamp(F.col(c)), F.lit(-1)).cast("bigint")

    stage = (F.when(F.col("t3").isNotNull(), 3)
             .when(F.col("t2").isNotNull(), 2)
             .when(F.col("t1").isNotNull(), 1).otherwise(0))
    return g.select("user_id", ep("t1").alias("view_ep"),
                    ep("t2").alias("click_ep"),
                    ep("t3").alias("purchase_ep"),
                    stage.cast("int").alias("funnel_stage"))

def _funnel_conversion_sql() -> str:
    """Oracle for q_funnel_conversion: the sequential mins as chained
    CTEs (each stage's min is conditional on the previous stage's ts, so
    NULL stages propagate exactly like Spark's when() skipping)."""
    return """
        WITH f1 AS (SELECT user_id,
                           min(CASE WHEN event_type = 'view' THEN ts END) AS t1
                    FROM events GROUP BY 1),
        f2 AS (SELECT e.user_id,
                      min(CASE WHEN e.event_type = 'click'
                               AND e.ts > f1.t1 THEN e.ts END) AS t2
               FROM events e JOIN f1 USING (user_id) GROUP BY 1),
        f3 AS (SELECT e.user_id,
                      min(CASE WHEN e.event_type = 'purchase'
                               AND e.ts > f2.t2 THEN e.ts END) AS t3
               FROM events e JOIN f2 USING (user_id) GROUP BY 1)
        SELECT f1.user_id,
               coalesce(CAST(floor(epoch(f1.t1)) AS BIGINT), -1) AS view_ep,
               coalesce(CAST(floor(epoch(f2.t2)) AS BIGINT), -1) AS click_ep,
               coalesce(CAST(floor(epoch(f3.t3)) AS BIGINT), -1) AS purchase_ep,
               CASE WHEN f3.t3 IS NOT NULL THEN 3
                    WHEN f2.t2 IS NOT NULL THEN 2
                    WHEN f1.t1 IS NOT NULL THEN 1
                    ELSE 0 END AS funnel_stage
        FROM f1 JOIN f2 USING (user_id) JOIN f3 USING (user_id)"""

def q_scd2_history(spark, sf):
    # SCD-2 history build from crawl snapshots — the warehouse shape of
    # latest_capture/crawl_diff: three captures per url (every 5th page
    # revises at snap 1, every 3rd at snap 2), consecutive duplicates
    # dropped, validity intervals [valid_from, valid_to] + version +
    # is_current per content version. ONE url exchange: the change-point
    # lag, the interval lead, and the version row_number all share the
    # (url, ts) sort.
    from pyspark.sql import Window
    p = pages.pages(spark, 2000).select("page_id", "url", "text")
    snaps = []
    for s in range(3):
        nrev = (
            (F.lit(1 if s >= 1 else 0)
             * (F.pmod(F.col("page_id"), F.lit(5)) == 0).cast("int"))
            + (F.lit(1 if s >= 2 else 0)
               * (F.pmod(F.col("page_id"), F.lit(3)) == 0).cast("int")))
        snaps.append(p.select(
            "url", F.lit(SCD2_T0 + s * 86400).alias("ts"),
            F.md5(F.concat(F.col("text"), F.lit("|"),
                           nrev.cast("string"))).alias("content_md5")))
    u = snaps[0].unionByName(snaps[1]).unionByName(snaps[2])
    w = Window.partitionBy("url").orderBy("ts")
    ch = (u.withColumn("prev", F.lag("content_md5").over(w))
          .filter(F.col("prev").isNull()
                  | (F.col("prev") != F.col("content_md5"))))
    return ch.select(
        "url", F.col("ts").alias("valid_from"),
        F.coalesce(F.lead("ts").over(w) - 1, F.lit(-1)).alias("valid_to"),
        F.row_number().over(w).alias("version"),
        F.lead("ts").over(w).isNull().cast("int").alias("is_current"),
        "content_md5")

def _scd2_history_sql(n: int = 2000, seed: int = 42) -> str:
    """Oracle for q_scd2_history: same snapshot mint (cross join with a
    3-row VALUES), same change-point filter and interval windows."""
    return f"""
        WITH {_pages_cte(n, seed)},
        snaps AS (SELECT url, {SCD2_T0} + s * 86400 AS ts,
                         md5(text || '|' || CAST(
                             (CASE WHEN s >= 1 AND id % 5 = 0 THEN 1 ELSE 0 END)
                             + (CASE WHEN s >= 2 AND id % 3 = 0 THEN 1 ELSE 0 END)
                             AS VARCHAR)) AS content_md5
                  FROM txt, (VALUES (0), (1), (2)) v(s)),
        ch AS (SELECT url, ts, content_md5 FROM (
                   SELECT url, ts, content_md5,
                          lag(content_md5) OVER (PARTITION BY url ORDER BY ts)
                              AS prev
                   FROM snaps)
               WHERE prev IS NULL OR prev <> content_md5)
        SELECT url, ts AS valid_from,
               coalesce(lead(ts) OVER w - 1, -1) AS valid_to,
               CAST(row_number() OVER w AS INT) AS version,
               CAST(lead(ts) OVER w IS NULL AS INT) AS is_current,
               content_md5
        FROM ch
        WINDOW w AS (PARTITION BY url ORDER BY ts)"""

def q_event_transitions(spark, sf):
    # event-sequence mining (lite): the per-user Markov transition counts
    # over event types, with each source type's outgoing share. One
    # user_id exchange for the lag window; the (from, to) rollup and the
    # per-from share window are narrow (|types|² keys).
    from pyspark.sql import Window
    e = spark.read.parquet(f"{sf}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (e.select(F.lag("event_type").over(w).alias("from_type"),
                  F.col("event_type").alias("to_type"))
         .filter(F.col("from_type").isNotNull()))
    g = t.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    wf = Window.partitionBy("from_type")
    return g.select(
        "from_type", "to_type", "n",
        F.expr("n * 1000000").cast("bigint").alias("_num"),
        F.sum("n").over(wf).alias("_den")
    ).select(
        "from_type", "to_type", "n",
        F.expr("_num div _den").alias("share_ppm"))

def _event_transitions_sql() -> str:
    """Oracle for q_event_transitions: same lag window and integer share."""
    return """
        WITH t AS (SELECT lag(event_type) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id)
                       AS from_type,
                       event_type AS to_type
                   FROM events),
        g AS (SELECT from_type, to_type, count(*) AS n
              FROM t WHERE from_type IS NOT NULL
              GROUP BY 1, 2)
        SELECT from_type, to_type, n,
               CAST(n * 1000000 // sum(n) OVER (PARTITION BY from_type)
                    AS BIGINT) AS share_ppm
        FROM g"""

def q_retention_cohorts(spark, sf):
    # classic cohort-retention analytics: users grouped by first-activity
    # week, counted per later-activity week offset. The cohort week rides
    # a user-partition window min (ONE exchange shared with the rollup);
    # all week arithmetic is integer floor-division.
    from pyspark.sql import Window
    e = spark.read.parquet(f"{sf}/events.parquet")
    wk = F.expr(f"(unix_timestamp(ts) - {COHORT_T0}) div 604800")
    w = Window.partitionBy("user_id")
    d = e.select("user_id", wk.alias("wk"))
    d = d.withColumn("cohort", F.min("wk").over(w))
    return (d.groupBy("cohort",
                      (F.col("wk") - F.col("cohort")).alias("week_offset"))
            .agg(F.countDistinct("user_id").alias("n_users")))

def _retention_cohorts_sql() -> str:
    """Oracle for q_retention_cohorts (epoch floor == unix_timestamp)."""
    return f"""
        WITH d AS (SELECT user_id,
                          (CAST(floor(epoch(ts)) AS BIGINT) - {COHORT_T0})
                          // 604800 AS wk
                   FROM events),
        c AS (SELECT user_id, wk,
                     min(wk) OVER (PARTITION BY user_id) AS cohort
              FROM d)
        SELECT cohort, wk - cohort AS week_offset,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM c GROUP BY 1, 2"""

def q_events_window(spark, sf):
    return W.tumbling_counts(spark.read.parquet(f"{sf}/events.parquet"), minutes=5)

def q_sliding_window(spark, sf):
    # hopping windows 10min/5min: each event lands in two windows
    return W.sliding_counts(spark.read.parquet(f"{sf}/events.parquet"),
                            length_minutes=10, slide_minutes=5)

def q_events_enriched(spark, sf):
    # stream-static enrichment rollup (batch twin; streaming twin tested
    # batch≡stream with a broadcast dimension)
    ev = spark.read.parquet(f"{sf}/events.parquet")
    dim = spark.read.parquet(f"{sf}/customer.parquet")
    return W.enrich_events(ev, dim)

def q_sessionize(spark, sf):
    return W.sessionize(spark.read.parquet(f"{sf}/events.parquet"), gap_minutes=30)

def q_click_attribution(spark, sf):
    # stream-stream-join shape (batch twin; the Structured Streaming twin
    # with watermarked two-sided state is click_attribution_streaming,
    # batch==stream pytest-pinned)
    return W.click_attribution(spark.read.parquet(f"{sf}/events.parquet"))

def q_range_join_sessions(spark, sf):
    # interval range join via bucketized equi-join (the range analog of
    # the cell join): events ⋈ their user's session windows. Sessions are
    # disjoint with gaps > the threshold, so n_in_window == the session's
    # own event count — the oracle checks the join, not a tautology.
    from geobuf_spark.operators import temporal

    # both branches (event probe + session build) share ONE physical scan
    raw = spark.read.parquet(f"{sf}/events.parquet").localCheckpoint(eager=False)
    ev = raw.withColumn("ep", F.floor(F.unix_timestamp("ts")).cast("bigint"))
    sess = W.sessionize(raw, gap_minutes=30)
    joined = temporal.range_bucket_join(
        ev.select("user_id", "ep"), sess, key="user_id", ts="ep",
        lo="t_start", hi="t_end", bucket=3600)
    return joined.groupBy("user_id", "session_id") \
        .agg(F.count("*").alias("n_in_window"))

def q_asof_purchase_view(spark, sf):
    # as-of join (no Spark native): each purchase matched to the user's
    # latest view at-or-before it; right side deduped per (user, second)
    # for deterministic ties. Oracle: DuckDB native ASOF JOIN.
    from geobuf_spark.operators import temporal
    ev = spark.read.parquet(f"{sf}/events.parquet") \
        .withColumn("ep", F.floor(F.unix_timestamp("ts")).cast("bigint"))
    purchases = ev.filter(F.col("event_type") == "purchase") \
        .select("event_id", "user_id", "ep")
    views = ev.filter(F.col("event_type") == "view") \
        .groupBy("user_id", "ep").agg(F.max("event_id").alias("view_event_id")) \
        .select("user_id", "ep", "view_event_id")
    out = temporal.asof_join(purchases, views, key="user_id", ts="ep",
                             right_cols=["view_event_id"])
    return out.select("event_id", "user_id", "ep", "view_event_id")

def q_running_total(spark, sf):
    # running cumulative aggregation per group (window frame op)
    from pyspark.sql import Window
    o = spark.read.parquet(f"{sf}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey") \
        .rowsBetween(Window.unboundedPreceding, 0)
    return o.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )

def q_interval_union_time(spark, sf):
    # per-user interval-union coverage (gaps-and-islands): events carry a
    # minted duration; overlapping intervals merge into islands via the
    # running-max-end window, and the union length is Σ island extents —
    # the classic "total active time" rollup, exact epoch-second
    # integers (unix_timestamp / floor(epoch()) — the click_attribution
    # precedent for NTZ parquet timestamps). One window shuffle on
    # user_id, then a per-island agg that reuses the same partitioning.
    from pyspark.sql import Window as Win
    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("s"),
        (F.unix_timestamp("ts") + F.expr(IVL_LEN_EXPR)).alias("e"),
        "event_id")
    w = Win.partitionBy("user_id").orderBy("s", "event_id")
    prev_max = F.max("e").over(w.rowsBetween(Win.unboundedPreceding, -1))
    iv = (ev.withColumn("new_island",
                        F.when(F.col("s") > F.coalesce(prev_max, F.lit(-1)),
                               1).otherwise(0))
          .withColumn("island", F.sum("new_island").over(
              w.rowsBetween(Win.unboundedPreceding, 0))))
    isl = (iv.groupBy("user_id", "island")
           .agg(F.min("s").alias("i_s"), F.max("e").alias("i_e"),
                F.count("*").alias("n_ev")))
    return (isl.groupBy("user_id")
            .agg(F.count("*").alias("n_islands"),
                 F.sum(F.col("i_e") - F.col("i_s")).alias("covered_s"),
                 F.max("n_ev").alias("max_island_events")))

def _interval_union_time_sql() -> str:
    return f"""
        WITH ev AS (SELECT user_id,
                           CAST(floor(epoch(ts)) AS BIGINT) AS s,
                           CAST(floor(epoch(ts)) AS BIGINT)
                               + {IVL_LEN_EXPR} AS e, event_id
                    FROM events),
        iv AS (SELECT user_id, s, e, event_id,
                      CASE WHEN s > coalesce(max(e) OVER (
                               PARTITION BY user_id ORDER BY s, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), -1)
                           THEN 1 ELSE 0 END AS new_island
               FROM ev),
        ii AS (SELECT user_id, s, e,
                      sum(new_island) OVER (PARTITION BY user_id
                          ORDER BY s, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS island
               FROM iv),
        isl AS (SELECT user_id, island, min(s) AS i_s, max(e) AS i_e,
                       count(*) AS n_ev
                FROM ii GROUP BY 1, 2)
        SELECT user_id, count(*) AS n_islands,
               CAST(sum(i_e - i_s) AS BIGINT) AS covered_s,
               max(n_ev) AS max_island_events
        FROM isl GROUP BY 1"""

def q_session_paths(spark, sf):
    # clickstream path analysis: sessionize by 30-min gap (the sessionize
    # op's semantics), then the ordered event_type path per session,
    # rolled up to path frequencies. Order safety: the path is built from
    # an array_sort over (te, event_id, type) structs — deterministic
    # regardless of partitioning — not from collect_list's arrival order.
    # ONE user_id window exchange; the path rollup is map-side light.
    from pyspark.sql import Window as Win
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", "event_id", "event_type", "ts",
        F.unix_timestamp("ts").alias("te"))
    w = Win.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("te") - F.lag("te").over(w)
    sess = (e.withColumn("new_s",
                         F.when(gap.isNull() | (gap > SESSION_GAP_S), 1)
                         .otherwise(0))
            .withColumn("session", F.sum("new_s").over(
                w.rowsBetween(Win.unboundedPreceding, 0))))
    paths = (sess.groupBy("user_id", "session")
             .agg(F.array_join(
                 F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("te", "event_id", "event_type"))),
                     lambda s: s["event_type"]), ">").alias("path")))
    return (paths.groupBy("path")
            .agg(F.count("*").alias("n_sessions"),
                 F.countDistinct("user_id").alias("n_users"))
            .filter(F.col("n_sessions") >= 2))

def _session_paths_sql() -> str:
    return f"""
        WITH e AS (SELECT user_id, event_id, event_type, ts,
                          CAST(floor(epoch(ts)) AS BIGINT) AS te
                   FROM events),
        g AS (SELECT *, CASE WHEN te - lag(te) OVER w IS NULL
                               OR te - lag(te) OVER w > {SESSION_GAP_S}
                             THEN 1 ELSE 0 END AS new_s
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS session
              FROM g),
        p AS (SELECT user_id, session,
                     string_agg(event_type, '>' ORDER BY te, event_id,
                                event_type) AS path
              FROM s GROUP BY 1, 2)
        SELECT path, count(*) AS n_sessions,
               count(DISTINCT user_id) AS n_users
        FROM p GROUP BY 1 HAVING count(*) >= 2"""

def q_late_arrival_hist(spark, sf):
    # watermark-tuning audit: per-user event-time lateness vs the running
    # max event time in ARRIVAL order (event_id), bucketed into integer
    # lateness classes. This is the statistic that sizes
    # withWatermark()'s delay — the streaming family's batch-side twin.
    # Per-key running max keeps the window partitioned (a global arrival
    # order would need a two-pass prefix max at scale). The synthetic
    # events table is already time-ordered by event_id, so arrival is a
    # minted shard-interleave permutation (real logs arrive shuffled
    # across shards). ONE exchange.
    from pyspark.sql import Window as Win
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("te"),
        phash.hash60(F.concat(F.lit("arr-"),
                              F.col("event_id").cast("string")))
        .alias("arr"))
    w = (Win.partitionBy("user_id").orderBy("arr", "event_id")
         .rowsBetween(Win.unboundedPreceding, -1))
    late = (e.withColumn("late_s",
                         F.greatest(F.lit(0),
                                    F.coalesce(F.max("te").over(w), F.lit(0))
                                    - F.col("te"))))
    bucket = F.expr("CASE WHEN late_s = 0 THEN 'on_time' "
                    "WHEN late_s < 60 THEN 'lt_1m' "
                    "WHEN late_s < 600 THEN 'lt_10m' "
                    "WHEN late_s < 3600 THEN 'lt_1h' ELSE 'ge_1h' END")
    return (late.groupBy(bucket.alias("bucket"))
            .agg(F.count("*").alias("n_events"),
                 F.max("late_s").alias("max_late_s"),
                 F.countDistinct("user_id").alias("n_users")))

def _late_arrival_hist_sql() -> str:
    arr = phash.sql_hash60("'arr-' || CAST(event_id AS VARCHAR)")
    return f"""
        WITH e AS (SELECT user_id, event_id,
                          CAST(floor(epoch(ts)) AS BIGINT) AS te,
                          {arr} AS arr
                   FROM events),
        l AS (SELECT user_id,
                     greatest(0, coalesce(max(te) OVER (
                         PARTITION BY user_id ORDER BY arr, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) - te) AS late_s
              FROM e)
        SELECT CASE WHEN late_s = 0 THEN 'on_time'
                    WHEN late_s < 60 THEN 'lt_1m'
                    WHEN late_s < 600 THEN 'lt_10m'
                    WHEN late_s < 3600 THEN 'lt_1h' ELSE 'ge_1h' END AS bucket,
               count(*) AS n_events,
               max(late_s) AS max_late_s,
               count(DISTINCT user_id) AS n_users
        FROM l GROUP BY 1"""

def q_novelty_weekly(spark, sf):
    # corpus freshness curve: per capture week, how many distinct word
    # 8-grams appear at all, and how many appear for the FIRST time
    # (global min-week per gram) — the dedup-aware novelty signal that
    # decides whether another crawl week is worth ingesting. Two hash
    # aggregations over the gram explode; grams never leave their
    # shuffle partition between them.
    p = pages.pages(spark, 2000).select(
        F.expr("unix_timestamp(warc_ts) div 604800").alias("wk"),
        F.col("text"))
    grams = p.select("wk", F.explode(dedup._shingles(F.col("text"), 8))
                     .alias("g"))
    per_wk = grams.groupBy("wk", "g").agg(F.count("*").alias("n"))
    first = per_wk.groupBy("g").agg(F.min("wk").alias("first_wk"))
    j = per_wk.join(first, "g")
    return (j.groupBy("wk")
            .agg(F.count("*").alias("n_distinct_grams"),
                 F.sum(F.when(F.col("wk") == F.col("first_wk"), 1)
                       .otherwise(0)).cast("bigint").alias("n_novel")))

def _novelty_weekly_sql(k: int = 8) -> str:
    return f"""
        WITH {_pages_cte(2000, 42)},
        pw AS (SELECT ts_epoch // 604800 AS wk,
                      string_split(text, chr(32)) AS toks
               FROM txt),
        sh AS (SELECT wk, unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - {k - 1}, 1) + 1),
                   i -> array_to_string(list_slice(toks, i, i + {k - 1}),
                                        chr(31))))) AS g
               FROM pw),
        per_wk AS (SELECT wk, g, count(*) AS n FROM sh GROUP BY 1, 2),
        first AS (SELECT g, min(wk) AS first_wk FROM per_wk GROUP BY 1)
        SELECT per_wk.wk, count(*) AS n_distinct_grams,
               CAST(sum(CASE WHEN per_wk.wk = first.first_wk
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        FROM per_wk JOIN first ON per_wk.g = first.g
        GROUP BY 1"""

def q_active_users_7d(spark, sf):
    # exact trailing 7-day active users per day — the WAU metric without
    # approximation: distinct (user, day) bins first (corpus-scale work
    # collapses to one bin per active day), each bin contributes to the
    # 7 trailing report days via a bounded explode, then ONE distinct
    # count per report day. Windows ending past the last data day are
    # reported too (trailing-window semantics, identical both engines).
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", F.expr("unix_timestamp(ts) div 86400").alias("day"))
    bins = e.distinct()
    contrib = bins.withColumn(
        "report_day",
        F.explode(F.sequence(F.col("day"),
                             F.col("day") + (WAU_DAYS - 1))))
    return (contrib.groupBy("report_day")
            .agg(F.countDistinct("user_id").alias("active_users"),
                 F.count("*").alias("active_user_days")))

def _active_users_7d_sql() -> str:
    return f"""
        WITH bins AS (SELECT DISTINCT user_id,
                             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
                      FROM events),
        contrib AS (SELECT user_id, day + o.o AS report_day
                    FROM bins,
                    LATERAL (SELECT unnest(range({WAU_DAYS})) AS o) o)
        SELECT report_day, count(DISTINCT user_id) AS active_users,
               count(*) AS active_user_days
        FROM contrib GROUP BY 1"""

def q_scd2_asof_enrich(spark, sf):
    # the warehouse enrichment pattern: minted visit events joined to the
    # SCD2 dimension version valid AT the visit time (valid_from ≤ t ≤
    # valid_to, open current interval). SCD2 bounds versions-per-key by
    # construction, so the scalable plan is the url equi-join + interval
    # filter — no range-join machinery needed. Output is visit-grained.
    dim = q_scd2_history(spark, sf)
    p = pages.pages(spark, 2000).select("page_id", "url")
    vt = F.lit(SCD2_T0) + F.pmod(
        phash.hash60(F.concat(F.lit("vt-"), F.col("page_id").cast("string"),
                              F.lit("-"), F.col("j").cast("string"))),
        F.lit(3 * 86400))
    visits = (p.withColumn("j", F.explode(F.sequence(
                  F.lit(1), F.lit(VISITS_PER_URL))))
              .select("url", vt.alias("vt")))
    return (visits.join(dim, "url")
            .filter((F.col("valid_from") <= F.col("vt"))
                    & ((F.col("valid_to") == -1)
                       | (F.col("vt") <= F.col("valid_to"))))
            .select("url", "vt", "version", "is_current"))

def _scd2_asof_enrich_sql() -> str:
    h = phash.sql_hash60(
        "'vt-' || CAST(id AS VARCHAR) || '-' || CAST(j AS VARCHAR)")
    return f"""
        WITH dim AS (SELECT * FROM ({_scd2_history_sql()})),
        {_pages_cte(2000, 42, prefix="v_")},
        visits AS (SELECT url, {SCD2_T0} + ({h}) % {3 * 86400} AS vt
                   FROM v_txt,
                   LATERAL (SELECT unnest(range(1, {VISITS_PER_URL + 1}))
                            AS j) jj)
        SELECT visits.url, vt, version, is_current
        FROM visits JOIN dim ON visits.url = dim.url
        WHERE valid_from <= vt AND (valid_to = -1 OR vt <= valid_to)"""

def q_dwell_session_overlap(spark, sf):
    # interval algebra composition: per user, total seconds where a
    # STAYPOINT dwell interval and a SESSION interval coincide — "active
    # time while stationary". Both interval sets are disjoint islands by
    # construction, so per-user Σ of pairwise clamped overlaps IS the
    # intersection measure; interval counts per user are small, so the
    # per-key join is bounded (the SCD2-enrich argument). Exact ints.
    a = _user_islands(spark, sf, _STAY_GATE, 2).withColumnsRenamed(
        {"t0": "a0", "t1": "a1"})
    b = _user_islands(spark, sf, _SESS_GATE, 2).withColumnsRenamed(
        {"t0": "b0", "t1": "b1"})
    ov = (F.least("a1", "b1") - F.greatest("a0", "b0"))
    j = (a.join(b, "user_id")
         .withColumn("ov", ov)
         .filter(F.col("ov") > 0))
    return (j.groupBy("user_id")
            .agg(F.count("*").alias("n_overlaps"),
                 F.sum("ov").alias("overlap_s"),
                 F.max("ov").alias("max_overlap_s")))

def _islands_sql(gate, min_ev):
    def pos(axis):
        h = phash.sql_hash60(f"'{axis}' || CAST(event_id AS VARCHAR)")
        return f"(({h}) % 2000001 - 1000000)"
    return f"""(
        SELECT user_id, min(te) AS t0, max(te) AS t1
        FROM (SELECT user_id, te,
                     sum(ni) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS island
              FROM (SELECT user_id, ts, event_id, te,
                           CASE WHEN {gate} THEN 0 ELSE 1 END AS ni
                    FROM (SELECT user_id, ts, event_id,
                                 CAST(floor(epoch(ts)) AS BIGINT) AS te,
                                 CAST(floor(epoch(ts)) AS BIGINT)
                                     - lag(CAST(floor(epoch(ts)) AS BIGINT))
                                       OVER wo AS gap,
                                 {pos('tx')} - lag({pos('tx')}) OVER wo
                                     AS dx,
                                 {pos('ty')} - lag({pos('ty')}) OVER wo
                                     AS dy
                          FROM events
                          WINDOW wo AS (PARTITION BY user_id
                                        ORDER BY ts, event_id))))
        GROUP BY user_id, island HAVING count(*) >= {min_ev})"""

def _dwell_session_overlap_sql() -> str:
    return f"""
        WITH a AS (SELECT user_id, t0 AS a0, t1 AS a1
                   FROM {_islands_sql(_STAY_GATE, 2)} t),
        b AS (SELECT user_id, t0 AS b0, t1 AS b1
              FROM {_islands_sql(_SESS_GATE, 2)} t),
        j AS (SELECT a.user_id,
                     least(a1, b1) - greatest(a0, b0) AS ov
              FROM a JOIN b ON a.user_id = b.user_id)
        SELECT user_id, count(*) AS n_overlaps,
               CAST(sum(ov) AS BIGINT) AS overlap_s,
               CAST(max(ov) AS BIGINT) AS max_overlap_s
        FROM j WHERE ov > 0 GROUP BY 1"""

def q_multi_grain_actives(spark, sf):
    # day/week/month distinct actives from ONE scan: each (user, day)
    # bin explodes to its three grain labels, then a single distinct
    # count per (grain, bucket) — the dashboard spine without three
    # separate scans. Exact; month via epoch-day div 30 (fixed-width
    # "month" keeps both engines integer-only and partition-stable).
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", F.expr("unix_timestamp(ts) div 86400").alias("day"))
    bins = e.distinct()
    g = bins.select(
        "user_id",
        F.explode(F.array(
            F.struct(F.lit("day").alias("grain"), F.col("day").alias("b")),
            F.struct(F.lit("week").alias("grain"),
                     F.expr("day div 7").alias("b")),
            F.struct(F.lit("month30").alias("grain"),
                     F.expr("day div 30").alias("b")))).alias("g"))
    return (g.groupBy(F.col("g.grain").alias("grain"),
                      F.col("g.b").alias("bucket"))
            .agg(F.countDistinct("user_id").alias("active_users")))

def _multi_grain_actives_sql() -> str:
    return """
        WITH bins AS (SELECT DISTINCT user_id,
                             CAST(floor(epoch(ts)) AS BIGINT) // 86400
                                 AS day
                      FROM events),
        g AS (SELECT user_id, 'day' AS grain, day AS bucket FROM bins
              UNION ALL
              SELECT user_id, 'week', day // 7 FROM bins
              UNION ALL
              SELECT user_id, 'month30', day // 30 FROM bins)
        SELECT grain, bucket, count(DISTINCT user_id) AS active_users
        FROM g GROUP BY 1, 2"""

def q_time_to_purchase(spark, sf):
    # survival-style funnel latency: per user, days from first activity
    # to first 'purchase' event, bucketed — the activation-latency
    # histogram. ONE user aggregation (conditional mins), then a tiny
    # bucket rollup; users who never purchase land in the 'never'
    # bucket, preserving the denominator.
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", "event_type",
        F.expr("unix_timestamp(ts) div 86400").alias("day"))
    g = (e.groupBy("user_id")
         .agg(F.min("day").alias("first_day"),
              F.min(F.when(F.col("event_type") == "purchase",
                           F.col("day"))).alias("first_purchase_day")))
    d = g.withColumn(
        "bucket",
        F.expr("CASE WHEN first_purchase_day IS NULL THEN 'never' "
               "WHEN first_purchase_day - first_day = 0 THEN 'same_day' "
               "WHEN first_purchase_day - first_day <= 7 THEN 'within_7d' "
               "WHEN first_purchase_day - first_day <= 30 THEN 'within_30d' "
               "ELSE 'later' END"))
    return (d.groupBy("bucket")
            .agg(F.count("*").alias("n_users"),
                 F.sum(F.coalesce(F.col("first_purchase_day")
                                  - F.col("first_day"), F.lit(0)))
                 .alias("delay_days_sum")))

def _time_to_purchase_sql() -> str:
    return """
        WITH e AS (SELECT user_id, event_type,
                          CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
                   FROM events),
        g AS (SELECT user_id, min(day) AS first_day,
                     min(CASE WHEN event_type = 'purchase' THEN day END)
                         AS first_purchase_day
              FROM e GROUP BY 1),
        d AS (SELECT CASE
                  WHEN first_purchase_day IS NULL THEN 'never'
                  WHEN first_purchase_day - first_day = 0 THEN 'same_day'
                  WHEN first_purchase_day - first_day <= 7 THEN 'within_7d'
                  WHEN first_purchase_day - first_day <= 30
                      THEN 'within_30d'
                  ELSE 'later' END AS bucket,
                     coalesce(first_purchase_day - first_day, 0) AS delay
              FROM g)
        SELECT bucket, count(*) AS n_users,
               CAST(sum(delay) AS BIGINT) AS delay_days_sum
        FROM d GROUP BY 1"""

# ---------------------------------------------------------------------------
# revisit cadence / day-of-week profile / customer Pareto share
# — batch 38
# ---------------------------------------------------------------------------


def q_revisit_cadence(spark, sf):
    # repeat-engagement cadence: per event_type, the exact median and
    # p90 inter-arrival seconds WITHIN a user's stream of that type —
    # the re-engagement clock product teams tune against. One
    # (user, type) window for the lag, one type aggregation with the
    # order-statistic pick.
    from pyspark.sql import Window as Win
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", "event_type", "event_id",
        F.unix_timestamp("ts").alias("te"), "ts")
    w = Win.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = (e.withColumn("gap", F.col("te") - F.lag("te").over(w))
            .filter(F.col("gap").isNotNull()))
    g = (gaps.groupBy("event_type")
         .agg(F.sort_array(F.collect_list("gap")).alias("v"),
              F.count("*").alias("n_gaps")))

    def pick(num, den, name):
        idx = F.expr(f"CAST((n_gaps - 1) * {num} DIV {den} AS INT) + 1")
        return F.element_at("v", idx).alias(name)

    return g.select("event_type", "n_gaps",
                    pick(5, 10, "p50_gap_s"), pick(9, 10, "p90_gap_s"))

def _revisit_cadence_sql() -> str:
    return """
        WITH e AS (SELECT user_id, event_type, event_id, ts,
                          CAST(floor(epoch(ts)) AS BIGINT) AS te
                   FROM events),
        g AS (SELECT event_type,
                     te - lag(te) OVER (PARTITION BY user_id, event_type
                         ORDER BY ts, event_id) AS gap
              FROM e)
        SELECT event_type, count(*) AS n_gaps,
               (list_sort(list(gap)))[CAST((count(*) - 1) * 5 // 10
                   AS INT) + 1] AS p50_gap_s,
               (list_sort(list(gap)))[CAST((count(*) - 1) * 9 // 10
                   AS INT) + 1] AS p90_gap_s
        FROM g WHERE gap IS NOT NULL GROUP BY 1"""

def q_watermark_policy_sim(spark, sf):
    # the withWatermark() sizing decision as a query: for each candidate
    # delay, how many events the watermark WOULD drop (lateness vs the
    # per-user running max in the minted arrival order — the
    # late_arrival_hist machinery) and the drop rate in ppm. One window
    # + one explode over the tiny delay list.
    from pyspark.sql import Window as Win
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("te"),
        phash.hash60(F.concat(F.lit("arr-"),
                              F.col("event_id").cast("string")))
        .alias("arr"))
    w = (Win.partitionBy("user_id").orderBy("arr", "event_id")
         .rowsBetween(Win.unboundedPreceding, -1))
    late = e.withColumn(
        "late_s", F.greatest(F.lit(0),
                             F.coalesce(F.max("te").over(w), F.lit(0))
                             - F.col("te")))
    d = late.withColumn(
        "delay_s", F.explode(F.array(*[F.lit(x) for x in WM_DELAYS])))
    return (d.groupBy("delay_s")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.when(F.col("late_s") > F.col("delay_s"), 1)
                       .otherwise(0)).cast("bigint").alias("n_dropped"))
            .withColumn("drop_ppm",
                        F.expr("n_dropped * 1000000 div n_events")))

def _watermark_policy_sim_sql() -> str:
    arr = phash.sql_hash60("'arr-' || CAST(event_id AS VARCHAR)")
    delays = ", ".join(str(x) for x in WM_DELAYS)
    return f"""
        WITH e AS (SELECT user_id, event_id,
                          CAST(floor(epoch(ts)) AS BIGINT) AS te,
                          {arr} AS arr
                   FROM events),
        l AS (SELECT greatest(0, coalesce(max(te) OVER (
                         PARTITION BY user_id ORDER BY arr, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) - te) AS late_s
              FROM e),
        d AS (SELECT late_s, dd.delay_s
              FROM l, LATERAL (SELECT unnest([{delays}]) AS delay_s) dd)
        SELECT CAST(delay_s AS BIGINT) AS delay_s, count(*) AS n_events,
               CAST(sum(CASE WHEN late_s > delay_s THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dropped,
               CAST(sum(CASE WHEN late_s > delay_s THEN 1 ELSE 0 END)
                    * 1000000 // count(*) AS BIGINT) AS drop_ppm
        FROM d GROUP BY 1"""

def q_outage_gaps(spark, sf):
    # pipeline-health gap detector: per event_type, the largest
    # inter-arrival gap in the GLOBAL stream of that type and when it
    # started — the "did ingestion stall" readout. One type-partitioned
    # window; the max-with-witness ships as max(struct) (tie-free via
    # the (gap, start, event_id) total order).
    from pyspark.sql import Window as Win
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_type", "event_id", F.unix_timestamp("ts").alias("te"))
    w = Win.partitionBy("event_type").orderBy("te", "event_id")
    g = (e.withColumn("gap", F.col("te") - F.lag("te").over(w))
         .withColumn("gap_start", F.lag("te").over(w))
         .filter(F.col("gap").isNotNull()))
    return (g.groupBy("event_type")
            .agg(F.count("*").alias("n_gaps"),
                 F.max(F.struct("gap", "gap_start", "event_id")).alias("m"))
            .select("event_type", "n_gaps",
                    F.col("m.gap").alias("max_gap_s"),
                    F.col("m.gap_start").alias("gap_start_epoch")))

def _outage_gaps_sql() -> str:
    return """
        WITH e AS (SELECT event_type, event_id,
                          CAST(floor(epoch(ts)) AS BIGINT) AS te
                   FROM events),
        g AS (SELECT event_type,
                     te - lag(te) OVER wo AS gap,
                     lag(te) OVER wo AS gap_start,
                     event_id
              FROM e
              WINDOW wo AS (PARTITION BY event_type ORDER BY te, event_id)),
        gg AS (SELECT * FROM g WHERE gap IS NOT NULL),
        c AS (SELECT event_type, count(*) AS n_gaps FROM gg GROUP BY 1),
        r AS (SELECT event_type, gap AS max_gap_s,
                     gap_start AS gap_start_epoch,
                     row_number() OVER (PARTITION BY event_type
                         ORDER BY gap DESC, gap_start DESC, event_id DESC)
                         AS rn
              FROM gg)
        SELECT c.event_type, n_gaps, max_gap_s, gap_start_epoch
        FROM c JOIN r ON c.event_type = r.event_type AND r.rn = 1"""

def q_dwell_event_mix(spark, sf):
    # behavioral composition: which event types happen WHILE dwelling
    # (inside a staypoint interval) vs in transit — per type counts and
    # the in-dwell rate in ppm. Events join their user's (small) dwell
    # interval set; membership = any interval containing te (the
    # SCD2-enrich bounded-per-key argument).
    stays = _user_islands(spark, sf, _STAY_GATE, 2)
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", "event_id", "event_type",
        F.unix_timestamp("ts").alias("te"))
    hit = (e.join(stays, "user_id")
           .filter((F.col("te") >= F.col("t0"))
                   & (F.col("te") <= F.col("t1")))
           .select("event_id").distinct()
           .withColumn("in_dwell", F.lit(1)))
    return (e.join(hit, "event_id", "left")
            .groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.coalesce("in_dwell", F.lit(0))).cast("bigint")
                 .alias("n_in_dwell"))
            .withColumn("in_dwell_ppm",
                        F.expr("n_in_dwell * 1000000 div n_events")))

def _dwell_event_mix_sql() -> str:
    return f"""
        WITH stays AS (SELECT user_id, t0, t1
                       FROM {_islands_sql(_STAY_GATE, 2)} t),
        e AS (SELECT user_id, event_id, event_type,
                     CAST(floor(epoch(ts)) AS BIGINT) AS te
              FROM events),
        hit AS (SELECT DISTINCT event_id FROM e JOIN stays
                  ON e.user_id = stays.user_id
                 AND te >= t0 AND te <= t1)
        SELECT event_type, count(*) AS n_events,
               CAST(sum(CASE WHEN hit.event_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_in_dwell,
               CAST(sum(CASE WHEN hit.event_id IS NOT NULL
                             THEN 1 ELSE 0 END) * 1000000 // count(*)
                    AS BIGINT) AS in_dwell_ppm
        FROM e LEFT JOIN hit ON e.event_id = hit.event_id
        GROUP BY 1"""

def q_event_motifs_3(spark, sf):
    # behavioral 3-grams: consecutive event-type triples per user stream
    # (two leads share ONE user window), rolled up to motif counts — the
    # sequence-mining step above event_transitions' 2-grams. Motifs below
    # MOTIF_MIN are cut to keep the tail stable.
    from pyspark.sql import Window as Win
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", "event_type", "ts", "event_id")
    w = Win.partitionBy("user_id").orderBy("ts", "event_id")
    t = (e.withColumn("t2", F.lead("event_type", 1).over(w))
         .withColumn("t3", F.lead("event_type", 2).over(w))
         .filter(F.col("t3").isNotNull()))
    return (t.groupBy(F.col("event_type").alias("m1"),
                      F.col("t2").alias("m2"), F.col("t3").alias("m3"))
            .agg(F.count("*").alias("n"),
                 F.countDistinct("user_id").alias("n_users"))
            .filter(F.col("n") >= MOTIF_MIN))

def _event_motifs_3_sql() -> str:
    return f"""
        WITH t AS (SELECT user_id, event_type AS m1,
                          lead(event_type, 1) OVER wo AS m2,
                          lead(event_type, 2) OVER wo AS m3
                   FROM events
                   WINDOW wo AS (PARTITION BY user_id
                                 ORDER BY ts, event_id))
        SELECT m1, m2, m3, count(*) AS n,
               count(DISTINCT user_id) AS n_users
        FROM t WHERE m3 IS NOT NULL
        GROUP BY 1, 2, 3 HAVING count(*) >= {MOTIF_MIN}"""

def q_wow_change(spark, sf):
    # week-over-week movement per event_type: weekly counts with the
    # previous week's count (ONE type window) and the exact ppm delta —
    # the growth dashboard row. Weeks with no predecessor drop (no
    # fabricated zeros; real pipelines densify explicitly).
    from pyspark.sql import Window as Win
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_type", F.expr("unix_timestamp(ts) div 604800").alias("wk"))
    weekly = e.groupBy("event_type", "wk").agg(F.count("*").alias("n"))
    w = Win.partitionBy("event_type").orderBy("wk")
    return (weekly.withColumn("prev_n", F.lag("n").over(w))
            .withColumn("prev_wk", F.lag("wk").over(w))
            .filter(F.col("prev_n").isNotNull()
                    & (F.col("prev_wk") == F.col("wk") - 1))
            .select("event_type", "wk", "n", "prev_n",
                    F.expr("(n - prev_n) * 1000000 div prev_n")
                    .alias("wow_ppm")))

def _wow_change_sql() -> str:
    return """
        WITH weekly AS (SELECT event_type,
                               CAST(floor(epoch(ts)) AS BIGINT) // 604800
                                   AS wk,
                               CAST(count(*) AS BIGINT) AS n
                        FROM events GROUP BY 1, 2),
        l AS (SELECT event_type, wk, n,
                     lag(n) OVER wo AS prev_n,
                     lag(wk) OVER wo AS prev_wk
              FROM weekly
              WINDOW wo AS (PARTITION BY event_type ORDER BY wk))
        SELECT event_type, wk, n, prev_n,
               (n - prev_n) * 1000000 // prev_n AS wow_ppm
        FROM l WHERE prev_n IS NOT NULL AND prev_wk = wk - 1"""

def q_churn_rollup(spark, sf):
    # churn/inactivity report: users bucketed by days since their last
    # event relative to the corpus high-water mark — active / 7d / 30d /
    # churned. The high-water max is a one-row broadcast; everything
    # else is one user aggregation.
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", F.expr("unix_timestamp(ts) div 86400").alias("day"))
    last = e.groupBy("user_id").agg(F.max("day").alias("last_day"),
                                    F.count("*").alias("n_events"))
    hw = e.agg(F.max("day").alias("hw"))
    d = (last.crossJoin(F.broadcast(hw))
         .withColumn("idle_d", F.col("hw") - F.col("last_day"))
         .withColumn("bucket", F.expr(
             "CASE WHEN idle_d = 0 THEN 'active_today' "
             "WHEN idle_d <= 7 THEN 'active_7d' "
             "WHEN idle_d <= 30 THEN 'active_30d' ELSE 'churned' END")))
    return (d.groupBy("bucket")
            .agg(F.count("*").alias("n_users"),
                 F.sum("n_events").alias("n_events"),
                 F.max("idle_d").alias("max_idle_d")))

def _churn_rollup_sql() -> str:
    return """
        WITH e AS (SELECT user_id,
                          CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
                   FROM events),
        last AS (SELECT user_id, max(day) AS last_day,
                        count(*) AS n_events
                 FROM e GROUP BY 1),
        hw AS (SELECT max(day) AS hw FROM e),
        d AS (SELECT hw - last_day AS idle_d, n_events FROM last, hw)
        SELECT CASE WHEN idle_d = 0 THEN 'active_today'
                    WHEN idle_d <= 7 THEN 'active_7d'
                    WHEN idle_d <= 30 THEN 'active_30d'
                    ELSE 'churned' END AS bucket,
               count(*) AS n_users,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               CAST(max(idle_d) AS BIGINT) AS max_idle_d
        FROM d GROUP BY 1"""

def q_event_rle(spark, sf):
    # behavioral run-length encoding: consecutive same-type events per
    # user collapse to runs (gaps-and-islands — lag-compare then a
    # running sum of run starts), then the run-length histogram per
    # event_type. Long 'error' runs = incident signature; long 'view'
    # runs = scroll sessions. ONE user-keyed sort shuffle feeds both
    # windows; deterministic tie order via (ts, event_id).
    from pyspark.sql import Window as Win
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", "event_type", "ts", "event_id")
    w = Win.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.withColumn(
        "new_run",
        F.when(F.lag("event_type").over(w).isNull()
               | (F.lag("event_type").over(w) != F.col("event_type")),
               F.lit(1)).otherwise(F.lit(0)))
    runs = (marked
            .withColumn("run_id", F.sum("new_run").over(
                w.rowsBetween(Win.unboundedPreceding, 0)))
            .groupBy("user_id", "run_id", "event_type")
            .agg(F.count("*").alias("run_len")))
    return (runs.groupBy("event_type", "run_len")
            .agg(F.count("*").alias("n_runs")))

def _event_rle_sql() -> str:
    return """
        WITH m AS (SELECT user_id, event_type, ts, event_id,
                          CASE WHEN lag(event_type) OVER uw IS NULL
                                    OR lag(event_type) OVER uw
                                       <> event_type
                               THEN 1 ELSE 0 END AS new_run
                   FROM events
                   WINDOW uw AS (PARTITION BY user_id
                                 ORDER BY ts, event_id)),
        r AS (SELECT user_id, event_type,
                     sum(new_run) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS run_id
              FROM m),
        runs AS (SELECT user_id, run_id, event_type,
                        count(*) AS run_len
                 FROM r GROUP BY 1, 2, 3)
        SELECT event_type, CAST(run_len AS BIGINT) AS run_len,
               count(*) AS n_runs
        FROM runs GROUP BY 1, 2"""

# ---------------------------------------------------------------------------
# batch 49 — time-weighted value integral, embedding covariance moments
# ---------------------------------------------------------------------------

def q_time_weighted_value(spark, sf):
    # TWA billing/metering: per user, the exact last-observation-
    # carried-forward integral of `value` over [first_ts, last_ts] —
    # Σ (next_ts − ts)·cents in integer (seconds × rounded cents, the
    # benford_values convention), so partitioning can't reorder a float
    # sum. One user-keyed sort window; users with <2 events drop (no
    # interval to integrate).
    from pyspark.sql import Window as Win
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", "event_id",
        F.expr("unix_timestamp(ts)").alias("sec"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"))
    w = Win.partitionBy("user_id").orderBy("sec", "event_id")
    seg = (e.withColumn("nsec", F.lead("sec").over(w))
           .filter(F.col("nsec").isNotNull())
           .withColumn("dt", F.col("nsec") - F.col("sec")))
    return (seg.groupBy("user_id")
            .agg((F.count("*") + 1).alias("n_events"),
                 F.sum("dt").alias("span_s"),
                 F.sum(F.col("dt") * F.col("cents")).alias("twa_num"))
            .filter(F.col("span_s") > 0)
            .withColumn("twa_cents", F.expr("twa_num div span_s")))

def _time_weighted_value_sql() -> str:
    return """
        WITH e AS (SELECT user_id, event_id,
                          CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                          CAST(floor(value * 100 + 0.5) AS BIGINT)
                              AS cents
                   FROM events),
        seg AS (SELECT user_id, sec, cents,
                       lead(sec) OVER (PARTITION BY user_id
                           ORDER BY sec, event_id) AS nsec
                FROM e),
        s AS (SELECT user_id, nsec - sec AS dt, cents
              FROM seg WHERE nsec IS NOT NULL),
        a AS (SELECT user_id, count(*) + 1 AS n_events,
                     CAST(sum(dt) AS BIGINT) AS span_s,
                     CAST(sum(dt * cents) AS BIGINT) AS twa_num
              FROM s GROUP BY 1)
        SELECT user_id, n_events, span_s, twa_num,
               twa_num // span_s AS twa_cents
        FROM a WHERE span_s > 0"""

def q_peak_concurrency(spark, sf):
    # classic interval sweep: maximum number of simultaneously-open
    # sessions (sessionize's gap islands) and the first instant it is
    # reached. Boundaries pre-aggregate per (t, delta) so the running
    # sum orders over UNIQUE keys — tie-order inside a timestamp can
    # never split between engines; starts sort before ends at equal t
    # (closed intervals). One tiny global window over 2·n_sessions rows.
    from pyspark.sql import Window as Win
    raw = spark.read.parquet(f"{sf}/events.parquet")
    sess = W.sessionize(raw, gap_minutes=30)
    b = (sess.select(F.col("t_start").alias("t"), F.lit(1).alias("d"))
         .unionByName(sess.select(F.col("t_end").alias("t"),
                                  F.lit(-1).alias("d")))
         .groupBy("t", "d").agg(F.sum("d").alias("delta")))
    w = Win.orderBy("t", F.desc("d")).rowsBetween(
        Win.unboundedPreceding, 0)
    run = b.withColumn("running", F.sum("delta").over(w))
    peak = run.agg(F.max("running").alias("peak"))
    n = sess.agg(F.count("*").alias("n_sessions"))
    return (run.join(F.broadcast(peak), F.col("running") == F.col("peak"))
            .agg(F.min("t").alias("first_peak_t"),
                 F.max(F.col("peak")).alias("peak"))
            .crossJoin(F.broadcast(n))
            .select("n_sessions", "peak", "first_peak_t"))

def _peak_concurrency_sql() -> str:
    return """
        WITH e AS (SELECT user_id, event_id,
                          CAST(floor(epoch(ts)) AS BIGINT) AS ep
                   FROM events),
        lagged AS (SELECT user_id, event_id, ep,
                          lag(ep) OVER (PARTITION BY user_id
                              ORDER BY ep, event_id) AS prev_ep
                   FROM e),
        flagged AS (SELECT user_id, ep,
                           CASE WHEN prev_ep IS NULL OR ep - prev_ep > 1800
                                THEN 1 ELSE 0 END AS new_sess,
                           event_id
                    FROM lagged),
        sess0 AS (SELECT user_id, ep,
                         CAST(sum(new_sess) OVER (PARTITION BY user_id
                             ORDER BY ep, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
                             AS session_id
                  FROM flagged),
        sess AS (SELECT user_id, session_id,
                        min(ep) AS t_start, max(ep) AS t_end
                 FROM sess0 GROUP BY 1, 2),
        b AS (SELECT t, d, CAST(sum(d) AS BIGINT) AS delta FROM (
                  SELECT t_start AS t, 1 AS d FROM sess
                  UNION ALL
                  SELECT t_end AS t, -1 AS d FROM sess)
              GROUP BY 1, 2),
        run AS (SELECT t, d,
                       CAST(sum(delta) OVER (ORDER BY t, d DESC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
                           AS running
                FROM b),
        pk AS (SELECT max(running) AS peak FROM run),
        ns AS (SELECT count(*) AS n_sessions FROM sess)
        SELECT ns.n_sessions, pk.peak,
               (SELECT min(t) FROM run, pk WHERE running = peak)
                   AS first_peak_t
        FROM ns, pk"""

def q_pip_versioned(spark, sf):
    # the geo × time cross-axis join: polygons are SCD2-VERSIONED (three
    # 10-day validity windows; each version shifts the rect east by
    # e·0.5° — exactly representable, so the float containment text
    # stays cross-engine identical) and every event point joins the
    # version VALID AT ITS TIMESTAMP before the containment refine —
    # boundary drift answered with time travel, not a snapshot. Points
    # mint from event_id with the standard mulmod draw. versions×rects
    # is a 600-row broadcast; one aggregate out.
    lon, lat = minted.sql_lonlat("event_id")
    pts = spark.read.parquet(f"{sf}/events.parquet").selectExpr(
        "event_id", "unix_timestamp(ts) AS s", f"{lon} AS lon", f"{lat} AS lat")
    r = minted.minted_rects(spark, sf)
    vers = (r.withColumn("ver", F.explode(F.sequence(F.lit(0), F.lit(2))))
            .select("poly_id", "ver",
                    (F.col("minx") + F.col("ver") * 0.5).alias("minx"),
                    (F.col("maxx") + F.col("ver") * 0.5).alias("maxx"),
                    "miny", "maxy",
                    (F.lit(PIPV_T0) + F.col("ver") * PIPV_EPOCH_S)
                    .alias("vf"),
                    (F.lit(PIPV_T0) + (F.col("ver") + 1) * PIPV_EPOCH_S)
                    .alias("vt")))
    j = (pts.join(F.broadcast(vers),
                  (F.col("s") >= F.col("vf")) & (F.col("s") < F.col("vt"))
                  & (F.col("lon") >= F.col("minx"))
                  & (F.col("lon") <= F.col("maxx"))
                  & (F.col("lat") >= F.col("miny"))
                  & (F.col("lat") <= F.col("maxy"))))
    return (j.groupBy("poly_id", "ver")
            .agg(F.count("*").alias("n_hits"),
                 F.min("event_id").alias("first_event")))

def _pip_versioned_sql() -> str:
    lon, lat = minted.sql_lonlat("event_id")
    return f"""
        WITH pts AS (SELECT event_id,
                            CAST(floor(epoch(ts)) AS BIGINT) AS s,
                            {lon} AS lon, {lat} AS lat
                     FROM events),
        r AS ({minted.SQL_MINTED_RECTS.strip()}),
        vers AS (SELECT poly_id, v.ver,
                        minx + v.ver * 0.5 AS minx,
                        maxx + v.ver * 0.5 AS maxx,
                        miny, maxy,
                        {PIPV_T0} + v.ver * {PIPV_EPOCH_S} AS vf,
                        {PIPV_T0} + (v.ver + 1) * {PIPV_EPOCH_S} AS vt
                 FROM r, (VALUES (0), (1), (2)) v(ver)),
        j AS (SELECT p.event_id, vers.poly_id, vers.ver
              FROM pts p JOIN vers
                ON p.s >= vers.vf AND p.s < vers.vt
               AND p.lon >= vers.minx AND p.lon <= vers.maxx
               AND p.lat >= vers.miny AND p.lat <= vers.maxy)
        SELECT poly_id, CAST(ver AS BIGINT) AS ver,
               count(*) AS n_hits,
               min(event_id) AS first_event
        FROM j GROUP BY 1, 2"""

def q_cusum_days(spark, sf):
    # CUSUM level-shift changepoint over the daily event-count series —
    # the drift gate that catches "the crawler slowed down mid-month"
    # (anomaly_days flags single burst days; this finds the sustained
    # shift). Exact integers: with D days and T total events, the
    # running sum of (n_d·D − T) is D × the classical CUSUM of (n_d −
    # T/D); its |max| locates the changepoint (tie → earliest day) and
    # it telescopes to exactly 0 at the end. The daily rollup is the
    # only real exchange (map-side combinable); the window then runs
    # over ≤ a few hundred day rows — a deliberate single-partition
    # frame on a bounded series, same shape at any corpus size.
    from pyspark.sql import Window as Win
    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        F.expr("unix_timestamp(ts) div 86400").alias("day"))
    days = ev.groupBy("day").agg(F.count("*").alias("n"))
    wall = Win.partitionBy()
    wcum = (Win.partitionBy().orderBy("day")
            .rowsBetween(Win.unboundedPreceding, 0))
    d = (days.withColumn("nd", F.count("*").over(wall))
         .withColumn("tot", F.sum("n").over(wall))
         .withColumn("cusum", F.sum(F.col("n") * F.col("nd")
                                    - F.col("tot")).over(wcum)))
    return (d.orderBy(F.abs(F.col("cusum")).desc(), F.col("day").asc())
            .limit(1)
            .select(F.col("day").cast("bigint").alias("day"),
                    F.col("cusum").cast("bigint").alias("cusum_scaled"),
                    F.col("n").cast("bigint").alias("n_day"),
                    F.col("nd").cast("int").alias("n_days"),
                    F.col("tot").cast("bigint").alias("total_events")))

def _cusum_days_sql() -> str:
    return """
        WITH days AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400
                          AS day, count(*) AS n
                      FROM events GROUP BY 1),
        tot AS (SELECT count(*) AS nd, sum(n) AS tot FROM days),
        c AS (SELECT day, n, nd, tot,
                     sum(n * nd - tot) OVER (ORDER BY day) AS cusum
              FROM days, tot)
        SELECT CAST(day AS BIGINT) AS day,
               CAST(cusum AS BIGINT) AS cusum_scaled,
               CAST(n AS BIGINT) AS n_day,
               CAST(nd AS INT) AS n_days,
               CAST(tot AS BIGINT) AS total_events
        FROM c ORDER BY abs(cusum) DESC, day ASC LIMIT 1"""

def q_asof_nearest(spark, sf):
    # attribution when causality can run either way: each purchase joins
    # its NEAREST view by the same user within ±1 day (asof_purchase_view
    # is the backward-only sibling). temporal.asof_nearest: one union +
    # one user exchange; backward candidate via last() over the
    # preceding frame, forward via first() over the following frame —
    # |Δ| ties prefer backward, equal-ts ties the min view id, so the
    # result is fully deterministic. The oracle is the INDEPENDENT
    # algorithm — tolerance band join + per-purchase argmin by
    # (|dt|, dt, vid) — so a green row checks the two-window frame
    # logic end to end.
    from geobuf_spark.operators import temporal
    ev = spark.read.parquet(f"{sf}/events.parquet")
    p = (ev.filter(F.col("event_type") == "purchase")
         .select("user_id", F.col("event_id").alias("purchase_id"),
                 F.unix_timestamp("ts").alias("te")))
    v = (ev.filter(F.col("event_type") == "view")
         .select("user_id", F.col("event_id").alias("view_id"),
                 F.unix_timestamp("ts").alias("te")))
    out = temporal.asof_nearest(p, v, key="user_id", ts="te",
                                right_id="view_id", tol=ASOF_NEAR_TOL)
    return out.select("user_id", "purchase_id",
                      F.col("view_id").cast("bigint").alias("view_id"),
                      F.col("dt_sec").cast("bigint").alias("dt_sec"))

def _asof_nearest_sql() -> str:
    return f"""
        WITH e AS (SELECT user_id, event_id,
                          CAST(floor(epoch(ts)) AS BIGINT) AS te,
                          event_type
                   FROM events),
        p AS (SELECT user_id, event_id AS purchase_id, te FROM e
              WHERE event_type = 'purchase'),
        v AS (SELECT user_id, event_id AS view_id, te AS tv FROM e
              WHERE event_type = 'view'),
        j AS (SELECT p.user_id, p.purchase_id, p.te, v.view_id,
                     v.tv - p.te AS dt
              FROM p JOIN v USING (user_id)
              WHERE abs(v.tv - p.te) <= {ASOF_NEAR_TOL}),
        r AS (SELECT *, row_number() OVER (PARTITION BY purchase_id
                  ORDER BY abs(dt), dt, view_id) AS rn
              FROM j)
        SELECT user_id, purchase_id, CAST(view_id AS BIGINT) AS view_id,
               CAST(dt AS BIGINT) AS dt_sec
        FROM r WHERE rn = 1"""

def q_attribution_compare(spark, sf):
    # does attribution model choice matter on this corpus? For every
    # purchase, find the FIRST-touch and LAST-touch click by the same
    # user within the trailing 7-day window (t_click ≤ t_purchase; ties
    # → min event_id) and census the disagreement. One band join on
    # user (temporal.range_bucket_join is the at-scale form; events
    # here are driver-tiny) + min/max struct aggregates; output is a
    # single summary row.
    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("te"),
        "event_type")
    p = (ev.filter(F.col("event_type") == "purchase")
         .select("user_id", F.col("event_id").alias("pid"),
                 F.col("te").alias("tp")))
    c = (ev.filter(F.col("event_type") == "click")
         .select("user_id", F.col("event_id").alias("cid"),
                 F.col("te").alias("tc")))
    j = (p.join(c, "user_id")
         .filter((F.col("tc") <= F.col("tp"))
                 & (F.col("tc") > F.col("tp") - ATTR_WINDOW)))
    per = (j.groupBy("pid")
           .agg(F.min(F.struct("tc", "cid")).alias("ft"),
                F.max(F.struct(F.col("tc"),
                               (-F.col("cid")).alias("nc"))).alias("lt")))
    per = per.select(
        "pid", F.col("ft.cid").alias("first_click"),
        (-F.col("lt.nc")).alias("last_click"))
    n_p = p.count()
    agg = per.agg(
        F.count("*").alias("n_attributed"),
        F.coalesce(F.sum((F.col("first_click") == F.col("last_click"))
                         .cast("bigint")), F.lit(0)).alias("n_same"))
    return agg.select(
        F.lit(n_p).cast("bigint").alias("n_purchases"),
        F.col("n_attributed").cast("bigint").alias("n_attributed"),
        F.col("n_same").cast("bigint").alias("n_same"),
        (F.col("n_attributed") - F.col("n_same")).cast("bigint")
        .alias("n_diff"))

def _attribution_compare_sql() -> str:
    return f"""
        WITH e AS (SELECT user_id, event_id,
                          CAST(floor(epoch(ts)) AS BIGINT) AS te,
                          event_type
                   FROM events),
        p AS (SELECT user_id, event_id AS pid, te AS tp FROM e
              WHERE event_type = 'purchase'),
        c AS (SELECT user_id, event_id AS cid, te AS tc FROM e
              WHERE event_type = 'click'),
        j AS (SELECT p.pid, c.cid, c.tc
              FROM p JOIN c USING (user_id)
              WHERE c.tc <= p.tp AND c.tc > p.tp - {ATTR_WINDOW}),
        r1 AS (SELECT pid, cid,
                      row_number() OVER (PARTITION BY pid
                          ORDER BY tc, cid) AS rf,
                      row_number() OVER (PARTITION BY pid
                          ORDER BY tc DESC, cid) AS rl
               FROM j),
        per AS (SELECT pid,
                       max(CASE WHEN rf = 1 THEN cid END) AS first_click,
                       max(CASE WHEN rl = 1 THEN cid END) AS last_click
                FROM r1 GROUP BY 1)
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchases,
               CAST(count(*) AS BIGINT) AS n_attributed,
               CAST(coalesce(sum(CASE WHEN first_click = last_click
                                 THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_same,
               CAST(count(*) - coalesce(sum(CASE WHEN first_click =
                                       last_click THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_diff
        FROM per"""

def q_token_bucket(spark, sf):
    # per-user token-bucket throttling replay over the event stream —
    # the audit that sizes a production rate limiter: how many requests
    # WOULD have dropped under (capacity=3, refill=4h)? Integer state
    # machine (refill floor-div, remainder resets) so the recursive-CTE
    # oracle replays it exactly; engine side is applyInPandas per user
    # (the custom-stateful seam; the streaming twin is
    # applyInPandasWithState with the same transition).
    from geobuf_spark.operators import temporal
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("t"), "event_id")
    return temporal.token_bucket_replay(
        e, capacity=TB_CAP, refill_sec=TB_REFILL)

def _token_bucket_sql() -> str:
    from geobuf_spark.operators import temporal
    ev = ("SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, "
          "event_id FROM events")
    return temporal.sql_token_bucket_replay(
        ev, capacity=TB_CAP, refill_sec=TB_REFILL)

def q_max_burst_window(spark, sf):
    # the maximum-sum anomalous window of each event type's daily
    # series — Kadane's algorithm de-sequentialized into pure window
    # functions: deviations are mean-centered WITHOUT division
    # (dev = n_days·c − total, exact integers summing to 0), prefix
    # sums P_j plus a virtual P_0 = 0 row, best window ending at j is
    # P_j − min_{i<j} P_i — one running-min window, no loop. Winner per
    # type: max sum, tie → earliest end; the start is the EARLIEST
    # argmin prefix before the winning end. Exactly the shape that
    # scales: two window passes over a partitioned series.
    from pyspark.sql import Window as Win
    daily = (spark.read.parquet(f"{sf}/events.parquet")
             .groupBy("event_type",
                      F.expr("unix_timestamp(ts) div 86400").alias("d"))
             .agg(F.count("*").alias("c")))
    tot = daily.groupBy("event_type").agg(
        F.sum("c").alias("tot"), F.count("*").alias("nd"))
    dev = (daily.join(tot, "event_type")
           .select("event_type", "d",
                   (F.col("nd") * F.col("c") - F.col("tot"))
                   .alias("dev")))
    wo = Win.partitionBy("event_type").orderBy("d")
    pre = (dev.withColumn("pos", F.row_number().over(wo))
           .withColumn("p", F.sum("dev").over(wo))
           .select("event_type", "pos", "d", "p"))
    virt = (tot.select("event_type", F.lit(0).alias("pos"),
                       F.lit(None).cast("bigint").alias("d"),
                       F.lit(0).cast("bigint").alias("p")))
    allp = pre.unionByName(virt).localCheckpoint(eager=False)
    wmin = (Win.partitionBy("event_type").orderBy("pos")
            .rowsBetween(Win.unboundedPreceding, -1))
    scored = (allp.withColumn("minprev", F.min("p").over(wmin))
              .filter(F.col("pos") >= 1)
              .withColumn("best", F.col("p") - F.col("minprev")))
    wb = Win.partitionBy("event_type").orderBy(F.col("best").desc(),
                                               F.col("pos").asc())
    win = (scored.withColumn("brk", F.row_number().over(wb))
           .filter(F.col("brk") == 1)
           .select("event_type", F.col("pos").alias("jend"),
                   F.col("d").alias("end_day"), "best", "minprev"))
    startp = (win.join(allp.select(F.col("event_type").alias("et2"),
                                   F.col("pos").alias("spos"),
                                   F.col("p").alias("sp")),
                       (F.col("et2") == F.col("event_type"))
                       & (F.col("spos") < F.col("jend"))
                       & (F.col("sp") == F.col("minprev")))
              .groupBy("event_type", "jend", "end_day", "best")
              .agg(F.min("spos").alias("startpos")))
    allp_s = allp.select(F.col("event_type").alias("et3"),
                         F.col("pos").alias("pos3"),
                         F.col("d").alias("start_day"))
    start_day = startp.join(
        allp_s, (F.col("et3") == F.col("event_type"))
        & (F.col("pos3") == startp["startpos"] + 1))
    return (start_day.select(
        "event_type", F.col("best").cast("bigint").alias("burst_sum"),
        F.col("start_day").cast("bigint"),
        F.col("end_day").cast("bigint"),
        (F.col("jend") - F.col("startpos")).cast("int").alias("w_len")))

def _max_burst_window_sql() -> str:
    return """
        WITH daily AS (
            SELECT event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
                   count(*) AS c
            FROM events GROUP BY 1, 2),
        tt AS (SELECT event_type, sum(c) AS tot, count(*) AS nd
               FROM daily GROUP BY 1),
        dev AS (SELECT daily.event_type, d, nd * c - tot AS dev
                FROM daily JOIN tt USING (event_type)),
        pre AS (SELECT event_type,
                       row_number() OVER wo AS pos, d,
                       sum(dev) OVER wo AS p
                FROM dev
                WINDOW wo AS (PARTITION BY event_type ORDER BY d)),
        allp AS (SELECT event_type, pos, d, CAST(p AS BIGINT) AS p
                 FROM pre
                 UNION ALL
                 SELECT event_type, 0, NULL, 0 FROM tt),
        sc AS (SELECT event_type, pos, d, p,
                      min(p) OVER (PARTITION BY event_type
                          ORDER BY pos ROWS BETWEEN UNBOUNDED
                          PRECEDING AND 1 PRECEDING) AS minprev
               FROM allp),
        win AS (SELECT event_type, pos AS jend, d AS end_day,
                       p - minprev AS best, minprev,
                       row_number() OVER (PARTITION BY event_type
                           ORDER BY p - minprev DESC, pos ASC) AS brk
                FROM sc WHERE pos >= 1),
        w1 AS (SELECT * FROM win WHERE brk = 1),
        sp AS (SELECT w1.event_type, w1.jend, w1.end_day, w1.best,
                      min(a.pos) AS startpos
               FROM w1 JOIN allp a ON a.event_type = w1.event_type
                   AND a.pos < w1.jend AND a.p = w1.minprev
               GROUP BY 1, 2, 3, 4)
        SELECT sp.event_type,
               CAST(best AS BIGINT) AS burst_sum,
               CAST(a2.d AS BIGINT) AS start_day,
               CAST(end_day AS BIGINT) AS end_day,
               CAST(jend - startpos AS INT) AS w_len
        FROM sp JOIN allp a2 ON a2.event_type = sp.event_type
            AND a2.pos = sp.startpos + 1"""

def q_interval_schedule(spark, sf):
    # maximum non-overlapping interval selection per user (the greedy
    # earliest-end activity-selection algorithm — provably optimal):
    # intervals are event-anchored jobs [t, t + 1800 + (event_id mod
    # 7200)s] which genuinely overlap inside bursts, so the selection
    # is a real subset. Per-user state machine (cur_end, count) rides
    # applyInPandas; the oracle replays it with one recursive CTE over
    # the (end, start, id)-ranked intervals. Output also keeps the
    # overlap pressure (n_intervals − n_selected = jobs a single-lane
    # scheduler must drop).
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", "event_id",
        F.unix_timestamp("ts").alias("t0"))
    iv = e.select("user_id", "event_id", "t0",
                  (F.col("t0") + 1800 + F.col("event_id") % 7200)
                  .alias("t1"))
    schema = ("user_id long, n_intervals long, n_selected long, "
              "last_end long")

    def pick(pdf):
        import pandas as pd
        pdf = pdf.sort_values(["t1", "t0", "event_id"],
                              kind="mergesort")
        cur, cnt = None, 0
        for t0, t1 in zip(pdf["t0"].astype("int64"),
                          pdf["t1"].astype("int64")):
            if cur is None or int(t0) > cur:
                cnt += 1
                cur = int(t1)
        return pd.DataFrame([{"user_id": int(pdf["user_id"].iloc[0]),
                              "n_intervals": len(pdf),
                              "n_selected": cnt,
                              "last_end": cur}])

    return iv.groupBy("user_id").applyInPandas(pick, schema)

def _interval_schedule_sql() -> str:
    return """
        WITH RECURSIVE iv AS (
            SELECT user_id, event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS t0,
                   CAST(floor(epoch(ts)) AS BIGINT) + 1800
                       + event_id % 7200 AS t1
            FROM events),
        rk AS (SELECT user_id, t0, t1, row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY t1, t0, event_id) AS rn
               FROM iv),
        st AS (
            SELECT user_id, 1 AS rn, t1 AS cur_end, 1 AS cnt
            FROM rk WHERE rn = 1
            UNION ALL
            SELECT r.user_id, r.rn,
                   CASE WHEN r.t0 > s.cur_end THEN r.t1
                        ELSE s.cur_end END,
                   s.cnt + CASE WHEN r.t0 > s.cur_end THEN 1
                                ELSE 0 END
            FROM st s JOIN rk r ON r.user_id = s.user_id
                AND r.rn = s.rn + 1),
        last AS (SELECT user_id, rn, cur_end, cnt, row_number() OVER (
                     PARTITION BY user_id ORDER BY rn DESC) AS rr
                 FROM st)
        SELECT user_id, CAST(rn AS BIGINT) AS n_intervals,
               CAST(cnt AS BIGINT) AS n_selected,
               CAST(cur_end AS BIGINT) AS last_end
        FROM last WHERE rr = 1"""


def oracles() -> dict[str, str]:
    """DuckDB oracle twins for this module's queries."""
    out = {
        "funnel_conversion": _funnel_conversion_sql(),
        "scd2_history": _scd2_history_sql(),
        "event_transitions": _event_transitions_sql(),
        "retention_cohorts": _retention_cohorts_sql(),
        "events_window": """
            SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300 AS wstart, event_type,
                   count(*) AS n_events,
                   count(CASE WHEN value > 0.5 THEN 1 END) AS n_high
            FROM events GROUP BY 1, 2""",
        "sliding_window": """
            WITH ep AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS e, event_type FROM events),
            hits AS (
                SELECT (e // 300) * 300 AS wstart, event_type FROM ep
                UNION ALL
                SELECT (e // 300) * 300 - 300 AS wstart, event_type FROM ep
            )
            SELECT wstart, event_type, count(*) AS n_events
            FROM hits WHERE wstart >= 0 GROUP BY wstart, event_type""",
        "events_enriched": """
            SELECT coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
                   e.event_type, count(*) AS n_events
            FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY 1, 2""",
        "sessionize": """
            WITH e AS (
                SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep
                FROM events),
            lagged AS (
                SELECT user_id, event_id, ep,
                       lag(ep) OVER (PARTITION BY user_id ORDER BY ep, event_id) AS prev_ep
                FROM e),
            flagged AS (
                SELECT user_id, event_id, ep,
                       CASE WHEN prev_ep IS NULL OR ep - prev_ep > 1800
                            THEN 1 ELSE 0 END AS new_sess
                FROM lagged),
            sess AS (
                SELECT user_id, ep,
                       CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ep, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
                FROM flagged)
            SELECT user_id, session_id, count(*) AS n_events,
                   min(ep) AS t_start, max(ep) AS t_end
            FROM sess GROUP BY user_id, session_id""",
        "click_attribution": """
            SELECT b.event_id AS buy_id, c.event_id AS click_id, b.user_id,
                   CAST(date_diff('second', c.ts, b.ts) AS BIGINT) AS lag_sec
            FROM events b JOIN events c
              ON c.user_id = b.user_id
             AND b.event_type = 'purchase' AND c.event_type = 'click'
             AND c.ts <= b.ts AND c.ts >= b.ts - INTERVAL 30 MINUTE""",
        "range_join_sessions": """
            WITH e AS (
                SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep
                FROM events),
            lagged AS (
                SELECT user_id, event_id, ep,
                       lag(ep) OVER (PARTITION BY user_id ORDER BY ep, event_id) AS prev_ep
                FROM e),
            flagged AS (
                SELECT user_id, event_id, ep,
                       CASE WHEN prev_ep IS NULL OR ep - prev_ep > 1800
                            THEN 1 ELSE 0 END AS new_sess
                FROM lagged),
            sess AS (
                SELECT user_id, ep,
                       CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ep, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
                FROM flagged),
            intervals AS (
                SELECT user_id, session_id,
                       min(ep) AS t_start, max(ep) AS t_end
                FROM sess GROUP BY user_id, session_id)
            SELECT i.user_id, i.session_id, count(*) AS n_in_window
            FROM intervals i JOIN e ON e.user_id = i.user_id
             AND e.ep >= i.t_start AND e.ep <= i.t_end
            GROUP BY i.user_id, i.session_id""",
        "asof_purchase_view": """
            WITH ev AS (
                SELECT event_id, user_id, event_type,
                       CAST(floor(epoch(ts)) AS BIGINT) AS ep
                FROM events),
            purchases AS (
                SELECT event_id, user_id, ep FROM ev WHERE event_type = 'purchase'),
            views AS (
                SELECT user_id, ep, max(event_id) AS view_event_id
                FROM ev WHERE event_type = 'view' GROUP BY user_id, ep)
            SELECT p.event_id, p.user_id, p.ep, v.view_event_id
            FROM purchases p ASOF LEFT JOIN views v
              ON p.user_id = v.user_id AND p.ep >= v.ep""",
        "running_total": """
            SELECT o_custkey, o_orderkey,
                   round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                       ROWS UNBOUNDED PRECEDING), 2) AS running_spend
            FROM orders""",
        "interval_union_time": _interval_union_time_sql(),
        "session_paths": _session_paths_sql(),
        "late_arrival_hist": _late_arrival_hist_sql(),
        "novelty_weekly": _novelty_weekly_sql(),
        "active_users_7d": _active_users_7d_sql(),
        "scd2_asof_enrich": _scd2_asof_enrich_sql(),
        "dwell_session_overlap": _dwell_session_overlap_sql(),
        "multi_grain_actives": _multi_grain_actives_sql(),
        "time_to_purchase": _time_to_purchase_sql(),
        "revisit_cadence": _revisit_cadence_sql(),
        "watermark_policy_sim": _watermark_policy_sim_sql(),
        "outage_gaps": _outage_gaps_sql(),
        "dwell_event_mix": _dwell_event_mix_sql(),
        "event_motifs_3": _event_motifs_3_sql(),
        "wow_change": _wow_change_sql(),
        "churn_rollup": _churn_rollup_sql(),
        "event_rle": _event_rle_sql(),
        "time_weighted_value": _time_weighted_value_sql(),
        "peak_concurrency": _peak_concurrency_sql(),
        "pip_versioned": _pip_versioned_sql(),
        "cusum_days": _cusum_days_sql(),
        "asof_nearest": _asof_nearest_sql(),
        "attribution_compare": _attribution_compare_sql(),
        "token_bucket": _token_bucket_sql(),
        "max_burst_window": _max_burst_window_sql(),
        "interval_schedule": _interval_schedule_sql(),
    }
    return out
