"""Registry family: mergeable-summary sketch queries (KMV/Bloom/CMS/HLL).

Split out of the former __spark_entry__.py monolith (VERDICT r4 #2);
query functions keep their original text, oracles sit beside them in
this module's oracles(). Driver-window ORDER lives in window.py, not here.

Queries here (8):
bloom_join_prune, hll_error_eval, hll_union_rollup, kmv_setops,
sketch_bloom_doc_gate, sketch_cms_lang, sketch_hll_docs,
sketch_kmv_lang
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


# ---------------------------------------------------------------------------
# sketch family — constant-size summaries a 100 TB corpus computes instead
# of exact answers (operators/sketch.py; oracle twins are bit-identical)
# ---------------------------------------------------------------------------

def q_sketch_kmv_lang(spark, sf):
    # per-language KMV (k minimum hashes) distinct-doc estimate: the
    # shuffle carries distinct (lang, hash) pairs only, the sketch itself
    # is k rows per group regardless of corpus size
    return (sketch.kmv_distinct(_docs(spark, sf), ["lang"], "doc_id", k=16)
            .select(F.col("lang").alias("grp"), "n_kmv", "kth_hash",
                    "est_distinct"))

def q_sketch_bloom_doc_gate(spark, sf):
    # Bloom membership gate: build a 2^13-bit filter over the English
    # doc ids (one bit_or agg, ≤128 words shipped), probe the full corpus
    # via a broadcast word-join — the persisted-blocklist pattern (share a
    # crawl's seen-set with the next crawl without shipping the keys)
    d = _docs(spark, sf)
    members = (d.filter(F.col("lang") == "en")
               .select(F.col("doc_id").cast("string").alias("key")).distinct())
    bloom = sketch.bloom_build(members, "key", m_bits=1 << 13, n_hashes=4)
    probe = d.select(F.col("doc_id").cast("string").alias("key")).distinct()
    return sketch.bloom_probe(probe, "key", bloom, m_bits=1 << 13, n_hashes=4)

def q_sketch_cms_lang(spark, sf):
    # Count-Min point estimates of per-language doc frequency: the 4x64
    # counter matrix is built with one map-side-combinable agg, then each
    # distinct language reads min-over-depth via a broadcast join
    d = _docs(spark, sf)
    cms = sketch.cms_build(d, "lang", depth=4, width=64)
    items = d.select("lang").distinct()
    return (sketch.cms_query(cms, items, "lang", depth=4, width=64)
            .select(F.col("item").alias("lang"), "cms_est"))

def q_sketch_hll_docs(spark, sf):
    # HyperLogLog distinct-doc estimate, m=64 registers: ONE hash agg over
    # the corpus, 64 rows out; the harmonic sum is kept as an exact int64
    # so the external oracle reproduces it bit-identically
    return sketch.hll_estimate(
        sketch.hll_registers(_docs(spark, sf), "doc_id", b=6), b=6)

def q_bloom_join_prune(spark, sf):
    # runtime-filter join pruning — Spark's own bloom-filter join as an
    # explicit operator: build a Bloom over the (tiny) blocklist, probe the
    # distinct fact keys through the broadcast filter, prune the fact with
    # the surviving keys, THEN run the exact join to kill false positives.
    # At 100 TB the bloom gate drops ~all fact rows before the join
    # shuffle; the final result is exactly the plain semi-join (oracle).
    p = pages.pages(spark, 2000).select(
        TXT.url_host(F.col("url")).alias("host"))
    block = spark.range(40).select(
        F.concat(F.lit("site"), (F.col("id") * 13).cast("string"),
                 F.lit(".example")).alias("host"))
    bloom = sketch.bloom_build(block, "host", m_bits=1 << 12, n_hashes=4)
    maybe = (sketch.bloom_probe(p.select("host").distinct(), "host", bloom,
                                m_bits=1 << 12, n_hashes=4)
             .filter(F.col("bloom_maybe")).select("host"))
    pruned = p.join(F.broadcast(maybe), "host")
    exact = pruned.join(F.broadcast(block), "host")
    return exact.groupBy("host").agg(F.count("*").alias("n_pages"))

def q_kmv_setops(spark, sf):
    # mergeable-sketch set algebra: union / intersection / Jaccard of two
    # source-cohorts' shingle sets from their KMV sketches alone — two
    # corpora compare through 2k hashes (k=64), never a shingle join.
    d = _docs(spark, sf)
    a_src = [f"src{i}" for i in range(5)]
    b_src = [f"src{i}" for i in range(5, 10)]

    def shingles(srcs):
        return (d.filter(F.col("source").isin(srcs))
                .select(F.explode(TXT.word_ngrams(F.col("text"), 3)).alias("g")))

    return sketch.kmv_set_ops(shingles(a_src), shingles(b_src), "g", k=64)

def _kmv_setops_sql(k: int = 64) -> str:
    """Oracle for q_kmv_setops: same shingle construction per cohort, same
    sketch algebra (operators/sketch.sql_kmv_set_ops)."""
    def coh(srcs):
        inlist = ", ".join(f"'{s}'" for s in srcs)
        return f"""(SELECT unnest(CASE WHEN len(ws) >= 3 THEN
                        list_transform(range(1, len(ws) - 1),
                            i -> ws[i] || chr(32) || ws[i + 1]
                                 || chr(32) || ws[i + 2])
                    ELSE CAST([] AS VARCHAR[]) END) AS g
                    FROM (SELECT string_split(text, chr(32)) AS ws
                          FROM documents WHERE source IN ({inlist})))"""
    a = coh([f"src{i}" for i in range(5)])
    b = coh([f"src{i}" for i in range(5, 10)])
    return sketch.sql_kmv_set_ops(a, b, "g", k=k)

def q_hll_union_rollup(spark, sf):
    # HLL mergeability demonstrated IN-ENGINE: per-lang register tables
    # merged by register-wise max, estimated, next to the direct global
    # sketch — s_scaled must match EXACTLY (merge_exact = 1). This is the
    # property that lets 1000 executors sketch independently and a
    # coordinator union in O(m): the rollup never rescans the corpus.
    d = _docs(spark, sf)
    per = sketch.hll_registers_by(d, ["lang"], "text")
    merged = per.groupBy("bucket").agg(F.max("r").alias("r"))
    me = sketch.hll_estimate(merged).select(
        F.col("est_raw").alias("est_merged"),
        F.col("s_scaled").alias("s_merged"))
    de = sketch.hll_estimate(sketch.hll_registers(d, "text")).select(
        F.col("est_raw").alias("est_direct"),
        F.col("s_scaled").alias("s_direct"))
    return me.crossJoin(de).select(
        "est_merged", "est_direct", "s_merged", "s_direct",
        (F.col("s_merged") == F.col("s_direct")).cast("int")
        .alias("merge_exact"))

def _hll_union_rollup_sql() -> str:
    """Oracle for q_hll_union_rollup: per-lang register CTE → max-merge →
    the shared estimate fragment; direct sketch alongside."""
    return f"""
        WITH {sketch.sql_hll_registers_cte('documents', 'text',
                                           prefix='p', group_expr='lang')},
        mreg AS (SELECT bucket, max(r) AS r FROM phllreg GROUP BY 1),
        {sketch.sql_hll_estimate_from('mreg', prefix='m')},
        {sketch.sql_hll_registers_cte('documents', 'text', prefix='d')},
        {sketch.sql_hll_estimate_from('dhllreg', prefix='d')}
        SELECT mhll.est_raw AS est_merged, dhll.est_raw AS est_direct,
               mhll.s_scaled AS s_merged, dhll.s_scaled AS s_direct,
               CAST(mhll.s_scaled = dhll.s_scaled AS INT) AS merge_exact
        FROM mhll, dhll"""

def q_hll_error_eval(spark, sf):
    # sketch-accuracy evaluation tier (the cardinality sibling of
    # minhash_eval): per event_type, the m=64 HLL raw estimate of
    # distinct users NEXT TO the exact distinct count, with the signed
    # error in ppm — the number you read before trusting the sketch at
    # 10^12 keys. Registers fold per group; the estimate arithmetic is
    # the exact-integer harmonic sum + one correctly-rounded double
    # divide (operators/sketch.hll_estimate semantics, grouped).
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_type", "user_id")
    reg = sketch.hll_registers_by(e, ["event_type"], "user_id", b=6)
    m = 64
    alpha_num = sketch._hll_alpha(m) * m * m * float(1 << sketch.RHO_SHIFT)
    est = (reg.groupBy("event_type")
           .agg(F.count("*").alias("n_present"),
                F.sum(F.expr(f"shiftleft(1L, {sketch.RHO_SHIFT} - r)"))
                .alias("s_present"))
           .select("event_type",
                   F.col("n_present").cast("bigint").alias("n_present"),
                   (F.col("s_present")
                    + (F.lit(m) - F.col("n_present"))
                    * F.lit(1 << sketch.RHO_SHIFT))
                   .cast("bigint").alias("s_scaled"))
           .withColumn("est_raw",
                       F.floor(F.lit(alpha_num) / F.col("s_scaled"))
                       .cast("bigint")))
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_n"))
    return (est.join(exact, "event_type")
            .withColumn("err_ppm",
                        F.expr("(est_raw - exact_n) * 1000000"
                               " div exact_n")))

def _hll_error_eval_sql() -> str:
    m = 64
    alpha_num = sketch._hll_alpha(m) * m * m * float(1 << sketch.RHO_SHIFT)
    regs = sketch.sql_hll_registers_cte(
        "events", "CAST(user_id AS VARCHAR)", b=6,
        group_expr="event_type")
    return f"""
        WITH {regs},
        est AS (SELECT grp AS event_type,
                       count(*) AS n_present,
                       CAST(sum(1::BIGINT << ({sketch.RHO_SHIFT} - r))
                            + ({m} - count(*))
                              * {1 << sketch.RHO_SHIFT}::BIGINT
                           AS BIGINT) AS s_scaled
                FROM hllreg GROUP BY 1),
        est2 AS (SELECT event_type, n_present, s_scaled,
                        CAST(FLOOR({alpha_num!r} / s_scaled) AS BIGINT)
                            AS est_raw
                 FROM est),
        ex AS (SELECT event_type,
                      count(DISTINCT user_id) AS exact_n
               FROM events GROUP BY 1)
        SELECT est2.event_type, n_present, s_scaled, est_raw, exact_n,
               (est_raw - exact_n) * 1000000 // exact_n AS err_ppm
        FROM est2 JOIN ex ON est2.event_type = ex.event_type"""

def _bloom_join_prune_sql(n: int = 2000, seed: int = 42) -> str:
    """Oracle for q_bloom_join_prune: the PLAIN host join — the bloom gate
    plus exact join must equal it exactly (no false negatives; positives
    are killed by the exact join), so the oracle carries no bloom at all."""
    return f"""
        WITH {_pages_cte(n, seed)},
        hosts AS (SELECT {TXT.sql_url_host('url')} AS host FROM txt),
        block AS (SELECT 'site' || CAST(g.i * 13 AS VARCHAR) || '.example' AS host
                  FROM generate_series(0, 39) AS g(i))
        SELECT h.host, count(*) AS n_pages
        FROM hosts h JOIN block b ON b.host = h.host
        GROUP BY 1"""

def _sketch_cms_lang_sql() -> str:
    """DuckDB twin of q_sketch_cms_lang: the sql_cms_cte counter matrix,
    then each distinct language probes min-over-depth — the same double
    hash-salt string ('cms' SEP row SEP item) as the Spark side."""
    cte = sketch.sql_cms_cte("documents", "lang", depth=4, width=64)
    h = phash.sql_hash60_parts(
        "'cms'", "CAST(g.i AS VARCHAR) || chr(30) || (item)")
    return f"""
        WITH {cte},
        items AS (SELECT DISTINCT lang AS item FROM documents),
        pp AS (SELECT item, g.i AS row, (({h}) % 64) AS bucket
               FROM items, generate_series(0, 3) AS g(i)),
        sel AS (SELECT pp.item, COALESCE(c.cnt, 0) AS cnt
                FROM pp LEFT JOIN cms c
                  ON pp.row = c.row AND pp.bucket = c.bucket)
        SELECT item AS lang, CAST(min(cnt) AS BIGINT) AS cms_est
        FROM sel GROUP BY item"""


def oracles() -> dict[str, str]:
    """DuckDB oracle twins for this module's queries."""
    out = {
        "sketch_kmv_lang": sketch.sql_kmv_distinct(
            "documents", "lang", "doc_id", k=16),
        "sketch_bloom_doc_gate": "WITH " + sketch.sql_bloom_cte(
            "(SELECT DISTINCT CAST(doc_id AS VARCHAR) AS k FROM documents"
            " WHERE lang = 'en')",
            "(SELECT DISTINCT CAST(doc_id AS VARCHAR) AS k FROM documents)",
            "k", "k", m_bits=1 << 13, n_hashes=4,
        ) + " SELECT key, bloom_maybe FROM bloomed",
        "sketch_cms_lang": _sketch_cms_lang_sql(),
        "sketch_hll_docs": "WITH " + sketch.sql_hll_cte(
            "documents", "doc_id", b=6,
        ) + " SELECT m, n_present, n_zero, s_scaled, est_raw FROM hll",
        "bloom_join_prune": _bloom_join_prune_sql(),
        "kmv_setops": _kmv_setops_sql(),
        "hll_union_rollup": _hll_union_rollup_sql(),
        "hll_error_eval": _hll_error_eval_sql(),
    }
    return out
