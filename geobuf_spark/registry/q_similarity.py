"""Registry family: embedding ANN / similarity / multimodal queries.

Split out of the former __spark_entry__.py monolith (VERDICT r4 #2);
query functions keep their original text, oracles sit beside them in
this module's oracles(). Driver-window ORDER lives in window.py, not here.

Queries here (19):
ann_cosine_top5, ann_ivf_top5, ann_lsh_top5, cocitation_pairs,
colbert_maxsim, embed_covariance, embed_quantize, embedding_norms_q,
knn_graph_k3, knn_label_vote, l1_medoid, lang_profile_cosine,
mmr_topk, multimodal_ann_top3, multimodal_bytes, mutual_knn,
rbo_rankings, rrf_fusion, word_cooc_cosine
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


def q_knn_label_vote(spark, sf):
    # kNN classification: predict each query point's language by majority
    # vote among its 5 nearest neighbors (ties: higher vote count first,
    # then lexicographic lang — deterministic on both engines). Reuses the
    # exact cell-ring kNN; the label join is a hash join on neighbor id.
    from pyspark.sql import Window
    pts = _points(spark, sf)
    queries = pts.filter(F.col("doc_id") % 20 == 0) \
        .select(F.col("doc_id").alias("query_id"), "lon", "lat")
    nn = knn.knn(pts, queries, 5, z=4, ring=1)
    lab = nn.join(
        _docs(spark, sf).select(F.col("doc_id").alias("neighbor_id"), "lang"),
        "neighbor_id")
    votes = lab.groupBy("query_id", "lang").agg(F.count("*").alias("votes"))
    w = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("lang"))
    return (votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("query_id", F.col("lang").alias("pred_lang"), "votes"))

def q_cocitation_pairs(spark, sf):
    # co-citation similarity: host pairs endorsed by ≥2 common linking
    # hosts — the bipartite projection that finds "related domains". The
    # projection is quadratic per linker, so production caps linker
    # out-fanout (the fixture's max is 3 — the cap is the contract,
    # like the LSH bucket caps); distinct edges first so multi-links
    # don't inflate the overlap.
    e = (_page_link_edges(spark, 2000)
         .select("src_host", TXT.url_host(F.col("dst")).alias("dst_host"))
         .filter(F.col("src_host") != F.col("dst_host"))
         .distinct())
    a = e.select(F.col("src_host").alias("s"), F.col("dst_host").alias("host_a"))
    b = e.select(F.col("src_host").alias("s"), F.col("dst_host").alias("host_b"))
    return (a.join(b, "s")
            .filter(F.col("host_a") < F.col("host_b"))
            .groupBy("host_a", "host_b")
            .agg(F.count("*").alias("n_common"))
            .filter(F.col("n_common") >= 2))

def _cocitation_pairs_sql() -> str:
    """Oracle for q_cocitation_pairs: regenerated edges, same distinct
    projection + pair rollup."""
    return f"""
        WITH {_links_cte()},
        ed AS (SELECT DISTINCT src_host AS s,
                               {TXT.sql_url_host('dst')} AS h
               FROM e
               WHERE src_host <> {TXT.sql_url_host('dst')})
        SELECT a.h AS host_a, b.h AS host_b, count(*) AS n_common
        FROM ed a JOIN ed b ON a.s = b.s AND a.h < b.h
        GROUP BY 1, 2
        HAVING count(*) >= 2"""

def q_embed_quantize(spark, sf):
    # int8 vector quantization (the vector-DB prep step): per-vector
    # max-abs scale, floor-quantized components, summarised as exact
    # integer witnesses (sum/min/max) + the scale. float32 → double is
    # exact, so both engines quantize identically. Zero shuffles.
    e = _emb(spark, sf)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.transform(v, lambda x: F.floor(x * 127.0 / maxabs).cast("bigint"))
    return e.select(
        "vec_id", maxabs.alias("maxabs"),
        F.aggregate(q, F.lit(0).cast("bigint"), lambda a, b: a + b)
            .alias("q_sum"),
        F.array_min(q).alias("q_min"), F.array_max(q).alias("q_max"))

def _embed_quantize_sql() -> str:
    """Oracle for q_embed_quantize: DuckDB lambdas capture the outer
    maxabs column; float32 → double casts keep both engines bit-equal."""
    return """
        WITH m AS (SELECT vec_id, embedding,
                          list_max(list_transform(embedding,
                              x -> abs(CAST(x AS DOUBLE)))) AS maxabs
                   FROM embeddings),
        q AS (SELECT vec_id, maxabs,
                     list_transform(embedding,
                         x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs)
                                   AS BIGINT)) AS qv
              FROM m)
        SELECT vec_id, maxabs,
               CAST(list_sum(qv) AS BIGINT) AS q_sum,
               list_min(qv) AS q_min, list_max(qv) AS q_max
        FROM q"""

def q_multimodal_bytes(spark, sf):
    # binary-column plumbing: documents.text → binary payload + metadata
    d = _docs(spark, sf).withColumn("payload", F.encode(F.col("text"), "utf-8"))
    return d.select(
        "doc_id",
        F.octet_length("payload").alias("n_bytes"),
        F.hex(F.substring(F.col("text"), 1, 4)).alias("magic_hex"),
    )

def q_multimodal_ann_top3(spark, sf):
    # cross-operator chain: binary payloads → vectorized byte-histogram
    # embeddings → exact cosine top-k (rows-only; pytest proves the
    # planted-duplicate rank-1 property)
    from geobuf_spark.operators import multimodal
    d = _docs(spark, sf).withColumn("payload", F.encode(F.col("text"), "utf-8"))
    emb = multimodal.payload_embedding(d.select("doc_id", "payload"))
    queries = emb.filter(F.col("doc_id") % 50 == 0) \
        .select(F.col("doc_id").alias("query_id"), "embedding")
    return similarity.brute_force_topk(
        emb.withColumnRenamed("doc_id", "vec_id"), queries, k=3)

def q_embedding_norms_q(spark, sf):
    # per-element integer quantization before the sum → order-free exact agg
    emb = _emb(spark, sf)
    qsum = F.aggregate(
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * x.cast("double") * F.lit(1e6)).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return emb.select("vec_id", F.size("embedding").alias("dim"), qsum.alias("normsq_q"))

def q_ann_cosine_top5(spark, sf):
    emb = _emb(spark, sf)
    queries = emb.filter(F.col("vec_id") % 25 == 0) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    return similarity.brute_force_topk(emb, queries, k=5)

def q_ann_lsh_top5(spark, sf):
    emb = _emb(spark, sf)
    queries = emb.filter(F.col("vec_id") % 25 == 0) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    return similarity.ann_topk(emb, queries, k=5, multiprobe=2)

def q_ann_ivf_top5(spark, sf):
    # IVF coarse-quantizer ANN (non-SQL; pytest proves recall + exact
    # degeneracy at nprobe == n_centroids)
    emb = _emb(spark, sf)
    queries = emb.filter(F.col("vec_id") % 25 == 0) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    return similarity.ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=3, iters=3)

def q_word_cooc_cosine(spark, sf):
    # distributional word similarity by counting: each word's vector is
    # its symmetric ±1 co-occurrence profile; pairs scored by cosine.
    # Inner products and norms are EXACT integers; the cosine itself is
    # three IEEE-deterministic ops (two correctly-rounded sqrts, one
    # multiply, one divide) over identical expression text — bit-equal
    # cross-engine (line_length_stats precedent). Vocabulary-sized
    # tables: both joins broadcast; the only corpus-scale work is the
    # token-pair count.
    toks = _docs(spark, sf).select(F.split("text", " ").alias("t"))
    adj = (toks.select(F.explode(F.arrays_zip(
               F.slice("t", 1, F.size("t") - 1).alias("a"),
               F.slice("t", 2, F.size("t") - 1).alias("b"))).alias("p")))
    cooc = (adj.select(F.col("p.a").alias("w"), F.col("p.b").alias("c"))
            .unionByName(adj.select(F.col("p.b").alias("w"),
                                    F.col("p.a").alias("c")))
            .groupBy("w", "c").agg(F.count("*").alias("cnt"))
            .localCheckpoint(eager=False))
    norms = cooc.groupBy("w").agg(F.sum(F.col("cnt") * F.col("cnt")).alias("n2"))
    pairs = (cooc.select(F.col("w").alias("w_a"), "c", F.col("cnt").alias("ca"))
             .join(cooc.select(F.col("w").alias("w_b"), "c",
                               F.col("cnt").alias("cb")), "c")
             .filter(F.col("w_a") < F.col("w_b"))
             .groupBy("w_a", "w_b")
             .agg(F.sum(F.col("ca") * F.col("cb")).alias("sxy"),
                  F.count("*").alias("shared_dims")))
    out = (pairs
           .join(F.broadcast(norms.select(F.col("w").alias("w_a"),
                                          F.col("n2").alias("nx"))), "w_a")
           .join(F.broadcast(norms.select(F.col("w").alias("w_b"),
                                          F.col("n2").alias("ny"))), "w_b")
           .withColumn("cos", F.expr(
               "CAST(sxy AS DOUBLE) / (sqrt(CAST(nx AS DOUBLE)) "
               "* sqrt(CAST(ny AS DOUBLE)))")))
    return (out.filter((F.col("shared_dims") >= COOC_MIN_DIMS)
                       & (F.col("cos") >= COOC_MIN_COS))
            .select("w_a", "w_b", "shared_dims", "sxy", "cos"))

def _word_cooc_cosine_sql() -> str:
    return f"""
        WITH toks AS (SELECT string_split(text, chr(32)) AS t FROM documents),
        adj AS (SELECT t[i] AS a, t[i + 1] AS b
                FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) r),
        cooc AS (SELECT w, c, CAST(count(*) AS BIGINT) AS cnt FROM (
                     SELECT a AS w, b AS c FROM adj
                     UNION ALL SELECT b AS w, a AS c FROM adj)
                 GROUP BY 1, 2),
        norms AS (SELECT w, CAST(sum(cnt * cnt) AS BIGINT) AS n2
                  FROM cooc GROUP BY 1),
        pairs AS (SELECT x.w AS w_a, y.w AS w_b,
                         CAST(sum(x.cnt * y.cnt) AS BIGINT) AS sxy,
                         count(*) AS shared_dims
                  FROM cooc x JOIN cooc y ON x.c = y.c AND x.w < y.w
                  GROUP BY 1, 2)
        SELECT w_a, w_b, shared_dims, sxy,
               CAST(sxy AS DOUBLE) / (sqrt(CAST(nx.n2 AS DOUBLE))
                   * sqrt(CAST(ny.n2 AS DOUBLE))) AS cos
        FROM pairs
        JOIN norms nx ON nx.w = pairs.w_a
        JOIN norms ny ON ny.w = pairs.w_b
        WHERE shared_dims >= {COOC_MIN_DIMS}
          AND CAST(sxy AS DOUBLE) / (sqrt(CAST(nx.n2 AS DOUBLE))
              * sqrt(CAST(ny.n2 AS DOUBLE))) >= {COOC_MIN_COS}"""

def q_rrf_fusion(spark, sf):
    # rank fusion (the IR ensemble step): two independent document
    # rankings — by token count and by distinct-type count — fused with
    # reciprocal-rank fusion in exact integer micro-units
    # (Σ 1e9 div (k + rank)), top-RRF_TOP with a total-order tie-break.
    # Rankings are windows over the same scored table; the fusion is one
    # small join.
    from pyspark.sql import Window as Win
    t = _docs(spark, sf).select(
        "doc_id",
        TXT.token_count(F.col("text")).cast("bigint").alias("s1"),
        F.size(F.array_distinct(F.split("text", " "))).cast("bigint")
        .alias("s2")).localCheckpoint(eager=False)
    r1 = t.withColumn("r1", F.row_number().over(
        Win.orderBy(F.col("s1").desc(), F.col("doc_id")))).select(
        "doc_id", "r1")
    r2 = t.withColumn("r2", F.row_number().over(
        Win.orderBy(F.col("s2").desc(), F.col("doc_id")))).select(
        "doc_id", "r2")
    f = (r1.join(r2, "doc_id")
         .withColumn("rrf", F.expr(f"{RRF_SCALE} div ({RRF_K} + r1) "
                                   f"+ {RRF_SCALE} div ({RRF_K} + r2)")))
    w = Win.orderBy(F.col("rrf").desc(), F.col("doc_id"))
    return (f.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= RRF_TOP)
            .select("rank", "doc_id", "r1", "r2", "rrf"))

def _rrf_fusion_sql() -> str:
    return f"""
        WITH t AS (SELECT doc_id,
                          CAST(len(string_split(text, chr(32))) AS BIGINT)
                              AS s1,
                          CAST(len(list_distinct(string_split(text,
                              chr(32)))) AS BIGINT) AS s2
                   FROM documents),
        r AS (SELECT doc_id,
                     row_number() OVER (ORDER BY s1 DESC, doc_id) AS r1,
                     row_number() OVER (ORDER BY s2 DESC, doc_id) AS r2
              FROM t),
        f AS (SELECT doc_id, r1, r2,
                     {RRF_SCALE} // ({RRF_K} + r1)
                     + {RRF_SCALE} // ({RRF_K} + r2) AS rrf
              FROM r),
        k AS (SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id)
                  AS rank
              FROM f)
        SELECT rank, doc_id, CAST(r1 AS BIGINT) AS r1,
               CAST(r2 AS BIGINT) AS r2, rrf
        FROM k WHERE rank <= {RRF_TOP}"""

def q_embed_covariance(spark, sf):
    # the PCA/whitening input: exact integer second-moment matrix over
    # fixed-point-quantized embeddings — q = floor(x·1e4) (float32→
    # double is exact, so both engines quantize identically), upper
    # triangle (i ≤ j) of Σ qᵢqⱼ plus the first moments and the
    # covariance numerator n·Σqᵢqⱼ − Σqᵢ·Σqⱼ. Shape: posexplode →
    # self-join on vec_id (64 dims → 2080 pair rows per vector) →
    # one hash aggregate; at 100 TB you'd mapInArrow a per-partition
    # GEMM and tree-reduce the 2080 partials instead — the row count
    # out is identical, which is what the oracle pins.
    e = _emb(spark, sf)
    q = (e.select("vec_id", F.posexplode(
            F.transform("embedding",
                        lambda x: F.floor(x.cast("double")
                                          * EMB_COV_SCALE).cast("bigint")))
          .alias("i", "qi")))
    a = q.select("vec_id", F.col("i"), F.col("qi"))
    b = q.select("vec_id", F.col("i").alias("j"), F.col("qi").alias("qj"))
    pairs = a.join(b, "vec_id").filter(F.col("i") <= F.col("j"))
    mom = (pairs.groupBy("i", "j")
           .agg(F.count("*").alias("n"),
                F.sum("qi").alias("s_i"), F.sum("qj").alias("s_j"),
                F.sum(F.col("qi") * F.col("qj")).alias("s_ij")))
    return mom.withColumn("cov_num",
                          F.expr("n * s_ij - s_i * s_j"))

def _embed_covariance_sql() -> str:
    return f"""
        WITH q AS (SELECT vec_id, i - 1 AS i,
                          CAST(floor(CAST(e AS DOUBLE) * {EMB_COV_SCALE})
                               AS BIGINT) AS qi
                   FROM (SELECT vec_id,
                                unnest(embedding) AS e,
                                generate_subscripts(embedding, 1) AS i
                         FROM embeddings)),
        pr AS (SELECT a.i, b.i AS j, a.qi, b.qi AS qj
               FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i),
        m AS (SELECT i, j, count(*) AS n,
                     CAST(sum(qi) AS BIGINT) AS s_i,
                     CAST(sum(qj) AS BIGINT) AS s_j,
                     CAST(sum(qi * qj) AS BIGINT) AS s_ij
              FROM pr GROUP BY 1, 2)
        SELECT i, j, n, s_i, s_j, s_ij,
               n * s_ij - s_i * s_j AS cov_num
        FROM m"""

def q_rbo_rankings(spark, sf):
    # rank-agreement audit between two host rankings (by page count vs
    # by byte mass): overlap at every depth d ≤ 20 plus the rank-biased-
    # overlap term (1e6·ov) div (d·2^d) — dyadic weights keep the whole
    # curve integer-exact (the geometric p=½ RBO, truncated and
    # unnormalized; the per-depth curve is the diagnostic). Overlap@d
    # counts hosts whose max(rank_a, rank_b) ≤ d — one host join, one
    # 20-row broadcast.
    from pyspark.sql import Window as Win
    p = pages.pages(spark, 2000)
    h = (p.groupBy(TXT.url_host(F.col("url")).alias("host"))
         .agg(F.count("*").alias("n_pages"),
              F.sum(F.octet_length("text")).alias("total_bytes"))
         .localCheckpoint(eager=False))
    ra = (h.withColumn("a_rk", F.row_number().over(
              Win.orderBy(F.desc("n_pages"), F.asc("host"))))
          .filter(F.col("a_rk") <= RBO_DEPTH).select("host", "a_rk"))
    rb = (h.withColumn("b_rk", F.row_number().over(
              Win.orderBy(F.desc("total_bytes"), F.asc("host"))))
          .filter(F.col("b_rk") <= RBO_DEPTH).select("host", "b_rk"))
    shared = ra.join(rb, "host").select(
        F.greatest("a_rk", "b_rk").alias("mx"))
    ds = spark.range(1, RBO_DEPTH + 1).select(
        F.col("id").cast("bigint").alias("d"))
    return (ds.crossJoin(shared)
            .groupBy("d")
            .agg(F.sum(F.expr("if(mx <= d, 1, 0)")).alias("ov"))
            .withColumn("term_ppm",
                        F.expr("(1000000 * ov) div (d * shiftleft(1L, "
                               "cast(d as int)))")))

def _rbo_rankings_sql(n: int = 2000, seed: int = 42) -> str:
    return f"""
        WITH {_pages_cte(n, seed)},
        h AS (SELECT {TXT.sql_url_host('url')} AS host,
                     count(*) AS n_pages,
                     CAST(sum(octet_length(encode(text))) AS BIGINT)
                         AS total_bytes
              FROM txt GROUP BY 1),
        ra AS (SELECT host, row_number() OVER
                   (ORDER BY n_pages DESC, host) AS a_rk FROM h
               QUALIFY a_rk <= {RBO_DEPTH}),
        rb AS (SELECT host, row_number() OVER
                   (ORDER BY total_bytes DESC, host) AS b_rk FROM h
               QUALIFY b_rk <= {RBO_DEPTH}),
        shared AS (SELECT greatest(a_rk, b_rk) AS mx
                   FROM ra JOIN rb USING (host)),
        ds AS (SELECT CAST(t.d + 1 AS BIGINT) AS d
               FROM range({RBO_DEPTH}) t(d))
        SELECT d,
               CAST(sum(CASE WHEN mx <= d THEN 1 ELSE 0 END) AS BIGINT)
                   AS ov,
               (1000000 * CAST(sum(CASE WHEN mx <= d THEN 1 ELSE 0 END)
                    AS BIGINT)) // (d * (1::BIGINT << CAST(d AS INT)))
                   AS term_ppm
        FROM ds CROSS JOIN shared
        GROUP BY 1"""

def q_knn_graph_k3(spark, sf):
    # bulk kNN-GRAPH construction (the UMAP/HDBSCAN input): every
    # point's 3 nearest neighbors within RADIUS_R, from ONE grid-
    # bucketed radius self-join + a per-point top-k window with the
    # deterministic (d², nb) tie order. The query-set kNN operator
    # (knn_k5) answers "k nearest to THESE probes"; this materializes
    # the whole graph in one pass — at 100 TB the radius prefilter is
    # what keeps it from being the quadratic all-pairs.
    from pyspark.sql import Window as Win
    from geobuf_spark.sources.tables import widen
    p = widen(minted.minted_cluster_points_q(spark, sf), spark)
    pairs = sj.radius_self_join(p, r=RADIUS_R)
    both = (pairs.select(F.col("id_a").alias("doc_id"),
                         F.col("id_b").alias("nb"), "dist2")
            .unionByName(pairs.select(F.col("id_b").alias("doc_id"),
                                      F.col("id_a").alias("nb"), "dist2")))
    w = Win.partitionBy("doc_id").orderBy("dist2", "nb")
    return (both.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= KNNG_K)
            .select("doc_id", "rk", "nb", "dist2"))

def _knn_graph_k3_sql() -> str:
    pts = minted.sql_minted_cluster_points_q()
    return f"""
        WITH p AS ({pts}),
        cand AS (SELECT a.doc_id, b.doc_id AS nb,
                        CAST(a.qx - b.qx AS HUGEINT) * (a.qx - b.qx)
                        + CAST(a.qy - b.qy AS HUGEINT) * (a.qy - b.qy)
                            AS d2
                 FROM p a JOIN p b ON a.doc_id <> b.doc_id),
        inr AS (SELECT doc_id, nb, CAST(d2 AS BIGINT) AS dist2
                FROM cand
                WHERE d2 <= {RADIUS_R}::HUGEINT * {RADIUS_R}),
        rk AS (SELECT doc_id, nb, dist2,
                      row_number() OVER (PARTITION BY doc_id
                          ORDER BY dist2, nb) AS rk
               FROM inr)
        SELECT doc_id, rk, nb, dist2 FROM rk WHERE rk <= {KNNG_K}"""

def q_lang_profile_cosine(spark, sf):
    # corpus-profile similarity: cosine between the unigram COUNT
    # vectors of every language pair — integer dot products and norms
    # (the verifiable payload; distributional similarity by counting,
    # word_cooc_cosine's corpus-level sibling) + cos_e6 from shared
    # float text. One token aggregate, then a self-join on token over
    # lang-count rows (vocabulary-sized, not corpus-sized).
    d = _docs(spark, sf).select("lang", "text")
    tc = (d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
          .filter(F.col("tok") != "")
          .groupBy("lang", "tok").agg(F.count("*").alias("c"))
          .localCheckpoint(eager=False))
    norms = tc.groupBy("lang").agg(
        F.sum(F.col("c") * F.col("c")).alias("n2"))
    a = tc.select(F.col("lang").alias("lang_a"), "tok",
                  F.col("c").alias("ca"))
    b = tc.select(F.col("lang").alias("lang_b"), "tok",
                  F.col("c").alias("cb"))
    dots = (a.join(b, "tok").filter(F.col("lang_a") < F.col("lang_b"))
            .groupBy("lang_a", "lang_b")
            .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot")))
    na = norms.select(F.col("lang").alias("lang_a"),
                      F.col("n2").alias("na2"))
    nb = norms.select(F.col("lang").alias("lang_b"),
                      F.col("n2").alias("nb2"))
    return (dots.join(na, "lang_a").join(nb, "lang_b")
            .select("lang_a", "lang_b", "dot", "na2", "nb2")
            .withColumn("cos_e6", F.expr(
                "CAST(floor(1000000.0 * CAST(dot AS DOUBLE)"
                " / sqrt(CAST(na2 AS DOUBLE) * CAST(nb2 AS DOUBLE)))"
                " AS BIGINT)")))

def _lang_profile_cosine_sql() -> str:
    return """
        WITH toks AS (SELECT lang, unnest(string_split(text, ' '))
                                 AS tok
                      FROM documents),
        tc AS (SELECT lang, tok, count(*) AS c FROM toks
               WHERE tok <> '' GROUP BY 1, 2),
        norms AS (SELECT lang, CAST(sum(c * c) AS BIGINT) AS n2
                  FROM tc GROUP BY 1),
        dots AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
                        CAST(sum(a.c * b.c) AS BIGINT) AS dot
                 FROM tc a JOIN tc b
                   ON a.tok = b.tok AND a.lang < b.lang
                 GROUP BY 1, 2)
        SELECT lang_a, lang_b, dot,
               na.n2 AS na2, nb.n2 AS nb2,
               CAST(floor(1000000.0 * CAST(dot AS DOUBLE)
                   / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)))
                   AS BIGINT) AS cos_e6
        FROM dots
        JOIN norms na ON na.lang = dots.lang_a
        JOIN norms nb ON nb.lang = dots.lang_b"""

def q_mmr_topk(spark, sf):
    # Maximal-Marginal-Relevance diversified selection — the dedup-aware
    # "pick k exemplar documents" step of a training-data curation
    # pipeline. Greedy, exact integers: rel(d) = |distinct 3-shingles|,
    # round r picks argmax of 1e6·rel − MMR_LAM·maxsim_ppm where
    # maxsim_ppm is the max exact Jaccard (ppm, floor) against the
    # already-selected docs; ties → min doc_id. Each round is ONE
    # distributed argmax (orderBy→limit 1); the selected shingle sets
    # ride along as plan literals (array_intersect against a constant
    # array — no join), so per-round cost is a projection + top-1, and
    # only MMR_K=3 single-row collects touch the driver (the loop lives
    # in operators/similarity.mmr_select). The oracle is the same greedy
    # chain as materialized chained CTEs with an inverted shingle JOIN
    # for the intersections — an independent formulation of every
    # intersection/union.
    from geobuf_spark.operators import similarity
    sel = similarity.mmr_select(_docs(spark, sf), key="doc_id",
                                k=MMR_K, lam=MMR_LAM)
    out = [(rank, int(key), rel, maxsim, score)
           for rank, key, rel, maxsim, score in sel]
    return spark.createDataFrame(
        out, "rank int, doc_id bigint, rel bigint, maxsim_ppm bigint, "
             "score bigint")

def _mmr_topk_sql(k_rounds: int = MMR_K, lam: int = MMR_LAM) -> str:
    # chained greedy rounds; round r computes sim against each of the
    # r−1 previously-picked docs by an inverted shingle join
    parts = [f"""
        d AS (SELECT doc_id, string_split(text, chr(32)) AS toks
              FROM documents),
        sh0 AS (SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(len(toks) - 2, 1) + 1),
                           i -> array_to_string(list_slice(toks, i, i + 2),
                                                chr(31)))) AS shs
                FROM d),
        rel AS (SELECT doc_id, CAST(len(shs) AS BIGINT) AS rel FROM sh0),
        sh AS (SELECT doc_id, unnest(shs) AS s FROM sh0),
        p1 AS (SELECT doc_id, rel, CAST(0 AS BIGINT) AS maxsim,
                      1000000 * rel AS score
               FROM rel ORDER BY rel DESC, doc_id LIMIT 1)"""]
    for r in range(2, k_rounds + 1):
        prev = " UNION ALL ".join(f"SELECT doc_id FROM p{j}"
                                  for j in range(1, r))
        sims = []
        for j in range(1, r):
            sims.append(f"""
        i{r}_{j} AS (SELECT a.doc_id, CAST(count(*) AS BIGINT) AS inter
                     FROM sh a JOIN sh b ON a.s = b.s
                     WHERE b.doc_id = (SELECT doc_id FROM p{j})
                     GROUP BY 1),
        s{r}_{j} AS (SELECT r.doc_id,
                            coalesce(1000000 * i.inter
                                     // (r.rel + (SELECT rel FROM rel
                                                  WHERE doc_id =
                                                  (SELECT doc_id FROM p{j}))
                                        - i.inter), 0) AS sim
                     FROM rel r LEFT JOIN i{r}_{j} i USING (doc_id))""")
        greatest = "greatest(" + ", ".join(
            f"s{r}_{j}.sim" for j in range(1, r)) + ")"
        joins = " ".join(f"JOIN s{r}_{j} USING (doc_id)"
                         for j in range(1, r))
        parts.append(",".join(sims) + f""",
        c{r} AS (SELECT rel.doc_id, rel.rel, {greatest} AS maxsim,
                        1000000 * rel.rel - {lam} * {greatest} AS score
                 FROM rel {joins}
                 WHERE rel.doc_id NOT IN ({prev})),
        p{r} AS (SELECT doc_id, rel, CAST(maxsim AS BIGINT) AS maxsim,
                        CAST(score AS BIGINT) AS score
                 FROM c{r} ORDER BY score DESC, doc_id LIMIT 1)""")
    sel = "\n        UNION ALL ".join(
        f"SELECT {r} AS rank, doc_id, rel, maxsim, score FROM p{r}"
        for r in range(1, k_rounds + 1))
    return ("WITH " + ",".join(parts) + f"""
        SELECT CAST(rank AS INT) AS rank, doc_id, rel,
               CAST(maxsim AS BIGINT) AS maxsim_ppm,
               CAST(score AS BIGINT) AS score
        FROM ({sel})""")

def q_l1_medoid(spark, sf):
    # robust cluster centers under L1: the per-axis exact median (L1 is
    # separable, so (med_x, med_y) minimizes Σ|dx|+|dy| over the
    # PLANE), plus the in-cluster medoid — the actual member point
    # nearest that center (argmin L1 distance, ties → min doc_id) —
    # the representative you can actually serve. Exact order
    # statistics via per-group windows (rank (n+1) div 2 on the sorted
    # axis); everything shuffles once on the cluster key.
    from pyspark.sql import Window as Win
    from geobuf_spark.sources import minted
    pts = (minted.minted_cluster_points_q(spark, sf)
           .withColumn("g", F.col("doc_id") % minted.N_CLUSTERS))
    wn = Win.partitionBy("g")
    wx = Win.partitionBy("g").orderBy("qx", "doc_id")
    wy = Win.partitionBy("g").orderBy("qy", "doc_id")
    p = (pts.withColumn("n", F.count("*").over(wn))
         .withColumn("rx", F.row_number().over(wx))
         .withColumn("ry", F.row_number().over(wy)))
    medx = (p.filter(F.expr("rx = (n + 1) div 2"))
            .select("g", F.col("qx").alias("medx")))
    medy = (p.filter(F.expr("ry = (n + 1) div 2"))
            .select("g", F.col("qy").alias("medy")))
    j = pts.join(F.broadcast(medx), "g").join(F.broadcast(medy), "g")
    dist = (F.abs(F.col("qx") - F.col("medx"))
            + F.abs(F.col("qy") - F.col("medy")))
    best = (j.groupBy("g")
            .agg(F.count("*").alias("n"),
                 F.min(F.struct(dist.alias("d"),
                                F.col("doc_id").alias("doc"))).alias("m"),
                 F.first("medx").alias("medx"),
                 F.first("medy").alias("medy")))
    return (best.select(F.col("g").cast("bigint").alias("g"),
                        F.col("n").cast("bigint").alias("n"),
                        "medx", "medy",
                        F.col("m.doc").alias("medoid_doc"),
                        F.col("m.d").cast("bigint").alias("medoid_dist")))

def _l1_medoid_sql() -> str:
    from geobuf_spark.sources import minted
    return f"""
        WITH pts AS (SELECT doc_id, qx, qy,
                            doc_id % {minted.N_CLUSTERS} AS g
                     FROM ({minted.sql_minted_cluster_points_q()})),
        p AS (SELECT *, count(*) OVER (PARTITION BY g) AS n,
                     row_number() OVER (PARTITION BY g
                                        ORDER BY qx, doc_id) AS rx,
                     row_number() OVER (PARTITION BY g
                                        ORDER BY qy, doc_id) AS ry
              FROM pts),
        mx AS (SELECT g, qx AS medx FROM p WHERE rx = (n + 1) // 2),
        my AS (SELECT g, qy AS medy FROM p WHERE ry = (n + 1) // 2),
        j AS (SELECT pts.g, pts.doc_id, pts.qx, pts.qy, mx.medx, my.medy,
                     abs(pts.qx - mx.medx) + abs(pts.qy - my.medy) AS d
              FROM pts JOIN mx USING (g) JOIN my USING (g)),
        r AS (SELECT *, row_number() OVER (PARTITION BY g
                  ORDER BY d, doc_id) AS rn
              FROM j)
        SELECT CAST(g AS BIGINT) AS g,
               CAST((SELECT count(*) FROM pts p2 WHERE p2.g = r.g)
                    AS BIGINT) AS n,
               medx, medy, doc_id AS medoid_doc,
               CAST(d AS BIGINT) AS medoid_dist
        FROM r WHERE rn = 1"""

def q_colbert_maxsim(spark, sf):
    # multi-vector late-interaction retrieval (ColBERT-style): each
    # embedding splits into 4 sub-vectors; score(q, v) = Σ_i max_j
    # ⟨q_i, v_j⟩ — a query facet matches its BEST document facet
    # instead of one pooled dot product. Brute top-k over the corpus
    # (the exactness baseline, like ann_cosine_top5); the 16 dots are
    # explicit 16-term addition chains so both engines sum in the
    # IDENTICAL order — float-exact ranks, and only integer ranks are
    # emitted. Queries broadcast; one window per query for top-k.
    from pyspark.sql import Window as Win
    e = _emb(spark, sf).select("vec_id",
                               F.col("embedding").cast("array<double>")
                               .alias("emb"))
    q = (e.filter(F.col("vec_id") % MAXSIM_EVERY == 0)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("emb").alias("qe")))
    j = (e.withColumnRenamed("vec_id", "neighbor_id")
         .withColumnRenamed("emb", "ve")
         .crossJoin(F.broadcast(q))
         .filter(F.col("neighbor_id") != F.col("query_id")))
    sub = 64 // MAXSIM_SUB
    maxes = []
    for i in range(MAXSIM_SUB):
        dots = []
        for jj in range(MAXSIM_SUB):
            terms = [F.element_at("qe", i * sub + k + 1)
                     * F.element_at("ve", jj * sub + k + 1)
                     for k in range(sub)]
            acc = terms[0]
            for t in terms[1:]:
                acc = acc + t
            dots.append(acc)
        maxes.append(F.greatest(*dots))
    score = maxes[0]
    for m in maxes[1:]:
        score = score + m
    w = Win.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("neighbor_id").asc())
    return (j.withColumn("s", score)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= MAXSIM_K)
            .select("query_id", "neighbor_id",
                    F.col("rank").cast("int").alias("rank")))

def _colbert_maxsim_sql() -> str:
    sub = 64 // MAXSIM_SUB
    maxes = []
    for i in range(MAXSIM_SUB):
        dots = []
        for jj in range(MAXSIM_SUB):
            dots.append(" + ".join(
                f"qe[{i * sub + k + 1}] * ve[{jj * sub + k + 1}]"
                for k in range(sub)))
        maxes.append("greatest(" + ", ".join(f"({d})" for d in dots) + ")")
    score = " + ".join(f"({m})" for m in maxes)
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, emb AS qe FROM e
              WHERE vec_id % {MAXSIM_EVERY} = 0),
        s AS (SELECT q.query_id, v.vec_id AS neighbor_id, v.emb AS ve,
                     q.qe
              FROM q CROSS JOIN e v WHERE v.vec_id <> q.query_id),
        sc AS (SELECT query_id, neighbor_id, {score} AS s FROM s),
        r AS (SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                         ORDER BY s DESC, neighbor_id) AS rank
              FROM sc)
        SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
        FROM r WHERE rank <= {MAXSIM_K}"""

def q_mutual_knn(spark, sf):
    # reciprocal-nearest-neighbor pairs from the kNN graph — the
    # classic tight-cluster seed (RNN pairs start agglomerative
    # clustering and flag regions where density peaks): (a, b) such
    # that b is among a's KNNG_K nearest AND a is among b's. One
    # self-join of the knn_graph edge list on the reversed key; keeps
    # both directed ranks so asymmetry is visible.
    g = q_knn_graph_k3(spark, sf).localCheckpoint(eager=False)
    rev = g.select(F.col("nb").alias("doc_id"),
                   F.col("doc_id").alias("nb"),
                   F.col("rk").alias("rk_ba"))
    return (g.join(rev, ["doc_id", "nb"])
            .filter(F.col("doc_id") < F.col("nb"))
            .select(F.col("doc_id").alias("a"), F.col("nb").alias("b"),
                    F.col("dist2").cast("bigint").alias("dist2"),
                    F.col("rk").cast("int").alias("rk_ab"),
                    F.col("rk_ba").cast("int").alias("rk_ba")))

def _mutual_knn_sql() -> str:
    g = _knn_graph_k3_sql()
    return f"""
        WITH kg AS ({g})
        SELECT a.doc_id AS a, a.nb AS b,
               CAST(a.dist2 AS BIGINT) AS dist2,
               CAST(a.rk AS INT) AS rk_ab,
               CAST(b.rk AS INT) AS rk_ba
        FROM kg a JOIN kg b ON b.doc_id = a.nb AND b.nb = a.doc_id
        WHERE a.doc_id < a.nb"""

def _ann_cosine_sql(k: int = 5, every: int = 25) -> str:
    """Oracle for q_ann_cosine_top5: exact cosine top-k in DuckDB
    (double-cast lists; ties broken by neighbor_id like brute_force_topk)."""
    return f"""
        WITH q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
            FROM embeddings WHERE vec_id % {every} = 0),
        s AS (
            SELECT q.query_id, v.vec_id AS neighbor_id,
                   list_cosine_similarity(q.qe, CAST(v.embedding AS DOUBLE[])) AS cos
            FROM q CROSS JOIN embeddings v
            WHERE v.vec_id <> q.query_id),
        r AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS rank
            FROM s)
        SELECT query_id, neighbor_id, rank FROM r WHERE rank <= {k}"""

def _multimodal_ann_sql(k: int = 3, every: int = 50) -> str:
    """Oracle for q_multimodal_ann_top3: payload_embedding is a 16-bin
    HIGH-NIBBLE byte histogram of the utf-8 payload; the documents text is
    ASCII, so byte nibbles == codepoint//16 and the histogram is a char
    class count — then exact cosine top-k (cosine is normalization-
    invariant, so the L2 step needs no twin)."""
    bins = ", ".join(
        f"CAST(len(list_filter(cs, c -> (ord(c) // 16) % 16 = {kk})) AS DOUBLE)"
        for kk in range(16))
    return f"""
        WITH chars AS (
            SELECT doc_id, string_split(text, '') AS cs FROM documents),
        emb AS (SELECT doc_id, [{bins}] AS e FROM chars),
        q AS (SELECT doc_id AS query_id, e AS qe FROM emb
              WHERE doc_id % {every} = 0),
        s AS (
            SELECT q.query_id, v.doc_id AS neighbor_id,
                   list_cosine_similarity(q.qe, v.e) AS cos
            FROM q CROSS JOIN emb v WHERE v.doc_id <> q.query_id),
        r AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS rank
            FROM s)
        SELECT query_id, neighbor_id, rank FROM r WHERE rank <= {k}"""

def _ann_lsh_sql(k: int = 5, every: int = 25, nbits: int = 16, bands: int = 4,
                 seed: int = 7, multiprobe: int = 2) -> str:
    """Oracle for q_ann_lsh_top5: the hyperplanes are a pure function of
    (dim, nbits, seed) — embedded as float literals — so DuckDB recomputes
    signatures, band buckets, the multiprobe weakest-bit flips (smallest
    |projection| first, exactly similarity._query_probes), candidate join
    and cosine re-rank from scratch. Projection signs/orderings are float-
    exact across engines except at |proj| ~ ulp — validated on the
    testdata (same accepted risk as the mvt snap oracle, ADVICE r2 #5)."""
    from geobuf_spark.operators.similarity import _hyperplanes

    width = nbits // bands
    planes = _hyperplanes(64, nbits, seed)
    dots = ", ".join(f"list_dot_product(e, {_vec_lit(planes[i])})" for i in range(nbits))
    base = " + ".join(
        f"(CASE WHEN p[{width} * t.band + {r + 1}] > 0 THEN {1 << r} ELSE 0 END)"
        for r in range(width))
    weak = ", ".join(
        "{" + f"'a': abs(p[{width} * t.band + {r + 1}]), 'i': {r}" + "}"
        for r in range(width))
    probe_cases = " ".join(
        f"WHEN {j + 1} THEN xor(base, (1::BIGINT << o[{j + 1}].i))"
        for j in range(multiprobe))
    return f"""
        WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                     FROM embeddings),
        pr AS (SELECT vec_id, e, [{dots}] AS p FROM emb),
        vb AS (SELECT vec_id, t.band, CAST({base} AS BIGINT) AS bucket
               FROM pr, (SELECT unnest(range({bands})) AS band) t),
        qb0 AS (SELECT vec_id, t.band, CAST({base} AS BIGINT) AS base,
                       list_sort([{weak}]) AS o
                FROM pr, (SELECT unnest(range({bands})) AS band) t
                WHERE vec_id % {every} = 0),
        qb AS (SELECT vec_id AS query_id, band,
                      CASE pp.probe WHEN 0 THEN base {probe_cases} END AS bucket
               FROM qb0, (SELECT unnest(range({multiprobe + 1})) AS probe) pp),
        cand AS (SELECT DISTINCT q.query_id, v.vec_id
                 FROM qb q JOIN vb v ON q.band = v.band AND q.bucket = v.bucket
                 WHERE v.vec_id <> q.query_id),
        scored AS (SELECT c.query_id, c.vec_id AS neighbor_id,
                          list_cosine_similarity(qe.e, ve.e) AS cos
                   FROM cand c
                   JOIN emb qe ON qe.vec_id = c.query_id
                   JOIN emb ve ON ve.vec_id = c.vec_id),
        r AS (SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id) AS rank
              FROM scored)
        SELECT query_id, neighbor_id, rank FROM r WHERE rank <= {k}"""

def _knn_label_vote_sql() -> str:
    """Oracle for q_knn_label_vote: the brute-force kNN window (same CTEs
    as the knn_k5 oracle) joined to documents.lang, majority vote with
    (votes DESC, lang) tie order."""
    return f"""
        WITH p AS ({minted.SQL_MINTED_POINTS.strip()}),
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
            FROM scored),
        lab AS (SELECT r.query_id, d.lang
                FROM ranked r JOIN documents d ON d.doc_id = r.neighbor_id
                WHERE r.rank <= 5),
        votes AS (SELECT query_id, lang, count(*) AS votes
                  FROM lab GROUP BY 1, 2),
        best AS (SELECT query_id, lang, votes,
                        row_number() OVER (PARTITION BY query_id
                                           ORDER BY votes DESC, lang) AS rn
                 FROM votes)
        SELECT query_id, lang AS pred_lang, votes FROM best WHERE rn = 1"""


def oracles() -> dict[str, str]:
    """DuckDB oracle twins for this module's queries."""
    out = {
        "knn_label_vote": _knn_label_vote_sql(),
        "cocitation_pairs": _cocitation_pairs_sql(),
        "embed_quantize": _embed_quantize_sql(),
        "multimodal_bytes": """
            SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                   upper(hex(substring(text, 1, 4))) AS magic_hex
            FROM documents""",
        "multimodal_ann_top3": _multimodal_ann_sql(),
        "embedding_norms_q": """
            SELECT vec_id, len(embedding) AS dim,
                   CAST(list_sum(list_transform(embedding,
                        e -> CAST(floor(CAST(e AS DOUBLE) * CAST(e AS DOUBLE) * 1000000.0)
                                  AS BIGINT))) AS BIGINT) AS normsq_q
            FROM embeddings""",
        "ann_cosine_top5": _ann_cosine_sql(),
        "ann_lsh_top5": _ann_lsh_sql(),
        "word_cooc_cosine": _word_cooc_cosine_sql(),
        "rrf_fusion": _rrf_fusion_sql(),
        "embed_covariance": _embed_covariance_sql(),
        "rbo_rankings": _rbo_rankings_sql(),
        "knn_graph_k3": _knn_graph_k3_sql(),
        "lang_profile_cosine": _lang_profile_cosine_sql(),
        "mmr_topk": _mmr_topk_sql(),
        "l1_medoid": _l1_medoid_sql(),
        "colbert_maxsim": _colbert_maxsim_sql(),
        "mutual_knn": _mutual_knn_sql(),
    }
    return _with_ivf_oracle(out)
