"""Registry family: web-corpus text/URL/host/language queries (input_hint surface).

Split out of the former __spark_entry__.py monolith (VERDICT r4 #2);
query functions keep their original text, oracles sit beside them in
this module's oracles(). Driver-window ORDER lives in window.py, not here.

Queries here (59):
anchor_text_topk, benford_values, bm25_topk, boilerplate_lines,
bpe_merges, chi2_lang_source, conjunctive_search, corpus_clean,
cube_doc_counts, doc_fingerprint, doc_quality, effective_tokens,
gopher_quality_flags, grouping_sets_counts, host_cap_sample,
host_concentration, host_crawl_priority, host_quality_rollup,
host_url_lcp, html_extract_text, inverted_postings, ks_two_langs,
lang_confusion, lang_diversity_simpson, lang_id, latest_capture,
link_host_graph, meta_robots, mlt_topk, ngram_jaccard, ngram_topk,
ntile_len_deciles, null_profile, pages_synth, paragraph_owner,
phrase_search, pii_scrub, pivot_lang_source, pmi_bigrams,
prefix_autocomplete_topk, props_json_stats, rare_token_ratio,
robots_prefix_rules, rollup_doc_counts, sample_stratified,
text_normalize, text_segments, tfidf_top_terms, token_positions,
token_totals, top_ngram_frac, unpivot_lang_counts, url_host_topk,
url_normalize, vocab_growth, warc_index, weighted_median_tokens,
weighted_sample_docs, zipf_fit
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


def q_bm25_topk(spark, sf):
    # fixed-point BM25 retrieval over the corpus for a seed term set: tf
    # per term is an array expression (no explode, no shuffle), corpus
    # stats (N, avgdl, df) are ONE global agg whose single row broadcasts
    # back, every op is BIGINT (log-free RSJ idf) so both engines agree
    # bit-for-bit; top-15 total-ordered on (score desc, doc_id)
    s = ranking.bm25_scores(_docs(spark, sf), BM25_TERMS)
    return s.orderBy(F.desc("score_ppm"), F.asc("doc_id")).limit(15)

def q_inverted_postings(spark, sf):
    # inverted-index posting statistics: explode → ONE (term, doc) hash agg
    # (map-side partials collapse within-doc repeats pre-shuffle) → per-term
    # df/tf_total + a rank-bounded 5-doc posting sample (row_number, NOT an
    # unbounded collect_list — per-group state stays constant at 10^12 docs)
    p = ranking.postings(_docs(spark, sf), sample_k=5)
    return p.orderBy(F.desc("df"), F.asc("term")).limit(30)

def q_anchor_text_topk(spark, sf):
    # anchor-text aggregation (the search/quality signal a crawl pipeline
    # rolls up per target): (dst_host, anchor) counts — ONE hash shuffle
    # with map-side partials — then the top-3 anchors per host via a
    # window over the GROUP table (never over raw edges)
    from pyspark.sql import Window
    e = _page_link_edges_anchored(spark, 2000)
    c = (e.groupBy(TXT.url_host(F.col("dst")).alias("dst_host"), "anchor")
         .agg(F.count("*").alias("n")))
    w = Window.partitionBy("dst_host").orderBy(F.desc("n"), F.asc("anchor"))
    return (c.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("dst_host", "rank", "anchor", "n"))

def q_mlt_topk(spark, sf):
    # more-like-this retrieval THROUGH the inverted index — the join-shaped
    # complement of bm25_topk's array-expression scan: the seed document's
    # distinct terms (a tiny broadcast) probe the (doc, term) posting
    # pairs; candidates score Σ idf (the same log-free RSJ idf as BM25).
    # Magnitude: idf ≤ (2N+1)·1e6/3 (df ≥ 1 always — the seed holds the
    # term) and the per-doc sum spans ≤ |seed terms| of them, so int64
    # holds for N·n_seed_terms ≲ 1.4e13 — document that bound, don't
    # decompose: rarer corpora shrink df, not N. Corpus N rides the same
    # 1-row broadcast agg. Top-10 total-ordered.
    docs = _docs(spark, sf)
    toks = docs.select(
        F.col("doc_id"),
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("term"))
    seed = (toks.filter(F.col("doc_id") == MLT_SEED_DOC)
            .select("term").distinct())
    n_row = docs.agg(F.count("*").alias("n_docs"))
    dfreq = toks.groupBy("term").agg(F.count("*").alias("df"))
    idf = ranking.idf_expr("n_docs", "df", "div")
    return (toks.join(F.broadcast(seed), "term")
            .filter(F.col("doc_id") != MLT_SEED_DOC)
            .join(dfreq, "term")
            .crossJoin(F.broadcast(n_row))
            .groupBy("doc_id")
            .agg(F.sum(F.expr(idf)).alias("score_ppm"),
                 F.count("*").alias("n_shared"))
            .orderBy(F.desc("score_ppm"), F.asc("doc_id"))
            .limit(10))

def _mlt_topk_sql(seed_doc: int = MLT_SEED_DOC, k: int = 10) -> str:
    """Oracle for q_mlt_topk: identical CTE chain over `documents`."""
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_distinct(string_split(text, chr(32)))) AS term
            FROM documents),
        seed AS (SELECT DISTINCT term FROM toks WHERE doc_id = {seed_doc}),
        nrow AS (SELECT count(*) AS n_docs FROM documents),
        dfreq AS (SELECT term, count(*) AS df FROM toks GROUP BY 1)
        SELECT t.doc_id,
               CAST(sum({ranking.idf_expr('n.n_docs', 'f.df', '//')})
                    AS BIGINT) AS score_ppm,
               count(*) AS n_shared
        FROM toks t JOIN seed s ON s.term = t.term
                    JOIN dfreq f ON f.term = t.term, nrow n
        WHERE t.doc_id != {seed_doc}
        GROUP BY 1
        ORDER BY score_ppm DESC, doc_id
        LIMIT {k}"""

def q_gopher_quality_flags(spark, sf):
    # Gopher document-quality rules (token count, mean token length,
    # alpha-word fraction, stopword hits) + the combined gate — the
    # paper-standard pretraining filter the simpler doc_quality columns
    # don't cover. Zero-shuffle: every rule is a token-array lambda or a
    # floored fixed-point ratio inside whole-stage codegen.
    return TXT.gopher_columns(_docs(spark, sf)).select(
        "doc_id", "n_tokens", "mean_token_len_x100", "alpha_frac_x10k",
        "stop_hits", "gopher_pass")

def q_top_ngram_frac(spark, sf):
    # Gopher repetition rule: the fraction of a document's characters
    # covered by occurrences of its most frequent word 2-gram. The modal
    # gram comes from a sorted-array run-length fold (text.top_run_columns)
    # — zero exchanges, unlike the explode→groupBy(doc, gram) formulation
    # that shuffles one row per gram occurrence. Docs under 2 tokens have
    # no 2-gram and no row.
    d = _docs(spark, sf).filter(F.size(TXT.tokens(F.col("text"))) >= 2)
    t = TXT.top_run_columns(d, "text", n=2)
    frac = F.floor(
        F.col("top_count").cast("double") * F.length("top_gram").cast("double")
        * 10000.0 / F.length("text").cast("double")).cast("bigint")
    return t.select("doc_id", "top_gram", "top_count",
                    frac.alias("top_frac_x10k"))

def q_pii_scrub(spark, sf):
    # PII redaction with a byte witness: mint an email / a phone / both /
    # neither onto each page text (deterministic md5 draws so the oracle
    # re-mints identically), count matches, scrub, and hash the result.
    # The md5 pair pins both the counts and the replacement bytes. Zero
    # shuffles — regexp chains in codegen; at 100 TB this is a map-only
    # pass fused into the corpus-clean scan.
    p = pages.pages(spark, 2000)
    h = F.md5(F.concat(F.lit("pii-"), F.col("page_id").cast("string")))
    email = F.concat(F.substring(h, 1, 8), F.lit("@mail"),
                     F.pmod(F.col("page_id"), F.lit(50)).cast("string"),
                     F.lit(".example.com"))
    phone = F.expr(_pii_phone(phash.spark_hex,
                              "md5(concat('pii-', CAST(page_id AS STRING)))"))
    v = F.pmod(F.col("page_id"), F.lit(4))
    messy = (F.when(v == 0, F.concat(F.col("text"), F.lit(" contact "), email))
             .when(v == 1, F.concat(F.col("text"), F.lit(" call "), phone))
             .when(v == 2, F.concat(F.col("text"), F.lit(" contact "), email,
                                    F.lit(" or "), phone))
             .otherwise(F.col("text")))
    n_emails, n_phones = TXT.pii_counts(messy)
    return p.select("page_id", v.cast("int").alias("variant"),
                    n_emails.alias("n_emails"), n_phones.alias("n_phones"),
                    F.md5(TXT.scrub_pii(messy)).alias("clean_md5"))

def q_rare_token_ratio(spark, sf):
    # corpus-rare-token quality signal over the minted Zipf corpus — the
    # one quality rule that needs a corpus-wide pass (global token
    # frequencies), exercising the heavy-hitter shuffle shape the per-doc
    # Gopher rules never touch. See text.rare_token_ratio for the
    # 100 TB plan notes.
    return TXT.rare_token_ratio(_zipf_docs(spark), min_count=3).select(
        "doc_id", "n_tokens_total", "n_rare", "rare_x10k")

def _zipf_docs_cte(n: int = ZIPF_DOCS_N, m: int = ZIPF_DOC_TOKENS) -> str:
    """DuckDB regeneration of _zipf_docs: zipf(doc_id, text)."""
    u = phash.sql_hash60(
        "'z' || CAST(t.id AS VARCHAR) || '-' || CAST(i AS VARCHAR)")
    return f"""zipf AS (SELECT t.id AS doc_id,
               array_to_string(list_transform(range(1, {m + 1}),
                   i -> 'w' || CAST(CAST(floor({float(ZIPF_U_MOD)} /
                        (({u}) % {ZIPF_U_MOD} + 1)) AS BIGINT) AS VARCHAR)),
                   chr(32)) AS text
        FROM range({n}) t(id))"""

def _gopher_quality_sql() -> str:
    """Oracle for q_gopher_quality_flags: the sql_gopher twins verbatim."""
    gq = TXT.sql_gopher("text")
    cols = ", ".join(f"{gq[c]} AS {c}" for c in
                     ["n_tokens", "mean_token_len_x100", "alpha_frac_x10k",
                      "stop_hits", "gopher_pass"])
    return f"SELECT doc_id, {cols} FROM documents"

def _top_ngram_frac_sql() -> str:
    """Oracle for q_top_ngram_frac. The fold's winner (longest equal run in
    the ascending-sorted gram array, strictly-greater displacement) equals
    (max count, lexicographically smallest gram among the argmax) — which
    IS expressible relationally: max(c) then min(gram) at that count."""
    return """
        WITH toks AS (SELECT doc_id, text,
                             string_split(text, chr(32)) AS ws
                      FROM documents),
        g AS (SELECT doc_id,
                     unnest(list_transform(range(1, len(ws)),
                            i -> ws[i] || chr(32) || ws[i + 1])) AS gram
              FROM toks WHERE len(ws) >= 2),
        per AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
        mx AS (SELECT doc_id, max(c) AS mc FROM per GROUP BY 1),
        sel AS (SELECT per.doc_id, min(per.gram) AS top_gram, mx.mc
                FROM per JOIN mx ON per.doc_id = mx.doc_id AND per.c = mx.mc
                GROUP BY per.doc_id, mx.mc)
        SELECT sel.doc_id, sel.top_gram, CAST(sel.mc AS BIGINT) AS top_count,
               CAST(floor(CAST(sel.mc AS DOUBLE)
                    * CAST(length(sel.top_gram) AS DOUBLE) * 10000.0
                    / CAST(length(t.text) AS DOUBLE)) AS BIGINT)
                   AS top_frac_x10k
        FROM sel JOIN toks t ON sel.doc_id = t.doc_id"""

def _pii_phone(hx, ph: str) -> str:
    """The minted phone number of the page whose pii md5 text is `ph`."""
    return (f"'+1-555-' || lpad(CAST({hx(f'substr({ph}, 9, 4)')} % 10000 "
            f"AS STRING), 4, '0')")

def _pii_scrub_sql(n: int = 2000, seed: int = 42) -> str:
    """Oracle for q_pii_scrub: same mint, same regexes ('g' flag — Spark's
    regexp_replace is global by default)."""
    ne, np_ = TXT.sql_pii_counts("messy")
    return f"""
        WITH {_pages_cte(n, seed)},
        m AS (SELECT id, CAST(id % 4 AS INT) AS variant,
                     md5('pii-' || CAST(id AS VARCHAR)) AS ph, text
              FROM txt),
        m2 AS (SELECT id, variant,
                      substr(ph, 1, 8) || '@mail' || CAST(id % 50 AS VARCHAR)
                          || '.example.com' AS email,
                      {_pii_phone(phash.sql_hex, 'ph')} AS phone,
                      text
               FROM m),
        msy AS (SELECT id, variant,
                       CASE variant
                         WHEN 0 THEN text || ' contact ' || email
                         WHEN 1 THEN text || ' call ' || phone
                         WHEN 2 THEN text || ' contact ' || email
                                     || ' or ' || phone
                         ELSE text END AS messy
                FROM m2)
        SELECT id AS page_id, variant, {ne} AS n_emails, {np_} AS n_phones,
               md5({TXT.sql_scrub_pii('messy')}) AS clean_md5
        FROM msy"""

def _rare_token_ratio_sql(min_count: int = 3) -> str:
    """Oracle for q_rare_token_ratio: zipf mint + the same two-level
    aggregation; sums CAST to BIGINT before the fixed-point division so
    DuckDB's HUGEINT sum matches Spark's int64."""
    return f"""
        WITH {_zipf_docs_cte()},
        tok AS (SELECT doc_id, unnest(string_split(text, chr(32))) AS tok
                FROM zipf),
        per AS (SELECT doc_id, tok, count(*) AS m FROM tok GROUP BY 1, 2),
        freq AS (SELECT tok, sum(m) AS n_corpus FROM per GROUP BY 1),
        sel AS (SELECT per.doc_id,
                       CAST(sum(per.m) AS BIGINT) AS total,
                       CAST(sum(CASE WHEN f.n_corpus < {min_count}
                                THEN per.m ELSE 0 END) AS BIGINT) AS rare
                FROM per JOIN freq f USING (tok)
                GROUP BY 1)
        SELECT doc_id, total AS n_tokens_total, rare AS n_rare,
               CAST(floor(rare * 10000.0 / total) AS BIGINT) AS rare_x10k
        FROM sel"""

def q_lang_diversity_simpson(spark, sf):
    # per-source language diversity as the Simpson index, ppm fixed-point
    # — entropy needs a cross-engine log (last-ulp risk), Simpson is pure
    # integer: 1e6 − (Σ n_l²·1e6) div n². Two narrow aggregations.
    d = _docs(spark, sf)
    per = d.groupBy("source", "lang").agg(F.count("*").alias("m"))
    return (per.groupBy("source")
            .agg(F.sum("m").alias("n_docs"),
                 F.count("*").alias("n_langs"),
                 F.sum(F.col("m") * F.col("m")).alias("_ss"))
            .select("source", "n_docs", "n_langs",
                    (F.lit(1_000_000)
                     - F.expr("_ss * 1000000 div (n_docs * n_docs)"))
                    .cast("bigint").alias("simpson_ppm")))

def _lang_diversity_sql() -> str:
    """Oracle for q_lang_diversity_simpson (integer Simpson, `//` twin)."""
    return """
        WITH per AS (SELECT source, lang, count(*) AS m
                     FROM documents GROUP BY 1, 2)
        SELECT source,
               CAST(sum(m) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_langs,
               CAST(1000000 - CAST(sum(m * m) AS BIGINT) * 1000000
                    // (CAST(sum(m) AS BIGINT) * CAST(sum(m) AS BIGINT))
                    AS BIGINT) AS simpson_ppm
        FROM per GROUP BY 1"""

def q_host_crawl_priority(spark, sf):
    # the crawl-scheduler decision query: fuse host authority (integer
    # PageRank), host quality (integer token average), and freshness
    # (latest-capture age bucket) into one deterministic priority score,
    # top-25. Every signal is an existing oracled operator; the fusion is
    # one host-keyed join (both sides host-sized → broadcast at scale)
    # plus integer arithmetic. score = rank_ppm·2 + avg_tokens_x100 +
    # (10 − age_bucket)·1000 — policy weights, not physics.
    from geobuf_spark.operators import graph
    e = _page_link_edges(spark, 2000).select(
        F.col("src_host").alias("src"),
        TXT.url_host(F.col("dst")).alias("dst"))
    pr = graph.pagerank_int(e, iters=3)
    p = pages.pages(spark, 2000)
    q = TXT.quality_columns(p, "text")
    hq = (q.groupBy(TXT.url_host(F.col("url")).alias("host"))
          .agg(F.count("*").alias("n_pages"),
               F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
               F.max(F.unix_timestamp("warc_ts")).alias("latest_ts")))
    j = hq.join(pr, "host", "left").na.fill({"rank_ppm": 0})
    age_bucket = F.least(
        F.expr(f"({HEAT_T_REF} - latest_ts) div 86400 div 30"), F.lit(10))
    score = (F.col("rank_ppm") * CRAWL_W_RANK
             + F.expr("(sum_tokens * 100) div n_pages")
             + (F.lit(10) - age_bucket) * CRAWL_W_FRESH)
    return (j.select("host", "rank_ppm", "n_pages",
                     score.cast("bigint").alias("priority_score"))
            .orderBy(F.desc("priority_score"), F.asc("host")).limit(25))

def q_lang_confusion(spark, sf):
    # language-ID evaluation as a query: confusion counts of the
    # stopword-argmax predictor against the labeled lang — the
    # eval-as-query pattern (like knn_label_vote) over the documents
    # table. One narrow (actual, pred) aggregation.
    d = TXT.lang_id(_docs(spark, sf))
    return (d.groupBy(F.col("lang").alias("actual"),
                      F.col("lang_pred").alias("pred"))
            .agg(F.count("*").alias("n")))

def _host_crawl_priority_sql(n: int = 2000, seed: int = 42, k: int = 25) -> str:
    """Oracle for q_host_crawl_priority: the pagerank oracle as a derived
    subquery (its own WITH scope), quality + freshness from the pages
    CTE, same integer fusion."""
    from geobuf_spark.operators.graph import sql_pagerank_int
    edges_cte = f"""{_links_cte(n, seed)},
        edges AS (SELECT src_host AS src,
                         {TXT.sql_url_host('dst')} AS dst
                  FROM e)"""
    pr = sql_pagerank_int(edges_cte, iters=3)
    ntok = TXT.sql_quality("text")["n_tokens"]
    host = TXT.sql_url_host("url")
    return f"""
        WITH {_pages_cte(n, seed)},
        hq AS (SELECT {host} AS host, count(*) AS n_pages,
                      CAST(sum({ntok}) AS BIGINT) AS sum_tokens,
                      max(ts_epoch) AS latest_ts
               FROM txt GROUP BY 1),
        j AS (SELECT hq.*, coalesce(pr.rank_ppm, 0) AS rank_ppm
              FROM hq LEFT JOIN ({pr}) pr USING (host))
        SELECT host, rank_ppm, n_pages,
               CAST(rank_ppm * {CRAWL_W_RANK}
                    + (sum_tokens * 100) // n_pages
                    + (10 - least(({HEAT_T_REF} - latest_ts) // 86400 // 30,
                                  10)) * {CRAWL_W_FRESH} AS BIGINT)
                   AS priority_score
        FROM j
        ORDER BY priority_score DESC, host
        LIMIT {k}"""

def q_unpivot_lang_counts(spark, sf):
    # UNPIVOT — the inverse of the pivot shape: per-lang counts of four
    # source buckets widened, then melted back to (lang, src, n) via
    # DataFrame.unpivot (SQL stack()). Round-trips the pivot family.
    d = _docs(spark, sf)
    wide = d.groupBy("lang").agg(*[
        F.count(F.when(F.col("source") == f"src{i}", 1)).alias(f"src{i}_n")
        for i in range(4)])
    return wide.unpivot("lang", [f"src{i}_n" for i in range(4)],
                        "src", "n")

def q_grouping_sets_counts(spark, sf):
    # explicit GROUPING SETS — finer than rollup/cube: exactly
    # ((lang, source), (lang), (source)) with grouping_id disambiguating
    # the all-NULL placeholder rows from real values.
    d = _docs(spark, sf)
    d.createOrReplaceTempView("_gs_docs")
    return spark.sql("""
        SELECT lang, source, count(*) AS n,
               CAST(grouping(lang) AS INT) AS g_lang,
               CAST(grouping(source) AS INT) AS g_source
        FROM _gs_docs
        GROUP BY GROUPING SETS ((lang, source), (lang), (source))""")

def q_token_positions(spark, sf):
    # positional explode semantics: the FIRST position (0-based) of each
    # distinct token per document via posexplode + min — the dictionary
    # builder's offset table. One (doc, token) combine-shuffle.
    d = _docs(spark, sf)
    t = d.select("doc_id", F.posexplode(TXT.tokens(F.col("text")))
                 .alias("pos", "tok"))
    return (t.groupBy("doc_id", "tok")
            .agg(F.min("pos").cast("bigint").alias("first_pos"),
                 F.count("*").alias("n_occ")))

def _unpivot_lang_counts_sql() -> str:
    """Oracle for q_unpivot_lang_counts: the CASE-sum pivot re-melted with
    UNION ALL (portable; DuckDB UNPIVOT would work too)."""
    wide = ", ".join(
        f"count(CASE WHEN source = 'src{i}' THEN 1 END) AS src{i}_n"
        for i in range(4))
    arms = "\n        UNION ALL ".join(
        f"SELECT lang, 'src{i}_n' AS src, src{i}_n AS n FROM w"
        for i in range(4))
    return f"""
        WITH w AS (SELECT lang, {wide} FROM documents GROUP BY 1)
        {arms}"""

def _grouping_sets_counts_sql() -> str:
    """Oracle for q_grouping_sets_counts (DuckDB GROUPING SETS +
    GROUPING())."""
    return """
        SELECT lang, source, count(*) AS n,
               CAST(grouping(lang) AS INT) AS g_lang,
               CAST(grouping(source) AS INT) AS g_source
        FROM documents
        GROUP BY GROUPING SETS ((lang, source), (lang), (source))"""

def _token_positions_sql() -> str:
    """Oracle for q_token_positions: unnest WITH ORDINALITY is spelled
    generate_subscripts-free in DuckDB via list_transform over indexes
    (0-based to match posexplode)."""
    return """
        WITH toks AS (SELECT doc_id, string_split(text, chr(32)) AS ws
                      FROM documents),
        t AS (SELECT doc_id,
                     unnest(list_transform(range(1, len(ws) + 1),
                            i -> struct_pack(pos := i - 1, tok := ws[i])))
                         AS pt
              FROM toks)
        SELECT doc_id, pt.tok AS tok,
               CAST(min(pt.pos) AS BIGINT) AS first_pos,
               count(*) AS n_occ
        FROM t GROUP BY 1, 2"""

def q_doc_quality(spark, sf):
    return TXT.quality_columns(_docs(spark, sf)).select(
        "doc_id", "n_bytes", "n_tokens", "n_uniq_tokens", "mean_token_len_x100"
    )

def q_doc_fingerprint(spark, sf):
    return _docs(spark, sf).select(
        "doc_id", TXT.fingerprint(F.col("text")).alias("fp")
    )

def q_corpus_clean(spark, sf):
    # the SQL-expressible slice of jobs.clean_corpus: lang allowlist →
    # exact dedup (keep min doc_id per text hash) → token-count gate.
    # (minhash near-dup removal is the job-only, non-SQL stage.)
    d = _docs(spark, sf).filter(F.col("lang").isin("en", "de", "fr", "es", "zh"))
    reps = dedup.dedup_exact(d, key="doc_id")
    kept = d.join(reps.select(F.col("rep_id").alias("doc_id")), "doc_id", "left_semi")
    scored = TXT.quality_columns(kept)
    return scored.filter(F.col("n_tokens") >= 5) \
        .select("doc_id", "lang", "n_tokens")

def q_token_totals(spark, sf):
    return (
        TXT.quality_columns(_docs(spark, sf))
        .groupBy("lang")
        .agg(F.sum("n_tokens").alias("total_tokens"),
             F.count("*").alias("n_docs"),
             F.max("n_uniq_tokens").alias("max_uniq"))
    )

def q_ngram_jaccard(spark, sf):
    # exact n-gram Jaccard tier (the verification tier under the LSH
    # near-dup operators): token shingles self-join + inclusion-exclusion
    return dedup.ngram_jaccard_pairs(_docs(spark, sf), key="doc_id",
                                     shingle_k=3, threshold=0.4)

def q_rollup_doc_counts(spark, sf):
    return (
        _docs(spark, sf).rollup("lang", "source")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("chars"))
    )

def q_cube_doc_counts(spark, sf):
    # full CUBE (rollup's sibling: all 4 grouping sets incl. per-source
    # totals across langs) + grouping_id so each stratum is identifiable
    return (
        _docs(spark, sf).cube("lang", "source")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("chars"),
             F.grouping_id().alias("gid"))
    )

def q_pivot_lang_source(spark, sf):
    # pivot shape with controlled output columns (CASE-sum twin in SQL)
    d = _docs(spark, sf)
    cols = [
        F.count(F.when(F.col("source") == f"src{i}", 1)).alias(f"src{i}_n")
        for i in range(4)
    ]
    return d.groupBy("lang").agg(*cols)

def q_lang_id(spark, sf):
    return TXT.lang_id(_docs(spark, sf)).groupBy("lang_pred").agg(F.count("*").alias("n"))

def q_pages_synth(spark, sf):
    # the north-rule pages table: synthesize 2k rows, mint geometry, verify
    # shape; byte-identity of text is pytest-checked
    p = pages.with_minted_geometry(pages.pages(spark, 2000))
    return p.selectExpr("page_id", "lang", "octet_length(text) AS n_bytes",
                        f"{tiles.sql_tile_x('lon', 7)} AS x7",
                        f"{tiles.spark_tile_y('lat', 7)} AS y7")

def q_html_extract_text(spark, sf):
    # the north-rule byte-identity invariant as a DRIVER row (BASELINE.json
    # input_hint: "byte-identical extracted text per url"): recover `text`
    # from the html binary payload with a JVM-side regexp; the oracle
    # regenerates the pages table in DuckDB, builds the same html, and does
    # the same extraction — the driver's value hash over (url,
    # text_extracted) IS the byte-identity check, per url.
    p = pages.pages(spark, 2000)
    return p.select(
        "page_id", "url",
        F.regexp_extract(F.decode(F.col("html"), "utf-8"),
                         "<p>(.*)</p>", 1).alias("text_extracted"),
    )

def q_url_host_topk(spark, sf):
    # Common-Crawl-style host rollup over the pages table: parse_url(HOST)
    # stays in whole-stage codegen; one hash aggregate (map-side partials),
    # top-20 with a total order (host is the group key, so ties can't make
    # the limit nondeterministic). At 100 TB this is the canonical
    # host-level corpus-stats job.
    p = pages.pages(spark, 2000)
    return (
        p.groupBy(TXT.url_host(F.col("url")).alias("host"))
        .agg(F.count("*").alias("n_pages"),
             F.sum(F.octet_length("text")).alias("total_bytes"))
        .orderBy(F.desc("n_pages"), F.asc("host"))
        .limit(20)
    )

def q_latest_capture(spark, sf):
    # Common-Crawl latest-capture-wins dedup: collapse recrawls of a URL to
    # the newest warc_ts. The pages generator mints unique URLs, so
    # recrawls are simulated by remapping onto 613 URL slots (deterministic
    # in page_id). The dedup itself is operators/dedup.keep_latest — a
    # map-side-combinable max(struct(warc_ts, page_id)), ONE shuffle of
    # distinct URLs; a row_number window would shuffle and sort every
    # capture, which is the wrong shape at 10^12 rows.
    p = pages.pages(spark, 2000)
    c = p.select(
        F.concat(F.lit("https://re.example/p"),
                 F.pmod(F.col("page_id"), F.lit(613)).cast("string")).alias("url"),
        "warc_ts", "page_id")
    out = dedup.keep_latest(c, "url", "warc_ts", "page_id")
    return out.select(
        "url", "n_captures",
        F.col("page_id").alias("latest_page_id"),
        F.unix_timestamp("warc_ts").alias("latest_ts"))

def q_url_normalize(spark, sf):
    # URL canonicalization — the dedup-key prep every CC pipeline runs
    # before collapsing captures. Four deterministic "messy" variants are
    # minted per page (UPPERCASED scheme+host / explicit :443 / fragment /
    # mixed utm_* params), then normalized back with functions/text.
    # url_normalize. Pure JVM expressions, zero shuffle; the driver hash
    # over (page_id, url_messy, url_norm) pins both the minting and the
    # normalizer byte-for-byte against the DuckDB twin.
    p = pages.pages(spark, 2000)
    sh = F.regexp_extract(F.col("url"), TXT._SCHEME_HOST_RE, 0)
    rest = F.substr(F.col("url"), F.length(sh) + F.lit(1))
    v = F.pmod(F.col("page_id"), F.lit(4))
    messy = (
        F.when(v == 0, F.concat(F.upper(sh), rest))
        .when(v == 1, F.concat(sh, F.lit(":443"), rest))
        .when(v == 2, F.concat(F.col("url"), F.lit("#sec-"),
                               F.pmod(F.col("page_id"), F.lit(7)).cast("string")))
        .otherwise(F.concat(F.col("url"), F.lit("?a=1&utm_source=rss&utm_campaign=c"))))
    return (p.select("page_id", messy.alias("url_messy"))
             .select("page_id", "url_messy",
                     TXT.url_normalize(F.col("url_messy")).alias("url_norm")))

def q_link_host_graph(spark, sf):
    # Host graph over the extracted link edges: in-degree + distinct
    # linking hosts per target host. At 100 TB: extraction is zero-shuffle;
    # the edge agg is one hash shuffle on dst_host with map-side partials;
    # top-20 is a TakeOrdered, total-ordered on (in_degree, dst_host) so
    # the limit boundary is stable.
    e = _page_link_edges(spark, 2000)
    return (e.groupBy(TXT.url_host(F.col("dst")).alias("dst_host"))
             .agg(F.count("*").alias("in_degree"),
                  F.countDistinct("src_host").alias("n_src_hosts"))
             .orderBy(F.desc("in_degree"), F.asc("dst_host"))
             .limit(20))

def q_boilerplate_lines(spark, sf):
    # CCNet-style frequent-line (boilerplate) detection: mint the
    # multi-paragraph body, explode lines (a 1:L flatMap — no pre-shuffle),
    # then ONE hash aggregate keyed on the line with map-side partials;
    # lines seen in >= 20 docs are boilerplate. At 10^12 docs the agg key
    # would be md5(line) so shuffle rows stay narrow and the strings are
    # resolved once per bucket; here the line itself travels so the driver
    # hash pins the exact strings.
    p = pages.with_body(pages.pages(spark, 2000))
    lines = p.select("page_id", TXT.url_host(F.col("url")).alias("host"),
                     F.explode(F.split("body", "\n")).alias("line"))
    return (lines.groupBy("line")
            .agg(F.countDistinct("page_id").alias("n_docs"),
                 F.count("*").alias("n_occurrences"),
                 F.countDistinct("host").alias("n_hosts"))
            .where(F.col("n_docs") >= 20))

def q_meta_robots(spark, sf):
    # robots-noindex gate: mint three <meta> robots variants (double /
    # single quotes, reversed attribute order) into every 7th page's
    # <head>, classify with ONE shared-regex rlike (functions/text.
    # ROBOTS_NOINDEX_RE — RE2/Java common subset), roll up per host.
    # Zero-shuffle mint+classify, one host hash-agg with map-side partials.
    p = pages.pages(spark, 2000)
    html2 = F.expr(_html_sql(head_extra=_meta_robots("page_id")))
    return (p.select(TXT.url_host(F.col("url")).alias("host"),
                     TXT.is_noindex(html2).alias("noindex"))
            .groupBy("host")
            .agg(F.count("*").alias("n_pages"),
                 F.sum(F.col("noindex").cast("bigint")).alias("n_noindex")))

def q_warc_index(spark, sf):
    # CDX-style byte-offset index: pages concatenated per host in
    # (warc_ts, page_id) order — offset = running sum of record lengths.
    # ONE shuffle (hash-partition on host) + in-partition sort; the window
    # never re-shuffles. At 10^12 rows a mega-host would additionally be
    # range-split within host (offset rebased per split file) to bound
    # task size; the tie-break on page_id makes the order total so the
    # offsets are deterministic under any partitioning.
    from pyspark.sql import Window
    p = pages.pages(spark, 2000)
    w = (Window.partitionBy("host").orderBy("warc_ts", "page_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    return (p.select(TXT.url_host(F.col("url")).alias("host"), "page_id", "url",
                     F.octet_length("html").cast("bigint").alias("rec_len"),
                     "warc_ts")
            .withColumn("offset", F.coalesce(F.sum("rec_len").over(w), F.lit(0)))
            .drop("warc_ts"))

def q_sample_stratified(spark, sf):
    # deterministic stratified mixture sampling — the training-mix step:
    # per-language keep-rates (en 50%, de/fr 25%, rest 10%) applied via the
    # portable md5 bridge hash of the url, so membership is reproducible
    # across engines, partitionings, and reruns (new crawls never reshuffle
    # old members, unlike rand()-based sampling). Zero-shuffle filter; at
    # 100 TB this is a pure scan whose selectivity Catalyst can't misjudge
    # because the predicate is deterministic per row.
    return _stratified_sample(pages.pages(spark, 2000))

def q_ngram_topk(spark, sf):
    # corpus-level collocation stats — top-25 word 3-grams with doc
    # frequency: the LM-corpus summary job. Explode is a 1:G flatMap (no
    # pre-shuffle); the agg is one hash shuffle with map-side partials;
    # the limit is a TakeOrdered (per-partition top-k, then a driver merge
    # of k-sized heaps — never a full sort) and the (n, gram) order is
    # total so the boundary is deterministic.
    d = _docs(spark, sf).select("doc_id", "text")  # widen: see q_dup_span_frac
    g = d.select("doc_id", F.explode(TXT.word_ngrams(F.col("text"), 3)).alias("gram"))
    return (g.groupBy("gram")
            .agg(F.count("*").alias("n"),
                 F.countDistinct("doc_id").alias("n_docs"))
            .orderBy(F.desc("n"), F.asc("gram"))
            .limit(25))

def q_host_quality_rollup(spark, sf):
    # per-host corpus-quality rollup — the host-reputation signal feeding
    # crawl prioritization: quality_columns stays in whole-stage codegen
    # (zero shuffle), then ONE host hash-agg of exact integer sums; the
    # average is integer floor-division so the oracle compares exactly
    # (no float summation-order sensitivity).
    p = pages.pages(spark, 2000)
    q = TXT.quality_columns(p, "text")
    return (q.groupBy(TXT.url_host(F.col("url")).alias("host"))
            .agg(F.count("*").alias("n_pages"),
                 F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
                 F.sum("n_uniq_tokens").cast("bigint").alias("sum_uniq_tokens"),
                 F.sum("n_bytes").cast("bigint").alias("sum_bytes"))
            .withColumn("avg_tokens_x100",
                        F.expr("(sum_tokens * 100) DIV n_pages")))

def q_text_normalize(spark, sf):
    # C4-style text normalization with a byte witness: mint four messy
    # variants (leading/trailing whitespace+tab, tripled spaces, trailing
    # control chars + CRLF, untouched), then recover — control chars →
    # space, whitespace-run collapse, trim. The md5 pair pins both the
    # minting and the normalizer; pytest asserts norm == original text
    # byte-for-byte (the north-rule invariant survives the scrubber).
    # Zero-shuffle: regexp_replace chains in codegen.
    p = pages.pages(spark, 2000)
    v = F.pmod(F.col("page_id"), F.lit(4))
    messy = (F.when(v == 0, F.concat(F.lit("  "), F.col("text"), F.lit(" \t")))
             .when(v == 1, F.replace(F.col("text"), F.lit(" "), F.lit("   ")))
             .when(v == 2, F.concat(F.col("text"), F.lit("\x07\r\n")))
             .otherwise(F.col("text")))
    norm = TXT.normalize_text(messy)
    return p.select("page_id", v.cast("int").alias("variant"),
                    F.md5(messy).alias("messy_md5"),
                    F.md5(norm).alias("norm_md5"))

def q_paragraph_owner(spark, sf):
    # cross-document paragraph attribution — the global-dedup "who keeps
    # the paragraph" pass: every line of every body, keyed by md5(line),
    # owned by the earliest (warc_ts, page_id) capture. min(struct) is
    # map-side combinable (ONE shuffle of distinct line hashes, like
    # latest_capture but min); a row_number window would sort every
    # occurrence. Only boilerplate + within-doc dup lines have n_copies>1.
    p = pages.with_body(pages.pages(spark, 2000))
    lines = p.select("page_id", F.unix_timestamp("warc_ts").alias("ts"),
                     F.explode(F.split("body", "\n")).alias("line"))
    return (lines.groupBy(F.md5("line").alias("line_md5"))
            .agg(F.min(F.struct(F.col("ts"), F.col("page_id"))).alias("o"),
                 F.count("*").alias("n_copies"))
            .select("line_md5", F.col("o.ts").alias("owner_ts"),
                    F.col("o.page_id").alias("owner_page_id"), "n_copies"))

def q_ntile_len_deciles(spark, sf):
    # per-language length deciles via the ntile window — the rank-family
    # operator the registry lacked (row_number/topk exist; ntile's
    # first-buckets-get-the-remainder split is its own contract, identical
    # in Spark and DuckDB). (n_chars, doc_id) ordering makes every bucket
    # assignment deterministic; output is the per-decile envelope.
    from pyspark.sql import Window as Win
    w = Win.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (_docs(spark, sf)
            .select("lang", "n_chars", "doc_id",
                    F.ntile(10).over(w).alias("decile"))
            .groupBy("lang", "decile")
            .agg(F.count("*").alias("n_docs"),
                 F.min("n_chars").alias("min_chars"),
                 F.max("n_chars").alias("max_chars"),
                 F.sum("n_chars").alias("sum_chars")))

def _ntile_len_deciles_sql() -> str:
    return """
        WITH d AS (SELECT lang, n_chars, doc_id,
                          ntile(10) OVER (PARTITION BY lang
                                          ORDER BY n_chars, doc_id) AS decile
                   FROM documents)
        SELECT lang, decile, count(*) AS n_docs,
               min(n_chars) AS min_chars, max(n_chars) AS max_chars,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM d GROUP BY 1, 2"""

def q_pmi_bigrams(spark, sf):
    # corpus collocations by directed lift P(w2|w1)/P(w2) — the PMI family
    # in exact integer rationals (lift_ppm = 1e6·c_xy·M DIV c_x·c_y; no
    # cross-engine log). Bigrams come from zipping the token array with
    # its own tail (zero shuffle until the count agg); the two unigram
    # lookups broadcast (vocab-sized); the corpus total joins on a literal
    # key. Thresholds keep only real collocations: c_xy ≥ 10, lift > 1.05.
    toks = _docs(spark, sf).select(F.split("text", " ").alias("t"))
    big = (toks.select(F.explode(F.arrays_zip(
                F.slice("t", 1, F.size("t") - 1).alias("w1"),
                F.slice("t", 2, F.size("t") - 1).alias("w2"))).alias("b"))
           .groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
           .agg(F.count("*").alias("c_xy")))
    uni = (toks.select(F.explode("t").alias("w"))
           .groupBy("w").agg(F.count("*").alias("c")))
    m = uni.agg(F.sum("c").alias("m_tokens")).withColumn("_k", F.lit(1))
    out = (big
           .join(F.broadcast(uni.select(F.col("w").alias("w1"),
                                        F.col("c").alias("c_x"))), "w1")
           .join(F.broadcast(uni.select(F.col("w").alias("w2"),
                                        F.col("c").alias("c_y"))), "w2")
           .withColumn("_k", F.lit(1))
           .join(F.broadcast(m), "_k")
           .withColumn("lift_ppm", F.expr(
               "(1000000 * c_xy * m_tokens) DIV (c_x * c_y)")))
    return (out.filter((F.col("c_xy") >= PMI_MIN_COUNT)
                       & (F.col("lift_ppm") > PMI_MIN_LIFT_PPM))
            .select("w1", "w2", "c_xy", "c_x", "c_y", "lift_ppm"))

def _pmi_bigrams_sql() -> str:
    return f"""
        WITH toks AS (SELECT string_split(text, chr(32)) AS t FROM documents),
        big AS (SELECT t[i] AS w1, t[i + 1] AS w2, count(*) AS c_xy
                FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) r
                GROUP BY 1, 2),
        uni AS (SELECT t[i] AS w, count(*) AS c
                FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) r
                GROUP BY 1),
        m AS (SELECT CAST(sum(c) AS BIGINT) AS m_tokens FROM uni)
        SELECT w1, w2, c_xy, a.c AS c_x, b.c AS c_y,
               CAST((1000000 * c_xy * m_tokens) // (a.c * b.c) AS BIGINT)
                   AS lift_ppm
        FROM big JOIN uni a ON a.w = big.w1 JOIN uni b ON b.w = big.w2, m
        WHERE c_xy >= {PMI_MIN_COUNT}
          AND CAST((1000000 * c_xy * m_tokens) // (a.c * b.c) AS BIGINT)
              > {PMI_MIN_LIFT_PPM}"""

def q_weighted_sample_docs(spark, sf):
    # deterministic length-weighted Bernoulli sample: doc kept iff
    # hash60('ws-'||doc_id) mod 1000 < n_chars — inclusion probability
    # n_chars per-mille, so long documents are oversampled exactly as a
    # quality-weighted corpus draw would at 100 TB (pure per-row
    # expressions, zero shuffle; Horvitz-Thompson reweighting downstream
    # divides by incl_prob_pm). The md5 bridge makes the draw the SAME
    # bits on both engines — no RNG, rerun-stable (sample_stratified's
    # contract, with a per-row weight instead of per-stratum rates).
    d = _docs(spark, sf)
    u = F.pmod(phash.hash60(F.concat(F.lit("ws-"),
                                     F.col("doc_id").cast("string"))),
               F.lit(WSAMPLE_MOD))
    return (d.filter(u < F.col("n_chars"))
            .select("doc_id", "lang", "n_chars",
                    F.col("n_chars").alias("incl_prob_pm")))

def _weighted_sample_docs_sql() -> str:
    u = phash.sql_hash60("'ws-' || CAST(doc_id AS VARCHAR)")
    return f"""
        SELECT doc_id, lang, n_chars, n_chars AS incl_prob_pm
        FROM documents
        WHERE ({u}) % {WSAMPLE_MOD} < n_chars"""

def q_robots_prefix_rules(spark, sf):
    # robots.txt semantics as a longest-prefix-match join: pages get
    # minted multi-segment paths (depth 1-3), each site gets two minted
    # path rules (depths 1 and 2) with an allow/deny bit; a page matches
    # the LONGEST rule prefix of its path, default-allow when none
    # matches. Distinct equal-length prefixes can't both prefix one path,
    # so max_by is tie-free. Plan: explode ≤3 prefixes per page, ONE
    # broadcast-able equi-join on (site, prefix) (the rule table is
    # sites × 2 rows), groupBy page, left-join back for the default.
    p = pages.pages(spark, ROBOTS_PAGES)
    words = F.array(*[F.lit(w) for w in pages.WORDS])
    nw = len(pages.WORDS)
    pid = F.col("page_id").cast("string")
    depth = F.pmod(phash.hash60(F.concat(F.lit("pd-"), pid)), F.lit(3)) + 1
    segs = F.transform(
        F.sequence(F.lit(1), depth),
        lambda j: F.element_at(words, (F.pmod(
            phash.hash60(F.concat(F.lit("ps-"), pid, F.lit("-"),
                                  j.cast("string"))),
            F.lit(nw)) + 1).cast("int")))
    pg = p.select(
        "page_id", pages.site_of(F.col("url")).alias("site"),
        depth.alias("path_depth"),
        F.transform(F.sequence(F.lit(1), depth),
                    lambda t: F.concat(F.lit("/"), F.array_join(
                        F.slice(segs, F.lit(1), t), "/"))).alias("pfx"))
    px = pg.select("page_id", "site", F.explode("pfx").alias("prefix"))

    r = spark.range(2 * ROBOTS_SITES).select(
        (F.col("id") % ROBOTS_SITES).cast("int").alias("site"),
        F.expr(f"id div {ROBOTS_SITES} + 1").alias("k"))
    rsegs = F.transform(
        F.sequence(F.lit(1), F.col("k")),
        lambda m: F.element_at(words, (F.pmod(
            phash.hash60(F.concat(F.lit("rs-"), F.col("site").cast("string"),
                                  F.lit("-"), F.col("k").cast("string"),
                                  F.lit("-"), m.cast("string"))),
            F.lit(nw)) + 1).cast("int")))
    rules = r.select(
        "site",
        F.concat(F.lit("/"), F.array_join(rsegs, "/")).alias("prefix"),
        F.pmod(phash.hash60(F.concat(
            F.lit("ra-"), F.col("site").cast("string"), F.lit("-"),
            F.col("k").cast("string"))), F.lit(2)).alias("allow"))

    m = (px.join(F.broadcast(rules), ["site", "prefix"])
         .groupBy("page_id")
         .agg(F.max(F.length("prefix")).cast("bigint").alias("matched_len"),
              F.max_by("allow", F.length("prefix")).alias("allowed")))
    return (pg.select("page_id", "site", "path_depth")
            .join(m, "page_id", "left")
            .select("page_id", "site", "path_depth",
                    F.coalesce("matched_len", F.lit(0)).alias("matched_len"),
                    F.coalesce("allowed", F.lit(1)).alias("allowed")))

def _robots_prefix_rules_sql() -> str:
    words = "[" + ", ".join(f"'{w}'" for w in pages.WORDS) + "]"
    nw = len(pages.WORDS)
    h = phash.sql_hash60
    dep = h("'pd-' || CAST(id AS VARCHAR)")
    seg = h("'ps-' || CAST(id AS VARCHAR) || '-' || CAST(j AS VARCHAR)")
    rs = h("'rs-' || CAST(site AS VARCHAR) || '-' || CAST(k AS VARCHAR)"
           " || '-' || CAST(m AS VARCHAR)")
    ra = h("'ra-' || CAST(site AS VARCHAR) || '-' || CAST(k AS VARCHAR)")
    return f"""
        WITH {_pages_cte(ROBOTS_PAGES, 42)},
        pg0 AS (SELECT id, {pages._SITE} AS site,
                       {dep} % 3 + 1 AS path_depth
                FROM txt),
        pg AS (SELECT id, site, path_depth,
                      list_transform(range(1, path_depth + 1),
                          j -> {words}[{seg} % {nw} + 1]) AS segs
               FROM pg0),
        px AS (SELECT id, site,
                      unnest(list_transform(range(1, path_depth + 1),
                          t -> '/' || array_to_string(segs[1:t], '/')))
                          AS prefix
               FROM pg),
        rules AS (SELECT site, '/' || array_to_string(
                             list_transform(range(1, k + 1),
                                 m -> {words}[{rs} % {nw} + 1]), '/')
                             AS prefix,
                         {ra} % 2 AS allow
                  FROM (SELECT CAST(id % {ROBOTS_SITES} AS INT) AS site,
                               id // {ROBOTS_SITES} + 1 AS k
                        FROM range({2 * ROBOTS_SITES}) t(id))),
        m AS (SELECT px.id,
                     CAST(max(length(rules.prefix)) AS BIGINT)
                         AS matched_len,
                     arg_max(rules.allow, length(rules.prefix)) AS allowed
              FROM px JOIN rules
                ON px.site = rules.site AND px.prefix = rules.prefix
              GROUP BY 1)
        SELECT pg.id AS page_id, pg.site, pg.path_depth,
               coalesce(m.matched_len, 0) AS matched_len,
               coalesce(m.allowed, 1) AS allowed
        FROM pg LEFT JOIN m ON pg.id = m.id"""

def q_prefix_autocomplete_topk(spark, sf):
    # search-infra prefix index: for every 2-char token prefix, the top-3
    # completions by corpus frequency (ties by word — total order, so the
    # row_number cut is deterministic). One token-count aggregation (the
    # only corpus-scale work), then a window over the tiny
    # (prefix, word) vocabulary table.
    from pyspark.sql import Window as Win
    toks = (_docs(spark, sf)
            .select(F.explode(F.split("text", " ")).alias("w"))
            .filter(F.length("w") >= 2)
            .groupBy("w").agg(F.count("*").alias("cnt"))
            .withColumn("prefix", F.substring("w", 1, 2)))
    w = Win.partitionBy("prefix").orderBy(F.col("cnt").desc(), F.col("w"))
    return (toks.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("prefix", "w", "cnt", "rnk"))

def _prefix_autocomplete_topk_sql() -> str:
    return """
        WITH t AS (SELECT unnest(string_split(text, chr(32))) AS w
                   FROM documents),
        c AS (SELECT w, count(*) AS cnt FROM t
              WHERE length(w) >= 2 GROUP BY 1),
        r AS (SELECT substr(w, 1, 2) AS prefix, w, cnt,
                     row_number() OVER (PARTITION BY substr(w, 1, 2)
                         ORDER BY cnt DESC, w) AS rnk
              FROM c)
        SELECT prefix, w, cnt, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= 3"""

def q_weighted_median_tokens(spark, sf):
    # weighted exact order statistic: per language, the byte-weighted
    # median token count (each doc weighted by its UTF-8 length) — the
    # "what length does the median BYTE live in" corpus diagnostic.
    # Cum-sum window over the per-lang (n_tok, doc_id) order, first row
    # where 2·cumw ≥ W wins; pure integers, ONE lang exchange.
    from pyspark.sql import Window as Win
    t = _docs(spark, sf).select(
        "lang",
        "doc_id",
        TXT.token_count(F.col("text")).cast("bigint").alias("n_tok"),
        F.octet_length("text").cast("bigint").alias("wt"))
    w = Win.partitionBy("lang").orderBy("n_tok", "doc_id")
    wf = Win.partitionBy("lang")
    c = (t.withColumn("cumw", F.sum("wt").over(
             w.rowsBetween(Win.unboundedPreceding, 0)))
         .withColumn("tot", F.sum("wt").over(wf))
         .filter(F.col("cumw") * 2 >= F.col("tot")))
    wpick = Win.partitionBy("lang").orderBy("n_tok", "doc_id")
    return (c.withColumn("rn", F.row_number().over(wpick))
            .filter(F.col("rn") == 1)
            .select("lang", F.col("n_tok").alias("w_median_tokens"),
                    F.col("tot").alias("total_bytes")))

def _weighted_median_tokens_sql() -> str:
    return """
        WITH t AS (SELECT lang, doc_id,
                          CAST(len(string_split(text, chr(32))) AS BIGINT)
                              AS n_tok,
                          CAST(octet_length(encode(text)) AS BIGINT) AS wt
                   FROM documents),
        c AS (SELECT lang, doc_id, n_tok, wt,
                     sum(wt) OVER (PARTITION BY lang ORDER BY n_tok, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS cumw,
                     sum(wt) OVER (PARTITION BY lang) AS tot
              FROM t),
        f AS (SELECT lang, n_tok, tot,
                     row_number() OVER (PARTITION BY lang
                         ORDER BY n_tok, doc_id) AS rn
              FROM c WHERE cumw * 2 >= tot)
        SELECT lang, n_tok AS w_median_tokens,
               CAST(tot AS BIGINT) AS total_bytes
        FROM f WHERE rn = 1"""

def q_phrase_search(spark, sf):
    # exact phrase query over positional postings ("w1 w2" adjacency):
    # postings are filtered to the two phrase terms BEFORE the shuffle
    # (the inverted-index seek analog — the corpus-scale explode never
    # ships non-matching terms), then ONE (doc, position) equi-join
    # checks adjacency. Per-doc hit counts + first hit offset.
    toks = _docs(spark, sf).select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w"))
    a = (toks.filter(F.col("w") == PHRASE_W1)
         .select("doc_id", F.col("pos").alias("pa")))
    b = (toks.filter(F.col("w") == PHRASE_W2)
         .select("doc_id", (F.col("pos") - 1).alias("pa")))
    return (a.join(b, ["doc_id", "pa"])
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_hits"),
                 F.min("pa").cast("bigint").alias("first_pos")))

def _phrase_search_sql() -> str:
    return f"""
        WITH toks AS (SELECT doc_id, i - 1 AS pos, t[i] AS w
                      FROM (SELECT doc_id, string_split(text, chr(32)) AS t
                            FROM documents),
                      LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) r)
        SELECT a.doc_id, count(*) AS n_hits,
               CAST(min(a.pos) AS BIGINT) AS first_pos
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        WHERE a.w = '{PHRASE_W1}' AND b.w = '{PHRASE_W2}'
        GROUP BY 1"""

def q_conjunctive_search(spark, sf):
    # conjunctive (AND) retrieval: documents containing ALL query terms,
    # scored by total term frequency — postings filtered to the query
    # vocabulary BEFORE the shuffle, matched via having
    # count(distinct term) == |query|. One aggregation; never touches
    # non-matching postings.
    terms = list(CONJ_TERMS)
    toks = (_docs(spark, sf)
            .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
            .filter(F.col("w").isin(terms)))
    return (toks.groupBy("doc_id")
            .agg(F.countDistinct("w").alias("n_terms"),
                 F.count("*").alias("tf_total"))
            .filter(F.col("n_terms") == len(terms))
            .select("doc_id", "tf_total"))

def _conjunctive_search_sql() -> str:
    lst = ", ".join(f"'{t}'" for t in CONJ_TERMS)
    return f"""
        WITH toks AS (SELECT doc_id, unnest(string_split(text, chr(32)))
                          AS w
                      FROM documents)
        SELECT doc_id, count(*) AS tf_total
        FROM toks WHERE w IN ({lst})
        GROUP BY 1 HAVING count(DISTINCT w) = {len(CONJ_TERMS)}"""

# ---------------------------------------------------------------------------
# JSON props stats / Benford first-digit audit / null-profile report
# — batch 34
# ---------------------------------------------------------------------------


def q_props_json_stats(spark, sf):
    # semi-structured column surface: parse the JSON props payload
    # (get_json_object stays JVM-side / codegen), typed stats of the
    # extracted integer per event_type — the "JSON column you never
    # schema'd" analytic. One aggregation.
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"))
    return (e.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
                 .cast("bigint").alias("n_null_k"),
                 F.sum("k").alias("k_sum"),
                 F.min("k").alias("k_min"), F.max("k").alias("k_max"),
                 F.countDistinct("k").alias("k_distinct")))

def _props_json_stats_sql() -> str:
    return """
        WITH e AS (SELECT event_type,
                          CAST(json_extract_string(props, '$.k') AS BIGINT)
                              AS k
                   FROM events)
        SELECT event_type, count(*) AS n,
               CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_null_k,
               CAST(sum(k) AS BIGINT) AS k_sum,
               min(k) AS k_min, max(k) AS k_max,
               count(DISTINCT k) AS k_distinct
        FROM e GROUP BY 1"""

def q_benford_values(spark, sf):
    # Benford first-significant-digit audit over the monetary value
    # column — the fraud screen. Cents via floor(value·100 + 0.5)
    # (identical double text; CAST alone truncates in Spark but ROUNDS in
    # DuckDB), first digit via the decimal-string head — no logs, no
    # per-engine float formatting.
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"))
    d = e.filter(F.col("cents") > 0).withColumn(
        "first_digit",
        F.expr("CAST(substr(CAST(cents AS STRING), 1, 1) AS BIGINT)"))
    return (d.groupBy("first_digit")
            .agg(F.count("*").alias("n"),
                 F.sum("cents").alias("cents_sum")))

def _benford_values_sql() -> str:
    return """
        WITH e AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT)
                       AS cents
                   FROM events)
        SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
                   AS first_digit,
               count(*) AS n,
               CAST(sum(cents) AS BIGINT) AS cents_sum
        FROM e WHERE cents > 0
        GROUP BY 1"""

def q_null_profile(spark, sf):
    # data-profiling report: per events column, null count + distinct
    # count + total — the schema-health gate a pipeline runs on every new
    # snapshot before trusting it. One scan per column family, unioned;
    # at scale this is the one full-scan profile pass.
    e = spark.read.parquet(f"{sf}/events.parquet")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    parts = []
    for c in cols:
        parts.append(e.agg(
            F.lit(c).alias("column"),
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint").alias("n_nulls"),
            F.countDistinct(c).alias("n_distinct")))
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out

def _null_profile_sql() -> str:
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    return " UNION ALL ".join(
        f"""SELECT '{c}' AS "column", count(*) AS n_rows,
                   CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_nulls,
                   count(DISTINCT {c}) AS n_distinct
            FROM events""" for c in cols)

def q_host_url_lcp(spark, sf):
    # per-host longest common URL prefix — sitemap-root discovery. LCP
    # over a SET is LCP(lexicographic min, lexicographic max), so the
    # corpus-scale work is one min/max aggregation; the prefix length is
    # then the count of i where the i-prefixes agree (prefix equality is
    # monotone), a pure expression with no loops.
    p = pages.pages(spark, 2000).select(
        TXT.url_host(F.col("url")).alias("host"), "url")
    g = (p.groupBy("host")
         .agg(F.count("*").alias("n_urls"),
              F.min("url").alias("lo"), F.max("url").alias("hi")))
    return (g.withColumn(
                "lcp_len",
                F.expr("size(filter(sequence(1, least(length(lo), "
                       "length(hi))), i -> substr(lo, 1, i) "
                       "= substr(hi, 1, i)))").cast("bigint"))
            .select("host", "n_urls",
                    "lcp_len",
                    F.expr("substr(lo, 1, CAST(lcp_len AS INT))")
                    .alias("lcp")))

def _host_url_lcp_sql() -> str:
    return f"""
        WITH {_pages_cte(2000, 42)},
        p AS (SELECT {TXT.sql_url_host('url')} AS host, url FROM txt),
        g AS (SELECT host, count(*) AS n_urls,
                     min(url) AS lo, max(url) AS hi
              FROM p GROUP BY 1),
        l AS (SELECT host, n_urls,
                     CAST(len(list_filter(range(1,
                         least(length(lo), length(hi)) + 1),
                         i -> substr(lo, 1, CAST(i AS INT))
                              = substr(hi, 1, CAST(i AS INT))))
                         AS BIGINT) AS lcp_len,
                     lo
              FROM g)
        SELECT host, n_urls, lcp_len,
               substr(lo, 1, CAST(lcp_len AS INT)) AS lcp
        FROM l"""

def q_host_concentration(spark, sf):
    # corpus head-concentration: hosts ranked by page count, the
    # cumulative-coverage curve reduced to its scalars — how many hosts
    # cover half the corpus (k50), the top-1 share in exact ppm, and the
    # totals. One host rollup + one global-sort window over the tiny
    # host table.
    from pyspark.sql import Window as Win
    h = (pages.pages(spark, 2000)
         .select(TXT.url_host(F.col("url")).alias("host"))
         .groupBy("host").agg(F.count("*").alias("n")))
    w = Win.orderBy(F.col("n").desc(), F.col("host"))
    wf = Win.rowsBetween(Win.unboundedPreceding, Win.unboundedFollowing)
    c = (h.withColumn("rk", F.row_number().over(w))
         .withColumn("cum", F.sum("n").over(
             w.rowsBetween(Win.unboundedPreceding, 0)))
         .withColumn("tot", F.sum("n").over(wf)))
    return (c.agg(
        F.count("*").alias("n_hosts"),
        F.max("tot").alias("n_pages"),
        F.min(F.when(F.col("cum") * 2 >= F.col("tot"), F.col("rk")))
        .alias("k50_hosts"),
        F.max(F.when(F.col("rk") == 1,
                     F.expr("n * 1000000 div tot"))).alias("top1_ppm")))

def _host_concentration_sql() -> str:
    return f"""
        WITH {_pages_cte(2000, 42)},
        h AS (SELECT {TXT.sql_url_host('url')} AS host, count(*) AS n
              FROM txt GROUP BY 1),
        c AS (SELECT n,
                     row_number() OVER (ORDER BY n DESC, host) AS rk,
                     sum(n) OVER (ORDER BY n DESC, host
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS cum,
                     sum(n) OVER () AS tot
              FROM h)
        SELECT count(*) AS n_hosts,
               CAST(max(tot) AS BIGINT) AS n_pages,
               CAST(min(CASE WHEN cum * 2 >= tot THEN rk END) AS BIGINT)
                   AS k50_hosts,
               CAST(max(CASE WHEN rk = 1 THEN n * 1000000 // tot END)
                    AS BIGINT) AS top1_ppm
        FROM c"""

def q_ks_two_langs(spark, sf):
    # distribution-drift detection without floats: the two-sample
    # Kolmogorov-Smirnov statistic between token-count distributions of
    # two languages, as the EXACT rational max |F_a − F_b| =
    # max |cum_a·n_b − cum_b·n_a| / (n_a·n_b). One global-sort window
    # over the merged value stream; ties resolved by evaluating AFTER
    # each distinct value (both cums at the value's last row). The
    # training-data drift gate, oracle-exact.
    from pyspark.sql import Window as Win
    t = (_docs(spark, sf)
         .filter(F.col("lang").isin([KS_LANG_A, KS_LANG_B]))
         .select((F.col("lang") == KS_LANG_A).cast("int").alias("is_a"),
                 TXT.token_count(F.col("text")).cast("bigint").alias("v")))
    w = Win.orderBy("v")
    wf = Win.rowsBetween(Win.unboundedPreceding, Win.unboundedFollowing)
    # per distinct value: running counts of a and b up to AND INCLUDING v
    per_v = (t.groupBy("v")
             .agg(F.sum("is_a").alias("na_v"),
                  F.sum(F.lit(1) - F.col("is_a")).alias("nb_v")))
    c = (per_v
         .withColumn("cum_a", F.sum("na_v").over(
             w.rowsBetween(Win.unboundedPreceding, 0)))
         .withColumn("cum_b", F.sum("nb_v").over(
             w.rowsBetween(Win.unboundedPreceding, 0)))
         .withColumn("n_a", F.sum("na_v").over(wf))
         .withColumn("n_b", F.sum("nb_v").over(wf))
         .withColumn("dev", F.abs(F.col("cum_a") * F.col("n_b")
                                  - F.col("cum_b") * F.col("n_a"))))
    return (c.agg(F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b"),
                  F.max("dev").alias("ks_num"))
            .withColumn("ks_den", F.col("n_a") * F.col("n_b")))

def _ks_two_langs_sql() -> str:
    return f"""
        WITH t AS (SELECT CASE WHEN lang = '{KS_LANG_A}' THEN 1 ELSE 0 END
                       AS is_a,
                       CAST(len(string_split(text, chr(32))) AS BIGINT)
                           AS v
                   FROM documents
                   WHERE lang IN ('{KS_LANG_A}', '{KS_LANG_B}')),
        per_v AS (SELECT v, CAST(sum(is_a) AS BIGINT) AS na_v,
                         CAST(sum(1 - is_a) AS BIGINT) AS nb_v
                  FROM t GROUP BY 1),
        c AS (SELECT sum(na_v) OVER (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS cum_a,
                     sum(nb_v) OVER (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS cum_b,
                     sum(na_v) OVER () AS n_a,
                     sum(nb_v) OVER () AS n_b
              FROM per_v)
        SELECT CAST(max(n_a) AS BIGINT) AS n_a,
               CAST(max(n_b) AS BIGINT) AS n_b,
               CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT)
                   AS ks_num,
               CAST(max(n_a) * max(n_b) AS BIGINT) AS ks_den
        FROM c"""

def q_chi2_lang_source(spark, sf):
    # lang × source independence audit: per-cell exact χ² term as an
    # integer rational — with O observed, R/C margins, N total, the
    # term (O−RC/N)²/(RC/N) = (N·O−R·C)²/(N·R·C); we emit
    # term_ppm = 1e6·(N·O−R·C)² div (N·R·C) per cell, zero cells
    # included via the margin grid (5×20 broadcast cross). Int64 bound:
    # (N·O−R·C)² ≤ (N·R)² — safe to sf1 (N=5e4); beyond that the
    # numerator needs decimal(38).
    d = spark.read.parquet(f"{sf}/documents.parquet").select("lang",
                                                             "source")
    obs = d.groupBy("lang", "source").agg(F.count("*").alias("o"))
    r = d.groupBy("lang").agg(F.count("*").alias("r"))
    c = d.groupBy("source").agg(F.count("*").alias("c"))
    n = d.agg(F.count("*").alias("n"))
    grid = (r.crossJoin(F.broadcast(c)).crossJoin(F.broadcast(n))
            .join(obs, ["lang", "source"], "left")
            .withColumn("o", F.coalesce(F.col("o"), F.lit(0))))
    dev = F.col("n") * F.col("o") - F.col("r") * F.col("c")
    return grid.select(
        "lang", "source", "o", "r", "c",
        (dev * dev).alias("dev2"),
        F.expr("(n * o - r * c) * (n * o - r * c) * 1000000"
               " div (n * r * c)").alias("term_ppm"))

def _chi2_lang_source_sql() -> str:
    return """
        WITH obs AS (SELECT lang, source, count(*) AS o
                     FROM documents GROUP BY 1, 2),
        r AS (SELECT lang, count(*) AS r FROM documents GROUP BY 1),
        c AS (SELECT source, count(*) AS c FROM documents GROUP BY 1),
        n AS (SELECT count(*) AS n FROM documents),
        grid AS (SELECT r.lang, c.source, r.r, c.c, n.n,
                        COALESCE(obs.o, 0) AS o
                 FROM r CROSS JOIN c CROSS JOIN n
                 LEFT JOIN obs ON obs.lang = r.lang
                      AND obs.source = c.source)
        SELECT lang, source, CAST(o AS BIGINT) AS o, r, c,
               (n * o - r * c) * (n * o - r * c) AS dev2,
               (n * o - r * c) * (n * o - r * c) * 1000000
                   // (n * r * c) AS term_ppm
        FROM grid"""

def q_host_cap_sample(spark, sf):
    # frequency-capped corpus sampling: keep at most HOST_CAP pages per
    # host, selected deterministically by content-free hash order
    # (md5(url)) so recrawls don't churn the sample — the anti-head
    # measure every CC-derived training set applies to megadomains.
    # The kept-set byte sum verifies WHICH pages were kept, not just how
    # many. One host-keyed sort window.
    from pyspark.sql import Window as Win
    p = pages.pages(spark, 2000).select(
        TXT.url_host(F.col("url")).alias("host"), "url",
        F.octet_length("text").alias("nb"))
    w = Win.partitionBy("host").orderBy(F.md5("url"), "url")
    r = p.withColumn("rk", F.row_number().over(w))
    return (r.groupBy("host")
            .agg(F.count("*").alias("n_pages"),
                 F.sum(F.expr(f"if(rk <= {HOST_CAP}, 1, 0)"))
                 .alias("n_kept"),
                 F.sum(F.expr(f"if(rk <= {HOST_CAP}, nb, 0)"))
                 .alias("kept_bytes")))

def _host_cap_sample_sql(n: int = 2000, seed: int = 42) -> str:
    return f"""
        WITH {_pages_cte(n, seed)},
        p AS (SELECT {TXT.sql_url_host('url')} AS host, url,
                     octet_length(encode(text)) AS nb
              FROM txt),
        r AS (SELECT host, nb,
                     row_number() OVER (PARTITION BY host
                         ORDER BY md5(url), url) AS rk
              FROM p)
        SELECT host, count(*) AS n_pages,
               CAST(sum(CASE WHEN rk <= {HOST_CAP} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN rk <= {HOST_CAP} THEN nb ELSE 0 END)
                    AS BIGINT) AS kept_bytes
        FROM r GROUP BY 1"""

def q_vocab_growth(spark, sf):
    # Heaps-law curve: distinct vocabulary after the first k documents,
    # for a ladder of k — the corpus-saturation diagnostic (flattening
    # vocab growth = diminishing new-data value). One token explode →
    # first-occurrence doc per token (min, map-side combinable) → the
    # ladder is a 6-row broadcast. No per-k rescan.
    d = _docs(spark, sf).select("doc_id", "text")
    toks = d.select("doc_id",
                    F.explode(F.split("text", " ")).alias("tok")) \
        .filter(F.col("tok") != "")
    first = toks.groupBy("tok").agg(F.min("doc_id").alias("fd"))
    ks = spark.createDataFrame([(k,) for k in VOCAB_KS], "k bigint")
    vocab = (first.crossJoin(F.broadcast(ks))
             .filter(F.col("fd") < F.col("k"))
             .groupBy("k").agg(F.count("*").alias("vocab")))
    toktot = (toks.crossJoin(F.broadcast(ks))
              .filter(F.col("doc_id") < F.col("k"))
              .groupBy("k").agg(F.count("*").alias("total_tokens")))
    return (vocab.join(toktot, "k")
            .select("k", "total_tokens", "vocab"))

def _vocab_growth_sql() -> str:
    ks = ", ".join(f"({k})" for k in VOCAB_KS)
    return f"""
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' '))
                                 AS tok
                      FROM documents),
        t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        first AS (SELECT tok, min(doc_id) AS fd FROM t GROUP BY 1),
        ks(k) AS (VALUES {ks}),
        vocab AS (SELECT CAST(k AS BIGINT) AS k, count(*) AS vocab
                  FROM first, ks WHERE fd < k GROUP BY 1),
        tt AS (SELECT CAST(k AS BIGINT) AS k, count(*) AS total_tokens
               FROM t, ks WHERE doc_id < k GROUP BY 1)
        SELECT k, total_tokens, vocab
        FROM vocab JOIN tt USING (k)"""

def q_tfidf_top_terms(spark, sf):
    # per-language characteristic PHRASES: group-level TF-IDF with the
    # languages as the "documents" and token trigrams as the terms
    # (unigram df is vacuous on a shared vocabulary — the corpus's 31
    # base tokens appear in every language; trigram coverage differs).
    # tf = trigram occurrences inside the lang, df = number of langs
    # containing it, N = number of langs; score = (1e6·tf·N) div df,
    # EXACT integer (no log — ranking inside a fixed N is identical and
    # the oracle hashes). Top-3 per lang, ties → lexicographically
    # first term. Trigram agg is map-side combinable; the df side joins
    # on term (shuffle); the final window runs per lang.
    from pyspark.sql import Window as Win
    d = _docs(spark, sf)
    toks = F.split("text", " ")
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1))),
        lambda i: F.concat_ws("\x1f", F.slice(toks, i, 3)))
    tok = d.select("lang", F.explode(grams).alias("term"))
    tf = tok.groupBy("lang", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.countDistinct("lang").alias("df"))
    nl = d.select(F.countDistinct("lang").alias("nl"))
    j = (tf.join(df_, "term").crossJoin(F.broadcast(nl))
         .withColumn("score", F.expr("1000000 * tf * nl div df")))
    w = Win.partitionBy("lang").orderBy(F.col("score").desc(),
                                        F.col("term").asc())
    return (j.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("lang", "term", F.col("tf").cast("bigint").alias("tf"),
                    F.col("df").cast("bigint").alias("df"),
                    F.col("rn").cast("int").alias("rank"),
                    F.col("score").cast("bigint").alias("score")))

def _tfidf_top_terms_sql() -> str:
    return """
        WITH d AS (SELECT lang, string_split(text, chr(32)) AS toks
                   FROM documents),
        tok AS (SELECT lang,
                       unnest(list_transform(
                           range(1, greatest(len(toks) - 2, 1) + 1),
                           i -> array_to_string(list_slice(toks, i, i + 2),
                                                chr(31)))) AS term
                FROM d),
        tf AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS tf
               FROM tok GROUP BY 1, 2),
        df AS (SELECT term, CAST(count(DISTINCT lang) AS BIGINT) AS df
               FROM tf GROUP BY 1),
        nl AS (SELECT count(DISTINCT lang) AS nl FROM documents),
        j AS (SELECT tf.lang, tf.term, tf.tf, df.df,
                     1000000 * tf.tf * nl.nl // df.df AS score
              FROM tf JOIN df USING (term), nl),
        r AS (SELECT *, row_number() OVER (PARTITION BY lang
                                           ORDER BY score DESC, term ASC)
                  AS rank
              FROM j)
        SELECT lang, term, tf, df, CAST(rank AS INT) AS rank,
               CAST(score AS BIGINT) AS score
        FROM r WHERE rank <= 3"""

def q_bpe_merges(spark, sf):
    # the tokenizer-training primitive at corpus scale: BPE merge
    # rounds. Each round counts adjacent token pairs (map-side
    # combinable explode+agg), takes the global argmax (ties → lexico-
    # graphically first pair), and REWRITES the corpus by merging that
    # pair — greedy leftmost-non-overlapping, which is exactly what
    # replace() does in BOTH engines (verified: 'a a a' merges once).
    # Tokens travel sentinel-wrapped ('\\x02tok\\x02', joined by
    # spaces) so the pattern '\\x02a\\x02 \\x02b\\x02' can never match
    # inside a token; the merged token keeps '\\x01' as the join mark,
    # so later rounds can merge merged tokens. One bounded 1-row
    # collect per round; the rewrite is a pure projection.
    d = _docs(spark, sf)
    s0 = F.concat(F.lit("\x02"),
                  F.array_join(F.split("text", " "), "\x02 \x02"),
                  F.lit("\x02"))
    cur = d.select(s0.alias("s")).localCheckpoint(eager=False)
    out = []
    for r in range(1, BPE_ROUNDS + 1):
        toks = F.split("s", " ")
        n = F.size(toks)
        pairs = F.when(n >= 2, F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat(F.element_at(toks, i), F.lit(" "),
                               F.element_at(toks, i + 1)))
        ).otherwise(F.array().cast("array<string>"))
        top = (cur.select(F.explode(pairs).alias("pr"))
               .groupBy("pr").agg(F.count("*").alias("c"))
               .orderBy(F.col("c").desc(), F.col("pr").asc())
               .limit(1).collect()[0])
        pattern, freq = top["pr"], int(top["c"])
        merged = pattern.replace("\x02 \x02", "\x01")
        out.append((r, pattern.replace("\x02", ""), freq))
        cur = (cur.select(F.replace(F.col("s"), F.lit(pattern),
                                    F.lit(merged)).alias("s"))
               .localCheckpoint(eager=False))
    return spark.createDataFrame(out, "round int, pair string, freq bigint")

def _bpe_merges_sql(rounds: int = BPE_ROUNDS) -> str:
    pair_list = ("list_transform(range(1, greatest(len(tk) - 1, 0) + 1), "
                 "i -> tk[i] || ' ' || tk[i + 1])")
    parts = ["""
        d0 AS MATERIALIZED (
            SELECT chr(2) || array_to_string(string_split(text, chr(32)),
                       chr(2) || ' ' || chr(2)) || chr(2) AS s
            FROM documents)"""]
    for r in range(1, rounds + 1):
        parts.append(f"""
        c{r} AS (SELECT unnest({pair_list}) AS pr
                 FROM (SELECT string_split(s, ' ') AS tk FROM d{r - 1})),
        p{r} AS (SELECT pr, CAST(count(*) AS BIGINT) AS c FROM c{r}
                 GROUP BY 1 ORDER BY c DESC, pr ASC LIMIT 1),
        d{r} AS MATERIALIZED (
            SELECT replace(s, (SELECT pr FROM p{r}),
                           (SELECT replace(pr, chr(2) || ' ' || chr(2),
                                           chr(1)) FROM p{r})) AS s
            FROM d{r - 1})""")
    sel = "\n        UNION ALL ".join(
        f"SELECT {r} AS round, replace(pr, chr(2), '') AS pair, c "
        f"AS freq FROM p{r}" for r in range(1, rounds + 1))
    return (f"WITH {','.join(parts)}"
            f"""
        SELECT CAST(round AS INT) AS round, pair, freq FROM ({sel})""")

def q_text_segments(spark, sf):
    # TextTiling-style topic segmentation — the RAG-chunking shape: cut
    # a document where adjacent TSEG_BLOCK-token blocks' vocabulary
    # overlap dips (exact Jaccard ppm < τ), i.e. where the text changes
    # subject. Blocks, pairwise overlaps, and cut counts are all array
    # expressions in one projection — zero shuffles, per-doc output.
    # min_sim_ppm = −1 marks single-block docs (no interior boundary).
    d = _docs(spark, sf)
    toks = F.split("text", " ")
    n = F.size(toks)
    nb = F.ceil(n / F.lit(TSEG_BLOCK)).cast("int")
    blocks = F.transform(
        F.sequence(F.lit(0), nb - 1),
        lambda k: F.array_distinct(
            F.slice(toks, k * TSEG_BLOCK + 1, TSEG_BLOCK)))
    sims = F.when(nb >= 2, F.transform(
        F.sequence(F.lit(1), nb - 1),
        lambda b: F.floor(
            F.lit(1_000_000)
            * F.size(F.array_intersect(F.element_at(blocks, b),
                                       F.element_at(blocks, b + 1)))
            / F.size(F.array_union(F.element_at(blocks, b),
                                   F.element_at(blocks, b + 1))))
        .cast("bigint"))).otherwise(F.array().cast("array<bigint>"))
    cuts = F.size(F.filter(sims, lambda s: s < F.lit(TSEG_TAU)))
    return d.select(
        "doc_id", nb.alias("n_blocks"),
        (cuts + 1).cast("int").alias("n_segments"),
        F.coalesce(F.array_min(sims), F.lit(-1)).cast("bigint")
        .alias("min_sim_ppm"))

def _text_segments_sql() -> str:
    b = TSEG_BLOCK
    inter = ("len(list_intersect(bl[x], bl[x + 1]))")
    uni = ("len(list_distinct(list_concat(bl[x], bl[x + 1])))")
    return f"""
        WITH d AS (SELECT doc_id, string_split(text, chr(32)) AS tk
                   FROM documents),
        w AS (SELECT doc_id, tk,
                     CAST(ceil(len(tk) / {b}.0) AS INT) AS nb
              FROM d),
        bl0 AS (SELECT doc_id, nb,
                       list_transform(range(0, nb),
                           k -> list_distinct(list_slice(
                               tk, k * {b} + 1, (k + 1) * {b}))) AS bl
                FROM w),
        s AS (SELECT doc_id, nb,
                     CASE WHEN nb >= 2 THEN
                         list_transform(range(1, nb),
                             x -> CAST(1000000 * {inter} // {uni}
                                       AS BIGINT))
                     ELSE [] END AS sims
              FROM bl0)
        SELECT doc_id, nb AS n_blocks,
               CAST(len(list_filter(sims, v -> v < {TSEG_TAU})) + 1
                    AS INT) AS n_segments,
               CAST(coalesce(list_min(sims), -1) AS BIGINT)
                   AS min_sim_ppm
        FROM s"""

# ---------------------------------------------------------------------------
# batch 78 — effective corpus size after dedup, Zipf rank-frequency fit
# ---------------------------------------------------------------------------


def q_effective_tokens(spark, sf):
    # "how big is the corpus REALLY": token mass after collapsing each
    # near-dup component (exact-Jaccard tier) to its representative —
    # the number that prices training-data value, not raw bytes.
    # Composition of existing operators: pair graph → components → one
    # anti-join discount of non-representative docs; single summary
    # row with the savings in ppm.
    from geobuf_spark.operators import dedup
    d = _docs(spark, sf).select(
        "doc_id", TXT.token_count(F.col("text")).cast("bigint")
        .alias("n_tok"))
    pairs = dedup.ngram_jaccard_pairs(_docs(spark, sf), key="doc_id",
                                      shingle_k=3, threshold=0.4)
    comp = dedup.near_dup_components(pairs.select("a", "b"))
    nonrep = comp.filter(F.col("doc_id") != F.col("rep_id")) \
        .select("doc_id")
    tot = d.agg(F.count("*").alias("n_docs"),
                F.sum("n_tok").alias("tokens_total"))
    disc = (d.join(nonrep, "doc_id")
            .agg(F.count("*").alias("n_dup_docs"),
                 F.coalesce(F.sum("n_tok"), F.lit(0))
                 .alias("tokens_dropped")))
    return (tot.crossJoin(disc)
            .select(F.col("n_docs").cast("bigint").alias("n_docs"),
                    F.col("n_dup_docs").cast("bigint").alias("n_dup_docs"),
                    F.col("tokens_total").cast("bigint")
                    .alias("tokens_total"),
                    (F.col("tokens_total") - F.col("tokens_dropped"))
                    .cast("bigint").alias("tokens_effective"),
                    F.expr("1000000 * tokens_dropped div tokens_total")
                    .cast("bigint").alias("savings_ppm")))

def _effective_tokens_sql() -> str:
    return f"""
        WITH RECURSIVE {_ngram_sql()},
        edges AS (SELECT a AS u, b AS v FROM pairs
                  UNION SELECT b, a FROM pairs),
        walk(u, label) AS (
            SELECT u, u AS label FROM (SELECT DISTINCT u FROM edges)
            UNION
            SELECT e.u, w.label FROM edges e JOIN walk w ON e.v = w.u),
        comp AS (SELECT u AS doc_id, min(label) AS rep_id FROM walk
                 GROUP BY u),
        tk AS (SELECT doc_id,
                      CAST(len(string_split(text, chr(32))) AS BIGINT)
                          AS n_tok
               FROM documents),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(n_tok) AS BIGINT) AS tokens_total
                FROM tk),
        disc AS (SELECT CAST(count(*) AS BIGINT) AS n_dup_docs,
                        CAST(coalesce(sum(tk.n_tok), 0) AS BIGINT)
                            AS tokens_dropped
                 FROM comp JOIN tk USING (doc_id)
                 WHERE comp.doc_id <> comp.rep_id)
        SELECT n_docs, n_dup_docs, tokens_total,
               CAST(tokens_total - tokens_dropped AS BIGINT)
                   AS tokens_effective,
               CAST(1000000 * tokens_dropped // tokens_total AS BIGINT)
                   AS savings_ppm
        FROM tot, disc"""

def q_zipf_fit(spark, sf):
    # does the corpus vocabulary follow a power law? Rank-frequency
    # slope on the log-log plot, kept exact: log2 via the binary-string
    # bit length (both engines agree bit-for-bit — the log_histogram
    # trick), slope by integer least squares over (lx, ly) as the
    # EXACT rational num/den (the trend_slope_weekly form). A Zipfian
    # vocabulary fits slope ≈ −1; flat synthetic vocabularies read
    # near 0 — the drift gate for "did the tokenizer/corpus change
    # shape". One term rollup + a ≤vocab-size ranking.
    from pyspark.sql import Window as Win
    t = (_docs(spark, sf)
         .select(F.explode(F.split("text", " ")).alias("w"))
         .groupBy("w").agg(F.count("*").alias("f")))
    wr = Win.orderBy(F.col("f").desc(), F.col("w").asc())
    r = (t.withColumn("rank", F.row_number().over(wr))
         .select(
             (F.length(F.conv(F.col("rank").cast("string"), 10, 2)) - 1)
             .cast("bigint").alias("lx"),
             (F.length(F.conv(F.col("f").cast("string"), 10, 2)) - 1)
             .cast("bigint").alias("ly")))
    a = r.agg(F.count("*").alias("n"), F.sum("lx").alias("sx"),
              F.sum("ly").alias("sy"),
              F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
              F.sum(F.col("lx") * F.col("lx")).alias("sxx"))
    return a.select(
        F.col("n").cast("bigint").alias("n_terms"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("bigint").alias("slope_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("bigint").alias("slope_den"),
        F.expr("1000000 * (n * sxy - sx * sy) div "
               "(n * sxx - sx * sx)").cast("bigint")
        .alias("slope_ppm"))

def _zipf_fit_sql() -> str:
    return """
        WITH t AS (SELECT w, count(*) AS f FROM (
                       SELECT unnest(string_split(text, chr(32))) AS w
                       FROM documents)
                   GROUP BY 1),
        r AS (SELECT CAST(length(bin(row_number() OVER (
                          ORDER BY f DESC, w ASC))) - 1 AS BIGINT)
                         AS lx,
                     CAST(length(bin(f)) - 1 AS BIGINT) AS ly
              FROM t),
        a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(lx) AS BIGINT) AS sx,
                     CAST(sum(ly) AS BIGINT) AS sy,
                     CAST(sum(lx * ly) AS BIGINT) AS sxy,
                     CAST(sum(lx * lx) AS BIGINT) AS sxx
              FROM r)
        SELECT n AS n_terms,
               CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
               CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
               CAST(1000000 * (n * sxy - sx * sy)
                    // (n * sxx - sx * sx) AS BIGINT) AS slope_ppm
        FROM a"""

def _lang_id_sql() -> str:
    """Oracle for q_lang_id: stopword-hit argmax (earlier langs win ties),
    identical token split + lower as functions/text.py lang_id."""
    langs = list(TXT.STOPWORDS)
    score_cols = []
    for lg in langs:
        lst = ", ".join(f"'{w}'" for w in TXT.STOPWORDS[lg])
        score_cols.append(
            f"len(list_filter(tk, t -> list_contains([{lst}], t))) AS s_{lg}")
    greatest = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    whens = " ".join(
        f"WHEN g > 0 AND s_{lg} = g THEN '{lg}'" for lg in langs)
    return f"""
        WITH toks AS (
            SELECT doc_id, string_split(lower(text), chr(32)) AS tk
            FROM documents),
        scores AS (SELECT doc_id, {', '.join(score_cols)} FROM toks),
        best AS (SELECT doc_id, {greatest} AS g, * FROM scores),
        pred AS (
            SELECT CASE {whens} ELSE 'und' END AS lang_pred FROM best)
        SELECT lang_pred, count(*) AS n FROM pred GROUP BY lang_pred"""

def _pages_synth_sql(n: int = 2000, seed: int = 42, z: int = 7) -> str:
    """Oracle for q_pages_synth: pages regen + md5(url)-minted geometry."""
    return f"""
        WITH {_pages_cte(n, seed)},
        {_pages_geo_cte()}
        SELECT id AS page_id, lang, CAST(strlen(text) AS INT) AS n_bytes,
               {tiles.sql_tile_x('lon', z)} AS x{z},
               {tiles.sql_tile_y('lat', z)} AS y{z}
        FROM geo"""

def _html_extract_sql(n: int = 2000, seed: int = 42) -> str:
    """Oracle for q_html_extract_text: regenerate pages, build the SAME
    html envelope (sources/pages._html_sql), extract with the SAME regexp.
    Value-hash equality over (url, text_extracted) is the north-rule
    byte-identity check per url."""
    return f"""
        WITH {_pages_cte(n, seed)},
        h AS (SELECT id, url, {_html_sql()} AS html
              FROM txt)
        SELECT id AS page_id, url,
               regexp_extract(html, '<p>(.*)</p>', 1) AS text_extracted
        FROM h"""

def _url_host_topk_sql(n: int = 2000, seed: int = 42, k: int = 20) -> str:
    """Oracle for q_url_host_topk. sum() is cast BIGINT (DuckDB HUGEINT
    would arrive as float64 and hash-mismatch Spark's int64); the ORDER BY
    total-orders on (n_pages, host) so the LIMIT boundary is deterministic."""
    return f"""
        WITH {_pages_cte(n, seed)}
        SELECT {TXT.sql_url_host('url')} AS host,
               count(*) AS n_pages,
               CAST(sum(strlen(text)) AS BIGINT) AS total_bytes
        FROM txt
        GROUP BY 1
        ORDER BY n_pages DESC, host
        LIMIT {k}"""

def _latest_capture_sql(n: int = 2000, seed: int = 42, slots: int = 613) -> str:
    """Oracle for q_latest_capture: regenerate pages (txt carries the
    warc_ts epoch), remap onto {slots} URL slots, keep the (ts, id)-max
    capture per URL. DuckDB uses the window form; Spark uses the
    map-side-combinable struct-max — identical results because the
    (ts_epoch, id) order is total."""
    return f"""
        WITH {_pages_cte(n, seed)},
        c AS (SELECT 'https://re.example/p' || CAST(id % {slots} AS VARCHAR) AS url,
                     ts_epoch, id
              FROM txt),
        r AS (SELECT url, ts_epoch, id,
                     count(*) OVER (PARTITION BY url) AS n_captures,
                     row_number() OVER (PARTITION BY url
                                        ORDER BY ts_epoch DESC, id DESC) AS rn
              FROM c)
        SELECT url, n_captures, id AS latest_page_id, ts_epoch AS latest_ts
        FROM r WHERE rn = 1"""

def _url_normalize_sql(n: int = 2000, seed: int = 42) -> str:
    """Oracle for q_url_normalize: mint the SAME four messy variants, then
    normalize with the sql_url_normalize twin."""
    sh = f"regexp_extract(url, '{TXT._SCHEME_HOST_RE}')"
    rest = f"substr(url, length({sh}) + 1)"
    return f"""
        WITH {_pages_cte(n, seed)},
        m AS (SELECT id AS page_id,
                     CASE CAST(id % 4 AS INT)
                       WHEN 0 THEN upper({sh}) || {rest}
                       WHEN 1 THEN {sh} || ':443' || {rest}
                       WHEN 2 THEN url || '#sec-' || CAST(id % 7 AS VARCHAR)
                       ELSE url || '?a=1&utm_source=rss&utm_campaign=c'
                     END AS url_messy
              FROM txt)
        SELECT page_id, url_messy,
               {TXT.sql_url_normalize('url_messy')} AS url_norm
        FROM m"""

def _link_host_graph_sql(n: int = 2000, seed: int = 42, k: int = 20) -> str:
    """Oracle for q_link_host_graph: in-degree + distinct linking hosts
    per target host over the regenerated edges."""
    return f"""
        WITH {_links_cte(n, seed)}
        SELECT {TXT.sql_url_host('dst')} AS dst_host,
               count(*) AS in_degree,
               count(DISTINCT src_host) AS n_src_hosts
        FROM e
        GROUP BY 1
        ORDER BY in_degree DESC, dst_host
        LIMIT {k}"""

def _anchor_text_topk_sql(n: int = 2000, seed: int = 42, topk: int = 3) -> str:
    """Oracle for q_anchor_text_topk: the same anchored-html regeneration
    (anchor text w{dst mod 37}); DuckDB zips the two unnests positionally
    in one SELECT, matching Spark's arrays_zip."""
    anchors = _sql_link_anchors(anchored=True)
    return f"""
        WITH {_pages_cte(n, seed)},
        a AS (SELECT id, url, {_html_sql(body_tail=anchors)} AS html2
              FROM txt),
        e AS (SELECT unnest({TXT.sql_extract_links('html2')}) AS dst,
                     unnest({TXT.sql_extract_link_anchors('html2')}) AS anchor
              FROM a),
        c AS (SELECT {TXT.sql_url_host('dst')} AS dst_host, anchor,
                     count(*) AS n
              FROM e GROUP BY 1, 2),
        r AS (SELECT dst_host, anchor, n,
                     row_number() OVER (PARTITION BY dst_host
                                        ORDER BY n DESC, anchor) AS rank
              FROM c)
        SELECT dst_host, rank, anchor, n FROM r WHERE rank <= {topk}"""

def _boilerplate_lines_sql(n: int = 2000, seed: int = 42, min_docs: int = 20) -> str:
    """Oracle for q_boilerplate_lines: regen pages + body (sql_body_cte
    twin of sources/pages.with_body), unnest lines, frequent-line agg."""
    return f"""
        WITH {_pages_cte(n, seed)},
        {pages.sql_body_cte()},
        ln AS (SELECT id, {TXT.sql_url_host('url')} AS host,
                      unnest(string_split(body, chr(10))) AS line
               FROM bdy)
        SELECT line,
               CAST(count(DISTINCT id) AS BIGINT) AS n_docs,
               count(*) AS n_occurrences,
               CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
        FROM ln
        GROUP BY 1
        HAVING count(DISTINCT id) >= {min_docs}"""

def _meta_robots(key: str) -> str:
    """The meta robots variant minted after <head> for page key `key`."""
    return f"""coalesce(CASE CAST({key} % 21 AS INT)
                WHEN 0 THEN '<meta name="robots" content="noindex">'
                WHEN 7 THEN '<meta name=''robots'' content=''noindex,nofollow''>'
                WHEN 14 THEN '<meta content="noindex" name="robots">'
              END, '')"""

def _meta_robots_sql(n: int = 2000, seed: int = 42) -> str:
    """Oracle for q_meta_robots: rebuild the html envelope, splice the SAME
    three meta variants after <head>, classify with the shared regex."""
    return f"""
        WITH {_pages_cte(n, seed)},
        h AS (SELECT id, url, {_html_sql(head_extra=_meta_robots('id'))} AS html
              FROM txt)
        SELECT {TXT.sql_url_host('url')} AS host,
               count(*) AS n_pages,
               CAST(sum(CASE WHEN {TXT.sql_is_noindex('html')} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_noindex
        FROM h
        GROUP BY 1"""

def _warc_index_sql(n: int = 2000, seed: int = 42) -> str:
    """Oracle for q_warc_index: record length = strlen of the rebuilt html
    envelope (all-ASCII, so strlen == octet_length), offsets via the same
    (warc_ts, page_id)-ordered running sum. SUM OVER yields HUGEINT —
    CAST BIGINT to match Spark's int64."""
    return f"""
        WITH {_pages_cte(n, seed)},
        r AS (SELECT id, url, ts_epoch, {TXT.sql_url_host('url')} AS host,
                     CAST(strlen({_html_sql()}) AS BIGINT) AS rec_len
              FROM txt)
        SELECT host, id AS page_id, url, rec_len,
               CAST(coalesce(sum(rec_len) OVER (
                        PARTITION BY host ORDER BY ts_epoch, id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS "offset"
        FROM r"""

def _ngram_topk_sql(k: int = 25) -> str:
    """Oracle for q_ngram_topk: the same 3-gram construction as
    sql_dup_ngrams, unnested and aggregated with a (n, gram) total order."""
    return f"""
        WITH toks AS (SELECT doc_id, string_split(text, chr(32)) AS ws
                      FROM documents),
        grams AS (SELECT doc_id,
                         unnest(CASE WHEN len(ws) >= 3 THEN
                             list_transform(range(1, len(ws) - 1),
                                 i -> ws[i] || chr(32) || ws[i + 1]
                                      || chr(32) || ws[i + 2])
                         ELSE CAST([] AS VARCHAR[]) END) AS gram
                  FROM toks)
        SELECT gram, count(*) AS n,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM grams
        GROUP BY 1
        ORDER BY n DESC, gram
        LIMIT {k}"""

def _host_quality_rollup_sql(n: int = 2000, seed: int = 42) -> str:
    """Oracle for q_host_quality_rollup: integer sums CAST BIGINT (HUGEINT
    → float64 otherwise) and // floor division twinning Spark's DIV."""
    tq = TXT.sql_quality("text")
    return f"""
        WITH {_pages_cte(n, seed)},
        q AS (SELECT {TXT.sql_url_host('url')} AS host,
                     {tq['n_tokens']} AS n_tokens,
                     {tq['n_uniq_tokens']} AS n_uniq_tokens,
                     octet_length(encode(text)) AS n_bytes
              FROM txt)
        SELECT host, count(*) AS n_pages,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(sum(n_uniq_tokens) AS BIGINT) AS sum_uniq_tokens,
               CAST(sum(n_bytes) AS BIGINT) AS sum_bytes,
               CAST((CAST(sum(n_tokens) AS BIGINT) * 100) // count(*)
                    AS BIGINT) AS avg_tokens_x100
        FROM q
        GROUP BY host"""

def _text_normalize_sql(n: int = 2000, seed: int = 42) -> str:
    """Oracle for q_text_normalize: the same four messy variants and the
    same scrub chain; DuckDB regexp_replace needs the 'g' flag where
    Spark's replaces every match by default."""
    return f"""
        WITH {_pages_cte(n, seed)},
        m AS (SELECT id, CAST(id % 4 AS INT) AS variant,
                     CASE CAST(id % 4 AS INT)
                       WHEN 0 THEN '  ' || text || ' ' || chr(9)
                       WHEN 1 THEN replace(text, ' ', '   ')
                       WHEN 2 THEN text || chr(7) || chr(13) || chr(10)
                       ELSE text
                     END AS messy
              FROM txt)
        SELECT id AS page_id, variant,
               md5(messy) AS messy_md5,
               md5(trim(regexp_replace(regexp_replace(messy,
                   '[\\x00-\\x1f\\x7f]', ' ', 'g'), ' +', ' ', 'g')))
                   AS norm_md5
        FROM m"""

def _paragraph_owner_sql(n: int = 2000, seed: int = 42) -> str:
    """Oracle for q_paragraph_owner: DuckDB lacks Spark's min(struct)
    two-key combinable min, so the (ts, page_id) pair is packed into one
    BIGINT (ts * 2^22 + id — id < 2^22 always at these n), min'd, and
    decomposed. Arithmetically identical to the lexicographic struct min."""
    pack = 1 << 22
    return f"""
        WITH {_pages_cte(n, seed)},
        {pages.sql_body_cte()},
        ln AS (SELECT id, ts_epoch,
                      unnest(string_split(body, chr(10))) AS line
               FROM bdy),
        o AS (SELECT md5(line) AS line_md5,
                     min(ts_epoch * {pack} + id) AS packed,
                     count(*) AS n_copies
              FROM ln
              GROUP BY 1)
        SELECT line_md5,
               packed // {pack} AS owner_ts,
               packed % {pack} AS owner_page_id,
               n_copies
        FROM o"""

def _sample_stratified_sql(n: int = 2000, seed: int = 42) -> str:
    """Oracle for q_sample_stratified: the same md5-bridge bucket and
    per-language keep-rates."""
    bucket = f"({phash.sql_hash60(chr(39) + 'smp-' + chr(39) + ' || url')}) % 1000"
    return f"""
        WITH {_pages_cte(n, seed)}
        SELECT id AS page_id, lang, {bucket} AS bucket
        FROM txt
        WHERE {bucket} < CASE WHEN lang = 'en' THEN 500
                              WHEN lang IN ('de', 'fr') THEN 250
                              ELSE 100 END"""


def oracles() -> dict[str, str]:
    """DuckDB oracle twins for this module's queries."""
    tq = TXT.sql_quality("text")
    out = {
        "bm25_topk": "WITH " + ranking.sql_bm25_scores("documents", BM25_TERMS)
        + """
        SELECT doc_id, dl, score_ppm FROM bm25
        ORDER BY score_ppm DESC, doc_id
        LIMIT 15""",
        "inverted_postings": "WITH " + ranking.sql_postings("documents")
        + """
        SELECT term, df, tf_total, first_docs FROM post
        ORDER BY df DESC, term
        LIMIT 30""",
        "anchor_text_topk": _anchor_text_topk_sql(),
        "mlt_topk": _mlt_topk_sql(),
        "gopher_quality_flags": _gopher_quality_sql(),
        "top_ngram_frac": _top_ngram_frac_sql(),
        "pii_scrub": _pii_scrub_sql(),
        "rare_token_ratio": _rare_token_ratio_sql(),
        "lang_diversity_simpson": _lang_diversity_sql(),
        "host_crawl_priority": _host_crawl_priority_sql(),
        "lang_confusion": _lang_confusion_sql(),
        "unpivot_lang_counts": _unpivot_lang_counts_sql(),
        "grouping_sets_counts": _grouping_sets_counts_sql(),
        "token_positions": _token_positions_sql(),
        "doc_quality": f"""
            SELECT doc_id, octet_length(encode(text)) AS n_bytes, {tq['n_tokens']} AS n_tokens,
                   {tq['n_uniq_tokens']} AS n_uniq_tokens,
                   {tq['mean_token_len_x100']} AS mean_token_len_x100
            FROM documents""",
        "doc_fingerprint": """
            SELECT doc_id, substring(md5(text), 1, 16) AS fp FROM documents""",
        "corpus_clean": f"""
            WITH langed AS (
                SELECT * FROM documents WHERE lang IN ('en','de','fr','es','zh')),
            reps AS (
                SELECT md5(text) AS fp, min(doc_id) AS doc_id
                FROM langed GROUP BY 1)
            SELECT d.doc_id, d.lang, {tq['n_tokens']} AS n_tokens
            FROM langed d JOIN reps r ON d.doc_id = r.doc_id
            WHERE {tq['n_tokens']} >= 5""",
        "token_totals": f"""
            SELECT lang, CAST(sum({tq['n_tokens']}) AS BIGINT) AS total_tokens,
                   count(*) AS n_docs, max({tq['n_uniq_tokens']}) AS max_uniq
            FROM documents GROUP BY lang""",
        "ngram_jaccard": f"WITH {_ngram_sql()} SELECT a, b, jaccard FROM pairs",
        "rollup_doc_counts": """
            SELECT lang, source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
            FROM documents GROUP BY ROLLUP(lang, source)""",
        "cube_doc_counts": """
            SELECT lang, source, count(*) AS n,
                   CAST(sum(n_chars) AS BIGINT) AS chars,
                   CAST(grouping(lang) * 2 + grouping(source) AS BIGINT) AS gid
            FROM documents GROUP BY CUBE(lang, source)""",
        "pivot_lang_source": """
            SELECT lang,
                   count(CASE WHEN source = 'src0' THEN 1 END) AS src0_n,
                   count(CASE WHEN source = 'src1' THEN 1 END) AS src1_n,
                   count(CASE WHEN source = 'src2' THEN 1 END) AS src2_n,
                   count(CASE WHEN source = 'src3' THEN 1 END) AS src3_n
            FROM documents GROUP BY lang""",
        "lang_id": _lang_id_sql(),
        "pages_synth": _pages_synth_sql(),
        "html_extract_text": _html_extract_sql(),
        "url_host_topk": _url_host_topk_sql(),
        "latest_capture": _latest_capture_sql(),
        "url_normalize": _url_normalize_sql(),
        "link_host_graph": _link_host_graph_sql(),
        "boilerplate_lines": _boilerplate_lines_sql(),
        "meta_robots": _meta_robots_sql(),
        "warc_index": _warc_index_sql(),
        "sample_stratified": _sample_stratified_sql(),
        "ngram_topk": _ngram_topk_sql(),
        "host_quality_rollup": _host_quality_rollup_sql(),
        "text_normalize": _text_normalize_sql(),
        "paragraph_owner": _paragraph_owner_sql(),
        "ntile_len_deciles": _ntile_len_deciles_sql(),
        "pmi_bigrams": _pmi_bigrams_sql(),
        "weighted_sample_docs": _weighted_sample_docs_sql(),
        "robots_prefix_rules": _robots_prefix_rules_sql(),
        "prefix_autocomplete_topk": _prefix_autocomplete_topk_sql(),
        "weighted_median_tokens": _weighted_median_tokens_sql(),
        "phrase_search": _phrase_search_sql(),
        "conjunctive_search": _conjunctive_search_sql(),
        "props_json_stats": _props_json_stats_sql(),
        "benford_values": _benford_values_sql(),
        "null_profile": _null_profile_sql(),
        "host_url_lcp": _host_url_lcp_sql(),
        "host_concentration": _host_concentration_sql(),
        "ks_two_langs": _ks_two_langs_sql(),
        "chi2_lang_source": _chi2_lang_source_sql(),
        "host_cap_sample": _host_cap_sample_sql(),
        "vocab_growth": _vocab_growth_sql(),
        "tfidf_top_terms": _tfidf_top_terms_sql(),
        "bpe_merges": _bpe_merges_sql(),
        "text_segments": _text_segments_sql(),
        "effective_tokens": _effective_tokens_sql(),
        "zipf_fit": _zipf_fit_sql(),
    }
    return out
