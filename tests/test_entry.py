"""Pre-flight of the driver contract: run every queries() entry and compare
against its oracle_sql() twin in DuckDB — row counts, column names, and
(order-insensitively) values. Mirrors CORRECTNESS_r{N}.json generation."""

import math
import os

import duckdb
import pytest

SF = "/root/testdata/sf0.001"
# the IVF oracle pins generation-time centroids from the parquet under
# test (oracle_sql() is called below at import time)
os.environ["GEOBUF_ORACLE_SF_DIR"] = SF

import __spark_entry__ as entry_mod  # noqa: E402


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


def normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # floats from identical IEEE arithmetic should agree bit-for-bit;
        # normalize through repr to catch drift loudly
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def df_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for row in rows:
        key = tuple(normalize(row[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_query_vs_oracle(spark, con, name):
    qdf = QUERIES[name](spark, SF)
    spark_cols = qdf.columns
    spark_rows = [tuple(r) for r in qdf.collect()]

    res = con.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(c.lower() for c in spark_cols) == sorted(c.lower() for c in duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    got = df_to_multiset([c.lower() for c in spark_cols], spark_rows)
    want = df_to_multiset([c.lower() for c in duck_cols], duck_rows)
    if got != want:
        only_got = {k: v for k, v in got.items() if want.get(k) != v}
        only_want = {k: v for k, v in want.items() if got.get(k) != v}
        sample_g = list(only_got.items())[:5]
        sample_w = list(only_want.items())[:5]
        raise AssertionError(
            f"{name}: value mismatch — {len(only_got)} spark-only / "
            f"{len(only_want)} oracle-only\nspark: {sample_g}\noracle: {sample_w}"
        )


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"z", "x", "y", "n_features", "n_polys"} <= set(df.columns)


def test_driver_window_invariants():
    """The external driver checks only the FIRST 50 queries() entries
    (CORRECTNESS_r01 evidence). The order is explicit data in
    geobuf_spark/registry/window.py; this test pins (1) queries() actually
    follows it, (2) every entry has an oracle twin, (3) the r5 window
    composition mandated by VERDICT r4 #1 — the 18 changed-in-r4 queries
    first, then the committed overflow cohort (sketch_bloom_doc_gate ..
    dup_ngram_stats, incl. the north-rule invariant html_extract_text),
    then the next-oldest never-rowed block — with the registry FROZEN at
    369 (zero new queries this round)."""
    import __spark_entry__ as em
    from geobuf_spark.registry.window import QUEUE, WINDOW

    q, o = em.queries(), em.oracle_sql()
    assert set(q) == set(o), (sorted(set(q) - set(o)), sorted(set(o) - set(q)))
    assert len(q) == 369  # frozen — r5 adds no queries
    assert list(q) == WINDOW + QUEUE  # dict order IS the explicit data

    changed_in_r4 = [
        "pages_synth", "vector_tiles_z5", "mvt_tiles_z4", "split_clip_z5",
        "tile_assign_z8", "tile_counts_z6", "tile_parent_promote",
        "tile_pyramid", "tile_cover_rects_z7", "cover_size_estimate",
        "rasterize_z4", "vectorize_z3", "tile_stream_counts",
        "morton_keys_z8", "knn_adaptive_k5", "embed_near_dups",
        "ann_ivf_top5", "tpch_q18",
    ]
    assert WINDOW[:18] == changed_in_r4

    overflow_cohort = [
        "sketch_bloom_doc_gate", "sketch_cms_lang", "sketch_hll_docs",
        "doc_len_percentiles", "host_tile_footprint", "lang_tile_mix",
        "dup_span_frac", "ngram_topk", "host_quality_rollup",
        "text_normalize", "paragraph_owner", "boilerplate_lines",
        "line_dedup_clean", "meta_robots", "warc_index",
        "sample_stratified", "latest_capture", "url_normalize",
        "link_host_graph", "pagerank_hosts", "crawl_diff",
        "html_extract_text", "url_host_topk", "dup_ngram_stats",
    ]
    assert WINDOW[18:42] == overflow_cohort

    oldest_never_rowed = [
        "hotspot_clusters", "bm25_topk", "inverted_postings", "hits_hosts",
        "bloom_join_prune", "quadkey_z8", "geom_area_centroid",
        "sketch_kmv_lang",
    ]
    assert WINDOW[42:] == oldest_never_rowed

    # the north-rule byte-identity invariant finally gets its driver row
    assert "html_extract_text" in WINDOW

    # rotation stays mechanical: the QUEUE head (next round's window if
    # nothing changes) is the still-never-rowed cohort, haar_energy first
    assert QUEUE[0] == "haar_energy"


def test_every_oracle_binds(con):
    """DuckDB EXPLAIN binds every oracle_sql() entry (a few seconds), so a
    bind error fails here before the value comparisons run."""
    bad = {}
    for name, sql in ORACLES.items():
        try:
            con.execute("EXPLAIN " + sql)
        except duckdb.Error as e:
            bad[name] = str(e)[:300]
    assert not bad, bad
