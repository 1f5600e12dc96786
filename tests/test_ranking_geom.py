"""Batch-7 operators: fixed-point BM25 + postings (operators/ranking.py),
quadkey addressing (functions/tiles.py), integer shoelace measures
(functions/geom.py), and the bloom join-prune exactness property."""

import duckdb
import pytest
from pyspark.sql import functions as F

from geobuf_spark.functions import geom, tiles
from geobuf_spark.operators import ranking, sketch
from geobuf_spark.sources import minted

DOCS = "/root/testdata/sf0.001/documents.parquet"
TERMS = ["spark", "tile", "graph"]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(DOCS).cache()


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------

def brute_bm25(rows, terms, k1t=12, bh=75):
    """Python reference of the fixed-point arithmetic (ints only)."""
    toks = {i: t.split(" ") for i, t in rows}
    n = len(rows)
    sumdl = sum(len(v) for v in toks.values())
    avgdl = (sumdl * 100) // n
    out = {}
    for i, tk in toks.items():
        dl = len(tk)
        score = 0
        for t in terms:
            tf = tk.count(t)
            df = sum(1 for v in toks.values() if t in v)
            idf = ((2 * n - 2 * df + 1) * ranking.IDF_SCALE) // (2 * df + 1)
            den = tf * 1000 * avgdl + k1t * ((100 - bh) * avgdl + bh * dl * 100)
            sat = (tf * (10 + k1t) * 100 * avgdl * ranking.S_SCALE) // den
            score += (idf * sat) // ranking.S_SCALE
        out[i] = (dl, score)
    return out


def test_bm25_vs_brute(spark, docs):
    got = {r["doc_id"]: (r["dl"], r["score_ppm"])
           for r in ranking.bm25_scores(docs, TERMS).collect()}
    rows = [(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()]
    assert got == brute_bm25(rows, TERMS)


def test_bm25_zero_when_no_terms_present(spark):
    df = spark.createDataFrame(
        [(1, "spark tile spark"), (2, "nothing here at all")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r["score_ppm"]
           for r in ranking.bm25_scores(df, TERMS).collect()}
    assert got[2] == 0 and got[1] > 0


def test_bm25_partition_invariance(spark, docs):
    a = sorted(tuple(r) for r in ranking.bm25_scores(docs.repartition(1), TERMS).collect())
    b = sorted(tuple(r) for r in ranking.bm25_scores(docs.repartition(17), TERMS).collect())
    assert a == b


def test_bm25_plan_shape(spark, docs):
    """The per-doc tf/dl stage is shuffle-free: the only exchanges are the
    single-partition gather of the 1-row stats aggregate and its broadcast
    back — no hash-partitioned shuffle of the corpus anywhere."""
    plan = (ranking.bm25_scores(docs, TERMS)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Exchange SinglePartition") == 1


def test_bm25_requires_terms():
    with pytest.raises(ValueError):
        ranking.bm25_scores(None, [])


# ---------------------------------------------------------------------------
# postings
# ---------------------------------------------------------------------------

def test_postings_vs_brute(spark, docs):
    got = {r["term"]: (r["df"], r["tf_total"], r["first_docs"])
           for r in ranking.postings(docs, sample_k=3).collect()}
    rows = [(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()]
    brute = {}
    for i, t in rows:
        for w in t.split(" "):
            brute.setdefault(w, []).append(i)
    for w, ids in brute.items():
        dids = sorted(set(ids))
        exp = (len(dids), len(ids), ",".join(str(d) for d in dids[:3]))
        assert got[w] == exp, (w, got[w], exp)
    assert set(got) == set(brute)


# ---------------------------------------------------------------------------
# quadkey
# ---------------------------------------------------------------------------

def brute_quadkey(x, y, z):
    return "".join(str(((x >> (z - i)) & 1) + 2 * ((y >> (z - i)) & 1))
                   for i in range(1, z + 1))


def test_quadkey_vs_brute(spark):
    cases = [(0, 0), (255, 255), (1, 2), (170, 85), (200, 13)]
    df = spark.createDataFrame(cases, ["x", "y"])
    got = {(r["x"], r["y"]): r["qk"] for r in df.selectExpr(
        "x", "y", f"{tiles.sql_quadkey('x', 'y', 8)} AS qk").collect()}
    for x, y in cases:
        assert got[(x, y)] == brute_quadkey(x, y, 8)


def test_quadkey_prefix_nesting(spark):
    """The z−1 quadkey of the parent tile is a prefix of the child's."""
    df = spark.createDataFrame([(200, 13), (37, 255)], ["x", "y"])
    rows = df.selectExpr(
        f"{tiles.sql_quadkey('x', 'y', 8)} AS qk8",
        f"{tiles.sql_quadkey('x >> 1', 'y >> 1', 7)} AS qk7",
    ).collect()
    assert rows
    for r in rows:
        assert r["qk8"].startswith(r["qk7"])


def test_sql_quadkey_matches(spark):
    con = duckdb.connect()
    for x, y in [(0, 0), (255, 255), (170, 85)]:
        sql = f"SELECT {tiles.sql_quadkey(str(x), str(y), 8)}"
        assert con.sql(sql).fetchone()[0] == brute_quadkey(x, y, 8)


# ---------------------------------------------------------------------------
# shoelace measures
# ---------------------------------------------------------------------------

def brute_ring_stats(xs, ys, unit=geom.UNIT):
    n = len(xs)
    x0, y0 = min(xs), min(ys)
    dx = [(v - x0) // unit for v in xs]
    dy = [(v - y0) // unit for v in ys]
    cross = [dx[i] * dy[(i + 1) % n] - dx[(i + 1) % n] * dy[i] for i in range(n)]
    a2 = sum(cross)
    cxn = sum((dx[i] + dx[(i + 1) % n]) * cross[i] for i in range(n))
    cyn = sum((dy[i] + dy[(i + 1) % n]) * cross[i] for i in range(n))
    return a2, x0 + cxn * unit // (3 * a2), y0 + cyn * unit // (3 * a2)


def test_ring_stats_vs_brute(spark):
    rings = [
        # rect 20x16 mega-units at an awkward offset
        ([3, 20_000_003, 20_000_003, 3], [7, 7, 16_000_007, 16_000_007]),
        # CCW triangle
        ([5_000_001, 1, 10_000_001], [9_000_002, 2, 2]),
    ]
    df = spark.createDataFrame(rings, ["xs", "ys"])
    got = df.select(geom.ring_stats_q(F.col("xs"), F.col("ys")).alias("st")) \
            .select("st.*").collect()
    for (xs, ys), r in zip(rings, got):
        assert (r["area2_u2"], r["cx_q"], r["cy_q"]) == brute_ring_stats(xs, ys)


def test_ring_stats_closed_forms(spark):
    """Minted rects: area2 = 2·(2hw)(2hh)/unit², centroid = exact center.
    Minted triangles: area2 = 4·hw·hh/unit², centroid x = cx."""
    r = minted.minted_rings_q(spark, "/root/testdata/sf0.001")
    rows = (r.withColumn("st", geom.ring_stats_q(F.col("xs_q"), F.col("ys_q")))
             .select("poly_id", "kind", "st.*").collect())
    u = geom.UNIT

    def mulmod(a, mult, mod):
        # python twin of sources/minted._sql_mulmod
        b1, b2 = mult // (1 << 15), mult % (1 << 15)
        ar = a % mod
        return ((ar * b1) % mod * (1 << 15) + ar * b2) % mod

    for row in rows:
        k = row["poly_id"]
        hw = 10_000_000 + (k % 100) * 1_000_000
        hh = 8_000_000 + (k % 80) * 1_000_000
        cx = mulmod(k, minted.CX_MULT, minted.CX_MOD) - minted.CX_MOD // 2
        cy = mulmod(k, minted.CY_MULT, minted.CY_MOD) - minted.CY_MOD // 2
        if row["kind"] == "rect":
            assert row["area2_u2"] == 2 * (2 * hw // u) * (2 * hh // u)
            assert row["cx_q"] == cx and row["cy_q"] == cy
        else:
            assert row["area2_u2"] == (2 * hw // u) * (2 * hh // u)
            assert row["cx_q"] == cx
            # triangle centroid y = cy − hh/3, floored onto the lattice
            assert row["cy_q"] == (cy - hh) + (2 * hh) // 3


def test_idiv_floor_exactness(spark):
    """_idiv must equal python // even when the double quotient rounds to
    an integer from below/above."""
    cases = [(10, 3), (9, 3), (2**52 + 1, 3), (999_999_999_999, 7),
             (0, 5), (6, 3), (2**50, 2**25 + 1)]
    df = spark.createDataFrame(cases, ["n", "d"])
    got = df.select("n", "d", geom._idiv(F.col("n"), F.col("d")).alias("q")).collect()
    for r in got:
        assert r["q"] == r["n"] // r["d"], (r["n"], r["d"])


# ---------------------------------------------------------------------------
# bloom join prune — exactness property
# ---------------------------------------------------------------------------

def test_bloom_prune_no_false_negatives(spark):
    """The bloom gate + exact join must equal the plain join exactly (no
    member is ever dropped), even at a deliberately tiny/saturated m."""
    fact = spark.range(500).select(
        F.concat(F.lit("k"), (F.col("id") % 97).cast("string")).alias("key"))
    dim = spark.range(20).select(
        F.concat(F.lit("k"), (F.col("id") * 5).cast("string")).alias("key"))
    bloom = sketch.bloom_build(dim, "key", m_bits=256, n_hashes=3)
    maybe = (sketch.bloom_probe(fact.distinct(), "key", bloom,
                                m_bits=256, n_hashes=3)
             .filter(F.col("bloom_maybe")).select("key"))
    pruned = fact.join(F.broadcast(maybe), "key").join(F.broadcast(dim), "key")
    plain = fact.join(F.broadcast(dim), "key")
    a = sorted(r["key"] for r in pruned.collect())
    b = sorted(r["key"] for r in plain.collect())
    assert a == b and a  # non-empty intersection by construction


def test_bm25_fixed_point_survives_huge_corpora(spark):
    """The decomposed ×S_SCALE products must stay int64-exact at corpus
    sizes where the naive idf·sat·1e6 chain wraps (N ≈ 1.4e7): evaluate
    the shared term-score expression directly on crafted stat columns at
    N = 2e12 / df = 1 / tf = 4e5 / avgdl = 1e5 tokens and compare with
    python big-int arithmetic."""
    n_docs, df, tf, dl, avgdl_x100 = 2 * 10**12, 1, 400_000, 500_000, 10**7
    idf = ((2 * n_docs - 2 * df + 1) * ranking.IDF_SCALE) // (2 * df + 1)
    k1t, bh, S = 12, 75, ranking.S_SCALE
    den = tf * 1000 * avgdl_x100 + k1t * ((100 - bh) * avgdl_x100 + bh * dl * 100)
    sat = (tf * (10 + k1t) * 100 * avgdl_x100 * S) // den
    expected = (idf * sat) // S
    assert idf * sat > 2**63  # the naive product WOULD wrap
    expr = ranking._term_score_exprs(1, k1t, bh, div="div")[0]
    # dl/tf as 32-bit ints — the type F.size actually produces; the shared
    # expression must widen them itself or 75·dl·100 wraps int32
    row = spark.createDataFrame(
        [(dl, tf, avgdl_x100, idf)],
        "dl int, tf_0 int, avgdl_x100 bigint, idf_0 bigint")
    got = row.select(F.expr(expr).alias("s")).collect()[0]["s"]
    assert got == expected
    sql = ranking._term_score_exprs(1, k1t, bh, div="//")[0]
    oracle = duckdb.sql(
        f"SELECT CAST({sql} AS BIGINT) FROM (SELECT "
        f"CAST({dl} AS BIGINT) AS dl, CAST({tf} AS BIGINT) AS tf_0, "
        f"CAST({avgdl_x100} AS BIGINT) AS avgdl_x100, "
        f"CAST({idf} AS BIGINT) AS idf_0)").fetchone()[0]
    assert oracle == expected


def test_ring_stats_degenerate_inputs(spark):
    """n < 3 must return NULL without evaluating the ring math (an empty
    array would otherwise hit sequence(1,0) → element_at(…,0)); a
    zero-area ring keeps its area but NULLs the centroid — matching the
    SQL twin's CASE instead of diverging NULL-vs-error across engines."""
    rows = spark.createDataFrame(
        [(1, [], []), (2, [0, 5], [0, 5]),
         (3, [0, 1_000_000, 2_000_000], [0, 0, 0]),
         # CLOCKWISE triangle: negative area2 reported, centroid NULLed —
         # _idiv's floor correction assumes non-negative operands and
         # would diverge from DuckDB's // on a CW ring
         (4, [0, 0, 2_000_000], [0, 2_000_000, 0])],
        "id int, xs array<bigint>, ys array<bigint>") \
        .withColumn("st", geom.ring_stats_q(F.col("xs"), F.col("ys"))) \
        .select("id", "st.*").collect()
    by_id = {r["id"]: r for r in rows}
    assert by_id[1]["area2_u2"] is None and by_id[2]["area2_u2"] is None
    assert by_id[3]["area2_u2"] == 0
    assert by_id[3]["cx_q"] is None and by_id[3]["cy_q"] is None
    assert by_id[4]["area2_u2"] < 0
    assert by_id[4]["cx_q"] is None and by_id[4]["cy_q"] is None
    d = geom.sql_ring_stats_q(["0", "1", "2"], ["0", "0", "0"])
    a, cx = duckdb.sql(f"SELECT {d['area2_u2']}, {d['cx_q']}").fetchone()
    assert a == 0 and cx is None
    d = geom.sql_ring_stats_q(["0", "0", "2000000"], ["0", "2000000", "0"])
    a, cx = duckdb.sql(f"SELECT {d['area2_u2']}, {d['cx_q']}").fetchone()
    assert a < 0 and cx is None
    with pytest.raises(ValueError):
        geom.sql_ring_stats_q(["0", "1"], ["0", "1"])


def test_mlt_topk_vs_brute(spark, docs):
    """Inverted-index more-like-this: python recompute of the Σ-idf score
    over the seed document's distinct terms."""
    import __spark_entry__ as em

    rows = [(r["doc_id"], r["text"].split(" "))
            for r in docs.select("doc_id", "text").collect()]
    n = len(rows)
    seed_terms = {t for i, tk in rows if i == em.MLT_SEED_DOC for t in tk}
    dfreq = {}
    for _, tk in rows:
        for t in set(tk):
            dfreq[t] = dfreq.get(t, 0) + 1
    scored = []
    for i, tk in rows:
        if i == em.MLT_SEED_DOC:
            continue
        sh = set(tk) & seed_terms
        if not sh:
            continue
        s = sum(((2 * n - 2 * dfreq[t] + 1) * 1_000_000) // (2 * dfreq[t] + 1)
                for t in sh)
        scored.append((-s, i, s, len(sh)))
    exp = [(i, s, m) for _, i, s, m in sorted(scored)[:10]]
    got = [(r["doc_id"], r["score_ppm"], r["n_shared"]) for r in
           em.queries()["mlt_topk"](spark, "/root/testdata/sf0.001").collect()]
    assert got == exp
