"""Batch-16 operators: event transitions, link reciprocity, Simpson
diversity, tile anti-join gaps."""

import collections

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_event_transitions_vs_brute(spark):
    import __spark_entry__ as em

    got = {(r["from_type"], r["to_type"]): (r["n"], r["share_ppm"]) for r in
           em.q_event_transitions(spark, SF).collect()}
    ev = (spark.read.parquet(f"{SF}/events.parquet")
          .select("user_id", "ts", "event_id", "event_type").collect())
    seqs = {}
    for r in ev:
        seqs.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"], r["event_type"]))
    cnt = collections.Counter()
    for s in seqs.values():
        s.sort()
        for a, b in zip(s, s[1:]):
            cnt[(a[2], b[2])] += 1
    outsum = collections.Counter()
    for (f_, _t), n in cnt.items():
        outsum[f_] += n
    brute = {k: (n, n * 1_000_000 // outsum[k[0]]) for k, n in cnt.items()}
    assert got == brute
    # shares per source type sum to ~1e6 (floor loss < n_targets)
    per_from = collections.Counter()
    for (f_, _t), (_n, ppm) in got.items():
        per_from[f_] += ppm
    for f_, s in per_from.items():
        assert 1_000_000 - 5 <= s <= 1_000_000


def test_link_reciprocity_vs_brute(spark):
    import __spark_entry__ as em

    r = em.q_link_reciprocity(spark, SF).collect()[0]
    edges = {(e["src_host"], e["dst_host"]) for e in
             em._page_link_edges(spark, 2000).select(
                 "src_host",
                 F.parse_url(F.col("dst"), F.lit("HOST")).alias("dst_host"))
             .collect() if e["src_host"] != e["dst_host"]}
    recip = sum(1 for (a, b) in edges if (b, a) in edges)
    assert r["n_edges"] == len(edges)
    assert r["n_reciprocal"] == recip
    assert r["reciprocity_ppm"] == recip * 1_000_000 // len(edges)


def test_lang_diversity_simpson_exact(spark):
    import __spark_entry__ as em

    got = {r["source"]: r for r in
           em.q_lang_diversity_simpson(spark, SF).collect()}
    docs = (spark.read.parquet(f"{SF}/documents.parquet")
            .select("source", "lang").collect())
    per = collections.Counter((r["source"], r["lang"]) for r in docs)
    bysrc = collections.defaultdict(list)
    for (s, _l), m in per.items():
        bysrc[s].append(m)
    for s, ms in bysrc.items():
        n = sum(ms)
        expect = 1_000_000 - sum(m * m for m in ms) * 1_000_000 // (n * n)
        assert got[s]["n_docs"] == n
        assert got[s]["n_langs"] == len(ms)
        assert got[s]["simpson_ppm"] == expect
        assert 0 <= got[s]["simpson_ppm"] < 1_000_000


def test_tile_gaps_anti_properties(spark):
    import __spark_entry__ as em
    from geobuf_spark.functions import tiles as T
    from geobuf_spark.sources import pages

    gaps = {(r["x"], r["y"]) for r in em.q_tile_gaps_anti(spark, SF).collect()}
    assert gaps  # the drop pattern must leave real holes

    def tset(p):
        return {(r["x"], r["y"]) for r in
                pages.with_minted_geometry(p).selectExpr(
                    f"{T.sql_tile_x('lon', 7)} AS x",
                    f"{T.spark_tile_y('lat', 7)} AS y").collect()}

    a = tset(pages.pages(spark, 2000))
    b = tset(pages.pages(spark, 2400).where(
        F.pmod(F.col("page_id"), F.lit(17)) != 3))
    assert gaps == a - b


def test_retention_cohorts_vs_brute(spark):
    import __spark_entry__ as em

    got = {(r["cohort"], r["week_offset"]): r["n_users"] for r in
           em.q_retention_cohorts(spark, SF).collect()}
    ev = (spark.read.parquet(f"{SF}/events.parquet")
          .select("user_id", F.unix_timestamp("ts").alias("ep")).collect())
    wk = {}
    for r in ev:
        wk.setdefault(r["user_id"], set()).add(
            (r["ep"] - em.COHORT_T0) // 604800)
    brute = {}
    for u, ws in wk.items():
        c = min(ws)
        for w in ws:
            brute.setdefault((c, w - c), set()).add(u)
    assert got == {k: len(v) for k, v in brute.items()}


def test_canonical_groups_structure(spark):
    import __spark_entry__ as em

    rows = em.q_canonical_groups(spark, SF).collect()
    # 2000 pages in groups of 4: the regenerated leader url must equal the
    # leader page's actual url, so exactly 500 groups of 4 led by id%4==0
    assert len(rows) == 500
    for r in rows:
        assert r["n_pages"] == 4, r
        assert r["rep_page_id"] % 4 == 0
    urls = {r["url"]: r["page_id"] for r in
            __import__("geobuf_spark.sources.pages", fromlist=["pages"])
            .pages(spark, 2000).select("page_id", "url").collect()}
    for r in rows:
        assert urls[r["canonical_url"]] == r["rep_page_id"]


def test_line_length_stats_vs_brute(spark):
    import math

    import __spark_entry__ as em
    from geobuf_spark.sources import minted

    out = {r["doc_id"]: r for r in
           em.q_line_length_stats(spark, SF).collect()}
    wl = minted.minted_walk_lines_q(spark, SF, k=9).limit(80).collect()
    for r in wl:
        xs, ys = r["xs_q"], r["ys_q"]
        d2s = [(xs[i + 1] - xs[i]) ** 2 + (ys[i + 1] - ys[i]) ** 2
               for i in range(8)]
        length = 0.0
        for d in d2s:
            length = length + math.sqrt(d)
        o = out[r["doc_id"]]
        assert o["length_q"] == length  # bit-exact, not approx
        assert o["max_seg_d2"] == max(d2s)
        chord2 = (xs[8] - xs[0]) ** 2 + (ys[8] - ys[0]) ** 2
        assert o["chord_q"] == math.sqrt(chord2)
        assert o["sinuosity_x1000"] == math.floor(
            length * 1000.0 / math.sqrt(chord2))
