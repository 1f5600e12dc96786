"""Batch-67 units: STR bulk-load packing (vs a numpy brute of the same
two-level sort, plus balance/partition invariants) and Cohen's kappa (vs
python-int algebra from a brute confusion matrix)."""
import numpy as np
import pandas as pd

import __spark_entry__ as em
from geobuf_spark.functions import text as TXT

SF = "/root/testdata/sf0.001"


def _brute_str(rects, s):
    # rects: list of (rid, cx, cy, x1, y1, x2, y2)
    n = len(rects)
    by_x = sorted(rects, key=lambda r: (r[1], r[0]))
    leaves = {}
    for i, r in enumerate(by_x):
        leaves.setdefault(i * s // n, []).append(r)
    out = {}
    for sl, rs in leaves.items():
        rs = sorted(rs, key=lambda r: (r[2], r[0]))
        m = len(rs)
        for j, r in enumerate(rs):
            leaf = sl * s + j * s // m
            cur = out.get(leaf)
            if cur is None:
                out[leaf] = [1, r[3], r[4], r[5], r[6]]
            else:
                cur[0] += 1
                cur[1] = min(cur[1], r[3])
                cur[2] = min(cur[2], r[4])
                cur[3] = max(cur[3], r[5])
                cur[4] = max(cur[4], r[6])
    return {k: tuple(v) for k, v in out.items()}


def test_str_pack_vs_brute(spark):
    from geobuf_spark.sources import minted
    # the rects from the fixture's own draws (minted_rects, back on the
    # integer lattice), independent of q_str_pack's select list
    r = minted.minted_rects(spark, SF).selectExpr(
        "poly_id AS rid",
        "CAST(round((minx + maxx) / 2 * 1e7) AS BIGINT) AS cx",
        "CAST(round((miny + maxy) / 2 * 1e7) AS BIGINT) AS cy",
        "CAST(round(minx * 1e7) AS BIGINT) AS x1",
        "CAST(round(miny * 1e7) AS BIGINT) AS y1",
        "CAST(round(maxx * 1e7) AS BIGINT) AS x2",
        "CAST(round(maxy * 1e7) AS BIGINT) AS y2").toPandas()
    rects = [tuple(int(v) for v in row)
             for row in r.itertuples(index=False)]
    exp = _brute_str(rects, em.STR_S)
    got = {r["leaf"]: (r["n_rects"], r["mbr_x1"], r["mbr_y1"],
                       r["mbr_x2"], r["mbr_y2"])
           for r in em.q_str_pack(spark, SF).collect()}
    assert got == exp
    # every leaf populated and balanced within ±1 of n/64 per level
    assert len(got) == em.STR_S * em.STR_S
    counts = [c for c, *_ in got.values()]
    n = len(rects)
    import math
    lo = (n // em.STR_S) // em.STR_S
    hi = math.ceil(math.ceil(n / em.STR_S) / em.STR_S)
    assert lo <= min(counts) and max(counts) <= hi
    assert sum(counts) == n


def test_cohens_kappa_vs_brute(spark):
    conf = {(r["actual"], r["pred"]): r["n"]
            for r in em.q_lang_confusion(spark, SF).collect()}
    N = sum(conf.values())
    diag = sum(v for (a, p), v in conf.items() if a == p)
    rows, cols = {}, {}
    for (a, p), v in conf.items():
        rows[a] = rows.get(a, 0) + v
        cols[p] = cols.get(p, 0) + v
    src = sum(rows[l] * cols[l] for l in rows if l in cols)
    num, den = 10**6 * (N * diag - src), N * N - src
    trunc = abs(num) // den * (1 if num >= 0 else -1)  # both engines'
    # integer division truncates toward zero (python // floors)
    exp = (N, diag, src, trunc)
    rws = em.q_cohens_kappa(spark, SF).collect()
    assert len(rws) == 1
    got = (rws[0]["n_docs"], rws[0]["n_agree"], rws[0]["sum_rc"],
           rws[0]["kappa_ppm"])
    assert got == exp
    # kappa must be chance-corrected: strictly below raw accuracy ppm.
    # On this shared-vocabulary synthetic corpus the stopword predictor
    # sits AT chance, so kappa lands near zero (slightly negative here)
    # while raw accuracy reads ~198k ppm — exactly the inflation kappa
    # exists to remove.
    assert got[3] < 10**6 * diag // N
    assert abs(got[3]) < 50_000
