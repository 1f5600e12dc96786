"""Batch-8 operators: the grid-bucketed radius self-join
(operators/spatial_join.radius_self_join), one-pass Visvalingam
simplification (functions/geom.vw_simplify_q), geohash addressing
(functions/cells.sql_geohash_q), and the hotspot-cluster rollup."""

import duckdb
import pytest
from pyspark.sql import functions as F

from geobuf_spark.functions import cells, geom
from geobuf_spark.operators import spatial_join as sj
from geobuf_spark.sources import minted

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# radius self-join
# ---------------------------------------------------------------------------

def brute_pairs(pts, r):
    out = set()
    for i, (ia, xa, ya) in enumerate(pts):
        for ib, xb, yb in pts[i + 1:]:
            if (xa - xb) ** 2 + (ya - yb) ** 2 <= r * r:
                a, b = sorted((ia, ib))
                out.add((a, b, (xa - xb) ** 2 + (ya - yb) ** 2))
    return out


CRAFTED = [
    (1, 100, 100), (2, 103, 104),      # same cell, dist 5
    (3, 995, 100), (4, 1005, 100),     # straddle a cell boundary, dist 10
    (5, 5000, 5000), (6, 5000, 6000),  # EXACT boundary: dist == r
    (7, 90000, 90000),                 # isolated
    (8, 0, 0),                         # origin corner cell
]


def test_radius_vs_brute_crafted(spark):
    df = spark.createDataFrame(CRAFTED, ["doc_id", "qx", "qy"])
    got = {(r["id_a"], r["id_b"], r["dist2"])
           for r in sj.radius_self_join(df, r=1000).collect()}
    exp = brute_pairs(CRAFTED, 1000)
    assert got == exp
    # the exact-boundary pair must be included (<=, not <)
    assert (5, 6, 1000 * 1000) in got


def test_radius_vs_brute_minted(spark):
    p = minted.minted_cluster_points_q(spark, SF)
    rows = [(r["doc_id"], r["qx"], r["qy"]) for r in p.collect()]
    got = {(r["id_a"], r["id_b"], r["dist2"])
           for r in sj.radius_self_join(p, r=9_000_000).collect()}
    assert got == brute_pairs(rows, 9_000_000)
    assert len(got) > 100  # the clustered minting must actually cluster


def test_radius_partition_invariance(spark):
    p = minted.minted_cluster_points_q(spark, SF)
    a = sorted(tuple(r) for r in
               sj.radius_self_join(p.repartition(1), r=9_000_000).collect())
    b = sorted(tuple(r) for r in
               sj.radius_self_join(p.repartition(16), r=9_000_000).collect())
    assert a == b


def test_radius_rejects_bad_r(spark):
    with pytest.raises(ValueError):
        sj.radius_self_join(None, r=0)
    with pytest.raises(ValueError):
        sj.radius_self_join(None, r=1 << 30)


# ---------------------------------------------------------------------------
# Visvalingam one-pass filter
# ---------------------------------------------------------------------------

def brute_vw(xs, ys, t):
    n = len(xs)
    kept = []
    for i in range(n):
        if i in (0, n - 1):
            kept.append(i)
            continue
        cr = ((xs[i] - xs[i - 1]) * (ys[i + 1] - ys[i - 1])
              - (xs[i + 1] - xs[i - 1]) * (ys[i] - ys[i - 1]))
        if abs(cr) >= t:
            kept.append(i)
    return len(kept), ",".join(f"{xs[i]}:{ys[i]}" for i in kept)


def _run_vw(spark, rings, t):
    df = spark.createDataFrame(rings, ["xs", "ys"])
    rows = (df.withColumn("st", geom.vw_simplify_q(F.col("xs"), F.col("ys"), t))
              .select("st.*").collect())
    return [(r["n_kept"], r["xy_s"]) for r in rows]


def test_vw_vs_brute(spark):
    lines = [
        ([0, 10, 20, 30, 40], [0, 1, 0, 50, 0]),       # tiny then big bumps
        ([0, 10, 20, 30], [0, 0, 0, 0]),               # fully collinear
        ([0, 5, 3, 9, 2], [7, 1, 8, 2, 6]),            # jagged
    ]
    got = _run_vw(spark, lines, 100)
    for (xs, ys), g in zip(lines, got):
        assert g == brute_vw(xs, ys, 100)


def test_vw_endpoints_always_survive(spark):
    lines = [([0, 1, 2, 3], [0, 0, 0, 0])]
    (n_kept, xy), = _run_vw(spark, lines, 10**15)
    assert n_kept == 2 and xy == "0:0,3:0"


def test_vw_threshold_one_keeps_noncollinear(spark):
    lines = [([0, 1, 2], [0, 5, 0]), ([0, 1, 2], [0, 1, 2])]
    got = _run_vw(spark, lines, 1)
    assert got[0][0] == 3      # bump survives any positive threshold
    assert got[1][0] == 2      # exactly collinear interior always drops


def test_vw_sql_twin_matches(spark):
    xs, ys = [3, 17, 9, 25, 4], [11, 2, 19, 8, 13]
    t = 50
    got, = _run_vw(spark, [(xs, ys)], t)
    d = geom.sql_vw_simplify_q([str(v) for v in xs], [str(v) for v in ys], t)
    n, s = duckdb.sql(
        f"SELECT {d['n_kept']}, {d['xy_s']}").fetchone()
    assert got == (n, s) == brute_vw(xs, ys, t)


# ---------------------------------------------------------------------------
# geohash
# ---------------------------------------------------------------------------

def brute_geohash(qx, qy, chars):
    bits = 5 * chars // 2
    gx = (qx << bits) // 3_600_000_000
    gy = ((qy + 50_000_000) << bits) // 1_800_000_000
    code = 0
    for i in range(bits):
        code |= ((gx >> i) & 1) << (2 * i + 1)
        code |= ((gy >> i) & 1) << (2 * i)
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    return "".join(b32[(code >> (5 * (chars - 1 - k))) & 31]
                   for k in range(chars))


def test_geohash_known_value(spark):
    # lat 57.64911, lon 10.40744 -> u4pruydqqvj (standard test vector)
    qx, qy = 104074400 + 1_800_000_000, 576491100 + 850_000_000
    df = spark.createDataFrame([(qx, qy)], ["qx", "qy"])
    got = df.selectExpr(f"{cells.sql_geohash_q('qx', 'qy', 6)} AS gh") \
        .collect()[0]["gh"]
    assert got == "u4pruy" == brute_geohash(qx, qy, 6)


def test_geohash_vs_brute_minted(spark):
    p = minted.minted_points_q(spark, SF).limit(100)
    rows = p.selectExpr("doc_id", "qx", "qy",
                        f"{cells.sql_geohash_q('qx', 'qy', 6)} AS gh",
                        f"{cells.sql_geohash_q('qx', 'qy', 4)} AS gh4",
                        ).collect()
    assert rows
    for r in rows:
        assert r["gh"] == brute_geohash(r["qx"], r["qy"], 6)
        # coarser geohashes prefix-nest inside finer ones
        assert r["gh"].startswith(r["gh4"])


def test_geohash_sql_twin_matches(spark):
    """The one geohash text gives the brute value on both engines."""
    con = duckdb.connect()
    for qx, qy in [(0, 0), (3_599_999_999, 1_699_999_999),
                   (1_904_074_400, 1_426_491_100)]:
        sql = (f"SELECT {cells.sql_geohash_q('qx', 'qy', 6)} "
               f"FROM (SELECT CAST({qx} AS BIGINT) qx, CAST({qy} AS BIGINT) qy)")
        assert con.sql(sql).fetchone()[0] == brute_geohash(qx, qy, 6)
        assert spark.sql(sql).first()[0] == brute_geohash(qx, qy, 6)


def test_geohash_rejects_odd_chars(spark):
    with pytest.raises(ValueError):
        cells.sql_geohash_q("qx", "qy", 5)
    with pytest.raises(ValueError):
        cells.sql_geohash_q("qx", "qy", 7)


# ---------------------------------------------------------------------------
# hotspot clusters
# ---------------------------------------------------------------------------

def test_hotspot_vs_python_cc(spark):
    """The adjacency-join + min-label CC + rollup must match a python
    union-find over the SAME dense-tile table (which itself comes from the
    separately-tested tile assignment)."""
    import __spark_entry__ as em
    from geobuf_spark.operators import tiling

    dense = (tiling.assign_tiles_points(em._points(spark, SF), z=em.HOT_Z)
             .groupBy("x", "y").agg(F.count("*").alias("n"))
             .filter(F.col("n") >= em.HOT_MIN_PTS).collect())
    tiles_ = {(r["x"], r["y"]): r["n"] for r in dense}
    parent = {t: t for t in tiles_}

    def find(t):
        while parent[t] != t:
            parent[t] = parent[parent[t]]
            t = parent[t]
        return t

    for (x, y) in tiles_:
        for nb in ((x + 1, y), (x, y + 1)):
            if nb in tiles_:
                parent[find((x, y))] = find(nb)
    clusters = {}
    for t, n in tiles_.items():
        root = find(t)
        clusters.setdefault(root, []).append((t, n))
    from geobuf_spark.functions.tiles import CELL_SHIFT

    def pack(x, y):
        return (em.HOT_Z * CELL_SHIFT + x) * CELL_SHIFT + y

    exp = sorted(
        (min(pack(x, y) for (x, y), _ in members),
         len(members), sum(n for _, n in members))
        for root, members in clusters.items())
    got = sorted(tuple(r) for r in
                 em.queries()["hotspot_clusters"](spark, SF).collect())
    assert got == exp
    assert len(got) >= 2  # fixture must exercise merging AND singletons


def test_vw_degenerate_inputs(spark):
    """n < 2 is not a polyline: NULL struct, never evaluated (sequence(1,0)
    steps down and would throw on element_at 0)."""
    rows = spark.createDataFrame(
        [(0, [], []), (1, [7], [9]), (2, [0, 1], [0, 1])],
        "id int, xs array<bigint>, ys array<bigint>") \
        .withColumn("st", geom.vw_simplify_q(F.col("xs"), F.col("ys"), 10)) \
        .select("id", "st.*").collect()
    by_id = {r["id"]: (r["n_kept"], r["xy_s"]) for r in rows}
    assert by_id[0] == (None, None) and by_id[1] == (None, None)
    assert by_id[2] == (2, "0:0,1:1")
    with pytest.raises(ValueError):
        geom.sql_vw_simplify_q(["0"], ["0"], 10)


# ---------------------------------------------------------------------------
# line cover
# ---------------------------------------------------------------------------

def brute_line_cover(xs, ys, cell):
    out = []
    for j in range(len(xs) - 1):
        gx1, gx2 = sorted((xs[j] // cell, xs[j + 1] // cell))
        gy1, gy2 = sorted((ys[j] // cell, ys[j + 1] // cell))
        for cx in range(gx1, gx2 + 1):
            for cy in range(gy1, gy2 + 1):
                out.append((j + 1, cx, cy))
    return sorted(out)


def test_line_cover_vs_brute_crafted(spark):
    c = 100
    lines = [
        (1, [5, 250, 250, 5], [5, 310, 310, 7]),   # crossing + zero-length
        (2, [50, 50], [10, 20]),                    # within one cell
        (3, [99, 100], [199, 200]),                 # exact boundary touch
    ]
    df = spark.createDataFrame(lines, ["doc_id", "xs_q", "ys_q"])
    got = {}
    for r in sj.line_cover_cells(df, cell=c).collect():
        got.setdefault(r["doc_id"], []).append((r["seg"], r["cx"], r["cy"]))
    for i, xs, ys in lines:
        assert sorted(got[i]) == brute_line_cover(xs, ys, c), i


def test_line_cover_vs_brute_minted(spark):
    wl = minted.minted_walk_lines_q(spark, SF, k=9)
    rows = {r["doc_id"]: (r["xs_q"], r["ys_q"]) for r in wl.collect()}
    got = {}
    for r in sj.line_cover_cells(wl).collect():
        got.setdefault(r["doc_id"], []).append((r["seg"], r["cx"], r["cy"]))
    assert set(got) == set(rows)
    for i, (xs, ys) in rows.items():
        assert sorted(got[i]) == brute_line_cover(xs, ys, sj.LINE_CELL)


def test_line_cover_superset_of_segment_cells(spark):
    """Cover completeness: each segment's endpoint cells are in its cover
    (the bbox cover is a superset of the true crossing set)."""
    wl = minted.minted_walk_lines_q(spark, SF, k=9).limit(50)
    cov = {}
    for r in sj.line_cover_cells(wl).collect():
        cov.setdefault((r["doc_id"], r["seg"]), set()).add((r["cx"], r["cy"]))
    c = sj.LINE_CELL
    for r in wl.collect():
        xs, ys = r["xs_q"], r["ys_q"]
        for j in range(len(xs) - 1):
            for px, py in ((xs[j], ys[j]), (xs[j + 1], ys[j + 1])):
                assert (px // c, py // c) in cov[(r["doc_id"], j + 1)]
