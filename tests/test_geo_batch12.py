"""Batch-12 geo operators: areal interpolation, quadtree fit-level,
trajectory steps."""

import hashlib

from pyspark.sql import functions as F

from geobuf_spark.operators import spatial_join as sj

SF = "/root/testdata/sf0.001"


def test_rect_cell_weights_partition_of_unity(spark):
    rows = [
        # exactly one cell
        (1, 10, 10, 90, 90),
        # spans 2x2 cells of size 100
        (2, 50, 50, 150, 150),
        # cell-aligned box
        (3, 0, 0, 200, 100),
    ]
    df = spark.createDataFrame(rows, ["poly_id", "x1", "y1", "x2", "y2"])
    out = sj.rect_cell_weights(df, cell=100).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["poly_id"], []).append(r)
    # overlap areas tile the rectangle exactly
    assert sum(r["overlap_area"] for r in by_id[1]) == 80 * 80
    assert sum(r["overlap_area"] for r in by_id[2]) == 100 * 100
    assert sum(r["overlap_area"] for r in by_id[3]) == 200 * 100
    assert len(by_id[1]) == 1 and by_id[1][0]["weight_ppm"] == 1_000_000
    assert len(by_id[2]) == 4
    # floored ppm weights sum to 1e6 within one ulp per cell
    s = sum(r["weight_ppm"] for r in by_id[2])
    assert 1_000_000 - 4 <= s <= 1_000_000
    # the 2x2 split of rect 2 is symmetric: all four quarters equal
    assert len({r["overlap_area"] for r in by_id[2]}) == 1


def test_quadtree_assign_is_max_fitting_level(spark):
    import __spark_entry__ as em
    from geobuf_spark.functions import tiles
    from geobuf_spark.sources import minted

    out = {r["poly_id"]: r for r in
           em.q_quadtree_assign(spark, SF).collect()}
    r = minted.minted_rects(spark, SF)
    corners = r.selectExpr(
        "poly_id",
        f"{tiles.sql_tile_x('minx', 8)} AS xa",
        f"{tiles.sql_tile_x('maxx', 8)} AS xb",
        f"{tiles.spark_tile_y('maxy', 8)} AS ya",
        f"{tiles.spark_tile_y('miny', 8)} AS yb").collect()
    assert len(corners) == len(out)
    for c in corners:
        z = out[c["poly_id"]]["z_fit"]

        def fits(zz):
            s = 1 << (8 - zz)
            return (c["xa"] // s == c["xb"] // s
                    and c["ya"] // s == c["yb"] // s)

        assert fits(z), c
        if z < 8:
            assert not fits(z + 1), c
        # the reported tile is the minx/maxy corner's ancestor at z_fit
        assert out[c["poly_id"]]["qx"] == c["xa"] // (1 << (8 - z))
        assert out[c["poly_id"]]["qy"] == c["ya"] // (1 << (8 - z))


def _hash60(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_traj_steps_vs_python_brute(spark):
    import __spark_entry__ as em

    out = {r["user_id"]: r for r in em.q_traj_steps(spark, SF).collect()}
    ev = (spark.read.parquet(f"{SF}/events.parquet")
          .select("user_id", "ts", "event_id").collect())
    traj = {}
    for r in ev:
        px = _hash60(f"tx{r['event_id']}") % 2_000_001 - 1_000_000
        py = _hash60(f"ty{r['event_id']}") % 2_000_001 - 1_000_000
        traj.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"], px, py))
    assert set(traj) == set(out)
    for u, pts in traj.items():
        pts.sort()
        steps = [(b[2] - a[2]) ** 2 + (b[3] - a[3]) ** 2
                 for a, b in zip(pts, pts[1:])]
        assert out[u]["n_steps"] == len(steps)
        assert out[u]["sum_step_d2"] == sum(steps)
        assert out[u]["max_step_d2"] == (max(steps) if steps else 0)
        net = (pts[-1][2] - pts[0][2]) ** 2 + (pts[-1][3] - pts[0][3]) ** 2
        assert out[u]["net_d2"] == net


def test_box_iou_join_reference_point_dedup(spark):
    # pair spanning MANY shared cells (cell=100) must appear exactly once,
    # with exact area and IoU
    a = spark.createDataFrame([(1, 0, 0, 450, 350)],
                              ["a_id", "x1", "y1", "x2", "y2"])
    b = spark.createDataFrame([(7, 50, 50, 500, 400), (8, 460, 0, 470, 10)],
                              ["b_id", "x1", "y1", "x2", "y2"])
    out = sj.box_iou_join(a, b, cell=100).collect()
    assert len(out) == 1  # (1, 8) disjoint; (1, 7) deduped to one row
    r = out[0]
    inter = (450 - 50) * (350 - 50)
    union = 450 * 350 + 450 * 350 - inter
    assert (r["a_id"], r["b_id"], r["inter_area"]) == (1, 7, inter)
    assert r["iou_ppm"] == int(inter * 1000000.0 / union)
    # plan: the cell equi-join is the only join, and there is no distinct
    plan = sj.box_iou_join(a, b, cell=100)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Deduplicate" not in plan and "HashAggregate" not in plan


def test_box_iou_join_vs_brute_random(spark):
    import random
    rng = random.Random(7)
    A = [(i, *(lambda x, y, w, h: (x, y, x + w, y + h))(
        rng.randrange(1000), rng.randrange(1000),
        1 + rng.randrange(300), 1 + rng.randrange(300))) for i in range(40)]
    B = [(j, *(lambda x, y, w, h: (x, y, x + w, y + h))(
        rng.randrange(1000), rng.randrange(1000),
        1 + rng.randrange(200), 1 + rng.randrange(200))) for j in range(40)]
    da = spark.createDataFrame(A, ["a_id", "x1", "y1", "x2", "y2"])
    db = spark.createDataFrame(B, ["b_id", "x1", "y1", "x2", "y2"])
    got = {(r["a_id"], r["b_id"]): r["inter_area"]
           for r in sj.box_iou_join(da, db, cell=128).collect()}
    brute = {}
    for ai, ax1, ay1, ax2, ay2 in A:
        for bi, bx1, by1, bx2, by2 in B:
            w = min(ax2, bx2) - max(ax1, bx1)
            h = min(ay2, by2) - max(ay1, by1)
            if w > 0 and h > 0:
                brute[(ai, bi)] = w * h
    assert got == brute and brute
