"""Batch-54 units: redirect chain resolution and tile gradient —
verified against independent python brute force."""
import numpy as np
import pandas as pd

import __spark_entry__ as em
from geobuf_spark.functions import tiles
from geobuf_spark.sources import minted

SF = "/root/testdata/sf0.001"


def _parent(i):
    return i if i % 5 == 0 else max(i - (1 + i % 3), 0)


def test_redirect_resolve_matches_walk(spark):
    finals, depths = {}, {}
    for i in range(em.REDIR_N):
        cur, d = i, 0
        while cur % 5 != 0:
            cur, d = _parent(cur), d + 1
        finals[i], depths[i] = cur, d
    assert max(depths.values()) >= 3  # chains are real, not one-hop
    exp = {}
    for i, f in finals.items():
        n, mx, tot = exp.get(f, (0, 0, 0))
        exp[f] = (n + 1, max(mx, depths[i]), tot + depths[i])
    got = {r["final_id"]: (r["n_urls"], r["max_depth"], r["total_hops"])
           for r in em.q_redirect_resolve(spark, SF).collect()}
    assert got == exp


def test_tile_gradient_matches_python(spark):
    pts = minted.minted_points(spark, SF).toPandas()
    z = em.GRAD_Z
    n = 1 << z

    def tx(lon):
        return np.clip(((lon + 180.0) / 360.0 * n).astype(np.int64),
                       0, n - 1)

    # mirror the shared tile_y convention via the engine itself
    xy = (minted.minted_points(spark, SF)
          .selectExpr(f"{tiles.sql_tile_x('lon', z)} AS x",
                      f"{tiles.spark_tile_y('lat', z)} AS y")
          .toPandas())
    cnt = xy.groupby(["x", "y"]).size().to_dict()
    got = {(r["x"], r["y"]): r
           for r in em.q_tile_gradient(spark, SF).collect()}
    assert set(got) == set(cnt)
    nonzero = 0
    for (x, y), row in got.items():
        gx = cnt.get((x + 1, y), 0) - cnt.get((x - 1, y), 0)
        gy = cnt.get((x, y + 1), 0) - cnt.get((x, y - 1), 0)
        assert row["n"] == cnt[(x, y)]
        assert (row["gx"], row["gy"]) == (gx, gy)
        assert row["g2"] == gx * gx + gy * gy
        nonzero += row["g2"] > 0
    assert nonzero > 0
