"""PIP join vs brute-force oracles (numpy + DuckDB) on minted geometries."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from geobuf_spark.operators import spatial_join as sj
from geobuf_spark.sources import minted


@pytest.fixture(scope="module")
def points(spark, sf_small):
    return minted.minted_points(spark, sf_small).cache()


@pytest.fixture(scope="module")
def rects(spark, sf_small):
    return minted.minted_rects(spark, sf_small).cache()


@pytest.fixture(scope="module")
def triangles(spark, sf_small):
    return minted.minted_triangles(spark, sf_small).cache()


def brute_rect_pairs(points_pd, rects_pd):
    out = set()
    for p in points_pd.itertuples():
        sel = (
            (rects_pd.minx <= p.lon) & (p.lon <= rects_pd.maxx)
            & (rects_pd.miny <= p.lat) & (p.lat <= rects_pd.maxy)
        )
        for pid in rects_pd.poly_id[sel]:
            out.add((p.doc_id, int(pid)))
    return out


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle"])
def test_pip_join_rects_all_strategies(points, rects, strategy):
    got = {
        (r.doc_id, r.poly_id)
        for r in sj.pip_join(points, rects, z=5, strategy=strategy)
        .select("doc_id", "poly_id").collect()
    }
    want = brute_rect_pairs(points.toPandas(), rects.toPandas())
    assert got == want
    assert len(want) > 0  # non-vacuous


@pytest.mark.parametrize("z", [3, 6, 9])
def test_pip_join_zoom_invariant(points, rects, z):
    got = sj.pip_join(points, rects, z=z).count()
    want = len(brute_rect_pairs(points.toPandas(), rects.toPandas()))
    assert got == want


def test_pip_join_triangles_vs_numpy(points, triangles):
    tri = triangles.withColumn("minx", F.col("x1")).withColumn("maxx", F.col("x2")) \
        .withColumn("miny", F.col("y1")).withColumn("maxy", F.col("y0"))
    got = {
        (r.doc_id, r.poly_id)
        for r in sj.pip_join(
            points, tri, z=5,
            refine=sj.sql_triangle_contains("lon", "lat"),
        ).select("doc_id", "poly_id").collect()
    }

    pts = points.toPandas()
    tris = triangles.toPandas()
    want = set()
    for t in tris.itertuples():
        xs = np.array([t.x0, t.x1, t.x2])
        ys = np.array([t.y0, t.y1, t.y2])
        px, py = pts.lon.values, pts.lat.values
        inside = np.zeros(len(px), dtype=bool)
        for i in range(3):
            x1, y1 = xs[i], ys[i]
            x2, y2 = xs[(i + 1) % 3], ys[(i + 1) % 3]
            cross = ((y1 > py) != (y2 > py)) & (px < (x2 - x1) * (py - y1) / (y2 - y1) + x1)
            inside ^= cross
        for d in pts.doc_id.values[inside]:
            want.add((int(d), int(t.poly_id)))
    assert got == want
    assert len(want) > 0


def test_pip_join_matches_duckdb(points, triangles, sf_small):
    """The exact oracle the driver runs: same SQL text, same rows."""
    got = {
        (r.doc_id, r.poly_id)
        for r in sj.pip_join(
            points,
            triangles.withColumn("minx", F.col("x1")).withColumn("maxx", F.col("x2"))
            .withColumn("miny", F.col("y1")).withColumn("maxy", F.col("y0")),
            z=6,
            refine=sj.sql_triangle_contains("lon", "lat"),
        ).select("doc_id", "poly_id").collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_small}/documents.parquet';"
        f"CREATE VIEW part AS SELECT * FROM '{sf_small}/part.parquet';"
    )
    sql = f"""
    WITH pts AS ({minted.SQL_MINTED_POINTS}), tris AS ({minted.SQL_MINTED_TRIANGLES})
    SELECT doc_id, poly_id FROM pts, tris
    WHERE {sj.sql_triangle_contains('lon', 'lat')}
    """
    want = {(r[0], r[1]) for r in con.execute(sql).fetchall()}
    assert got == want


def test_pip_semi(points, rects):
    got = {r.doc_id for r in sj.pip_join_semi(points, rects, z=6).select("doc_id").collect()}
    want = {d for d, _ in brute_rect_pairs(points.toPandas(), rects.toPandas())}
    assert got == want


def test_pip_join_s2_matches_tile_join(spark, sf_small):
    """S2-indexed join must produce exactly the rect-containment pairs the
    tile-indexed join produces (the index is a prefilter, never semantics)."""
    from geobuf_spark.sources import minted

    pts = minted.minted_points(spark, sf_small)
    rects = minted.minted_rects(spark, sf_small)
    want = {(r.doc_id, r.poly_id)
            for r in sj.pip_join(pts, rects, z=6).select("doc_id", "poly_id").collect()}
    got = {(r.doc_id, r.poly_id)
           for r in sj.pip_join_s2(pts, rects, level=7).select("doc_id", "poly_id").collect()}
    assert got == want and len(want) > 0


def test_s2_cover_superset_property(spark):
    """every point inside a bbox maps (s2_cell) into the exploded cover."""
    import numpy as np
    from pyspark.sql import functions as F
    from geobuf_spark.functions import cells

    rng = np.random.default_rng(5)
    boxes = [(int(i),
              float(a := rng.uniform(-175, 170)), float(b := rng.uniform(-85, 80)),
              float(a + rng.uniform(0.1, 5)), float(b + rng.uniform(0.1, 5)))
             for i in range(50)]
    bdf = spark.createDataFrame(boxes, "box_id int, minx double, miny double, maxx double, maxy double")
    cover = {(r.box_id, r.cell) for r in cells.explode_s2_cover(bdf, 7).collect()}
    pts = [(bid, float(rng.uniform(mnx, mxx)), float(rng.uniform(mny, mxy)))
           for bid, mnx, mny, mxx, mxy in boxes for _ in range(20)]
    pdf = spark.createDataFrame(pts, "box_id int, lon double, lat double") \
        .withColumn("cell", cells.s2_cell(F.col("lon"), F.col("lat"), 7))
    for r in pdf.collect():
        assert (r.box_id, r.cell) in cover, (r.box_id, r.lon, r.lat)


def test_pip_join_rejects_salt_and_unknown_strategy(points, rects):
    """Hot cells are split by AQE skew-join: `salt` is 1 (JoinPlan.salt)
    or an error, and a strategy other than broadcast/shuffle is refused
    by every cell index."""
    with pytest.raises(ValueError, match="AQE skew-join"):
        sj.pip_join(points, rects, salt=4)
    for join in (sj.pip_join, sj.pip_join_s2, sj.pip_join_hex):
        with pytest.raises(ValueError, match="unknown strategy 'merge'"):
            join(points, rects, strategy="merge")
