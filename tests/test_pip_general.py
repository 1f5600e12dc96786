"""General-polygon PIP against the REAL county polygons (decoded from the
reference's county.geobuf in Spark) vs a brute-force numpy oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geobuf_spark.operators import spatial_join as sj
from geobuf_spark.sources import geobuf_file, minted


@pytest.fixture(scope="module")
def county(spark, reference_file):
    """First 150 county polygons as (poly_id, coords, ring_lens, bbox)."""
    df = geobuf_file.decoded_features(spark, reference_file("county.geobuf"))
    polys = df.filter(F.col("geom_type") == 3).limit(150).select(
        F.col("id").alias("poly_id"), "coords", "ring_lens",
    )
    # bbox via aggregate over even/odd positions
    xs = F.filter(F.transform(F.col("coords"), lambda x, i: F.when(i % 2 == 0, x)),
                  lambda x: x.isNotNull())
    ys = F.filter(F.transform(F.col("coords"), lambda x, i: F.when(i % 2 == 1, x)),
                  lambda x: x.isNotNull())
    return polys.withColumn("minx", F.array_min(xs)) \
        .withColumn("maxx", F.array_max(xs)) \
        .withColumn("miny", F.array_min(ys)) \
        .withColumn("maxy", F.array_max(ys)).cache()


@pytest.fixture(scope="module")
def county_points(spark, county):
    """Deterministic probe points scattered over the county bboxes (so the
    join is non-vacuous: random global points rarely hit counties)."""
    rows = county.select("poly_id", "minx", "miny", "maxx", "maxy").collect()
    pts = []
    k = 0
    for r in rows:
        for fx, fy in [(0.3, 0.4), (0.52, 0.55), (0.8, 0.2), (-0.2, 0.5), (0.5, 1.3)]:
            pts.append((k, r.minx + fx * (r.maxx - r.minx), r.miny + fy * (r.maxy - r.miny)))
            k += 1
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
    ])
    return spark.createDataFrame(pts, schema).cache()


def numpy_pip(px, py, coords, ring_lens):
    inside = False
    off = 0
    for rl in ring_lens:
        ring = np.asarray(coords[off * 2 : (off + rl) * 2]).reshape(-1, 2)
        off += rl
        x, y = ring[:, 0], ring[:, 1]
        x1, y1 = x[:-1], y[:-1]
        x2, y2 = x[1:], y[1:]
        with np.errstate(divide="ignore", invalid="ignore"):
            cross = ((y1 > py) != (y2 > py)) & (px < (x2 - x1) * (py - y1) / (y2 - y1) + x1)
        inside ^= bool(cross.sum() % 2)
    return inside


def test_pip_general_vs_numpy_on_county(county, county_points):
    got = {
        (r.doc_id, r.poly_id)
        for r in sj.pip_join_general(county_points, county, z=7).collect()
    }
    polys = county.collect()
    pts = county_points.collect()
    want = set()
    for p in pts:
        for poly in polys:
            if not (poly.minx <= p.lon <= poly.maxx and poly.miny <= p.lat <= poly.maxy):
                continue
            if numpy_pip(p.lon, p.lat, poly.coords, poly.ring_lens):
                want.add((p.doc_id, poly.poly_id))
    assert got == want
    assert len(want) > 100  # non-vacuous: most in-bbox probes hit


def test_polygon_edges_counts(county):
    e = sj.polygon_edges(county)
    n_edges = e.count()
    rows = county.select("ring_lens").collect()
    want = sum(sum(rl - 1 for rl in r.ring_lens) for r in rows)
    assert n_edges == want


def test_pip_general_with_hole(spark):
    """Square with a square hole: point in hole is OUTSIDE."""
    outer = [0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0, 0.0, 0.0]
    hole = [4.0, 4.0, 6.0, 4.0, 6.0, 6.0, 4.0, 6.0, 4.0, 4.0]
    polys = spark.createDataFrame(
        [(1, outer + hole, [5, 5], 0.0, 0.0, 10.0, 10.0)],
        "poly_id long, coords array<double>, ring_lens array<int>, "
        "minx double, miny double, maxx double, maxy double",
    )
    pts = spark.createDataFrame(
        [(1, 2.0, 2.0), (2, 5.0, 5.0), (3, 11.0, 5.0), (4, 4.5, 7.0)],
        "doc_id long, lon double, lat double",
    )
    got = {(r.doc_id, r.poly_id) for r in sj.pip_join_general(pts, polys, z=5).collect()}
    assert got == {(1, 1), (4, 1)}  # in-hole and outside excluded
