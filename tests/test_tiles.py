"""Tile math vs an independent Python oracle (published slippy-map formulas),
including tile-boundary behavior, parent promotion, and bbox cover 1:N
duplication semantics (FIXTURES.md §6). The tile texts run unchanged in
Spark and in DuckDB over the same rows."""

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from geobuf_spark.functions import tiles


def oracle_tile(lon, lat, z):
    n = 1 << z
    x = int(math.floor((lon + 180.0) / 360.0 * n))
    lat = min(max(lat, -tiles.MAX_LAT), tiles.MAX_LAT)
    r = math.radians(lat)
    y = int(math.floor((1 - math.log(math.tan(r) + 1 / math.cos(r)) / math.pi) / 2 * n))
    return min(max(x, 0), n - 1), min(max(y, 0), n - 1)


CASES = [
    (0.0, 0.0), (-180.0, 0.0), (179.9999999, 0.0), (0.0, 85.0511287), (0.0, -85.0511287),
    (-83.537385, 33.9659119), (13.4, 52.52), (-122.419, 37.775), (151.21, -33.87),
    (0.0000001, -0.0000001), (-0.0000001, 0.0000001), (90.0, 45.0), (-90.0, -45.0),
    # antimeridian and the mercator clip latitude, inside and beyond
    (180.0, tiles.MAX_LAT), (-180.0, -tiles.MAX_LAT), (179.9999999, 89.9),
    (-179.9999999, -89.9), (-180.0000001, 85.06), (180.0000001, -85.06),
]


def duck_rows(rows, select: str):
    """`select` over DuckDB table t(lon double, lat double) holding `rows`."""
    con = duckdb.connect()
    con.execute("CREATE TABLE t (lon DOUBLE, lat DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    return con.execute(f"SELECT {select} FROM t").fetchall()


@pytest.mark.parametrize("z", [0, 1, 4, 8, 12, 14])
def test_tile_xy_matches_oracle(spark, z):
    """Spark's tile texts give the python oracle's tile; DuckDB runs the
    same sql_tile_x text (and its literal-boundary sql_tile_y) over the
    same rows to the same tile; a NULL coordinate gets NULL keys on both."""
    rows = CASES + [(None, None)]
    df = spark.createDataFrame(rows, "lon double, lat double")
    got = {(r.lon, r.lat): (r.x, r.y) for r in df.selectExpr(
        "lon", "lat", f"{tiles.sql_tile_x('lon', z)} AS x",
        f"{tiles.spark_tile_y('lat', z)} AS y").collect()}
    duck = {(r[0], r[1]): (r[2], r[3]) for r in duck_rows(
        rows, f"lon, lat, {tiles.sql_tile_x('lon', z)}, {tiles.sql_tile_y('lat', z)}")}
    for lon, lat in CASES:
        want = oracle_tile(lon, lat, z)
        assert got[(lon, lat)] == want, (lon, lat, z)
        assert duck[(lon, lat)] == want, (lon, lat, z)
    assert got[(None, None)] == duck[(None, None)] == (None, None)


@pytest.mark.parametrize("z", [0, 3, 7, 12, 20, 29])
def test_tile_x_and_cell_id_same_on_both_engines(spark, z):
    """sql_tile_x and sql_cell_id up to z 29, where the packed key nears
    2^63: one text, the same bigint on Spark, DuckDB and in python."""
    n = 1 << z
    rows = [(lon, lat) for lon, lat in CASES] + [(None, 0.0)]
    cell = tiles.sql_cell_id(z, tiles.sql_tile_x("lon", z), f"{n - 1} - {n // 3}")
    select = ["lon", "lat", f"{tiles.sql_tile_x('lon', z)} AS x", f"{cell} AS cell"]
    df = spark.createDataFrame(rows, "lon double, lat double")
    spark_rows = {(r.lon, r.lat): (r.x, r.cell) for r in df.selectExpr(*select).collect()}
    duck = {(r[0], r[1]): (r[2], r[3]) for r in duck_rows(rows, ", ".join(select))}
    assert spark_rows == duck
    for lon, lat in CASES:
        x = min(max(math.floor((lon + 180.0) / 360.0 * n), 0), n - 1)
        want = (x, ((z * tiles.CELL_SHIFT) + x) * tiles.CELL_SHIFT + n - 1 - n // 3)
        assert duck[(lon, lat)] == want, (lon, z)
    assert duck[(None, 0.0)] == (None, None)


def test_assign_tiles_points_null_coordinates(spark):
    """A point with a NULL coordinate is keyed NULL, never counted in the
    corner tile (least/greatest skip NULLs, so the bare clamp gave 0)."""
    from geobuf_spark.operators import tiling

    df = spark.createDataFrame([(1, None, None), (2, 10.0, None), (3, None, 10.0),
                                (4, 10.0, 10.0)], "doc_id long, lon double, lat double")
    x, y = oracle_tile(10.0, 10.0, 7)
    got = {r.doc_id: (r.x, r.y) for r in tiling.assign_tiles_points(df, z=7).collect()}
    assert got == {1: (None, None), 2: (x, None), 3: (None, y), 4: (x, y)}
    hist = {(r.x, r.y): r.n_features for r in
            tiling.tile_histogram(tiling.assign_tiles_points(df, z=7)).collect()}
    assert hist == {(None, None): 1, (x, None): 1, (None, y): 1, (x, y): 1}


def test_parent_promotion(spark):
    # parent(x, y, z) = (x>>1, y>>1, z-1) — split_combine.go:390-394
    df = spark.createDataFrame([(lon, lat) for lon, lat in CASES], "lon double, lat double")
    x12, y12 = F.expr(tiles.sql_tile_x("lon", 12)), F.expr(tiles.spark_tile_y("lat", 12))
    px, py = tiles.parent_tile(x12, y12, 3)
    rows = df.select(
        px.alias("px"), py.alias("py"),
        F.expr(tiles.sql_tile_x("lon", 9)).alias("x9"),
        F.expr(tiles.spark_tile_y("lat", 9)).alias("y9"),
    ).collect()
    for r in rows:
        assert (r.px, r.py) == (r.x9, r.y9)


def test_bbox_cover_duplication(spark):
    # a bbox straddling tile boundaries must appear in every covered tile
    z = 4  # 16x16 grid, tile width 22.5 deg
    df = spark.createDataFrame(
        [(1, -10.0, -10.0, 40.0, 20.0)], "poly_id long, minx double, miny double, maxx double, maxy double"
    )
    got = {
        (r.tile_x, r.tile_y)
        for r in tiles.explode_bbox_cover(df, z).select("tile_x", "tile_y").collect()
    }
    x0, _ = oracle_tile(-10.0, 0, z)
    x1, _ = oracle_tile(40.0, 0, z)
    _, y0 = oracle_tile(0, 20.0, z)
    _, y1 = oracle_tile(0, -10.0, z)
    want = {(x, y) for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)}
    assert got == want
    assert len(got) > 1  # really did straddle


def test_cell_id_bijective(spark):
    df = spark.createDataFrame([(lon, lat) for lon, lat in CASES], "lon double, lat double")
    z = 9
    rows = df.selectExpr(
        f"{tiles.sql_tile_x('lon', z)} AS x", f"{tiles.spark_tile_y('lat', z)} AS y",
        f"{tiles.spark_point_cell('lon', 'lat', z)} AS cell",
    ).collect()
    for r in rows:
        assert r.cell == ((z * tiles.CELL_SHIFT) + r.x) * tiles.CELL_SHIFT + r.y


def test_ring_cells_counts(spark):
    df = spark.createDataFrame([(512, 512)], "x long, y long")
    for r in [0, 1, 2]:
        n = df.selectExpr(f"size({tiles.spark_ring_cells('x', 'y', 10, r)}) AS n").first().n
        assert n == (2 * r + 1) ** 2  # interior tile: full square, no clamping


def test_morton_key_matches_bit_interleave(spark):
    """The mask-ladder text equals the textbook per-bit interleave for
    random tiles on Spark and on DuckDB."""
    import random

    from geobuf_spark.functions import tiles as TT

    def slow(x, y):
        r = 0
        for b in range(16):
            r |= ((x >> b) & 1) << (2 * b)
            r |= ((y >> b) & 1) << (2 * b + 1)
        return r

    rows = [(random.randrange(256), random.randrange(256)) for _ in range(500)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {(r.x, r.y): r.m for r in df.selectExpr(
        "x", "y", f"{TT.sql_morton_key('x', 'y', 8)} AS m").collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (x BIGINT, y BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = dict(((x, y), m) for x, y, m in con.execute(
        f"SELECT x, y, {TT.sql_morton_key('x', 'y', 8)} FROM t").fetchall())
    for x, y in rows:
        assert got[(x, y)] == duck[(x, y)] == slow(x, y)


def test_cluster_by_morton_files_are_disjoint_ranges(spark, sf_small):
    """cluster_by_morton's output partitions cover NON-OVERLAPPING morton
    ranges (repartitionByRange invariant) — exactly the property that lets
    parquet min/max stats prune a bbox scan to a handful of files."""
    from geobuf_spark.functions import tiles as TT
    from geobuf_spark.sources import minted

    pts = minted.minted_points(spark, sf_small)
    out = TT.cluster_by_morton(pts, z=8, num_ranges=8)
    ranges = (out.groupBy(F.spark_partition_id().alias("pid"))
              .agg(F.min("_morton").alias("lo"), F.max("_morton").alias("hi"))
              .orderBy("lo").collect())
    assert len(ranges) > 1
    for a, b in zip(ranges[:-1], ranges[1:]):
        assert a.hi <= b.lo, f"overlapping file ranges: {a} vs {b}"


def test_merc_boundary_margin_for_oracle_lats(spark):
    """Every latitude the DuckDB oracles push through sql_tile_y (minted
    points/rects, event points, synthesized pages) must clear every tile-row
    boundary by >= 1e-8 tile units at every oracle zoom. sql_tile_y
    classifies with literal boundary comparisons (exact IEEE) while the
    engine runs floor(ln(tan+sec)); a few-ulp formula error (~1e-11 at
    z=12) can only disagree with the literal classification inside this
    margin — so the pinned margin proves the two agree on this data."""
    import numpy as np

    from geobuf_spark.sources import minted, pages

    lats = []
    for sf in ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
               "/root/testdata/sf0.1"]:
        pts = minted.minted_points(spark, sf).select("lat").toPandas()
        lats.append(pts["lat"].to_numpy())
        r = minted.minted_rects(spark, sf).select("miny", "maxy").toPandas()
        lats += [r["miny"].to_numpy(), r["maxy"].to_numpy()]
        ev = spark.read.parquet(f"{sf}/events.parquet").select("user_id").toPandas()
        u = ev["user_id"].to_numpy().astype(np.int64)
        lats.append(((u * minted.LAT_MULT) % minted.LAT_MOD
                     - minted.LAT_MOD // 2) / 1e7)
    pg = pages.with_minted_geometry(pages.pages(spark, 20000)) \
        .select("lat").toPandas()
    lats.append(pg["lat"].to_numpy())
    arr = np.unique(np.concatenate(lats))
    assert len(arr) > 1000
    worst = 1.0
    for z in range(1, 13):
        n = float(1 << z)
        t = n * (1.0 - np.arcsinh(np.tan(np.radians(arr))) / np.pi) / 2.0
        frac = np.abs(t - np.round(t))
        worst = min(worst, float(frac.min()))
    assert worst > 1e-8, f"testdata lat within {worst} of a tile boundary"
