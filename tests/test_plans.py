"""Join-strategy planner + physical-plan quality assertions."""

import re

import pytest
from pyspark.sql import functions as F

from geobuf_spark.operators import spatial_join as sj
from geobuf_spark.plans import strategy
from geobuf_spark.sources import minted


def test_choose_strategy_broadcast_small(spark, sf_small):
    pts = minted.minted_points(spark, sf_small)
    rects = minted.minted_rects(spark, sf_small)
    plan = strategy.choose_strategy(pts, rects, z=6)
    assert plan.strategy == "broadcast"
    assert plan.build_rows > 0
    # 500 points against the 200 rectangles' z6 cover: the points are hashed
    assert plan.build == "points"
    assert f"cover {plan.build_rows} rows" in plan.reason
    assert "hash the points" in plan.reason


def test_choose_strategy_over_budget_is_shuffle(spark, sf_small):
    # points that fail on any read: the plan must not scan the probe side
    pts = minted.minted_points(spark, sf_small).withColumn(
        "lon", F.raise_error(F.lit("points were read")).cast("double"))
    rects = minted.minted_rects(spark, sf_small)
    plan = strategy.choose_strategy(pts, rects, z=6, broadcast_budget_rows=10)
    assert (plan.strategy, plan.salt, plan.build) == ("shuffle", 1, "points")
    assert plan.build_rows > 10
    assert "AQE skew-join" in plan.reason


def test_planned_join_rows_equal_direct(spark, sf_small):
    pts = minted.minted_points(spark, sf_small)
    rects = minted.minted_rects(spark, sf_small)
    # the flagship write side's calls, with the budget forcing a shuffle
    plan = strategy.choose_strategy(pts, rects, z=6, broadcast_budget_rows=10)
    planned = sj.pip_join(pts, rects, z=6, strategy=plan.strategy,
                          salt=plan.salt)
    direct = sj.pip_join(pts, rects, z=6, strategy="broadcast")
    assert planned.count() == direct.count() > 0


def test_estimate_cover_rows_matches_explode(spark, sf_small):
    from geobuf_spark.functions import tiles

    rects = minted.minted_rects(spark, sf_small)
    est = strategy.estimate_cover_rows(rects, z=7)
    actual = tiles.explode_bbox_cover(rects, 7).count()
    assert est == actual


@pytest.mark.parametrize("z", [0, 1, 4, 7])
def test_estimate_cover_rows_wraps_antimeridian(spark, z):
    """The estimate counts the wrapped x run the explode emits, including
    the overlap of its two runs at coarse zooms; the width text it reads
    (`tiles.sql_cover_width`, also behind cover_size_estimate and its
    oracle) gives the same count in DuckDB."""
    import duckdb

    from geobuf_spark.functions import tiles

    boxes = [(170.0, -10.0, -170.0, 10.0), (179.0, 0.0, -179.0, 60.0),
             (-10.0, -10.0, 40.0, 20.0), (-180.0, -80.0, 180.0, 80.0)]
    duck = (f"SELECT {tiles.sql_cover_width('minx', 'maxx', z)} * "
            f"({tiles.sql_tile_y('miny', z)} - {tiles.sql_tile_y('maxy', z)} + 1) "
            "FROM (SELECT ?::DOUBLE AS minx, ?::DOUBLE AS miny, "
            "?::DOUBLE AS maxx, ?::DOUBLE AS maxy)")
    for box in boxes:
        df = spark.createDataFrame([(1,) + box], "poly_id long, minx double, "
                                   "miny double, maxx double, maxy double")
        est = strategy.estimate_cover_rows(df, z=z)
        n = tiles.explode_bbox_cover(df, z).count()
        assert est == n > 0, (box, z)
        assert duckdb.execute(duck, list(box)).fetchone()[0] == n, (box, z)


def _round_trips(build, monkeypatch) -> int:
    """The Py4J round trips of one call of `build`, after a warm-up call."""
    import gc

    import py4j.clientserver as cs

    build()  # warm-up: class and method lookups are cached afterwards
    sent = []
    send = cs.ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        # `m d` releases a proxy of an earlier, garbage-collected object
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return send(self, command, *args, **kwargs)

    gc.collect()
    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)
    build()
    monkeypatch.undo()
    return len(sent)


def test_flagship_plan_build_round_trip_budget(spark, sf_small, monkeypatch):
    """Building minted_rects → pip_join → assign_tiles_points →
    tile_histogram over a prebuilt point frame takes at most 300 Py4J round
    trips: every shared formula reaches the JVM as SQL text, one call per
    select, not as a Column tree with one round trip per node (that build
    took 2,200–2,800)."""
    from geobuf_spark.operators import tiling

    pts = minted.minted_points(spark, sf_small).localCheckpoint()

    def build():
        joined = sj.pip_join(pts, minted.minted_rects(spark, sf_small), z=7)
        return tiling.tile_histogram(tiling.assign_tiles_points(joined, z=10))

    sent = _round_trips(build, monkeypatch)
    assert 0 < sent <= 300, sent


def test_pages_plan_build_round_trip_budget(spark, monkeypatch):
    """The flagship's point source, with_minted_geometry(pages(...)) and
    its select, takes at most 100 Py4J round trips to build: the pages
    columns are SQL text (the Column tree took 892)."""
    from geobuf_spark.sources import pages

    def build():
        return pages.with_minted_geometry(
            pages.pages(spark, 2000, seed=7)).select("page_id", "lon", "lat")

    sent = _round_trips(build, monkeypatch)
    assert 0 < sent <= 100, sent


def test_join_filters_hold_no_mint(spark, sf_small):
    """The isnotnull filters a join infers on minted coordinates fold to
    the key (or away) instead of minting a second time below the minting
    projection: no Filter of either optimized plan holds a mint (a md5,
    conv or mulmod `%` text)."""
    from geobuf_spark.sources import pages

    rects = minted.minted_rects(spark, sf_small)
    page_pts = pages.with_minted_geometry(pages.pages(spark, 2000)).select(
        F.col("page_id").alias("doc_id"), "lon", "lat")
    for pts in (minted.minted_points(spark, sf_small), page_pts):
        plan = sj.pip_join(pts, rects, z=7)._jdf.queryExecution() \
            .optimizedPlan().toString()
        filters = [line for line in plan.splitlines() if "Filter " in line]
        assert filters, plan
        for line in filters:
            assert not any(m in line for m in ("md5(", "conv(", "%")), line


# --- physical plan quality ----------------------------------------------------

_CELL_JOINS = {
    "tile": lambda pts, rects, s: sj.pip_join(pts, rects, z=6, strategy=s),
    "s2": lambda pts, rects, s: sj.pip_join_s2(pts, rects, strategy=s),
    "hex": lambda pts, rects, s: sj.pip_join_hex(pts, rects, strategy=s),
}
_JOIN_NODES = {"broadcast": "BroadcastHashJoin", "shuffle": "ShuffledHashJoin"}


@pytest.mark.parametrize("index,strat", [(i, s) for i in _CELL_JOINS
                                           for s in _JOIN_NODES])
def test_cell_join_node(spark, sf_small, index, strat):
    """Every cell index plans the join its strategy names: the broadcast
    hint or the shuffle-hash hint is honoured, never a sort-merge."""
    pts = minted.minted_points(spark, sf_small)
    rects = minted.minted_rects(spark, sf_small)
    plan = _CELL_JOINS[index](pts, rects, strat) \
        ._jdf.queryExecution().executedPlan().toString()
    for s, node in _JOIN_NODES.items():
        assert (node in plan) == (s == strat), plan
    assert "SortMergeJoin" not in plan, plan


def _broadcast_side(plan: str) -> str:
    """The subtree under the plan's one BroadcastExchange, as plan text."""
    lines = plan.splitlines()
    [i] = [n for n, line in enumerate(lines) if "BroadcastExchange" in line]
    col = lines[i].index("BroadcastExchange")
    sub = [lines[i]]
    for line in lines[i + 1:]:
        if len(line) - len(line.lstrip(" :+-")) <= col:
            break
        sub.append(line)
    return "\n".join(sub)


def _join_line(plan: str) -> str:
    [line] = [x for x in plan.splitlines() if "BroadcastHashJoin" in x]
    return line


def _range_points(spark, n):
    return spark.range(n).withColumnRenamed("id", "doc_id").selectExpr(*minted.POINTS)


def test_broadcast_hashes_smaller_point_side(spark, sf_small):
    """100 points against the 200 rectangles' z6 cover: the points are
    the smaller side, so they are hashed under the one BroadcastExchange
    and the cover streams through them."""
    rects = minted.minted_rects(spark, sf_small)
    joined = sj.pip_join(_range_points(spark, 100), rects, z=6)
    plan = _final_plan(joined)
    assert "BuildLeft" in _join_line(plan), plan
    side = _broadcast_side(plan)
    assert "Range (0, 100" in side and "part.parquet" not in side, side
    build, reason = strategy.choose_build(_range_points(spark, 100), rects, 6)
    assert build == "points" and "hash the points" in reason


def test_broadcast_hashes_smaller_cover(spark, sf_small):
    """5 rectangles against 2,000 points: the cover is the smaller side
    and is hashed, as before the build side was chosen."""
    rects = minted.minted_rects(spark, sf_small).orderBy("poly_id").limit(5)
    plan = _final_plan(sj.pip_join(_range_points(spark, 2000), rects, z=6))
    assert "BuildRight" in _join_line(plan), plan
    side = _broadcast_side(plan)
    assert "part.parquet" in side and "Range (0, 2000" not in side, side


def _jobs(spark, fn):
    """(fn(), ids of the Spark jobs fn started)."""
    import uuid

    sc, group = spark.sparkContext, uuid.uuid4().hex
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _with_conf(spark, conf: dict, fn):
    old = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        return fn()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("threshold", ["-1", "1024"])
def test_broadcast_over_threshold_hashes_cover_and_counts_nothing(spark, sf_small,
                                                                 threshold):
    """With spark.sql.autoBroadcastJoinThreshold at -1, or under the point
    side's estimate (100 points, ~2 kB), the point side is never a
    broadcast candidate: building the join starts no job and the cover is
    hashed, the plan before the build side was chosen. Under the
    threshold the build starts one job, the cover count."""
    rects = minted.minted_rects(spark, sf_small)
    pts = _range_points(spark, 100)
    joined, jobs = _with_conf(
        spark, {"spark.sql.autoBroadcastJoinThreshold": threshold},
        lambda: _jobs(spark, lambda: sj.pip_join(pts, rects, z=6)))
    assert len(jobs) == 0, jobs
    plan = _final_plan(joined)
    assert "BuildRight" in _join_line(plan), plan
    assert "part.parquet" in _broadcast_side(plan), plan
    _, jobs = _jobs(spark, lambda: sj.pip_join(pts, rects, z=6))
    assert len(jobs) == 1, jobs


def test_minted_fixtures_start_no_job(spark, sf_small):
    """The `part` fixtures read under a declared schema: building them
    starts no schema-inference job."""
    for fixture in (minted.minted_rects, minted.minted_triangles,
                    minted.minted_rings_q):
        _, jobs = _jobs(spark, lambda: fixture(spark, sf_small))
        assert len(jobs) == 0, (fixture.__name__, jobs)


def test_broadcast_builds_give_equal_rows(spark, sf_small):
    """Hashing the points or the cover changes the plan, not the rows."""
    pts = minted.minted_points(spark, sf_small)
    rects = minted.minted_rects(spark, sf_small)

    def run():
        joined = sj.pip_join(pts, rects, z=6)
        return "BuildLeft" in _join_line(_final_plan(joined)), sorted(joined.collect())
    left, by_points = run()
    right, by_cover = _with_conf(
        spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}, run)
    assert (left, right) == (True, False)
    assert by_points == by_cover and len(by_points) > 0


# AQE skew-join at test scale: any partition over 64k and twice the median
# is split; no broadcast, so the join stays a shuffle join
_SKEW_CONF = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64k",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def test_shuffle_join_skew_path(spark, sf_small):
    """The skew path is AQE skew-join: a planted hot cell in the probe side
    is split at runtime, and the rows equal the broadcast join's."""
    rects = minted.minted_rects(spark, sf_small)
    # the minted rectangles overlap ~190 deep at their centres; the west
    # corner of the westmost one is covered about once, which keeps the
    # join output near the probe size
    r = rects.orderBy("minx").first()
    cx, cy = r.minx, r.miny
    # 90% of 200k points in a 0.001° box at that corner (one z6 cell),
    # the rest spread over the globe; deterministic, no RNG
    fx = (F.col("doc_id") * 2654435761 % 1_000_003) / 1_000_003.0
    fy = (F.col("doc_id") * 40503 % 999_983) / 999_983.0
    hot = F.col("doc_id") < 180_000
    pts = spark.range(200_000).withColumnRenamed("id", "doc_id").select(
        "doc_id",
        F.when(hot, cx + fx * 1e-3).otherwise(-180.0 + fx * 360.0).alias("lon"),
        F.when(hot, cy + fy * 1e-3).otherwise(-85.0 + fy * 170.0).alias("lat"))
    old = {k: spark.conf.get(k) for k in _SKEW_CONF}
    try:
        for k, v in _SKEW_CONF.items():
            spark.conf.set(k, v)
        shuffled = sj.pip_join(pts, rects, z=6, strategy="shuffle") \
            .select("doc_id", "poly_id")
        got = sorted(shuffled.collect())
        # the AQE final plan of the run that produced `got`
        plan = shuffled._jdf.queryExecution().executedPlan() \
            .executedPlan().toString()
        want = sorted(sj.pip_join(pts, rects, z=6, strategy="broadcast")
                      .select("doc_id", "poly_id").collect())
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "ShuffledHashJoin(skew=true)" in plan, plan
    assert got == want and len(want) >= 180_000


def test_parquet_scan_prunes_columns(spark, sf_small):
    pts = minted.minted_points(spark, sf_small)
    plan = pts._jdf.queryExecution().executedPlan().toString()
    # only doc_id should be read from documents.parquet — text/lang pruned
    assert "ReadSchema: struct<doc_id:bigint>" in plan, plan[-800:]


def test_filter_pushdown_reaches_scan(spark, sf_small):
    df = spark.read.parquet(f"{sf_small}/documents.parquet") \
        .filter(F.col("lang") == "en").select("doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan[-800:]


def test_tile_pyramid_single_scan(spark, sf_small):
    """the pyramid must read the input ONCE — every coarser level folds
    the finer aggregate, never rescans the source."""
    from geobuf_spark.operators import tiling

    pts = minted.minted_points(spark, sf_small)
    pyr = tiling.tile_pyramid(tiling.assign_tiles_points(pts, z=8), z_min=5)
    plan = pyr._jdf.queryExecution().executedPlan().toString()
    # the base histogram is checkpointed: union branches read the cached
    # aggregate, never the source — 0 file scans in the final plan
    assert plan.count("FileScan parquet") == 0, plan.count("FileScan parquet")
    assert "Scan ExistingRDD" in plan


def test_lazy_property_scan_reads_only_binary(spark, sf_small, tmp_path):
    """wire-level lazy read over a stored binary table must prune to the
    geobuf column — the columnar analog of not reading geometry bytes."""
    from geobuf_spark.codec import spark_codec
    from geobuf_spark.sources import minted as M

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    pts = M.minted_points(spark, sf_small).join(
        docs.select("doc_id", "lang"), "doc_id")
    enc = spark_codec.encode_points_with_props(pts, props=["lang"])
    p = str(tmp_path / "frames")
    enc.write.parquet(p)
    lazy = spark_codec.lazy_property(spark.read.parquet(p), "lang")
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<geobuf:binary>" in plan, plan[-600:]


# --- geobuf read path: the frame split and the bbox read stay in the JVM ---

_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow",
                 "MapInPandas", "FlatMapGroupsInPandas")


def _final_plan(df) -> str:
    """Run df, then return its executed plan (the AQE final plan)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.toString()


@pytest.fixture(scope="module")
def geobuf_dir(spark, tmp_path_factory):
    import numpy as np

    from geobuf_spark.codec import core

    d = tmp_path_factory.mktemp("geobuf_plans")
    rng = np.random.default_rng(3)
    frames = [core.encode_feature(core.Feature.from_geojson(
                  "LineString", rng.uniform(-50, 50, (4, 2)).tolist(), id=i))
              for i in range(60)]
    for i in range(3):
        (d / f"part-{i}.geobuf").write_bytes(core.write_frames(frames[i::3]))
    return str(d)


def test_geobuf_bbox_read_has_no_python(spark, geobuf_dir):
    from geobuf_spark.codec import jvm_codec, spark_codec
    from geobuf_spark.sources import geobuf_file

    bbox = spark_codec.frame_bbox(geobuf_file.read_geobuf(spark, geobuf_dir))
    plan = _final_plan(bbox.agg(F.count("w_q"), F.sum("n_q")))
    for marker in _PYTHON_NODES:
        assert marker not in plan, (marker, plan)
    # each JVM function is evaluated once per row: no inferred filter or
    # collapsed projection repeats it
    assert plan.count("gb_bbox(") == 1, plan
    assert plan.count("gb_frames(") == 1, plan

    plan = _final_plan(jvm_codec.read_geobuf_files_jvm(spark, geobuf_dir)
                       .agg(F.count("*")))
    for marker in _PYTHON_NODES:
        assert marker not in plan, (marker, plan)
    assert plan.count("gb_frames(") == 1, plan


def test_decoded_features_no_python_stage(spark, geobuf_dir):
    """The full decode runs in the JVM: no Python node, and the gb_decode
    struct is evaluated once per row, not once per field read."""
    from geobuf_spark.sources import geobuf_file

    df = geobuf_file.decoded_features(spark, geobuf_dir)
    plan = _final_plan(df.agg(F.count("*"), F.sum(F.size("coords"))))
    for marker in _PYTHON_NODES:
        assert marker not in plan, (marker, plan)
    assert plan.count("gb_decode(") == 1, plan
    assert plan.count("gb_frames(") == 1, plan


def test_flagship_codec_evaluated_once(spark, sf_small):
    """Flagship shape (pages → roundtrip_points → broadcast pip_join →
    assign_tiles_points → tile_histogram): the point codec runs in the
    JVM, each UDF once per row. No inferred isnotnull filter or collapsed
    projection repeats gb_point/gb_point_enc, or the md5 minting under
    them: the plan holds no more md5 calls than minting the pages alone.
    The point side, smaller than the rectangles' tile cover, is
    broadcast once and the only shuffle is the one feeding the
    histogram's final aggregate."""
    from geobuf_spark.codec import spark_codec
    from geobuf_spark.operators import tiling
    from geobuf_spark.sources import pages

    p = (pages.with_minted_geometry(pages.pages(spark, 2000))
         .select("page_id", "lon", "lat"))
    pts = spark_codec.roundtrip_points(p, id_col="page_id").select(
        F.col("page_id").alias("doc_id"),
        (F.col("lon_q") / 1e7).alias("lon"),
        (F.col("lat_q") / 1e7).alias("lat"))
    joined = sj.pip_join(pts, minted.minted_rects(spark, sf_small), z=6,
                         strategy="broadcast")
    plan = _final_plan(
        tiling.tile_histogram(tiling.assign_tiles_points(joined, z=8)))
    for marker in _PYTHON_NODES:
        assert marker not in plan, (marker, plan)
    assert plan.count("gb_point(") == 1, plan
    assert plan.count("gb_point_enc(") == 1, plan
    assert plan.count("md5(") == _final_plan(p).count("md5("), plan
    assert "BuildLeft" in _join_line(plan), plan
    assert "Range (0, 2000" in _broadcast_side(plan), plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_line_ring_codec_evaluated_once(spark, geobuf_dir):
    """The line and ring codec runs in the JVM: no Python node, and each
    gb_* UDF is evaluated once per row — a filter on an output column
    (pushed down or inferred) or a collapsed projection does not repeat
    it."""
    from geobuf_spark.codec import core, jvm_codec, spark_codec as sc

    frames = jvm_codec.read_geobuf_files_jvm(spark, geobuf_dir)
    lines = spark.createDataFrame(
        [(i, [0.5 * i, 1.0, 0.25, -0.5 * i, 1.5, 2.0]) for i in range(8)],
        "line_id long, coords array<double>")
    rings = spark.createDataFrame(
        [(i, [0.0, 0.0, 1.0, 0.0, 0.0, 1.0 + i, 0.2, 0.2, 0.3, 0.2, 0.2, 0.3],
          [3, 3] if i % 2 else [6]) for i in range(8)],
        "poly_id long, coords array<double>, ring_lens array<int>")
    poly_frames = spark.createDataFrame(
        [(bytearray(core.encode_feature(core.Feature.from_geojson(
            "Polygon", [[[0, 0], [1, 0], [0, 1 + i], [0, 0]]] * (1 + i % 2),
            id=i))),) for i in range(8)], "geobuf binary")
    cases = [
        ("gb_line_decode(", sc.decode_lines(frames).where("line_id > 3")),
        ("gb_line_decode(", sc.decode_lines(frames)
         .where(F.size("coords_q") > 4)),
        ("gb_poly_dec(", sc.decode_polygons(poly_frames)
         .where(F.size("ring_lens") > 1)),
        ("gb_line_stats(", sc.decode_lines_agg(frames)),
        ("gb_line_enc(", sc.encode_lines(lines)
         .where(F.octet_length("geobuf") > 0)),
        ("gb_poly_enc(", sc.encode_polygons(rings)
         .where(F.octet_length("geobuf") > 0)),
    ]
    for udf, df in cases:
        plan = _final_plan(df)
        for marker in _PYTHON_NODES:
            assert marker not in plan, (udf, marker, plan)
        calls = re.findall(r"\bgb_\w+\(", plan)
        assert udf in calls and len(calls) == len(set(calls)), (udf, plan)


def _codec_cases(spark, geobuf_dir):
    """name → a small DataFrame over every public spark_codec function,
    plus decoded_features and lazy_property filtered on its value."""
    from geobuf_spark.codec import core, jvm_codec, spark_codec as sc
    from geobuf_spark.sources import geobuf_file

    lines = jvm_codec.read_geobuf_files_jvm(spark, geobuf_dir)
    pts = spark.createDataFrame(
        [(i, 0.5 * i, -0.25 * i, ["en", "de"][i % 2], i * 7) for i in range(8)],
        "doc_id long, lon double, lat double, lang string, n_chars long")
    props = sc.encode_points_with_props(pts, props=["lang", "n_chars"])
    polys = spark.createDataFrame(
        [(i, [0.0, 0.0, 1.0, 0.0, 0.0, 1.0 + i], [3]) for i in range(8)],
        "poly_id long, coords array<double>, ring_lens array<int>")
    feats = spark.createDataFrame(
        [(i, 2, 2, [0.5 * i, 1.0, 0.25, -0.5], [2], [1], '{"k": %d}' % i)
         for i in range(8)], sc.GEOM_SCHEMA)
    poly_frames = spark.createDataFrame(
        [(bytearray(core.encode_feature(core.Feature.from_geojson(
            "Polygon", [[[0, 0], [1, 0], [0, 1 + i], [0, 0]]], id=i))),)
         for i in range(8)], "geobuf binary")
    return {
        "encode_points": sc.encode_points(pts),
        "decode_points": sc.decode_points(sc.encode_points(pts)),
        "decode_points_agg": sc.decode_points_agg(sc.encode_points(pts)),
        "roundtrip_points": sc.roundtrip_points(pts),
        "encode_lines": sc.encode_lines(lines.select(
            F.lit(1).alias("line_id"), F.array(F.lit(0.5), F.lit(1.5)).alias("coords"))),
        "decode_lines": sc.decode_lines(lines),
        "decode_lines_agg": sc.decode_lines_agg(lines),
        "encode_polygons": sc.encode_polygons(polys),
        "decode_polygons": sc.decode_polygons(poly_frames),
        "decode_features_fast": sc.decode_features_fast(props),
        "encode_features_generic": sc.encode_features_generic(feats)
        .where(F.octet_length("geobuf") > 0),
        "encode_points_with_props": props.where(F.octet_length("geobuf") > 0),
        "lazy_property": sc.lazy_property(props, "lang").where(F.col("lang") == "en"),
        "frame_keys": sc.frame_keys(props).where(F.col("key") == "lang"),
        "frame_bbox": sc.frame_bbox(lines).where(F.col("w_q") > 0),
        "decoded_features": geobuf_file.decoded_features(spark, geobuf_dir)
        .where(F.size("coords") > 4),
    }


_CODEC_CASES = ["encode_points", "decode_points", "decode_points_agg",
                "roundtrip_points", "encode_lines", "decode_lines",
                "decode_lines_agg", "encode_polygons", "decode_polygons",
                "decode_features_fast", "encode_features_generic",
                "encode_points_with_props", "lazy_property", "frame_keys",
                "frame_bbox", "decoded_features"]


def test_codec_cases_cover_spark_codec():
    """_CODEC_CASES names every public spark_codec function."""
    import inspect

    from geobuf_spark.codec import spark_codec

    public = {n for n, f in inspect.getmembers(spark_codec, inspect.isfunction)
              if not n.startswith("_") and f.__module__ == spark_codec.__name__}
    assert public == set(_CODEC_CASES) - {"decoded_features"}


@pytest.mark.parametrize("name", _CODEC_CASES)
def test_codec_plan_has_no_python(spark, geobuf_dir, name):
    """Every codec function plans in the JVM: no Python node, and each
    gb_* UDF is evaluated once per row — a filter on an output column or a
    collapsed projection does not repeat it. The UDFs are registered
    nondeterministic for this, so no plan needs an inline Generate."""
    plan = _final_plan(_codec_cases(spark, geobuf_dir)[name])
    for marker in _PYTHON_NODES:
        assert marker not in plan, (name, marker, plan)
    assert "inline(" not in plan, (name, plan)
    calls = re.findall(r"\bgb_\w+\(", plan)
    assert calls and len(calls) == len(set(calls)), (name, plan)


def test_frames_split_keeps_path_filter_in_scan(spark, geobuf_dir):
    """gb_frames is the one codec UDF registered deterministic, so a
    filter on the path column beside it still reaches the binaryFile scan
    as a data filter, in read_geobuf and read_geobuf_files_jvm alike."""
    from geobuf_spark.codec import jvm_codec
    from geobuf_spark.sources import geobuf_file

    for read in (geobuf_file.read_geobuf, jvm_codec.read_geobuf_files_jvm):
        df = read(spark, geobuf_dir).where(F.col("path").endswith("part-1.geobuf"))
        plan = _final_plan(df)
        scan = [ln for ln in plan.splitlines() if "FileScan binaryFile" in ln]
        assert len(scan) == 1, plan
        filters = re.search(r"DataFilters: \[([^\]]*)\]", scan[0])
        assert filters and "EndsWith(path" in filters.group(1), (read, scan[0])
        assert df.count() == 20
