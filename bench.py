#!/usr/bin/env python
"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...},
 "sf": ..., "throughput": {...}}

`--scaling` additionally runs the flagship pipeline at local[N] and
local[4N] on identical input (default 8M pages — see the Amdahl note in
main) plus a same-window raw-CPU ceiling control, and reports throughput +
efficiency (BASELINE.json north-rule evidence; measured results are
transcribed into BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "1000000"))
# co-tenant gate: wait (bounded) for 1-min loadavg to drop below the gate
# before the timed sections start — this host's bursts inflate identical
# runs 1.3-10x (BENCH/BASELINE.md methodology; VERDICT r3 #1)
LOAD_GATE = float(os.environ.get("SPARK_GRAFT_LOADAVG_GATE", "6"))
LOAD_WAIT = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT_SEC", "240"))


def loadavg1() -> float:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def wait_for_calm() -> dict:
    """Bounded wait for co-tenant load to subside. Only meaningful BEFORE
    we start our own executors (our own tasks drive load1 to ~CPUS); the
    returned dict is emitted verbatim so every BENCH_rN records the window
    it ran in."""
    initial = loadavg1()
    t0 = time.time()
    while loadavg1() > LOAD_GATE and time.time() - t0 < LOAD_WAIT:
        time.sleep(5.0)
    return {"loadavg_initial": initial, "gate": LOAD_GATE,
            "waited_sec": round(time.time() - t0, 1),
            "loadavg_at_go": loadavg1()}


def _spread(ts: list[float]) -> float:
    """max/min trial ratio — 1.0x means a clean window, >1.5x means a
    co-tenant burst hit some trial (the min is still trustworthy; the
    ratio tells the reader HOW contended the window was)."""
    return round(max(ts) / min(ts), 2) if ts else 0.0


def _flagship(spark, n_pages: int):
    """pages → mint → geobuf encode→decode (JVM gb_point(gb_point_enc),
    once per row) → PIP join → tile assign → histogram. Returns
    (n_rows_out, n_features)."""
    from pyspark.sql import functions as F

    from geobuf_spark.codec import spark_codec
    from geobuf_spark.operators import spatial_join as sj
    from geobuf_spark.operators import tiling
    from geobuf_spark.sources import minted, pages

    p = pages.with_minted_geometry(pages.pages(spark, n_pages)).select("page_id", "lon", "lat")
    dec = spark_codec.roundtrip_points(p, id_col="page_id")
    pts = dec.select(
        F.col("page_id").alias("doc_id"),
        (F.col("lon_q") / 1e7).alias("lon"),
        (F.col("lat_q") / 1e7).alias("lat"),
    )
    rects = minted.minted_rects(spark, SF_DIR)
    joined = sj.pip_join(pts, rects, z=7, strategy="broadcast")
    hist = tiling.tile_histogram(tiling.assign_tiles_points(joined, z=9))
    return hist.count(), n_pages


def bench_queries(spark):
    """Headline per-operator timings at SF_DIR."""
    from pyspark.sql import functions as F

    import __spark_entry__ as em

    Q = em.queries()
    names = [
        "pip_join_rects", "pip_join_s2", "pip_join_triangles",
        "tile_cover_rects_z7", "tile_counts_z6", "knn_k5", "knn_adaptive_k5",
        "knn_hex_k5", "knn_s2_k5",
        "geobuf_roundtrip", "polygon_roundtrip", "dedup_exact",
        "minhash_near_dups", "simhash_near_dups", "embed_near_dups",
        "ann_cosine_top5",
        "doc_quality", "token_totals", "events_window", "sessionize",
        "ngram_jaccard", "vector_tiles_z5", "mvt_tiles_z4",
        "tile_stream_counts", "ann_ivf_top5",
        "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q9", "tpch_q13", "tpch_q21",
        "html_extract_text", "url_host_topk", "dup_ngram_stats",
        "boilerplate_lines", "line_dedup_clean", "warc_index",
        "pagerank_hosts", "ngram_topk", "dup_span_frac",
        # r4 extension families: quality filters, graph census, funnel,
        # areal allocation, trajectories
        "gopher_quality_flags", "top_ngram_frac", "rare_token_ratio",
        "triangle_hosts", "funnel_conversion", "areal_interp", "traj_steps",
        "adaptive_cover", "rect_overlay_iou", "scd2_history",
        "retention_cohorts", "line_length_stats",
        # second extension session: geometry joins, interval/trajectory
        # analytics, dedup/similarity tiers, density rasters
        "segment_xing_join", "route_snap_join", "hausdorff_pairs",
        "grid_line_density", "dbscan_core", "tile_focal_mean",
        "containment_pairs", "word_cooc_cosine", "skyline_docs",
        "interval_union_time", "staypoints", "copresence_pairs",
        "session_paths", "kcore_hosts", "delta_bytes_by_tile",
        # third extension session: exact statistics tier + the ordered-
        # index (prefix-range) spatial join sibling
        "gini_chars", "mannwhitney_len", "cluster_diameter",
        "line_self_intersect", "event_rle", "degree_assortativity",
        "quadkey_range_join", "trimmed_mean_chars",
        # fourth extension session: graph propagation, selection /
        # sharding, temporal nearest, exact geometry simplification
        "ssjoin_prefix", "kde_cells", "knn_graph_k3", "sssp_w3",
        "allen_census", "voronoi_assign", "mmr_topk", "tfidf_top_terms",
        "lpa_communities", "consistent_shards", "asof_nearest",
        "simplify_collinear",
        # fourth extension, second half: matching/selection/sketch/text
        "maximal_matching", "snapshot_reconcile", "max_coverage_hosts",
        "frechet_pairs", "colbert_maxsim", "bpe_merges", "winnow_fps",
        "cdc_chunks", "two_phase_median", "str_pack", "kcenter_greedy",
        "rsync_delta", "effective_tokens", "haar_energy",
        "negative_samples", "bandit_replay", "blocking_quality",
        "coreness", "stump_split",
        # fifth extension session
        "topk_two_level", "did_purchases",
        "ktruss_edges", "poisson_bootstrap", "convex_hull_stats",
        "token_bucket", "dbscan_clusters", "theil_sen_daily",
        "compaction_plan", "simpsons_paradox", "sorted_neighborhood",
        "lz_factors", "power_iteration", "huffman_cost",
        "bipartite_check", "mutual_knn",
        "stable_matching", "ransac_line", "max_burst_window",
        "dtw_daily", "quantile_normalize", "markov_predict_eval",
        "interval_schedule", "rmq_daily", "isotonic_daily",
        "mase_seasonal", "emst_clusters", "join_size_audit",
        "mis_luby", "bwt_runs", "ear_triangulate",
        "hash_collision_audit", "convex_layers", "soundex_groups",
        "ppr_hosts", "source_overlap", "dag_layers",
        "zorder_locality", "weighted_schedule", "lis_daily",
        "influence_spread", "rich_club", "morisita_tiles",
        "runs_test_daily", "hodges_lehmann", "qn_scale",
    ]

    def force(df):
        # a bare count() lets Catalyst prune every computed column, so a
        # projection-shaped query would time a parquet row count; hashing
        # ALL output columns forces the full expression tree, and bit_xor
        # aggregates without ANSI overflow
        h = F.xxhash64(*[F.col(c) for c in df.columns])
        return df.select(h.alias("_h")).agg(F.expr("bit_xor(_h)")).collect()

    # three full passes (A,B,…,A,B,…) rather than back-to-back trials: a
    # co-tenant burst then has to span the WHOLE ~40s pass to poison a
    # query's minimum, instead of just its ~2s window (VERDICT r3 #1)
    times: dict[str, list] = {n: [] for n in names}
    errors: dict[str, str] = {}
    pass_loads = []
    for _ in range(3):
        pass_loads.append(loadavg1())
        for name in names:
            t0 = time.time()
            try:
                force(Q[name](spark, SF_DIR))
            except Exception as e:  # noqa: BLE001 — annotate, don't bury
                errors[name] = f"{type(e).__name__}: {e}"[:400]
                print(f"bench: query {name} FAILED: {errors[name]}",
                      file=sys.stderr)
                continue
            times[name].append(time.time() - t0)
    out = {n: round(min(ts), 3) for n, ts in times.items() if ts}
    spread = {n: _spread(ts) for n, ts in times.items() if ts}
    if errors:
        out["_errors"] = errors
    return out, spread, pass_loads


def bench_codec_vs_json(spark, n_pages: int, trials: int = 5):
    """The reference's headline claim restated on Spark: geobuf point codec
    (JVM) vs JSON to_json/from_json round-trip on identical point features.
    Min of warm trials — this host has bursty co-tenants (identical runs
    vary 10-100x), so the minimum is the least-contended, reproducible
    estimate; medians inherit whole-window throttling."""
    from pyspark.sql import functions as F

    from geobuf_spark.codec import spark_codec
    from geobuf_spark.sources import pages

    p = pages.with_minted_geometry(pages.pages(spark, n_pages)) \
        .select("page_id", "lon", "lat").cache()
    p.count()

    # NOTE: every path must end in an aggregate over the PRODUCED values —
    # a bare count() lets Catalyst prune from_json/to_json entirely and the
    # JSON "baseline" measures nothing.
    enc_cached = spark_codec.encode_points(p, id_col="page_id").cache()
    enc_cached.count()
    js_cached = p.select(
        "page_id", F.to_json(F.struct("page_id", "lon", "lat")).alias("j")
    ).cache()
    js_cached.count()

    def geobuf_write():
        return enc_val(spark_codec.encode_points(p, id_col="page_id"), "geobuf")

    def json_write():
        return enc_val(p.select(F.to_json(F.struct("page_id", "lon", "lat")).alias("j")), "j")

    def enc_val(df, col):
        return df.agg(F.count("*"), F.sum(F.octet_length(col))).collect()[0][0]

    # read comparison is fused-reduce vs fused-reduce: Catalyst folds
    # from_json into the aggregate stage (no materialization), and
    # decode_points_agg runs gb_point in the same whole-stage pipeline as
    # its partial aggregate
    def geobuf_read():
        return spark_codec.decode_points_agg(enc_cached).collect()[0][0]

    def geobuf_read_full():
        # materializing variant (decoded columns, then the aggregate)
        d = spark_codec.decode_points(enc_cached)
        return d.agg(F.count("*"), F.sum("id"), F.sum("lon_q"), F.sum("lat_q")).collect()[0][0]

    def json_read():
        parsed = js_cached.select(
            F.from_json("j", "page_id bigint, lon double, lat double").alias("s")
        )
        return parsed.agg(
            F.count("*"), F.sum("s.page_id"), F.sum("s.lon"), F.sum("s.lat")
        ).collect()[0][0]

    paths = [("geobuf_write", geobuf_write), ("json_write", json_write),
             ("geobuf_read", geobuf_read), ("geobuf_read_full", geobuf_read_full),
             ("json_read", json_read)]
    out, spread = _run_paths(paths, trials, n_pages)
    # size comparison (the compactness half of the reference's claim)
    out["geobuf_bytes"] = enc_cached.agg(F.sum(F.octet_length("geobuf"))).collect()[0][0]
    out["json_bytes"] = js_cached.agg(F.sum(F.octet_length("j"))).collect()[0][0]
    out["n_rows"] = n_pages
    p.unpersist(); enc_cached.unpersist(); js_cached.unpersist()
    return out, spread


def _run_paths(paths, trials: int, expect_n: int):
    """Trial-MAJOR timing: warm every path once, then run round-robin
    rounds (A,B,…,A,B,…). Back-to-back trials let one co-tenant burst
    poison ALL of a single path's trials (BENCH_r03's geobuf_read_jvm row
    read 0.13x while the same run's lines rows won — VERDICT r3 #1);
    round-robin means a burst costs one trial of each path and the min
    survives. Returns (min-per-path, max/min spread per path)."""
    times: dict[str, list[float]] = {name: [] for name, _ in paths}
    for _, fn in paths:
        fn()  # warmup (python workers, codegen, JIT)
    for _ in range(trials):
        for name, fn in paths:
            t0 = time.time()
            n = fn()
            times[name].append(time.time() - t0)
            assert n == expect_n
    return ({name: min(ts) for name, ts in times.items()},
            {name: _spread(ts) for name, ts in times.items()})


def synth_lines(spark, n: int, min_v: int = 16, max_v: int = 64):
    """Deterministic LineString batch (random-walk-ish, lattice coords) —
    the reference's roads benchmark shape, generated with pure exprs."""
    from pyspark.sql import functions as F

    df = spark.range(n).withColumnRenamed("id", "line_id")
    nv = F.pmod(F.hash("line_id"), F.lit(max_v - min_v)) + min_v
    x0 = (F.pmod(F.hash(F.col("line_id") * 7), F.lit(3_000_000_000)) - F.lit(1_500_000_000))
    y0 = (F.pmod(F.hash(F.col("line_id") * 13), F.lit(1_500_000_000)) - F.lit(750_000_000))
    coords = F.flatten(F.transform(
        F.sequence(F.lit(0), nv - 1),
        lambda j: F.array(
            (x0 + j * 1000 + F.pmod(F.hash(F.col("line_id") * 31 + j), F.lit(2000)) - 1000) / F.lit(1e7),
            (y0 + j * 800 + F.pmod(F.hash(F.col("line_id") * 37 + j), F.lit(1600)) - 800) / F.lit(1e7),
        ),
    ))
    return df.select("line_id", coords.alias("coords"))


def bench_lines_vs_json(spark, n_lines: int, trials: int = 5):
    """Roads-shape codec comparison (the reference's actual 18x benchmark
    corpus is linestring roads): ~40-vertex LineStrings, the JVM geobuf
    line codec vs to_json/from_json with array<double> coordinates."""
    from pyspark.sql import functions as F

    from geobuf_spark.codec import spark_codec

    lines = synth_lines(spark, n_lines).cache()
    lines.count()
    enc = spark_codec.encode_lines(lines).cache()
    enc.count()
    js = lines.select("line_id", F.to_json(F.struct("line_id", "coords")).alias("j")).cache()
    js.count()

    def geobuf_write():
        return spark_codec.encode_lines(lines) \
            .agg(F.count("*"), F.sum(F.octet_length("geobuf"))).collect()[0][0]

    def json_write():
        return lines.select(F.to_json(F.struct("line_id", "coords")).alias("j")) \
            .agg(F.count("*"), F.sum(F.octet_length("j"))).collect()[0][0]

    def geobuf_read():
        return spark_codec.decode_lines_agg(enc).collect()[0][0]

    def geobuf_read_full():
        d = spark_codec.decode_lines(enc)
        return d.agg(F.count("*"), F.sum(F.size("coords_q")),
                     F.sum(F.element_at("coords_q", 1))).collect()[0][0]

    def json_read():
        parsed = js.select(F.from_json("j", "line_id bigint, coords array<double>").alias("s"))
        return parsed.agg(F.count("*"), F.sum(F.size("s.coords")),
                          F.sum(F.element_at("s.coords", 1))).collect()[0][0]

    # storage-scan variants: read + decode from parquet files — the
    # deployment-realistic path where geobuf's 5x byte advantage pays
    import shutil
    import tempfile
    from pathlib import Path

    tmp = tempfile.mkdtemp(prefix="codec_bench_")
    enc.write.mode("overwrite").parquet(f"{tmp}/geobuf")
    js.write.mode("overwrite").parquet(f"{tmp}/json")

    def geobuf_scan():
        return spark_codec.decode_lines_agg(
            spark.read.parquet(f"{tmp}/geobuf")).collect()[0][0]

    def json_scan():
        parsed = spark.read.parquet(f"{tmp}/json").select(
            F.from_json("j", "line_id bigint, coords array<double>").alias("s"))
        return parsed.agg(F.count("*"), F.sum(F.size("s.coords")),
                          F.sum(F.element_at("s.coords", 1))).collect()[0][0]

    paths = [("geobuf_write", geobuf_write), ("json_write", json_write),
             ("geobuf_read", geobuf_read), ("geobuf_read_full", geobuf_read_full),
             ("json_read", json_read),
             ("geobuf_scan", geobuf_scan), ("json_scan", json_scan)]

    try:
        out, spread = _run_paths(paths, trials, n_lines)
        out["geobuf_bytes"] = enc.agg(F.sum(F.octet_length("geobuf"))).collect()[0][0]
        out["json_bytes"] = js.agg(F.sum(F.octet_length("j"))).collect()[0][0]
        out["n_rows"] = n_lines
        out["geobuf_parquet_bytes"] = sum(
            f.stat().st_size for f in Path(f"{tmp}/geobuf").rglob("*.parquet"))
        out["json_parquet_bytes"] = sum(
            f.stat().st_size for f in Path(f"{tmp}/json").rglob("*.parquet"))
        return out, spread
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        lines.unpersist(); enc.unpersist(); js.unpersist()


def bench_many_files(spark, n_lines: int, n_files: int = 64, trials: int = 3):
    """The reference's headline concurrent read (README.md:6 — ~18x vs
    GeoJSON unmarshal on the 1 GB CA-roads corpus; geobuf_concurrent.go:
    18-63 fans file reads across goroutines): many framed .geobuf
    subfiles read and decoded in parallel. Engine path: ONE JVM plan —
    binaryFile scan → gb_frames split → explode → decode_lines_agg
    (gb_line_stats) reduce, zero Python. Baseline: the same features as
    line-delimited JSON text files through from_json. File writes are
    setup, not timed (the RDD part-writer is bench scaffolding, not an
    engine path — engine file output is geobuf_file.write_geobuf_indexed)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from geobuf_spark.codec import core, jvm_codec, spark_codec

    if not jvm_codec.register(spark):
        return None, None
    lines = synth_lines(spark, n_lines)
    enc = spark_codec.encode_lines(lines)
    tmp = tempfile.mkdtemp(prefix="manyfiles_")
    gdir = f"{tmp}/geobuf"
    jdir = f"{tmp}/json"
    os.makedirs(gdir)

    def write_part(idx, it):
        with open(f"{gdir}/part-{idx:04d}.geobuf", "wb") as f:
            for row in it:
                fr = bytes(row.geobuf)
                f.write(b"\x0a")
                f.write(core.encode_varint(len(fr)))
                f.write(fr)
        yield 1

    enc.repartition(n_files).rdd.mapPartitionsWithIndex(write_part).count()
    (lines.select(F.to_json(F.struct("line_id", "coords")).alias("value"))
     .repartition(n_files).write.mode("overwrite").text(jdir))

    def geobuf_read():
        df = jvm_codec.read_geobuf_files_jvm(spark, gdir)
        return spark_codec.decode_lines_agg(df).collect()[0][0]

    def read_json():
        parsed = spark.read.text(jdir).select(F.from_json(
            "value", "line_id bigint, coords array<double>").alias("s"))
        return parsed.agg(F.count("*"), F.sum(F.size("s.coords")),
                          F.sum(F.element_at("s.coords", 1))).collect()[0][0]

    paths = [("geobuf_read", geobuf_read), ("json_read", read_json)]
    try:
        out, spread = _run_paths(paths, trials, n_lines)
        out["n_files"] = n_files
        out["n_rows"] = n_lines
        return out, spread
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def synth_polys(spark, n: int, min_v: int = 8, max_v: int = 24):
    """Deterministic two-ring Polygon batch (outer walk + inner walk,
    lattice coords) — the reference's county-polygons benchmark shape
    (reader_test.go:16-38), generated with pure exprs. Ring closure is
    irrelevant to the codec, which is what's being timed."""
    from pyspark.sql import functions as F

    df = spark.range(n).withColumnRenamed("id", "poly_id")
    nv1 = F.pmod(F.hash("poly_id"), F.lit(max_v - min_v)) + min_v
    nv2 = F.pmod(F.hash(F.col("poly_id") * 3), F.lit(5)) + 4
    x0 = (F.pmod(F.hash(F.col("poly_id") * 7), F.lit(3_000_000_000)) - F.lit(1_500_000_000))
    y0 = (F.pmod(F.hash(F.col("poly_id") * 13), F.lit(1_500_000_000)) - F.lit(750_000_000))

    def ring(nv, salt):
        return F.transform(F.sequence(F.lit(0), nv - 1), lambda j: F.array(
            (x0 + j * 900 + F.pmod(F.hash(F.col("poly_id") * salt + j), F.lit(1800)) - 900) / F.lit(1e7),
            (y0 + j * 700 + F.pmod(F.hash(F.col("poly_id") * (salt + 2) + j), F.lit(1400)) - 700) / F.lit(1e7)))

    coords = F.flatten(F.concat(ring(nv1, 31), ring(nv2, 41)))
    return df.select("poly_id", coords.alias("coords"),
                     F.array(nv1.cast("int"), nv2.cast("int")).alias("ring_lens"))


def bench_polys_vs_json(spark, n_polys: int, trials: int = 3):
    """Ring-structured codec comparison (the reference's county-polygon
    micro-bench shape): two-ring Polygons, the JVM geobuf ring codec vs
    to_json/from_json with array coordinates + ring lengths."""
    from pyspark.sql import functions as F

    from geobuf_spark.codec import spark_codec

    polys = synth_polys(spark, n_polys).cache()
    polys.count()
    enc = spark_codec.encode_polygons(polys).cache()
    enc.count()
    js = polys.select(F.to_json(F.struct("poly_id", "coords", "ring_lens")).alias("j")).cache()
    js.count()

    def geobuf_write():
        return spark_codec.encode_polygons(polys) \
            .agg(F.count("*"), F.sum(F.octet_length("geobuf"))).collect()[0][0]

    def json_write():
        return polys.select(F.to_json(F.struct("poly_id", "coords", "ring_lens")).alias("j")) \
            .agg(F.count("*"), F.sum(F.octet_length("j"))).collect()[0][0]

    def geobuf_read():
        d = spark_codec.decode_polygons(enc)
        return d.agg(F.count("*"), F.sum(F.size("coords_q")),
                     F.sum(F.element_at("coords_q", 1))).collect()[0][0]

    def json_read():
        parsed = js.select(F.from_json(
            "j", "poly_id bigint, coords array<double>, ring_lens array<int>").alias("s"))
        return parsed.agg(F.count("*"), F.sum(F.size("s.coords")),
                          F.sum(F.element_at("s.coords", 1))).collect()[0][0]

    paths = [("geobuf_write", geobuf_write), ("json_write", json_write),
             ("geobuf_read", geobuf_read), ("json_read", json_read)]

    try:
        out, spread = _run_paths(paths, trials, n_polys)
        out["geobuf_bytes"] = enc.agg(F.sum(F.octet_length("geobuf"))).collect()[0][0]
        out["json_bytes"] = js.agg(F.sum(F.octet_length("j"))).collect()[0][0]
        out["n_rows"] = n_polys
        return out, spread
    finally:
        polys.unpersist(); enc.unpersist(); js.unpersist()


def run(cores: int, scaling_only: bool = False):
    from geobuf_spark.session import get_spark

    spark = get_spark(f"bench_{cores}", cores=cores, shuffle_partitions=max(cores, 16))
    # keep stdout parseable: JVM logging stays on stderr at ERROR, no
    # console progress bars — a task-retry stack trace in BENCH_r01's tail
    # made the output open mid-trace (round-1 "What's wrong" #4)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        _flagship(spark, N_PAGES)  # warmup (python workers, codegen)
        ts = []
        for _ in range(5):  # min-of-5: co-tenant bursts make fewer trials lie
            t0 = time.time()
            _, n_feat = _flagship(spark, N_PAGES)
            ts.append(time.time() - t0)
        t_flagship = min(ts)
        if scaling_only:
            return {"flagship_sec": t_flagship, "features_per_sec": n_feat / t_flagship}
        codec, codec_spread = bench_codec_vs_json(spark, N_PAGES)
        # lines sizing: 100k rows sits on the session floor like the r4
        # polys row did (1.3-2.0x window-dependent); at 400k the codec
        # signal dominates (2.97x read / 2.01x scan, same window)
        lines, lines_spread = bench_lines_vs_json(spark, max(N_PAGES * 2 // 5, 40_000))
        # polys previously ran at N_PAGES//20 (50k), where both paths sit
        # on the ~0.2s session floor and the ratio measures the floor, not
        # the codec (r4's 1.03x "parity"); at 500k the codec signal
        # dominates (isolated remeasure: 2.9x at 500k vs 1.7x at 50k)
        polys, polys_spread = bench_polys_vs_json(spark, max(N_PAGES // 2, 50_000))
        # many-files sizing: ratio is floor-compressed at small per-file
        # payloads (1.39x at 100k rows/64 files -> 2.13x at 400k, same
        # window) — size it so each subfile carries >~1 MB of frames
        many, many_spread = bench_many_files(spark, max(N_PAGES * 2 // 5, 40_000))
        queries, q_spread, pass_loads = bench_queries(spark)
        queries["flagship_pipeline"] = round(t_flagship, 3)
        q_spread["flagship_pipeline"] = _spread(ts)
        return {
            "queries": queries,
            "flagship_sec": t_flagship,
            "features_per_sec": n_feat / t_flagship,
            "codec": codec,
            "codec_spread": codec_spread,
            "lines": lines,
            "lines_spread": lines_spread,
            "polys": polys,
            "polys_spread": polys_spread,
            "many_files": many,
            "many_files_spread": many_spread,
            "queries_spread": q_spread,
            "pass_loadavg": pass_loads,
        }
    finally:
        spark.stop()


def _raw_cpu_speedup(n_lo: int, n_hi: int, secs: float = 2.0) -> float:
    """Environment ceiling: aggregate busy-loop throughput at n_hi vs n_lo
    worker processes, measured in THIS window. On a co-tenant-loaded host
    the wide leg loses real cores; dividing the pipeline's speedup by this
    ceiling separates engine scaling from host contention."""
    import multiprocessing as mp

    def burn(q):
        t_end = time.time() + secs
        x, it = 1.0, 0
        while time.time() < t_end:
            for _ in range(10_000):
                x = x * 1.0000001 + 1e-9
            it += 1
        q.put(it + (x == -1))

    def total(k):
        q = mp.Queue()
        ps = [mp.Process(target=burn, args=(q,)) for _ in range(k)]
        for p in ps:
            p.start()
        out = sum(q.get() for _ in ps)
        for p in ps:
            p.join()
        return out

    lo = total(n_lo)
    hi = total(n_hi)
    return hi / lo if lo else float(n_hi) / n_lo


def main():
    calm = wait_for_calm()
    if calm["waited_sec"]:
        print(f"bench: waited {calm['waited_sec']}s for loadavg "
              f"{calm['loadavg_initial']} -> {calm['loadavg_at_go']}",
              file=sys.stderr)
    if "--scaling" in sys.argv:
        # N vs 4N cores on identical input. Default N=2: both levels sit
        # under this box's memory-bandwidth/SMT ceiling (32 hw threads share
        # one memory bus — measured raw-CPU scaling 8→32 procs is only
        # ~3.15x), so the pair isolates the PIPELINE's scaling behavior,
        # which is what transfers to multi-executor clusters where each
        # executor has its own memory bus. Override with SPARK_GRAFT_SCALE_N.
        global N_PAGES
        n = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2"))
        # scaling needs the parallel fraction to dominate the fixed
        # driver-side broadcast build (Amdahl): 1M pages measures the
        # serial overhead (eff ~0.5), 8M measures the engine (eff ~0.95)
        N_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "8000000"))
        ceiling = _raw_cpu_speedup(n, 4 * n)  # same-window environment cap
        lo = run(n, scaling_only=True)
        hi = run(4 * n, scaling_only=True)
        speedup = hi["features_per_sec"] / lo["features_per_sec"]
        eff = speedup / 4.0
        eff_norm = speedup / min(4.0, ceiling)
        print(json.dumps({
            "metric": f"scaling efficiency local[{n}]→local[{4*n}], flagship geobuf+PIP+tile pipeline",
            "value": round(eff, 4), "unit": "efficiency", "sf": SF_DIR,
            f"local{n}_features_per_sec": round(lo["features_per_sec"]),
            f"local{4*n}_features_per_sec": round(hi["features_per_sec"]),
            "raw_cpu_ceiling_speedup": round(ceiling, 3),
            "efficiency_vs_host_ceiling": round(eff_norm, 4),
            "n_features": N_PAGES,
            "load_gate": calm,
        }))
        return

    r = run(CPUS)
    q_errors = r["queries"].pop("_errors", None)
    total = sum(v for k, v in r["queries"].items() if k != "flagship_pipeline")
    c = r["codec"]
    li = r["lines"]
    po = r["polys"]
    mf = r["many_files"]

    def _nsf(sec, n):
        return round(sec / n * 1e9, 1)

    kernel_rows = {
        "json_read_ns_per_feature": {
            "points": _nsf(c["json_read"], c["n_rows"]),
            "lines": _nsf(li["json_read"], li["n_rows"]),
            "polys": _nsf(po["json_read"], po["n_rows"]),
        },
        "jvm_read_ns_per_feature": {
            "points": _nsf(c["geobuf_read"], c["n_rows"]),
            "lines": _nsf(li["geobuf_read"], li["n_rows"]),
            "polys": _nsf(po["geobuf_read"], po["n_rows"]),
        },
    }
    print(json.dumps({
        "lines_read_speedup_vs_json": round(li["json_read"] / li["geobuf_read"], 2),
        "lines_scan_speedup_vs_json": round(li["json_scan"] / li["geobuf_scan"], 2),
        "lines_write_speedup_vs_json": round(li["json_write"] / li["geobuf_write"], 2),
        "lines_size_ratio_vs_json": round(li["geobuf_bytes"] / li["json_bytes"], 3),
        "lines_sec": {k: round(v, 3) for k, v in li.items() if k.endswith(("read", "write", "read_full", "scan"))},
        "polys_read_speedup_vs_json": round(po["json_read"] / po["geobuf_read"], 2),
        "polys_write_speedup_vs_json": round(po["json_write"] / po["geobuf_write"], 2),
        "polys_size_ratio_vs_json": round(po["geobuf_bytes"] / po["json_bytes"], 3),
        "polys_sec": {k: round(v, 3) for k, v in po.items() if k.endswith(("read", "write"))},
        **({"many_files_read_speedup_vs_json":
            round(mf["json_read"] / mf["geobuf_read"], 2),
            "many_files_n_files": mf["n_files"],
            "many_files_n_rows": mf["n_rows"],
            "many_files_sec": {k: round(v, 3) for k, v in mf.items()
                               if k.endswith("read")}}
           if mf else {}),
        **kernel_rows,
        "metric": "geobuf encode+PIP-join+tile-assign features/sec (flagship); per-query sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": r["queries"],
        "sf": SF_DIR,
        "features_per_sec": round(r["features_per_sec"]),
        "codec_read_speedup_vs_json": round(c["json_read"] / c["geobuf_read"], 2),
        "codec_write_speedup_vs_json": round(c["json_write"] / c["geobuf_write"], 2),
        "codec_size_ratio_vs_json": round(c["geobuf_bytes"] / c["json_bytes"], 3),
        "codec_sec": {k: round(v, 3) for k, v in c.items() if k.endswith(("read", "write", "read_full"))},
        "n_flagship_features": N_PAGES,
        # noise annotations: per-row max/min trial ratio (1.0 = clean
        # window) + the loadavg observed at the gate and per query pass —
        # a reader can now tell a regression from a throttled window
        # without cross-referencing BENCH/BASELINE.md
        "trial_spread": {
            "queries": r["queries_spread"],
            "codec": r["codec_spread"],
            "lines": r["lines_spread"],
            "polys": r["polys_spread"],
            **({"many_files": r["many_files_spread"]}
               if r["many_files_spread"] else {}),
        },
        "load_gate": calm,
        "query_pass_loadavg": r["pass_loadavg"],
        "loadavg_end": loadavg1(),
        **({"query_errors": q_errors} if q_errors else {}),
    }))


if __name__ == "__main__":
    main()
