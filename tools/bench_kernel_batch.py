#!/usr/bin/env python
"""Batch-granularity codec comparison, single-threaded (local[1]) —
the evidence behind the python-Arrow-read-path verdict (r4 #4).

The full bench's read rows are 32-core wall-clock, which mixes the
kernel's per-core rate with task scheduling and the Python worker
dispatch floor. This harness pins everything to ONE core so the three
decode tiers are directly comparable per feature:

  json       — Spark codegen'd from_json + aggregate (the baseline)
  jvm        — gb_* Java UDF decode + aggregate (the production path)
  py_kernel  — the numpy batch kernel alone on a driver-side Arrow
               array (what the python path costs with zero dispatch);
               lines and polygons only, points have no Arrow tier

Interpretation (recorded in BENCH/BASELINE.md): where py_kernel beats
json, the end-to-end python read deficit is the per-task dispatch floor
+ Arrow serdes, which amortize with per-task batch size at cluster
scale; where it doesn't (two-ring polygons — the data-dependent ring
walk defeats full vectorization), the python read path is honestly the
compatibility tier and the JVM path is the read path.

Usage: python tools/bench_kernel_batch.py [n_rows]   (default 100000)
Prints one JSON line.
"""
from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")


def best_of(fn, k=3):
    fn()  # warmup
    best = 1e9
    for _ in range(k):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return best


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000

    import pyarrow as pa
    import pyspark
    from pyspark.sql import functions as F

    spark = (pyspark.sql.SparkSession.builder.master("local[1]")
             .config("spark.sql.shuffle.partitions", "1")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    import bench
    from geobuf_spark.codec import jvm_codec, spark_codec
    from geobuf_spark.sources import pages as P

    have_jvm = jvm_codec.register(spark)
    out = {"n_rows": n, "cores": 1, "unit": "sec (min of 3, single core)"}

    def frames_of(enc):
        return pa.array((bytes(r[0]) for r in enc.select("geobuf").collect()),
                        type=pa.binary())

    # --- points ---
    p = (P.with_minted_geometry(P.pages(spark, n))
         .select("page_id", "lon", "lat").cache())
    p.count()
    enc = spark_codec.encode_points(p, id_col="page_id").cache()
    enc.count()
    js = p.select(F.to_json(F.struct("page_id", "lon", "lat")).alias("j")).cache()
    js.count()
    sec = {"json": best_of(lambda: js.select(
        F.from_json("j", "page_id bigint, lon double, lat double").alias("s"))
        .agg(F.count("*"), F.sum("s.page_id"), F.sum("s.lon"), F.sum("s.lat"))
        .collect())}
    sec["jvm"] = best_of(lambda: spark_codec.decode_points_agg(enc).collect())
    out["points"] = {k: round(v, 4) for k, v in sec.items()}
    p.unpersist(); enc.unpersist(); js.unpersist()

    # --- lines ---
    li = bench.synth_lines(spark, n // 4).cache()
    li.count()
    enc = spark_codec.encode_lines(li).cache()
    enc.count()
    js = li.select(F.to_json(F.struct("line_id", "coords")).alias("j")).cache()
    js.count()
    sec = {"json": best_of(lambda: js.select(
        F.from_json("j", "line_id bigint, coords array<double>").alias("s"))
        .agg(F.count("*"), F.sum(F.size("s.coords")),
             F.sum(F.element_at("s.coords", 1))).collect())}
    if have_jvm:
        sec["jvm"] = best_of(
            lambda: jvm_codec.decode_lines_agg_jvm(enc).collect())
    fr = frames_of(enc)
    sec["py_kernel"] = best_of(lambda: spark_codec.decode_lines_kernel(fr))
    out["lines"] = {k: round(v, 4) for k, v in sec.items()}
    out["lines"]["n_rows"] = n // 4
    li.unpersist(); enc.unpersist(); js.unpersist()

    # --- two-ring polygons ---
    po = bench.synth_polys(spark, n).cache()
    po.count()
    enc = spark_codec.encode_polygons(po).cache()
    enc.count()
    js = po.select(F.to_json(
        F.struct("poly_id", "coords", "ring_lens")).alias("j")).cache()
    js.count()
    sec = {"json": best_of(lambda: js.select(
        F.from_json("j", "poly_id bigint, coords array<double>, "
                    "ring_lens array<int>").alias("s"))
        .agg(F.count("*"), F.sum(F.size("s.coords")),
             F.sum(F.element_at("s.coords", 1))).collect())}
    if have_jvm:
        sec["jvm"] = best_of(
            lambda: jvm_codec.decode_polygons_agg_jvm(enc).collect())
    fr = frames_of(enc)
    sec["py_kernel"] = best_of(lambda: spark_codec.decode_rings_kernel(fr))
    out["polys"] = {k: round(v, 4) for k, v in sec.items()}
    po.unpersist(); enc.unpersist(); js.unpersist()

    for sect in ("points", "lines", "polys"):
        s = out[sect]
        nn = s.get("n_rows", n)
        if "jvm" in s:
            s["jvm_vs_json_speedup"] = round(s["json"] / s["jvm"], 2)
        if "py_kernel" in s:
            s["kernel_vs_json_speedup"] = round(s["json"] / s["py_kernel"], 2)
            s["py_kernel_ns_per_feature"] = round(s["py_kernel"] / nn * 1e9, 1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
