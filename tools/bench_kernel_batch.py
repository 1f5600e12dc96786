#!/usr/bin/env python
"""Batch-granularity codec comparison, single-threaded (local[1]).

The full bench's read rows are multi-core wall-clock, which mixes the
decoder's per-core rate with task scheduling. This harness pins
everything to ONE core so the two decode paths are directly comparable
per feature, for points, lines and two-ring polygons:

  json  — Spark codegen'd from_json + aggregate (the baseline)
  jvm   — gb_* Java UDF decode + aggregate (spark_codec's geometry codec)

Usage: python tools/bench_kernel_batch.py [n_rows]   (default 100000)
Prints one JSON line.
"""
from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


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

    import pyspark
    from pyspark.sql import functions as F

    spark = (pyspark.sql.SparkSession.builder.master("local[1]")
             .config("spark.sql.shuffle.partitions", "1")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    import bench
    from geobuf_spark.codec import spark_codec
    from geobuf_spark.sources import pages as P

    out = {"n_rows": n, "cores": 1, "unit": "sec (min of 3, single core)"}

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
    sec["jvm"] = best_of(lambda: spark_codec.decode_lines_agg(enc).collect())
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
    sec["jvm"] = best_of(lambda: spark_codec.decode_polygons(enc).agg(
        F.count("*"), F.sum(F.size("coords_q")),
        F.sum(F.element_at("coords_q", 1))).collect())
    out["polys"] = {k: round(v, 4) for k, v in sec.items()}
    po.unpersist(); enc.unpersist(); js.unpersist()

    for sect in ("points", "lines", "polys"):
        s = out[sect]
        s["jvm_vs_json_speedup"] = round(s["json"] / s["jvm"], 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
