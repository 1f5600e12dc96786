"""Scale stress for the exact segment-intersection join.

Mints N clustered walk polylines entirely with SQL expressions
(spark.range → cluster_points_from with density-preserving n_clusters →
walk_lines_from), runs operators/spatial_join.segment_xing_join at two
parallelism levels on the SAME input, and reports min-of-K walls,
throughput, and the scaling efficiency pair the north rule asks for.

Density control: n_clusters scales with N so the expected per-cell
occupancy (and therefore candidate pairs per segment) stays roughly
constant — the join's cost model is candidates, not N².

Usage: python tools/bench_segment_stress.py [N] [trials]
Defaults N=200_000 lines (1.6M segments), trials=3.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

N = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
TRIALS = int(sys.argv[2]) if len(sys.argv) > 2 else 3
CELL = 20_000_000
LEVELS = tuple(int(x) for x in os.environ.get(
    "SPARK_GRAFT_SCALE_LEVELS", "8,32").split(","))


def run(cores: int) -> dict:
    import pyspark
    from pyspark.sql import functions as F

    from geobuf_spark.operators import spatial_join as sj
    from geobuf_spark.sources import minted

    spark = (pyspark.sql.SparkSession.builder.master(f"local[{cores}]")
             .appName(f"segstress_{cores}")
             .config("spark.sql.shuffle.partitions", str(max(cores, 16)))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        n_clusters = max(37, N // 14)  # ~14 lines/cluster like the fixture
        ids = spark.range(N).select(F.col("id").alias("doc_id"))
        wl = minted.walk_lines_from(
            minted.cluster_points_from(ids, n_clusters=n_clusters), k=9)
        out = sj.segment_xing_join(wl, cell=CELL, k=9)
        # warmup (codegen + broadcast thresholds), then min-of-K
        n_pairs = out.count()
        walls = []
        for _ in range(TRIALS):
            t0 = time.time()
            n_pairs = out.count()
            walls.append(time.time() - t0)
        w = min(walls)
        return {"wall_sec": round(w, 3), "walls": [round(x, 3) for x in walls],
                "lines_per_sec": round(N / w), "xing_pairs": n_pairs,
                "n_clusters": n_clusters}
    finally:
        spark.stop()


def main():
    load0 = open("/proc/loadavg").read().split()[0]
    res = {lvl: run(lvl) for lvl in LEVELS}
    lo, hi = res[LEVELS[0]], res[LEVELS[1]]
    speedup = lo["wall_sec"] / hi["wall_sec"]
    print(json.dumps({
        "metric": f"segment_xing_join stress, {N} lines ({N * 8} segments)",
        "n_lines": N, "trials": TRIALS, "loadavg_at_start": load0,
        f"local{LEVELS[0]}": lo, f"local{LEVELS[1]}": hi,
        "speedup": round(speedup, 3),
        "efficiency": round(speedup / (LEVELS[1] / LEVELS[0]), 4),
    }))


if __name__ == "__main__":
    main()
