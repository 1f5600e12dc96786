"""Skew study: planted hot cell, broadcast vs shuffle-hash with AQE skew-join.

Sweeps the hot-cell share {0.2, 0.6, 0.9} over three build sides: the
sf0.01 minted rectangles (2k) at z7, the sf0.1 rectangles (20k) at z7 and
the sf0.1 rectangles at z9, whose cover exceeds the planner's 5M-row
broadcast budget. `n_probe` points are planted per point, `hot share` of
them inside one cell at the join zoom, the rest spread uniformly. Each
repetition runs every leg once, in rotated order, so no leg always runs
first or last; every leg that completes must return the same row count.
A leg that fails (say, a broadcast over the driver's memory) is recorded
with its error and not run again at that point. `LEGS` names the legs
by their `pip_join` arguments. Each point's result is also printed to
stderr as one JSON line when it completes.

Session: `session.get_spark` with nproc // 2 cores and an 8g driver.

Usage: python tools/bench_skew.py TESTDATA_ROOT [n_probe] [reps] > out.json
  TESTDATA_ROOT holds sf0.01/ and sf0.1/ (documents.parquet).
  Defaults: n_probe 8_000_000, reps 2. Prints one JSON document.
"""
from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from py4j.protocol import Py4JJavaError  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from geobuf_spark.operators import spatial_join as sj  # noqa: E402
from geobuf_spark.plans import strategy as strat  # noqa: E402
from geobuf_spark.session import get_spark  # noqa: E402
from geobuf_spark.sources import minted  # noqa: E402

BUILDS = [("sf0.01", 7), ("sf0.1", 7), ("sf0.1", 9)]
HOT_SHARES = (0.2, 0.6, 0.9)


def hot_tile(z: int) -> tuple[int, int]:
    """The planted cell: inside z7 tile (70, 50), at zoom z."""
    return 70 << (z - 7), 50 << (z - 7)


def planted_points(spark, n_probe: int, hot_share: float, z: int):
    """(doc_id, lon, lat): `hot_share` of rows land in one z-cell, the rest
    spread uniformly. Deterministic (no RNG) so every run is bit-for-bit."""
    n_hot = int(n_probe * hot_share)
    x, y = hot_tile(z)
    n = float(1 << z)
    west, east = x * 360.0 / n - 180.0, (x + 1) * 360.0 / n - 180.0
    south = math.degrees(math.atan(math.sinh(math.pi * (1 - 2.0 * (y + 1) / n))))
    north = math.degrees(math.atan(math.sinh(math.pi * (1 - 2.0 * y / n))))
    # shrink 1% from the edges so every planted row snaps inside the tile
    west, east = west + 0.01 * (east - west), east - 0.01 * (east - west)
    south, north = south + 0.01 * (north - south), north - 0.01 * (north - south)
    frac = (F.col("doc_id") * 2654435761 % 1_000_003) / 1_000_003.0
    frac2 = (F.col("doc_id") * 40503 % 999_983) / 999_983.0
    hot = F.col("doc_id") < n_hot
    lon = F.when(hot, west + frac * (east - west)).otherwise(-180.0 + frac * 360.0)
    lat = F.when(hot, south + frac2 * (north - south)).otherwise(-85.0 + frac2 * 170.0)
    return (spark.range(n_probe).withColumnRenamed("id", "doc_id")
            .select("doc_id", lon.alias("lon"), lat.alias("lat")))


LEGS = {"broadcast": {"strategy": "broadcast"},
        "shuffle": {"strategy": "shuffle"}}


def loadavg() -> list[float]:
    return [round(v, 2) for v in os.getloadavg()]


def sweep_point(spark, root: str, sf: str, z: int, hot_share: float,
                n_probe: int, reps: int) -> dict:
    rects = minted.minted_rects(spark, f"{root}/{sf}").localCheckpoint()
    pts = planted_points(spark, n_probe, hot_share, z).localCheckpoint()
    names = list(LEGS)
    walls = {name: [] for name in names}
    counts, failed = {}, {}
    for r in range(reps):
        for name in names[r % len(names):] + names[:r % len(names)]:
            if name in failed:
                continue
            t0 = time.monotonic()
            try:
                n = sj.pip_join(pts, rects, z=z, **LEGS[name]).count()
            except Py4JJavaError as e:
                failed[name] = str(e.java_exception.getMessage())[:200]
                print(f"{sf} z{z} hot {hot_share} {name}: failed", file=sys.stderr)
                continue
            counts.setdefault(name, set()).add(n)
            walls[name].append(round(time.monotonic() - t0, 2))
            print(f"{sf} z{z} hot {hot_share} {name}: {walls[name][-1]} s",
                  file=sys.stderr)
    rows = {c for cs in counts.values() for c in cs}
    if len(rows) != 1:
        raise SystemExit(f"legs return different row counts: {counts}")
    out = {"build": f"{sf} rects", "z": z, "hot_share": hot_share,
           "cover_rows": strat.estimate_cover_rows(rects, z),
           "rows": rows.pop(), "legs": LEGS, "loadavg": loadavg(),
           "wall_sec": walls, "failed": failed,
           "min_sec": {k: min(v) for k, v in walls.items() if v}}
    print(json.dumps(out), file=sys.stderr)
    pts.unpersist()
    rects.unpersist()
    return out


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    root = sys.argv[1]
    n_probe = int(sys.argv[2]) if len(sys.argv) > 2 else 8_000_000
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    nproc = len(os.sched_getaffinity(0))
    cores = max(1, nproc // 2)
    spark = get_spark("bench_skew", cores=cores,
                      extra={"spark.driver.memory": "8g"})
    spark.sparkContext.setLogLevel("ERROR")
    head = subprocess.run(["git", "-C", str(REPO), "rev-parse", "--short", "HEAD"],
                          capture_output=True, text=True).stdout.strip()
    doc = {"head": head, "nproc": nproc, "master": f"local[{cores}]",
           "driver_memory": "8g", "n_probe": n_probe, "reps": reps,
           "loadavg_start": loadavg(), "points": []}
    for sf, z in BUILDS:
        for share in HOT_SHARES:
            doc["points"].append(
                sweep_point(spark, root, sf, z, share, n_probe, reps))
    doc["loadavg_end"] = loadavg()
    print(json.dumps(doc, indent=1))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
