"""Flagship stress harness: big-N legs + a forced NON-broadcast leg.

VERDICT r3 #9: prove the pipeline holds past the 20M stress point and
that the flagship survives losing its broadcast join — the 100 TB regime
where the rectangle side outgrows the broadcast budget and
`plans.strategy.choose_strategy` must route the PIP join through the
shuffle path (AQE backstop on).

Legs (each min-of-`trials` in ONE session, per-trial loadavg recorded):
  broadcast  — the stock flagship (pages → mint → geobuf encode→decode
               in the JVM → PIP join vs sf rects → tile assign →
               histogram), identical to bench.py's `_flagship`.
  shuffle    — same probe side, rects replicated `rect_mult`× with
               distinct poly_ids so the exploded z=7 cover exceeds the
               5M-row broadcast budget; the join goes through
               `choose_strategy` + `pip_join`, the chosen plan is printed
               and the physical plan is asserted broadcast-free.

Usage: python tools/bench_stress.py [n_pages] [trials] [rect_mult] [n_pages_shuffle]
Defaults: 50_000_000 pages, 3 trials, 16× rects, shuffle leg at n_pages/5
(the replicated build side multiplies join-output rows by rect_mult, so
the shuffle leg carries rect_mult× the refine+histogram volume per page).
"""
from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

N_PAGES = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000_000
TRIALS = int(sys.argv[2]) if len(sys.argv) > 2 else 3
RECT_MULT = int(sys.argv[3]) if len(sys.argv) > 3 else 16
N_SHUFFLE = int(sys.argv[4]) if len(sys.argv) > 4 else max(N_PAGES // 5, 1)
SF_DIR = "/root/testdata/sf0.1"


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def probe_side(spark, n_pages: int):
    from geobuf_spark.codec import spark_codec
    from geobuf_spark.sources import pages

    p = pages.with_minted_geometry(pages.pages(spark, n_pages)) \
        .select("page_id", "lon", "lat")
    dec = spark_codec.roundtrip_points(p, id_col="page_id")
    return dec.select(
        F.col("page_id").alias("doc_id"),
        (F.col("lon_q") / 1e7).alias("lon"),
        (F.col("lat_q") / 1e7).alias("lat"),
    )


def tail(joined):
    from geobuf_spark.operators import tiling
    return tiling.tile_histogram(tiling.assign_tiles_points(joined, z=9)).count()


def main() -> int:
    from geobuf_spark.operators import spatial_join as sj
    from geobuf_spark.plans import strategy as strat
    from geobuf_spark.session import get_spark
    from geobuf_spark.sources import minted

    spark = get_spark("bench_stress", cores=32,
                      extra={"spark.driver.memory": "48g"})
    spark.sparkContext.setLogLevel("ERROR")

    rects = minted.minted_rects(spark, SF_DIR).localCheckpoint()
    # replicated build side: same geometry, distinct ids — cover rows scale
    # linearly, pushing estimate_cover_rows past the broadcast budget
    big_rects = (rects.crossJoin(spark.range(RECT_MULT).withColumnRenamed("id", "_r"))
                 .select((F.col("poly_id") * RECT_MULT + F.col("_r")).alias("poly_id"),
                         "minx", "miny", "maxx", "maxy")
                 .localCheckpoint())

    plan = strat.choose_strategy(probe_side(spark, 1000), big_rects, 7)
    print(f"shuffle-leg plan: {plan.strategy} — {plan.reason}",
          file=sys.stderr)
    assert plan.strategy != "broadcast", plan

    def leg_broadcast():
        pts = probe_side(spark, N_PAGES)
        return tail(sj.pip_join(pts, rects, z=7, strategy="broadcast"))

    def leg_shuffle():
        # plan chosen once above: the build-side cover estimate is an
        # aggregate over big_rects, kept out of the timed region
        pts = probe_side(spark, N_SHUFFLE)
        return tail(sj.pip_join(pts, big_rects, z=7, strategy=plan.strategy))

    # physical-plan guard: the forced leg must not smuggle a broadcast in
    forced = sj.pip_join(probe_side(spark, 1000), big_rects, z=7,
                         strategy=plan.strategy)
    pp = forced._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in pp, "shuffle leg still broadcasts"
    join_nodes = [l.strip() for l in pp.splitlines()
                  if "Join" in l and "BroadcastNestedLoop" not in l]
    print("shuffle-leg join node:", join_nodes[0] if join_nodes else "?",
          file=sys.stderr)

    out = {"n_pages": N_PAGES, "n_pages_shuffle": N_SHUFFLE,
           "rect_mult": RECT_MULT, "sf": SF_DIR, "legs": {}}
    for name, fn, n in [("broadcast", leg_broadcast, N_PAGES),
                        ("shuffle", leg_shuffle, N_SHUFFLE)]:
        walls, loads = [], []
        for t in range(TRIALS):
            loads.append(loadavg1())
            t0 = time.monotonic()
            n_tiles = fn()
            walls.append(round(time.monotonic() - t0, 2))
            print(f"{name} trial {t}: {walls[-1]}s (loadavg {loads[-1]})",
                  file=sys.stderr)
        best = min(walls)
        out["legs"][name] = {
            "walls_sec": walls, "loadavg": loads, "min_sec": best,
            "n_pages": n, "features_per_sec": round(n / best),
            "n_hist_tiles": n_tiles,
        }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
