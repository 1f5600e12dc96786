"""Production job: pages → geobuf → PIP join → tiled output, with
partition-level lineage, stage metrics, and checkpoint/resume.

Run via spark-submit (the deployment shape mandated by the north rule):

    spark-submit --py-files geobuf_spark.zip geobuf_spark/jobs/tile_pages.py \
        --n-pages 1000000 --sf-dir /root/testdata/sf0.1 \
        --out /tmp/tiles_out --zoom 9 --run-id run-2026-08-16

Semantics:
- every stage appends a `_metrics` row (rows in/out, wall sec);
- the tiled output commits atomically under `<out>/data` with one
  `_lineage` row per (z,x,y) partition (count + content xor fingerprint);
- re-running with the same --run-id after success is a no-op; after a
  crash it resumes cleanly (staging is discarded, output rebuilt, a
  single manifest entry marks the commit point).
"""

from __future__ import annotations

import argparse
import sys


def run_job(spark, n_pages: int, sf_dir: str, out: str, zoom: int, run_id: str) -> dict:
    from pyspark.sql import functions as F

    from geobuf_spark.codec import spark_codec
    from geobuf_spark.operators import spatial_join as sj
    from geobuf_spark.operators import tiling
    from geobuf_spark.ops import lineage
    from geobuf_spark.plans import strategy
    from geobuf_spark.sources import minted, pages

    # documented contract: same-run-id rerun after success is a NO-OP —
    # short-circuit before any work, and append no duplicate metrics
    if run_id in lineage.committed_runs(out):
        return {"commit": {"status": "already_committed", "run_id": run_id},
                "join_plan": "skipped (already committed)", "rows_joined": None}

    ctx = lineage.JobContext(spark, out, "tile_pages", run_id=run_id)

    with ctx.stage("synthesize_pages") as t:
        p = pages.with_minted_geometry(pages.pages(spark, n_pages))
        t.set_counts(rows_out=n_pages)

    with ctx.stage("codec_roundtrip") as t:
        pts = spark_codec.roundtrip_points(
            p.select("page_id", "lon", "lat"), id_col="page_id"
        ).select(
            F.col("page_id").alias("doc_id"),
            (F.col("lon_q") / 1e7).alias("lon"),
            (F.col("lat_q") / 1e7).alias("lat"),
        ).localCheckpoint(eager=True)  # eager: the codec pass EXECUTES in
        # this stage, so its wall_sec lands here instead of being absorbed
        # by the join stage's first action (and join/commit reuse it)
        t.set_counts(rows_in=n_pages)

    with ctx.stage("pip_join") as t:
        rects = minted.minted_rects(spark, sf_dir)
        plan = strategy.choose_strategy(pts, rects, z=zoom - 2)
        joined = sj.pip_join(pts, rects, z=zoom - 2, strategy=plan.strategy) \
            .localCheckpoint(eager=False)  # counted here, committed next stage
        n_joined = joined.count()
        t.set_counts(rows_in=n_pages, rows_out=n_joined)

    with ctx.stage("tile_assign_commit") as t:
        assigned = tiling.assign_tiles_points(joined, z=zoom) \
            .select("doc_id", "poly_id", "lon", "lat", "z", "x", "y")
        entry = lineage.commit_output(
            assigned, out, run_id=run_id,
            partition_cols=["z", "x", "y"], lineage_key="doc_id",
        )
        t.set_counts(rows_in=n_joined)

    ctx.flush_metrics()
    return {"commit": entry, "join_plan": plan.reason, "rows_joined": n_joined}


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-pages", type=int, default=100_000)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", required=True)
    ap.add_argument("--zoom", type=int, default=9)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)

    from geobuf_spark.session import get_spark

    spark = get_spark("tile_pages", cores=args.cores)
    try:
        result = run_job(spark, args.n_pages, args.sf_dir, args.out, args.zoom, args.run_id)
        print(result)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
