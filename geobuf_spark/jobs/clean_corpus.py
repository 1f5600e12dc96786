"""Training-corpus cleaning job: the classic web-text pipeline —
lang filter → source-mirror gate → exact dedup → MinHash near-dup removal
→ duplicated-span gate (exact-substring proxy) → quality gate —
as one spark-submit job with stage metrics, partition lineage, and
same-run-id resume (the same ops contract as jobs.tile_pages).

    spark-submit --py-files geobuf_spark.zip geobuf_spark/jobs/clean_corpus.py \
        --sf-dir /root/testdata/sf0.1 --out /tmp/corpus_out --run-id run-1

Scale notes (10^12 docs):
- the exact-dedup groupBy is map-side combinable (distinct hashes shuffle,
  not rows);
- near-dup candidates come from the LSH band join (linear-ish), never an
  all-pairs compare; survivors are each cluster's MIN doc_id via
  `near_dup_components` (pointer-jumping min-label propagation,
  O(log diameter) small-aggregate rounds — near-dup graphs are tiny
  stars/chains);
- every stage's row counts land in `_metrics`, making shrinkage auditable
  per run — the lineage a data-curation pipeline has to carry.
"""

from __future__ import annotations

import argparse
import sys


def run_job(spark, sf_dir: str, out: str, run_id: str, *,
            min_tokens: int = 10, jaccard: float = 0.8,
            max_dup_span: float = 0.9, mirror_jaccard: float = 0.5) -> dict:
    from pyspark.sql import functions as F

    from geobuf_spark.functions import text as TXT
    from geobuf_spark.operators import dedup
    from geobuf_spark.ops import lineage
    from geobuf_spark.sources.tables import widen

    if run_id in lineage.committed_runs(out):
        return {"commit": {"status": "already_committed", "run_id": run_id},
                "rows": None}

    ctx = lineage.JobContext(spark, out, "clean_corpus", run_id=run_id)

    with ctx.stage("load") as t:
        docs = widen(spark.read.parquet(f"{sf_dir}/documents.parquet"), spark)
        n0 = docs.count()
        t.set_counts(rows_out=n0)

    with ctx.stage("lang_filter") as t:
        kept = docs.filter(F.col("lang").isin("en", "de", "fr", "es", "zh"))
        n1 = kept.count()
        t.set_counts(rows_in=n0, rows_out=n1)

    with ctx.stage("mirror_gate") as t:
        # source-level mirror removal — MUST run before exact dedup, which
        # would collapse the very cross-source duplicates that reveal the
        # mirror. If source B's content-fingerprint set overlaps source
        # A's at Jaccard >= mirror_jaccard, ALL of B's docs are dropped
        # (including the near-mirror tail exact dedup can't see); the
        # lexicographically smaller source survives as canonical.
        # dedup.mirror_pairs is the one implementation this stage shares
        # with the host_mirrors query.
        # round(), not int(): 0.3 * 1e6 is 299999.99999999994 in binary and
        # truncation would loosen the user's threshold by 1 ppm
        pairs = dedup.mirror_pairs(kept, group="source",
                                   j_min_ppm=round(mirror_jaccard * 1_000_000))
        mirrors = pairs.select(F.col("g_b").alias("source")).distinct()
        kept = kept.join(F.broadcast(mirrors), "source", "left_anti") \
            .localCheckpoint(eager=False)
        n1b = kept.count()
        t.set_counts(rows_in=n1, rows_out=n1b)

    with ctx.stage("exact_dedup") as t:
        reps = dedup.dedup_exact(kept, key="doc_id")
        kept = kept.join(reps.select(F.col("rep_id").alias("doc_id")), "doc_id", "left_semi")
        # checkpoint the funnel: later stages (and their counts) must not
        # re-run the whole prefix pipeline per action
        kept = kept.localCheckpoint(eager=False)
        n2 = kept.count()
        t.set_counts(rows_in=n1b, rows_out=n2)

    with ctx.stage("near_dedup") as t:
        pairs = dedup.minhash_lsh_pairs(kept, key="doc_id",
                                        jaccard_threshold=jaccard)
        # connected components → keep each near-dup cluster's MIN doc_id
        # (pairwise greatest-drop keeps local minima: for pairs (1,3),(2,3)
        # both 1 and 2 would survive one cluster)
        comp = dedup.near_dup_components(pairs)
        drop = comp.filter(F.col("doc_id") != F.col("rep_id")).select("doc_id")
        kept = kept.join(drop, "doc_id", "left_anti").localCheckpoint(eager=False)
        n3 = kept.count()
        t.set_counts(rows_in=n2, rows_out=n3)

    with ctx.stage("span_dedup_gate") as t:
        # exact-substring proxy: drop survivors that are mostly made of
        # 8-gram spans shared with other surviving docs (boilerplate-heavy
        # pages that near-dedup's whole-doc similarity can't see). Docs
        # shorter than the span width emit no stats row and pass through —
        # the token-length quality gate below owns that regime.
        spans = dedup.dup_span_stats(kept, key="doc_id")
        heavy = spans.filter(F.col("dup_span_frac") > max_dup_span) \
            .select("doc_id")
        kept = kept.join(heavy, "doc_id", "left_anti").localCheckpoint(eager=False)
        n3b = kept.count()
        t.set_counts(rows_in=n3, rows_out=n3b)

    with ctx.stage("quality_gate") as t:
        scored = TXT.quality_columns(kept)
        kept = scored.filter(F.col("n_tokens") >= min_tokens) \
            .select("doc_id", "lang", "text", "n_tokens", "n_uniq_tokens")
        n4 = kept.count()
        t.set_counts(rows_in=n3b, rows_out=n4)

    with ctx.stage("commit") as t:
        entry = lineage.commit_output(
            kept, out, run_id=run_id, partition_cols=["lang"], lineage_key="doc_id",
        )
        t.set_counts(rows_in=n4)

    ctx.flush_metrics()
    return {"commit": entry, "rows": {"input": n0, "lang": n1,
                                      "mirror": n1b, "exact": n2,
                                      "near": n3, "span": n3b,
                                      "quality": n4}}


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--min-tokens", type=int, default=10)
    ap.add_argument("--jaccard", type=float, default=0.8)
    ap.add_argument("--max-dup-span", type=float, default=0.9)
    ap.add_argument("--mirror-jaccard", type=float, default=0.5)
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)

    from geobuf_spark.session import get_spark

    spark = get_spark("clean_corpus", cores=args.cores)
    try:
        result = run_job(spark, args.sf_dir, args.out, args.run_id,
                         min_tokens=args.min_tokens, jaccard=args.jaccard,
                         max_dup_span=args.max_dup_span,
                         mirror_jaccard=args.mirror_jaccard)
        print(result)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
