"""Cold-cache, IO-throttled codec scan bench — the bytes-moved win, measured.

The reference's 18x-read claim (README.md:6) is about *scan-bound* reads:
its corpus streams from disk, so halving the bytes halves the wall. The
per-round sandbox benches can't show that — every parquet byte is in page
cache, so reads are pure CPU and geobuf's 2.6x parquet-byte advantage is
invisible. This tool reproduces the deployment regime instead:

  1. writes the roads-shape corpus (~40-vertex LineStrings, the shape of
     the reference's CA/WV roads benchmark) as geobuf-parquet and
     JSON-parquet;
  2. evicts both from page cache with posix_fadvise(DONTNEED) before every
     trial (verified by a raw-read control that times a plain sequential
     read of the evicted files);
  3. caps device read bandwidth with a *child* cgroup-v1 blkio throttle
     (the Spark driver + JVM + python workers all live in the child
     cgroup; the host's root cgroup is never touched) to a stated budget
     — default 100 MB/s, the low end of the 100-400 MB/s/node S3/HDFS
     scan rates BENCH/BASELINE.md argues from;
  4. runs the same fused scan+decode aggregates bench.py uses
     (decode_lines_agg vs whole-stage-codegen from_json) and reports
     min-of-N wall for both.

Root is required (cgroup writes). The throttle is cleared and the child
cgroup removed on exit; a finally-block also moves this process back to
the root cgroup so a crash can't leave the throttle applied to anything.

Usage: sudo python tools/bench_cold_scan.py [--lines 800000] [--bps 100e6]
       [--trials 3] [--cores 32]
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

BLKIO_ROOT = "/sys/fs/cgroup/blkio"
CG_NAME = "gb_cold_bench"


def _dev_of(path: str) -> str:
    """major:minor of the whole disk backing `path` (blkio v1 throttles
    only accept whole-device ids; on this sandbox /root/repo is vda=254:0)."""
    st = os.stat(path)
    return f"{os.major(st.st_dev)}:0"


class BlkioThrottle:
    """Child-cgroup read-bandwidth cap; context-managed so it can never
    outlive the bench (clears the limit, migrates us out, rmdirs)."""

    def __init__(self, dev: str, bps: int):
        self.cg = os.path.join(BLKIO_ROOT, CG_NAME)
        self.dev = dev
        self.bps = bps

    def __enter__(self):
        os.makedirs(self.cg, exist_ok=True)
        with open(os.path.join(self.cg, "blkio.throttle.read_bps_device"), "w") as f:
            f.write(f"{self.dev} {self.bps}")
        # children (JVM, python workers) inherit membership on fork/exec
        with open(os.path.join(self.cg, "cgroup.procs"), "w") as f:
            f.write(str(os.getpid()))
        return self

    def __exit__(self, *exc):
        try:
            with open(os.path.join(self.cg, "blkio.throttle.read_bps_device"), "w") as f:
                f.write(f"{self.dev} 0")
        finally:
            with open(os.path.join(BLKIO_ROOT, "cgroup.procs"), "w") as f:
                f.write(str(os.getpid()))
        # long-lived children (the JVM) keep the cgroup busy until Spark
        # stops; by the time we exit spark.stop() has run, but retry anyway
        for _ in range(10):
            try:
                os.rmdir(self.cg)
                return
            except OSError:
                time.sleep(0.5)


def evict(root: str) -> int:
    """Drop every file under `root` from page cache; returns bytes evicted.
    Dirty pages can't be dropped, so callers sync first."""
    total = 0
    for f in Path(root).rglob("*"):
        if not f.is_file():
            continue
        fd = os.open(f, os.O_RDONLY)
        try:
            os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
            total += f.stat().st_size
        finally:
            os.close(fd)
    return total


def warm_workers(spark, cores: int) -> None:
    """Fork + import the full python-worker pool right before a timed trial.

    Spark's PythonWorkerFactory reaps idle workers between trials, and a
    re-fork is a cores-wide numpy/pyarrow import storm that runs *through
    the throttled device* (~20 s at 100 MB/s) — measured to dominate every
    geobuf trial while the pure-JVM JSON path never pays it. On a real
    cluster executors (and their worker pools) live for hours, so the
    storm is a sandbox artifact; re-warming the pool immediately before
    each trial excludes it from the timed window without touching the
    evicted corpus files."""

    def _noop(batches):
        # preload the decode kernel's import graph (numpy/pyarrow) so the
        # first real trial doesn't stream site-packages through the throttle
        import geobuf_spark.codec.spark_codec  # noqa: F401

        for b in batches:
            yield b

    spark.range(cores * 4, numPartitions=cores).mapInArrow(_noop, "id long").count()


def raw_read(root: str, bufsize: int = 1 << 20) -> tuple[float, int]:
    """Sequential read of every file (the throttle/eviction control)."""
    t0 = time.time()
    n = 0
    for f in sorted(Path(root).rglob("*")):
        if not f.is_file():
            continue
        with open(f, "rb", buffering=0) as fh:
            while True:
                b = fh.read(bufsize)
                if not b:
                    break
                n += len(b)
    return time.time() - t0, n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--lines", type=int, default=800_000)
    ap.add_argument("--bps", type=float, default=100e6)
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--workdir", default="/root/repo/.bench_cold")
    args = ap.parse_args()

    sys.path.insert(0, "/root/repo")
    from pyspark.sql import functions as F

    from bench import synth_lines
    from geobuf_spark.codec import spark_codec
    from geobuf_spark.session import get_spark

    dev = _dev_of(args.workdir if os.path.exists(args.workdir) else "/root/repo")

    # the throttle must be entered BEFORE the SparkSession exists: cgroup
    # membership is inherited on fork/exec, never retrofitted — a JVM (or
    # python daemon worker) born outside the cgroup reads at full disk
    # speed forever. Page-cache hits bypass blkio entirely, so the warm
    # corpus build + warmup inside the throttle cost nothing extra.
    with BlkioThrottle(dev, int(args.bps)):
        # right-size file packing for the small sandbox corpus: the default
        # 128 MB maxPartitionBytes folds the whole 159 MB geobuf side into
        # ~3 scan partitions, serializing decode onto 3 cores — a corpus-
        # size artifact (a 100 TB table has thousands of row groups). 8 MB
        # bins ≈ one ~5 MB part file per partition on both sides.
        # 5k-row Arrow batches: blkio's token bucket banks no credit while a
        # scan task is blocked handing a batch to python, so 50k-row (≈10 MB)
        # handoffs turn the read stream bursty and starve it to ~8 MB/s of a
        # 100 MB/s budget (measured). Small batches keep reads continuous —
        # the role column-chunk prefetch plays in real object-store readers.
        spark = get_spark(
            "cold_scan", cores=args.cores, shuffle_partitions=args.cores,
            extra={"spark.sql.files.maxPartitionBytes": "8m",
                   "spark.sql.files.openCostInBytes": "1m",
                   "spark.sql.execution.arrow.maxRecordsPerBatch": "5000"})
        try:
            _run(spark, args, dev)
        finally:
            spark.stop()


def _run(spark, args, dev: str) -> None:
    from pyspark.sql import functions as F

    from bench import synth_lines
    from geobuf_spark.codec import spark_codec

    gb_dir = f"{args.workdir}/geobuf"
    js_dir = f"{args.workdir}/json"
    lines = synth_lines(spark, args.lines)
    # 32 part files per side: a real table would be many-file; also keeps
    # the scan stage wide so decode overlaps the throttled IO stream
    spark_codec.encode_lines(lines).repartition(args.cores) \
        .write.mode("overwrite").parquet(gb_dir)
    lines.select("line_id", F.to_json(F.struct("line_id", "coords")).alias("j")) \
        .repartition(args.cores).write.mode("overwrite").parquet(js_dir)
    os.sync()  # fadvise can't evict dirty pages

    def geobuf_scan():
        return spark_codec.decode_lines_agg(
            spark.read.parquet(gb_dir)).collect()[0][0]

    def json_scan():
        parsed = spark.read.parquet(js_dir).select(
            F.from_json("j", "line_id bigint, coords array<double>").alias("s"))
        return parsed.agg(F.count("*"), F.sum(F.size("s.coords")),
                          F.sum(F.element_at("s.coords", 1))).collect()[0][0]

    sizes = {side: sum(f.stat().st_size for f in Path(d).rglob("*.parquet"))
             for side, d in [("geobuf", gb_dir), ("json", js_dir)]}

    # warm-path warmup OUTSIDE the throttle: pays python-worker fork,
    # codegen, and parquet-footer caching so trials measure data IO+decode
    assert geobuf_scan() == args.lines and json_scan() == args.lines

    out = {"lines": args.lines, "bps_budget": args.bps, "cores": args.cores,
           "parquet_bytes": sizes, "trials": args.trials}

    # control: prove eviction+throttle — a plain sequential read of the
    # evicted json files must run at ~the budget, not page-cache speed
    os.sync()
    evict(js_dir)
    secs, nbytes = raw_read(js_dir)
    out["control_raw_read"] = {
        "bytes": nbytes, "secs": round(secs, 3),
        "mbps": round(nbytes / secs / 1e6, 1)}

    results = {"geobuf_scan": [], "json_scan": []}
    for _ in range(args.trials):
        for name, fn in [("json_scan", json_scan), ("geobuf_scan", geobuf_scan)]:
            warm_workers(spark, args.cores)
            os.sync()
            evict(gb_dir)
            evict(js_dir)
            t0 = time.time()
            n = fn()
            results[name].append(round(time.time() - t0, 3))
            assert n == args.lines
    out["cold_throttled"] = {k: {"runs": v, "min": min(v)} for k, v in results.items()}
    out["advantage"] = round(
        out["cold_throttled"]["json_scan"]["min"]
        / out["cold_throttled"]["geobuf_scan"]["min"], 2)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
