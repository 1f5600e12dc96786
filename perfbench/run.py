#!/usr/bin/env python3
"""geobuf_spark benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. The Spark session comes from
geobuf_spark.session.get_spark on local[<nproc / 2>]. Every input is generated
from --seed inside .perfbench_work/ at the root, which the run also uses for
Spark's scratch space; spans from a traced run are kept in
.perfbench_work/spans/.

Output: a header line {"perfbench": {...}} with the host stamp, input
sizes, per-op counts and the workload's named metrics, then, as the last
line, {"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics. The exit code is 0
only if every call's output check passed.

--smoke runs every workload in both modes once at tiny sizes and asserts
that every metric is printed with its unit and every check passes.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
SETUP_REPS = 3  # input builds per run; setup_s takes their median
PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>

END_TO_END = {"op_cpu_ms": "ms", "setup_s": "s"}

PER_LAYER = {
    "sources.pages.busy_s": "s",
    "sources.pages.rows": "count",
    "codec.spark_codec.roundtrip_s": "s",
    "codec.spark_codec.decode_ns_per_feature": "ns",
    "codec.spark_codec.bbox_ns_per_feature": "ns",
    "codec.frame_bytes_per_feature": "B",
    "codec.jvm_codec.ns_per_feature": "ns",
    "sources.geobuf_file.split_s": "s",
    "sources.geobuf_file.frames": "count",
    "sources.geobuf_file.bytes_read": "B",
    "functions.tiles.cover_s": "s",
    "functions.tiles.cover_rows": "count",
    "operators.spatial_join.probe_s": "s",
    "operators.spatial_join.candidate_pairs": "count",
    "operators.spatial_join.output_rows": "count",
    "operators.spatial_join.refine_yield": "ratio",
    "operators.tiling.busy_s": "s",
    "operators.tiling.tiles": "count",
    "plans.strategy.busy_s": "s",
    "ops.lineage.commit_s": "s",
    "ops.lineage.files_written": "count",
    "ops.lineage.bytes_written": "B",
    "ops.lineage.rows_per_file": "count",
    "ops.lineage.partitions": "count",
    "registry.pagerank_hosts_s": "s",
    "registry.hits_hosts_s": "s",
    "registry.ppr_hosts_s": "s",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "reference.from_json_ns_per_feature": "ns",
    "reference.json_bytes_per_feature": "B",
    "trace.overhead_s": "s",
    "trace.coverage": "ratio",
}

# the named end-to-end metrics of each workload, printed in the header
NAMED = {
    "all": {"setup_s": "s", "op_wall_p50_ms": "ms", "peak_rss_mb": "MiB",
            "failed_op_share": "ratio"},
    "flagship": {"features_per_s": "pages/s"},
    "roads_scan": {"decode_features_per_s": "lines/s", "bbox_features_per_s": "lines/s",
                   "jvm_features_per_s": "lines/s"},
}
# printed by traced runs only: the write side and the graph pass
NAMED_TRACED = {"flagship": {"commit_rows_per_s": "rows/s", "stored_bytes_per_row": "B",
                             "lookup_p50_ms": "ms", "lookup_tail_ms": "ms"},
                "roads_scan": {"pass_s": "s"}}


def _prepare_env(work: Path) -> None:
    """Point Spark, the JVM and Python's tempfile at the work area, and make
    the repository importable here and in Spark's Python workers."""
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + pp if pp else "")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'}"
    os.environ["GEOBUF_ORACLE_SF_DIR"] = str(work)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path[:0] = [str(ROOT), str(HERE)]


def _num(v):
    return None if v is None or (isinstance(v, float) and math.isnan(v)) else v


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool,
                 size_set: str, stages: dict) -> tuple[dict, dict]:
    """Set up, warm up and measure one workload in an existing session.
    Returns (header, result)."""
    from harness import Loop, RssSampler, Tracer, host_header, median, now
    from workloads import SIZES, WORKLOADS

    header = host_header(str(ROOT))
    header.update({"workload": name, "seed": seed, "seconds": seconds,
                   "spark_cores": spark.sparkContext.defaultParallelism,
                   "trace": int(trace), "clients": 1, "loop": "closed"})
    run_dir = WORK / f"run-{name}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    tracer = Tracer(trace)
    size = SIZES[size_set][name]
    wl = WORKLOADS[name](spark, run_dir, seed, size, tracer)
    sc = spark.sparkContext
    try:
        builds = []
        for _ in range(SETUP_REPS):
            t0 = now()
            wl.build_inputs()
            builds.append(now() - t0)
        stages["inputs_s"] = builds
        warm = Loop(sc, Tracer(False))
        t0 = now()
        wl.warm_up(warm)
        stages["warm_up_s"] = now() - t0
        setup_s = (stages["session_s"] + stages["jar_s"] + median(builds)
                   + stages["warm_up_s"])

        loop = Loop(sc, tracer)
        traced_op = (lambda i: i % 2 == 1) if trace else (lambda i: False)

        def op_fn(op, i):
            wl.op(loop, op, traced=traced_op(i))

        with RssSampler(sc._gateway.proc.pid) as rss:
            window = loop.run(seconds, op_fn, traced=traced_op,
                              min_ops=2 if trace else 1)
        if trace:
            wl.after_run(loop)
        jobs, tasks = loop.job_task_counts()
        untraced = [i for i in range(len(loop.op_walls)) if not traced_op(i)]
        calls = warm.calls + loop.calls
        failed = [c for c in calls if not c.ok]
        named = {"setup_s": (setup_s, "s"),
                 "op_wall_p50_ms": (median([loop.op_walls[i] for i in untraced]) * 1e3, "ms"),
                 "peak_rss_mb": (rss.peak_mib, "MiB"),
                 "failed_op_share": (len(failed) / len(calls), "ratio")}
        named.update(wl.report(loop))
        if trace:
            layers = {k: 0 for k in PER_LAYER}
            layers.update(wl.layers(loop))
            traced_ops = [i for i in range(len(loop.op_walls)) if traced_op(i)]
            layers["spark.jobs_per_op"] = median([jobs[i] for i in untraced])
            layers["spark.tasks_per_op"] = median([tasks[i] for i in untraced])
            layers["trace.overhead_s"] = (median([loop.op_walls[i] for i in traced_ops])
                                          - median([loop.op_walls[i] for i in untraced]))
            layers["trace.coverage"] = tracer.coverage(
                sum(loop.op_walls[i] for i in traced_ops))
            metrics = {k: {"value": _num(layers[k]), "unit": u} for k, u in PER_LAYER.items()}
            spans_dir = WORK / "spans"
            spans_dir.mkdir(parents=True, exist_ok=True)
            span_file = spans_dir / f"{name}-seed{seed}.json"
            span_file.write_text(json.dumps({
                "workload": name, "seed": seed, "spans": tracer.spans,
                "self_s": tracer.self_times(), "extra": wl.extra}))
            header["span_file"] = str(span_file.relative_to(ROOT))
        else:
            e2e = {"op_cpu_ms": median([loop.op_cpus[i] for i in untraced]) * 1e3,
                   "setup_s": setup_s}
            metrics = {k: {"value": _num(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
        header.update({
            "loadavg_end": os.getloadavg(),
            "sizes": size, "setup_stages": stages, "window_s": window,
            "ops": len(loop.op_walls), "op_walls_s": loop.op_walls, "op_cpus_s": loop.op_cpus,
            "calls": {k: len(loop.walls(k)) for k in sorted({c.kind for c in loop.calls})},
            "jobs_per_op": jobs, "tasks_per_op": tasks,
            "named_metrics": {k: {"value": _num(v), "unit": u} for k, (v, u) in named.items()},
            "failures": [c.__dict__ for c in failed][:20],
            "extra": {k: v for k, v in wl.extra.items()
                      if k not in ("job_metrics", "commit_spans")},
        })
        result = {"correct": not failed, "attempted": len(calls), "failed": len(failed),
                  "metrics": metrics}
        return header, result
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _start_session(stages: dict):
    from geobuf_spark.codec import jvm_codec
    from geobuf_spark.session import get_spark

    t0 = time.perf_counter()
    # half the cores as task slots: a slot running an Arrow UDF keeps a
    # Python worker busy beside its JVM thread, so busy threads stay <= nproc
    spark = get_spark("perfbench", cores=max(1, len(os.sched_getaffinity(0)) // 2))
    stages["session_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    if not jvm_codec.register(spark):
        raise SystemExit("perfbench: the JVM codec jar could not be registered")
    stages["jar_s"] = time.perf_counter() - t0
    return spark


def _become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process, not to init,
    so _stop_spark can wait for them: the Spark launcher script leaves a
    zombie under the JVM, and Python workers can outlive their daemon."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _stop_spark() -> None:
    """Stop the Spark context, then the gateway JVM, and wait until every
    process under this one has ended. The JVM would otherwise outlive this
    process by seconds. Safe to call when no session was started."""
    from harness import process_tree
    from pyspark import SparkContext

    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # reap what the JVM left: after 10 s, SIGKILL the whole subtree
        deadline = time.monotonic() + 10
        while True:
            try:
                if os.waitpid(-1, os.WNOHANG)[0]:
                    continue
            except ChildProcessError:
                break
            if time.monotonic() > deadline:
                for pid in process_tree(os.getpid()) - {os.getpid()}:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except OSError:
                        pass
            time.sleep(0.05)


def smoke() -> int:
    """Every workload, both modes, tiny sizes, one session."""
    from workloads import WORKLOADS

    stages: dict = {}
    try:
        spark = _start_session(stages)
        for name in WORKLOADS:
            for trace in (False, True):
                header, result = run_workload(spark, name, 7, 0.5, trace, "smoke",
                                              dict(stages))
                want = PER_LAYER if trace else END_TO_END
                got = result["metrics"]
                assert set(got) == set(want), (name, trace, set(got) ^ set(want))
                for k, unit in want.items():
                    assert got[k]["unit"] == unit and "value" in got[k], (name, k)
                named = {**NAMED["all"], **NAMED[name],
                         **(NAMED_TRACED.get(name, {}) if trace else {})}
                assert {k: v["unit"] for k, v in header["named_metrics"].items()} == named
                assert result["correct"] and result["failed"] == 0, header["failures"]
                print(f"smoke ok: {name} trace={int(trace)} "
                      f"calls={result['attempted']}", flush=True)
    finally:
        _stop_spark()
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    if not (ROOT / "geobuf_spark" / "__init__.py").is_file():
        print(f"perfbench: no geobuf_spark sources under {ROOT}", file=sys.stderr)
        return 2
    _prepare_env(WORK)
    # a SIGTERM unwinds like an exception, so the Spark processes are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _become_subreaper()
    if args.smoke:
        return smoke()
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: --workload must be one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    stages: dict = {}
    try:
        spark = _start_session(stages)
        header, result = run_workload(spark, args.workload, args.seed, args.seconds,
                                      bool(args.trace), "full", stages)
    finally:
        _stop_spark()
    print(json.dumps({"perfbench": header}, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
