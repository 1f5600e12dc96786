"""Measurement plumbing shared by every workload: spans, the closed-loop op
driver, per-op Spark job/task counts and CPU seconds, the RSS sampler and the
host header.

Nothing here knows about geobuf_spark; workloads.py calls the engine.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def now() -> float:
    return time.perf_counter()


class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory.

    Disabled tracers record nothing, so the untraced run pays one
    attribute test per layer boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "start": now(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op": op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = now()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Per span: its duration minus the time its children cover.
        Children of one span run one after another, so their durations add."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, child)]

    def coverage(self, op_walls_s: float) -> float:
        """Share of the traced ops' wall spent inside layer spans (dotted
        names), by self time. Spans outside the loop's ops do not count."""
        st = self.self_times()
        inside = sum(t for s, t in zip(self.spans, st)
                     if "." in s["name"] and s["op"].startswith("op"))
        return inside / op_walls_s

    def layer_self_s(self, name: str) -> list[float]:
        """Self time of every span called `name`, one value per span."""
        st = self.self_times()
        return [st[i] for i, s in enumerate(self.spans) if s["name"] == name]


def _proc_stat(pid: int) -> list[str] | None:
    """The fields of /proc/<pid>/stat after the command name, or None if
    there is no such process. The name may hold spaces: fields resume after
    the last ')'. Field 1 is the parent pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def process_tree(root: int) -> set[int]:
    """`root` and every process below it, zombies included."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _proc_stat(int(d))
            if st is not None:
                parent[int(d)] = int(st[1])
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def tree_cpu_s(root: int) -> float:
    """CPU seconds, user and system, used by `root` and every process below
    it, counting the children they have reaped."""
    ticks = 0
    for pid in process_tree(root):
        st = _proc_stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident memory of the Spark JVM and every process under it
    (the Python workers), sampled from /proc on a background thread."""

    def __init__(self, root_pid: int, period_s: float = 0.2):
        self.root = root_pid
        self.period = period_s
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss_kib(self) -> int:
        total = 0
        for pid in process_tree(self.root):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def _loop(self):
        while not self._stop.wait(self.period):
            self.sample()

    def sample(self):
        self.peak_kib = max(self.peak_kib, self._tree_rss_kib())

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mib(self) -> float:
        return self.peak_kib / 1024.0


@dataclass
class Call:
    """One checked call inside an op: its kind, wall time, work items,
    whether it raised or failed its output check, and the CPU seconds the
    Spark processes used during it."""
    op: str
    kind: str
    wall_s: float
    items: int
    ok: bool
    error: str | None = None
    cpu_s: float = 0.0


@dataclass
class Loop:
    """Closed loop, one client: the next op starts only when the previous
    one has finished. An op is a list of calls; each call is timed on its
    own and checked after its timer stops."""
    sc: object
    tracer: Tracer
    calls: list[Call] = field(default_factory=list)
    op_walls: list[float] = field(default_factory=list)
    op_cpus: list[float] = field(default_factory=list)
    groups: list[str] = field(default_factory=list)

    def call(self, op: str, kind: str, fn, check, items: int):
        """fn() -> output, timed; check(output) -> None or raises, untimed.
        Spark jobs the check runs go to their own job group, so they are not
        counted against the op."""
        jvm = self.sc._gateway.proc.pid
        c0 = tree_cpu_s(jvm)
        t0 = now()
        try:
            with self.tracer.span(kind, op):
                out = fn()
        except Exception as e:  # a failed op is counted, the run goes on
            self.calls.append(Call(op, kind, now() - t0, items, False, repr(e)[:300]))
            return None
        wall = now() - t0
        cpu = tree_cpu_s(jvm) - c0
        self.sc.setJobGroup(f"{op}-check", "output check")
        try:
            check(out)
        except Exception as e:
            self.calls.append(Call(op, kind, wall, items, False, repr(e)[:300], cpu))
            return out
        finally:
            self.sc.setJobGroup(op, op)
        self.calls.append(Call(op, kind, wall, items, True, cpu_s=cpu))
        return out

    def run(self, seconds: float, op_fn, traced=lambda i: False, min_ops: int = 1):
        """Run op_fn(op_id, i) until `seconds` are used. A new op starts only
        if the median op so far would still end inside the window. Ops for
        which traced(i) holds record spans. An op's wall is the sum of its
        calls' timed walls; checks and clean-up between calls are not in it."""
        t_start = now()
        elapsed: list[float] = []
        i = 0
        while True:
            op = f"op{i}"
            self.sc.setJobGroup(op, op)
            self.tracer.enabled = traced(i)
            t0 = now()
            first = len(self.calls)
            with self.tracer.span("op", op):
                op_fn(op, i)
            elapsed.append(now() - t0)
            self.op_walls.append(sum(c.wall_s for c in self.calls[first:]))
            self.op_cpus.append(sum(c.cpu_s for c in self.calls[first:]))
            self.groups.append(op)
            i += 1
            if i >= min_ops and now() - t_start + statistics.median(elapsed) > seconds:
                break
        self.tracer.enabled = False
        self.sc.setJobGroup("idle", "idle")
        return now() - t_start

    def walls(self, kind: str) -> list[float]:
        return [c.wall_s for c in self.calls if c.kind == kind and c.ok]

    def job_task_counts(self) -> tuple[list[int], list[int]]:
        """Spark jobs and completed tasks per op, from each op's job group."""
        st = self.sc.statusTracker()
        jobs, tasks = [], []
        for g in self.groups:
            ids = st.getJobIdsForGroup(g)
            n_tasks = 0
            for j in ids:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    si = st.getStageInfo(s)
                    n_tasks += si.numCompletedTasks if si else 0
            jobs.append(len(ids))
            tasks.append(n_tasks)
        return jobs, tasks


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float], min_beyond: int = 10) -> tuple[float, int]:
    """The highest whole percentile with at least `min_beyond` samples
    above it, and its value (nearest rank); (nan, 0) if there is none."""
    n = len(xs)
    if n <= min_beyond:
        return float("nan"), 0
    s = sorted(xs)
    pct = int(100 * (n - min_beyond) / n)
    rank = max(1, -(-pct * n // 100))  # ceil(pct * n / 100)
    return s[rank - 1], pct


def host_header(root: str) -> dict:
    """Where and on what a result was measured."""
    def _git_head():
        if not os.path.exists(os.path.join(root, ".git")):
            return None  # an exported tree; do not report an enclosing repo
        try:
            out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                                 capture_output=True, text=True, timeout=10)
            return out.stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            return None

    def _java():
        try:
            out = subprocess.run(["java", "-version"], capture_output=True,
                                 text=True, timeout=30)
        except (OSError, subprocess.SubprocessError):
            return None
        # the JVM prints "Picked up JAVA_TOOL_OPTIONS ..." before the version
        lines = [l for l in (out.stderr or out.stdout).splitlines()
                 if not l.startswith("Picked up")]
        return lines[0] if lines else None

    import duckdb
    import pyarrow
    import pyspark
    return {
        "git_head": _git_head(),
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(),
        "spark": pyspark.__version__,
        "java": _java(),
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }
