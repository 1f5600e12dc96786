"""The iterative tier's two shared mechanisms: one Spark round loop and one
DuckDB CTE composer.

`iterate` owns the materialization decision every iterative operator used
to copy by hand: the state is lazily checkpointed once per round, so round
k never replays rounds 1..k-1, and a round makes at most one action (the
`until` emptiness probe, `isEmpty()`, which also materializes the lazy
checkpoint; `limit(1).count()` would add a single-partition exchange, a
second job). An eager checkpoint would add a second job per converging
round. Under adaptive execution even a lazy checkpoint runs its plan's
shuffle stages when it is taken, so a step should read its state once and
little else: a round that re-joins invariant frames re-shuffles them every
round. A step should flag the rows it changed, so that `until` is a
filter rather than a join, and should pass every row through its shuffle:
rows carried over by a plain union keep their partitions, and the state's
partition count then grows round by round. Frames that do not change
across rounds are checkpointed once, where they are built
(graph.undirected / graph.nodes), never inside the loop. A checkpoint
holds its blocks until it is released, so the loop releases its own
earlier states as soon as a later one is stored in full: what stays
cached after the loop is the state it returns (or, for a fixed round
count, the one the returned plan reads).

`With` composes the oracle twins' WITH clauses from named CTEs. Re-adding
an identical definition is a no-op, which is what lets two sweeps share
one edge set; reusing a name with a different body raises instead of
producing SQL that DuckDB rejects or, worse, silently reads the wrong
CTE. `sql_rounds` unrolls a fixed number of rounds on top of it.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame


def iterate(state: DataFrame, step: Callable, rounds: int,
            until: Callable | None = None, what: str = "iterate") -> DataFrame:
    """Run `state = step(state, r)` for r = 1..rounds and return the state.

    Without `until`, exactly `rounds` rounds run. With `until(new, old)`,
    a DataFrame that is empty once the loop has reached its fixpoint, the
    loop returns the first state whose `until` frame is empty, and raises
    ValueError when `rounds` run out first: a partial result would read as
    converged.

    Every state is lazily checkpointed except the last state of a fixed
    round loop, which only its caller reads. A step reads only the state
    it is given: the checkpoints of earlier rounds are released once a
    later state is stored in full, and the caller's `state` is never
    released."""
    held: list[DataFrame] = []  # this loop's checkpoints, oldest first
    for r in range(1, rounds + 1):
        new = step(state, r)
        if until is None and r == rounds:
            return new
        new = new.localCheckpoint(eager=False)
        done = until is not None and until(new, state).isEmpty()
        held = _release_settled(held + [new])
        if done:
            return new
        state = new
    if until is None:
        return state
    raise ValueError(f"{what} did not converge in {rounds} rounds")


def _checkpoint_rdd(df: DataFrame):
    """The JVM RDD that holds a localCheckpoint-ed frame's blocks."""
    return df._jdf.queryExecution().logical().rdd()


def _stored(df: DataFrame) -> bool:
    """Whether every partition of a checkpointed frame is stored, asked of
    the block manager master (the UI's storage status lags behind)."""
    rdd = _checkpoint_rdd(df)
    jvm = df.sparkSession.sparkContext._jvm
    master = jvm.org.apache.spark.SparkEnv.get().blockManager().master()
    return all(master.contains(jvm.org.apache.spark.storage.RDDBlockId(
        rdd.id(), i)) for i in range(rdd.getNumPartitions()))


def _release_settled(held: list[DataFrame]) -> list[DataFrame]:
    """Unpersist the checkpoints older than the newest one that is stored
    in full: that one serves its blocks and no longer reads them. Returns
    the checkpoints kept."""
    for k in range(len(held) - 1, 0, -1):
        if _stored(held[k]):
            for df in held[:k]:
                _checkpoint_rdd(df).unpersist(False)
            return held[k:]
    return held


class With:
    """The CTEs of one DuckDB WITH clause, in the order they were added.

    `With(*ctes)` starts from CTE text built elsewhere (an edge fixture such
    as `ed AS (...)`); an identical fragment is kept once. `add(name,
    body)` defines `name AS body`, where body is `(SELECT ...)` or
    `MATERIALIZED (SELECT ...)`."""

    def __init__(self, *ctes: str):
        self._defs: dict[str, str] = {}
        for text in ctes:
            self._put(text, text)

    def _put(self, key: str, text: str) -> With:
        if self._defs.setdefault(key, text) != text:
            raise ValueError(f"CTE {key!r} defined twice with different bodies")
        return self

    def add(self, name: str, body: str) -> With:
        return self._put(name, f"{name} AS {body}")

    def extend(self, other: With) -> With:
        for key, text in other._defs.items():
            self._put(key, text)
        return self

    def select(self, sql: str) -> str:
        """The full query: this WITH clause, then `sql`."""
        return "WITH " + ",\n        ".join(self._defs.values()) + "\n        " + sql


def sql_rounds(rounds: int, step: Callable[[int], Mapping[str, str]]) -> With:
    """The CTEs of `rounds` unrolled rounds: step(r) maps each name of
    round r (e.g. f"c{r}", reading f"c{r - 1}") to its body."""
    w = With()
    for r in range(1, rounds + 1):
        for name, body in step(r).items():
            w.add(name, body)
    return w
