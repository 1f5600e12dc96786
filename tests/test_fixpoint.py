"""The iterative tier's shared mechanisms: the `iterate` round loop, the
`With` CTE composer, and PageRank as all-seed personalized PageRank."""

import re

import duckdb
import pytest
from pyspark.sql import functions as F

from geobuf_spark.operators import graph
from geobuf_spark.operators.fixpoint import (With, _checkpoint_rdd,
                                             iterate, sql_rounds)

# join nodes in pagerank_int(EDGES, iters=3)'s executed plan at the commit
# before PageRank ran through `iterate` (every round inlined)
PARENT_PAGERANK_JOINS = 9
EDGES = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"),
         ("d", "c"), ("e", "a"), ("b", "f")]


def _bump(df, _):
    return df.select((F.col("x") + 1).alias("x"))


def test_iterate_runs_exactly_rounds_without_until(spark):
    seen = []

    def step(df, r):
        seen.append(r)
        return _bump(df, r)

    out = iterate(spark.range(1).select(F.lit(0).alias("x")), step, 4)
    assert seen == [1, 2, 3, 4]
    assert out.first().x == 4


def test_iterate_stops_at_the_fixpoint(spark):
    def step(df, _):
        return df.select(F.least(F.col("x") + 1, F.lit(2)).alias("x"))

    def changed(new, old):
        return new.join(old.withColumnRenamed("x", "o"),
                        F.col("x") != F.col("o"))

    out = iterate(spark.range(1).select(F.lit(0).alias("x")), step, 5,
                  until=changed, what="clamp")
    assert out.first().x == 2


def test_iterate_raises_when_rounds_run_out(spark):
    with pytest.raises(ValueError,
                       match=r"^climb did not converge in 3 rounds$"):
        iterate(spark.range(1).select(F.lit(0).alias("x")), _bump, 3,
                until=lambda new, old: new, what="climb")


def _cached(spark, frames):
    """How many of the checkpointed frames still hold cached blocks."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    return sum(_checkpoint_rdd(df).id() in persistent for df in frames)


def test_converging_loop_keeps_one_checkpoint_cached(spark):
    """Each round's checkpoint is released once the next state is stored:
    after the loop only the returned state (and the caller's own input)
    stay cached, not one checkpoint per round."""
    states = []  # every state the loop hands to its step

    def step(df, _):
        states.append(df)
        return (df.groupBy("k")
                .agg(F.least(F.max("x") + 1, F.lit(5)).alias("x")))

    def changed(new, old):
        return new.join(old.withColumnRenamed("x", "o"), "k") \
            .filter(F.col("x") != F.col("o"))

    start = spark.range(6).select((F.col("id") % 3).alias("k"),
                                  F.lit(0).alias("x")).localCheckpoint()
    session = spark.sparkContext._jsc.getPersistentRDDs
    before = len(session())
    out = iterate(start, step, 10, until=changed, what="count up")
    # the session's cached RDDs grow by the returned state only (garbage
    # collection of unrelated frames can only lower the count)
    assert len(session()) - before <= 1
    assert len(states) == 6 and states[0] is start
    assert _cached(spark, states) == 1  # the caller's start
    assert _cached(spark, [out]) == 1
    assert sorted(out.collect()) == [(0, 5), (1, 5), (2, 5)]


def test_fixed_round_loop_releases_settled_checkpoints(spark):
    """Without `until` no round makes an action; a checkpoint is released
    once a later state is stored in full, so the result reads at most the
    last two."""
    states = []

    def step(df, _):
        states.append(df)
        return df.groupBy("k").agg((F.sum("x") + 1).alias("x"))

    start = spark.range(6).select((F.col("id") % 3).alias("k"),
                                  F.lit(0).alias("x"))
    out = iterate(start, step, 6)
    assert sorted(out.collect()) == [(0, 6), (1, 6), (2, 6)]
    assert len(states) == 6 and _cached(spark, states[1:]) <= 2


def test_converging_operators_raise_the_common_message(spark):
    # b starts at degree 3 and settles at coreness 2: one round cannot
    # reach the fixpoint
    df = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "d"),
                                ("d", "e"), ("b", "d")], ["src", "dst"])
    with pytest.raises(ValueError,
                       match=r"^coreness did not converge in 1 rounds$"):
        graph.coreness(df, max_rounds=1).collect()


def _sweep(seed: str) -> With:
    return (With().add("bfs0", f"(SELECT n AS host, 0 AS hop FROM nodes"
                               f" WHERE n = {seed})")
            .extend(sql_rounds(2, graph.sql_bfs_round())))


def test_with_rejects_a_name_reused_with_another_body():
    """Two BFS sweeps spliced under one name — the shape that once broke
    the diameter_sweep oracle — raise; identical re-adds are kept once."""
    w = (With("ed AS (SELECT 'a' AS src, 'b' AS dst)")
         .extend(graph.sql_undirected()).extend(_sweep("'a'")))
    w.extend(graph.sql_undirected()).extend(_sweep("'a'"))
    w.add("bfs0", "(SELECT n AS host, 0 AS hop FROM nodes WHERE n = 'a')")
    sql = w.select("SELECT host, hop FROM bfs2 ORDER BY host")
    assert sql.count("bfs1 AS") == 1 and sql.count("und AS") == 1
    assert duckdb.sql(sql).fetchall() == [("a", 0), ("b", 1)]
    with pytest.raises(ValueError, match="'bfs0'"):
        w.extend(_sweep("'b'"))
    with pytest.raises(ValueError, match="'adj'"):
        w.add("adj", "(SELECT 1)")


def test_pagerank_plan_adds_no_join(spark):
    """pagerank_int marks every node a seed with a literal: its executed
    plan holds no more joins than before PageRank became PPR."""
    df = spark.createDataFrame(EDGES, ["src", "dst"])
    plan = graph.pagerank_int(df, iters=3)._jdf.queryExecution() \
        .executedPlan().toString()
    joins = re.findall(r"\w+Join\b|CartesianProduct", plan)
    assert len(joins) <= PARENT_PAGERANK_JOINS, plan
