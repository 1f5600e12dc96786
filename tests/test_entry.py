"""Pre-flight of the driver contract: run every queries() entry and compare
against its oracle_sql() twin in DuckDB — row counts, column names, and
(order-insensitively) values. Mirrors CORRECTNESS_r{N}.json generation."""

import math
import os

import duckdb
import pytest

SF = "/root/testdata/sf0.001"
# the IVF oracle pins generation-time centroids from the parquet under
# test (oracle_sql() is called below at import time)
os.environ["GEOBUF_ORACLE_SF_DIR"] = SF

import __spark_entry__ as entry_mod  # noqa: E402


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


def normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # floats from identical IEEE arithmetic should agree bit-for-bit;
        # normalize through repr to catch drift loudly
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def df_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for row in rows:
        key = tuple(normalize(row[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_query_vs_oracle(spark, con, name):
    qdf = QUERIES[name](spark, SF)
    spark_cols = qdf.columns
    spark_rows = [tuple(r) for r in qdf.collect()]

    res = con.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(c.lower() for c in spark_cols) == sorted(c.lower() for c in duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    got = df_to_multiset([c.lower() for c in spark_cols], spark_rows)
    want = df_to_multiset([c.lower() for c in duck_cols], duck_rows)
    if got != want:
        only_got = {k: v for k, v in got.items() if want.get(k) != v}
        only_want = {k: v for k, v in want.items() if got.get(k) != v}
        sample_g = list(only_got.items())[:5]
        sample_w = list(only_want.items())[:5]
        raise AssertionError(
            f"{name}: value mismatch — {len(only_got)} spark-only / "
            f"{len(only_want)} oracle-only\nspark: {sample_g}\noracle: {sample_w}"
        )


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"z", "x", "y", "n_features", "n_polys"} <= set(df.columns)


def test_driver_window_invariants():
    """The external driver checks only the FIRST 50 queries() entries, so
    the order is explicit data in geobuf_spark/registry/window.py: every
    query has an oracle twin, and queries() follows WINDOW + QUEUE."""
    import __spark_entry__ as em
    from geobuf_spark.registry.window import QUEUE, WINDOW

    q, o = em.queries(), em.oracle_sql()
    assert set(q) == set(o), (sorted(set(q) - set(o)), sorted(set(o) - set(q)))
    assert list(q) == WINDOW + QUEUE  # dict order IS the explicit data


def test_every_oracle_binds(con):
    """DuckDB EXPLAIN binds every oracle_sql() entry (a few seconds), so a
    bind error fails here before the value comparisons run."""
    bad = {}
    for name, sql in ORACLES.items():
        try:
            con.execute("EXPLAIN " + sql)
        except duckdb.Error as e:
            bad[name] = str(e)[:300]
    assert not bad, bad
