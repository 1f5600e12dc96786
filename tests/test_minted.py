"""Minted fixtures: each `minted_*` builder and its oracle twin read one
select-list text, so Spark and DuckDB give the same rows, and the split
mulmod stays exact on both engines for keys far past where a naive
key * MULT overflows int64."""

import duckdb
import pytest

from geobuf_spark.sources import minted

SF = "/root/testdata/sf0.001"


def _duck():
    con = duckdb.connect()
    for t in ("documents", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _rows(rows):
    return sorted(tuple(tuple(v) if isinstance(v, list) else v for v in r)
                  for r in rows)


FIXTURES = {
    "points": (minted.minted_points, minted.SQL_MINTED_POINTS),
    "rects": (minted.minted_rects, minted.SQL_MINTED_RECTS),
    "triangles": (minted.minted_triangles, minted.SQL_MINTED_TRIANGLES),
    "points_q": (minted.minted_points_q, minted.SQL_MINTED_POINTS_Q),
    "cluster_points_q": (minted.minted_cluster_points_q,
                         minted.sql_minted_cluster_points_q()),
    "cluster_walk_lines_q": (minted.cluster_walk_lines_q,
                             minted.sql_cluster_walk_lines_q()),
}


@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_fixture_same_rows_on_both_engines(spark, name):
    build, sql = FIXTURES[name]
    got = _rows(tuple(r) for r in build(spark, SF).collect())
    want = _rows(_duck().execute(sql).fetchall())
    assert got and got == want


def test_array_fixtures_share_element_texts(spark):
    """minted_rings_q and minted_walk_lines_q wrap the per-vertex texts of
    sql_minted_ring_coords / sql_minted_walk_coords in Spark's array(...);
    DuckDB's [...] over the same texts gives the same arrays."""
    rx, ry, tx, ty = minted.sql_minted_ring_coords()
    rings = (f"SELECT p_partkey, CASE WHEN p_partkey % 2 = 0 THEN [{', '.join(rx)}] "
             f"ELSE [{', '.join(tx)}] END, CASE WHEN p_partkey % 2 = 0 THEN "
             f"[{', '.join(ry)}] ELSE [{', '.join(ty)}] END FROM part")
    got = _rows(r[:1] + r[2:] for r in minted.minted_rings_q(spark, SF).collect())
    assert got == _rows(_duck().execute(rings).fetchall())
    xs, ys = minted.sql_minted_walk_coords(9)
    walks = f"SELECT doc_id, [{', '.join(xs)}], [{', '.join(ys)}] FROM documents"
    got = _rows(tuple(r) for r in minted.minted_walk_lines_q(spark, SF).collect())
    assert got == _rows(_duck().execute(walks).fetchall())


# keys from where a naive k * LON_MULT overflows int64 (~3.5e9) to 1e12
KEYS = [3_474_613_796, 3_500_000_000, 3_500_000_001, 9_876_543_210,
        10**10 + 7, 123_456_789_012, 999_999_999_989, 10**12]


def test_mulmod_exact_for_large_keys_on_both_engines(spark):
    pairs = [(minted.LON_MULT, minted.LON_MOD), (minted.LAT_MULT, minted.LAT_MOD),
             (minted.CX_MULT, minted.CX_MOD), (minted.CY_MULT, minted.CY_MOD),
             (minted.WX_MULT, minted.WX_MOD), (minted.WY_MULT, minted.WY_MOD)]
    cols = [f"{minted._sql_mulmod('k', m, d)} AS m{i}" for i, (m, d) in enumerate(pairs)]
    lon, lat = minted.sql_lonlat("k")
    cols += [f"{lon} AS lon", f"{lat} AS lat"]
    got = spark.createDataFrame([(k,) for k in KEYS], "k long") \
        .selectExpr("k", *cols).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(k,) for k in KEYS])
    duck = {r[0]: r[1:] for r in con.execute(f"SELECT k, {', '.join(cols)} FROM t").fetchall()}
    for r in got:
        k = r[0]
        want = tuple((k * m) % d for m, d in pairs) + (
            ((k * minted.LON_MULT) % minted.LON_MOD - minted.LON_MOD // 2) / 1e7,
            ((k * minted.LAT_MULT) % minted.LAT_MOD - minted.LAT_MOD // 2) / 1e7)
        assert tuple(r[1:]) == want == duck[k], k
