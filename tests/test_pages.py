"""The synthetic pages table: `pages`, `with_minted_geometry` and
`with_body` read one set of select-list texts, and the DuckDB oracle
CTEs (`_pages_cte`, `_pages_geo_cte`, `_html_sql`, `sql_body_cte`) splice
the same texts, so both engines give the same rows."""

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geobuf_spark.functions import phash
from geobuf_spark.registry import q_webtext
from geobuf_spark.sources import pages

N = 2000
COLUMNS = ["page_id", "url", "warc_ts", "text", "lang", "html", "lon", "lat", "body"]


def _phone(hx, key):
    return q_webtext._pii_phone(hx, f"md5(concat('pii-', CAST({key} AS STRING)))")


@pytest.mark.parametrize("seed", [42, 7])
def test_pages_same_rows_on_both_engines(spark, seed):
    """Every column, row for row: warc_ts as its epoch second against
    ts_epoch, html against the utf-8 bytes of `_html_sql()`, with_body's
    body and site against `sql_body_cte`, and the pii phone draw of
    `q_pii_scrub` through both hex builders."""
    df = pages.with_body(pages.with_minted_geometry(pages.pages(spark, N, seed=seed)))
    assert df.columns == COLUMNS
    assert isinstance(df.schema["warc_ts"].dataType, T.TimestampType)
    assert isinstance(df.schema["html"].dataType, T.BinaryType)
    got = sorted(tuple(r) for r in df.select(
        "page_id", "url", F.unix_seconds("warc_ts"), "text", "lang",
        "html", "lon", "lat", "body", pages.site_of(F.col("url")),
        F.expr(_phone(phash.spark_hex, "page_id"))).collect())
    duck = duckdb.connect().execute(f"""
        WITH {pages._pages_cte(N, seed)}, {pages._pages_geo_cte()},
        {pages.sql_body_cte()}
        SELECT b.id, b.url, b.ts_epoch, b.text, b.lang, b.html, g.lon, g.lat,
               b.body, b.site, {_phone(phash.sql_hex, 'b.id')}
        FROM (SELECT *, {pages._html_sql()} AS html FROM bdy) b
        JOIN geo g ON g.id = b.id""").fetchall()
    want = sorted(r[:5] + (r[5].encode("utf-8"),) + r[6:] for r in duck)
    assert len(got) == N
    for g, w in zip(got, want):
        assert g == w, (g, w)
