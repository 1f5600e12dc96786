"""Deterministic synthetic Common-Crawl-style pages table (BASELINE.json
input_hint): (url, warc_ts, html, text, lang) + minted point geometry.

Generated entirely by SQL expressions over spark.range — distributed,
seeded, no driver-side loops; the same generator scales from 10^3 rows in
tests to any size on a cluster. `text` is the byte-identity invariant: no
stage may transform it (verified by test_pages_invariant).

Geometry minting follows FIXTURES.md §1: lon/lat are md5(url)-derived
integers on the 1e-7 lattice, so geobuf quantization is lossless on the
integer path.

Every derivation hashes with md5 (not murmur3/sha1/xxhash64), and every
column is one select-list text that Spark reads through selectExpr and
the DuckDB oracle CTEs (_pages_cte, _pages_geo_cte, _html_sql,
sql_body_cte) splice, so the oracle regenerates the table bit-identically
from the same formula. Only the hex draw (phash.spark_hex / sql_hex) and
the token-list wrapper differ per engine; `%` stands in for pmod (DuckDB
has none) because every operand is non-negative (ORACLE_NUMERICS.md §C).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from geobuf_spark.functions import phash, tiles

LANGS = ["en", "de", "fr", "es", "pt", "zh", "ja", "ru", "it", "nl", "pl", "tr"]
WORDS = [
    "data", "page", "web", "crawl", "spark", "tile", "join", "index", "query",
    "scan", "merge", "sort", "hash", "cell", "point", "polygon", "stream",
    "batch", "vector", "token", "model", "train", "text", "html", "link",
    "node", "edge", "graph", "table", "row", "column", "shard", "block",
    "byte", "frame", "codec", "delta", "varint", "proto", "zoom", "layer",
]


def _page_hash(key: str, seed: int) -> str:
    """The per-page md5 every draw reads, over integer page-key text."""
    return f"md5(concat('s{seed}-', CAST({key} AS STRING)))"


def _url(hx, h: str) -> str:
    """The url of the page whose md5 text is `h`, never NULL for a
    non-NULL `h` (tiles.sql_nonnull), so the lon/lat guard folds."""
    site = f"{hx(f'substr({h}, 1, 6)')} % 1000"
    return tiles.sql_nonnull([h], f"concat('https://site', CAST({site} AS STRING), "
                             f"'.example/', substr({h}, 7, 12))", "''")


def url_text(hx, key: str, seed: int = 42) -> str:
    """The minted url of integer page-key text `key`."""
    return _url(hx, _page_hash(key, seed))


# the per-engine wrapper joining n per-token picks over i = 1..n
_SPARK_TOKENS = "concat_ws(' ', transform(sequence(1, {n}), i -> {pick}))"
_SQL_TOKENS = "array_to_string(list_transform(range(1, {n} + 1), i -> {pick}), chr(32))"


def _columns(hx, tokens: str) -> tuple:
    """The pages select-list over (id, h): (id, url, ts_epoch, text, lang)."""
    word = hx("substr(md5(concat('w', CAST(id AS STRING), '-', CAST(i AS STRING))), 1, 15)")
    pick = f"split_part('{' '.join(WORDS)}', ' ', CAST({word} % {len(WORDS)} + 1 AS INT))"
    n_tokens = f"{hx('substr(h, 19, 4)')} % 180 + 10"
    lang = hx("substr(h, 23, 4)")
    # md5 is 32 hex chars — the timestamp draws from a second hash
    ts = hx("substr(md5(concat('ts-', h)), 1, 8)")
    return ("id",
            f"{_url(hx, 'h')} AS url",
            f"1700000000 + {ts} % {365 * 86400} AS ts_epoch",
            f"{tokens.format(n=n_tokens, pick=pick)} AS text",
            f"split_part('{','.join(LANGS)}', ',', "
            f"CAST({lang} % {len(LANGS)} + 1 AS INT)) AS lang")


def _html_sql(head_extra: str = "", body_tail: str = "") -> str:
    """The minted html envelope as ONE expression over (url, text), with
    optional fragments after <head> (meta_robots) or before </body> (link
    anchors) for the html-payload oracles."""
    he = f" || {head_extra}" if head_extra else ""
    bt = f" || {body_tail}" if body_tail else ""
    return ("'<html><head>'" + he
            + " || '<title>' || url || '</title></head><body><p>' || text"
            + " || '</p>'" + bt + " || '</body></html>'")


def pages(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """n synthetic pages, deterministic in (n, seed)."""
    return (spark.range(n)
            .selectExpr("id", f"{_page_hash('id', seed)} AS h")
            .selectExpr(*_columns(phash.spark_hex, _SPARK_TOKENS))
            .selectExpr("id AS page_id", "url",
                        "timestamp_seconds(ts_epoch) AS warc_ts", "text", "lang",
                        f"encode({_html_sql()}, 'utf-8') AS html"))


def _pages_cte(n: int = 2000, seed: int = 42, prefix: str = "") -> str:
    """DuckDB regeneration of pages(n, seed) from the same select-list:
    the CTE body ending in {prefix}txt(id, url, ts_epoch, text, lang);
    callers append their own clauses. The words are ASCII so
    strlen(text) == octet_length(text). `prefix` renames the CTE stages
    so two snapshots can coexist in one WITH clause (crawl_diff)."""
    p = prefix
    return f"""{p}base AS (SELECT id, {_page_hash('id', seed)} AS h
                      FROM range({n}) t(id)),
        {p}txt AS (SELECT {', '.join(_columns(phash.sql_hex, _SQL_TOKENS))}
                FROM {p}base)"""


def _lonlat(hx) -> tuple[str, str]:
    """The (lon, lat) mint over `url`, NULL only for a NULL url."""
    def mint(start: int, mod: int) -> str:
        q = f"{hx(f'substr(md5(url), {start}, 8)')} % {mod} - {mod // 2}"
        return tiles.sql_nonnull(["url"], f"({q}) / 1e7", "0e0")
    return mint(1, 3_600_000_000), mint(9, 1_700_000_000)


def with_minted_geometry(pages_df: DataFrame) -> DataFrame:
    """Mint a lattice point per page from md5(url) (FIXTURES.md §1):
    lon = (int(md5(url)[:8],16) % 3.6e9)/1e7 - 180, lat likewise."""
    lon, lat = _lonlat(phash.spark_hex)
    return pages_df.withColumns({"lon": F.expr(lon), "lat": F.expr(lat)})


def _pages_geo_cte(prefix: str = "") -> str:
    """DuckDB twin of with_minted_geometry over {prefix}txt:
    {prefix}geo(id, url, lang, text, lon, lat)."""
    lon, lat = _lonlat(phash.sql_hex)
    return f"""{prefix}geo AS (SELECT id, url, lang, text, {lon} AS lon, {lat} AS lat
                FROM {prefix}txt)"""

# ---------------------------------------------------------------------------
# Multi-paragraph body minting — the line-level (CCNet-style) job surface.
# The site number is re-extracted from the url (not re-derived from the md5
# draw) so the Spark and DuckDB definitions share ONE source of truth.
# ---------------------------------------------------------------------------

BOILER_VARIANTS = 37
BOILER_HEADER = "boilerplate cookie notice v"
BOILER_FOOTER = "subscribe to the example newsletter"
# no backslash: Spark unescapes one in a SQL literal, DuckDB does not
_SITE_RE = r"site([0-9]+)[.]example"
_SITE = f"CAST(regexp_extract(url, '{_SITE_RE}', 1) AS INT)"


def site_of(url: Column) -> "Column":
    """Integer site number embedded in the minted url."""
    return F.regexp_extract(url, _SITE_RE, 1).cast("int")


def _body(key: str) -> str:
    """A newline-joined multi-paragraph `body` over (url, text) and page
    key `key`: a site-cohort boilerplate header (site % BOILER_VARIANTS
    picks the variant), the page text, the header REPEATED for every 5th
    page (the within-doc duplicate line), and a global footer on even
    sites. concat_ws skips the NULL branches identically in both engines."""
    header = f"'{BOILER_HEADER}' || CAST({_SITE} % {BOILER_VARIANTS} AS STRING)"
    return f"""concat_ws(chr(10),
                    {header},
                    text,
                    CASE WHEN {key} % 5 = 0 THEN {header} END,
                    CASE WHEN {_SITE} % 2 = 0 THEN '{BOILER_FOOTER}' END)"""


def with_body(pages_df: DataFrame) -> DataFrame:
    """Append the multi-paragraph `body` (_body) to a pages frame."""
    return pages_df.withColumn("body", F.expr(_body("page_id")))


def sql_body_cte(prefix: str = "") -> str:
    """DuckDB twin of with_body: a CTE clause extending {prefix}txt with
    (site, body). Append after a _pages_cte(...) fragment."""
    p = prefix
    return f"""{p}bdy AS (SELECT id, url, lang, ts_epoch, text, {_SITE} AS site,
                {_body('id')} AS body
         FROM {p}txt)"""
