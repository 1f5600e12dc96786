"""Portable 60-bit hash shared by Spark and DuckDB.

The approximate dedup/ANN operators need a hash both engines can compute
bit-identically so the external correctness driver can value-verify their
output (Spark's xxhash64/murmur3 have no DuckDB twin — CORRECTNESS_r01/r02
recorded those queries rows-only). The bridge primitive is md5's hex form,
which both engines render identically for UTF-8 strings:

  Spark : conv(substr(md5(s), 1, 15), 16, 10)        -> decimal string -> bigint
  DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT    -- hex-literal cast

The hex draw has no form both engines parse fast, so it is one builder
pair, `spark_hex`/`sql_hex`, that shared texts (sources/pages.py) take as
a parameter (ORACLE_NUMERICS.md §C).

15 hex chars = 60 bits, always inside a signed int64 (Spark 4 runs ANSI
mode; a 16th char could overflow the cast). md5 costs more than xxhash64
per call but stays JVM-side / vectorized in both engines, and it is the one
hash of the dedup, sketch and ANN operators (operators/dedup.py,
sketch.py, similarity.py): there is no second, oracle-less hash path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# unit separator: joins multi-part hash inputs without colliding with data
SEP = "\x1e"


def hash60(col: Column) -> Column:
    """Portable 60-bit non-negative bigint hash of a string column."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def hash60_parts(*cols: Column) -> Column:
    """hash60 over multiple parts joined by an unambiguous separator."""
    return hash60(F.concat_ws(SEP, *[c.cast("string") for c in cols]))


def spark_hex(e: str) -> str:
    """Spark text: the bigint value of hex-string text `e` (≤ 15 chars)."""
    return f"CAST(conv({e}, 16, 10) AS BIGINT)"


def sql_hex(e: str) -> str:
    """DuckDB twin of spark_hex: a hex-literal cast."""
    return f"CAST(('0x' || {e}) AS BIGINT)"


def sql_hash60(expr: str) -> str:
    """DuckDB twin of hash60 for a VARCHAR SQL expression."""
    return sql_hex(f"substr(md5({expr}), 1, 15)")


def sql_hash60_parts(*exprs: str) -> str:
    """DuckDB twin of hash60_parts (casts each part to VARCHAR)."""
    joined = f" || chr(30) || ".join(f"CAST(({e}) AS VARCHAR)" for e in exprs)
    return sql_hash60(joined)


def py_hash60(s: str) -> int:
    """Python twin of hash60 — lets a query fold small deterministic hash
    tables (vnode ring positions, planted keys) into plan-time constants
    that both engines' column hashes will agree with."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
