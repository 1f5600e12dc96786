"""Probabilistic sketches for corpus-scale cardinality / frequency /
membership — the summaries a 100 TB pipeline computes instead of exact
answers.

Four classic sketches, all expressed as DataFrame aggregations so they keep
map-side partial aggregation and whole-stage codegen; nothing collects to
the driver and every sketch's size is a constant, independent of the input:

- KMV (k minimum values) distinct-count: the k smallest distinct hashes per
  group; estimate (k-1)·2^60 / h_(k).
- Bloom filter: m-bit array as ⌈m/64⌉ (word, bits) rows built with one
  bit_or aggregation; probing is a broadcast equi-join on word index.
  (Spark's own runtime bloom-join — spark.sql.optimizer.runtime.bloomFilter
  — applies the same idea inside a join; this operator materialises the
  filter as data so it can be persisted and shipped, e.g. a blocklist
  shared across crawls.)
- Count-Min: depth×width counter matrix as (row, bucket, cnt) rows; a point
  query is min over depth rows.
- HyperLogLog registers: 2^b buckets × max leading-zero rank. The harmonic
  sum is kept in EXACT integer form (Σ 2^(RHO_SHIFT − r)) so the external
  DuckDB oracle reproduces it bit-identically; only the final estimate
  performs float math, and only correctly-rounded single operations on
  identical operands (deterministic cross-engine).

Hashing follows operators/dedup.py: every sketch hashes with the portable
md5-derived 60-bit hash (functions/phash.py), bit-identical in DuckDB, so
each sketch has a value-exact oracle.

Reference analog: the reference engine has no sketches (geobuf is a codec);
these extend SURVEY.md §2's training-data-pipeline surface the same way the
dedup/ANN families do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geobuf_spark.functions import phash

_H60_MAX = 1 << 60  # hash60 range is [0, 2^60)


def _hash60(col: Column, salt: str) -> Column:
    """Salted 60-bit hash of a string column (null stays null)."""
    return phash.hash60(F.concat(F.lit(salt + phash.SEP), col.cast("string")))


# ---------------------------------------------------------------------------
# KMV — k minimum values distinct-count sketch
# ---------------------------------------------------------------------------

def kmv_distinct(df: DataFrame, group_cols: list[str], value_col: str,
                 k: int = 32) -> DataFrame:
    """Per-group KMV distinct-count estimate.

    Plan shape: one distinct over (group, hash) — map-side partial
    aggregation collapses duplicates before the shuffle, so the shuffle
    carries distinct hashes, not rows — then a per-group sort-rank bounded
    to k, then one group agg. The estimate (k−1)·2^60 / h_(k) is a single
    correctly-rounded double division of exactly-representable operands
    ((k−1)·2^60 has a ≤6-bit mantissa for k ≤ 64), floored — bit-identical
    across engines. Groups with fewer than k distinct values report their
    exact count.

    Output: (group..., n_kmv, kth_hash, est_distinct).
    """
    if not 2 <= k <= 64:
        raise ValueError(f"k must be in [2, 64] so (k-1)*2^60 stays exact, got {k}")
    h = _hash60(F.col(value_col), "kmv").alias("h")
    dist = df.select(*group_cols, h).distinct()
    w = Window.partitionBy(*group_cols).orderBy("h")
    topk = dist.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    est = F.when(
        F.col("n_kmv") < k, F.col("n_kmv")
    ).otherwise(
        F.floor(F.lit(float((k - 1) * _H60_MAX)) / F.col("kth_hash"))
    ).cast("bigint")
    return (topk.groupBy(*group_cols)
            .agg(F.count("*").alias("n_kmv"), F.max("h").alias("kth_hash"))
            .withColumn("est_distinct", est))


def sql_kmv_distinct(source_sql: str, group_expr: str, value_expr: str,
                     k: int = 32) -> str:
    """DuckDB twin of kmv_distinct over `source_sql` (a FROM-able fragment).

    Mirrors the portable hash path exactly; group_expr/value_expr are SQL
    expressions evaluated against the source rows."""
    h = phash.sql_hash60_parts(f"'kmv'", value_expr)
    return f"""
        WITH kmv_d AS (SELECT DISTINCT {group_expr} AS grp, {h} AS h
                       FROM {source_sql}),
        kmv_r AS (SELECT grp, h,
                         row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
                  FROM kmv_d),
        kmv_g AS (SELECT grp, count(*) AS n_kmv, max(h) AS kth_hash
                  FROM kmv_r WHERE rn <= {k} GROUP BY grp)
        SELECT grp, n_kmv, kth_hash,
               CAST(CASE WHEN n_kmv < {k} THEN n_kmv
                    ELSE FLOOR({float((k - 1) * _H60_MAX)!r} / kth_hash)
               END AS BIGINT) AS est_distinct
        FROM kmv_g"""


# ---------------------------------------------------------------------------
# Bloom filter — membership over ⌈m/64⌉ bit-or'd words
# ---------------------------------------------------------------------------

def _bloom_positions(col: Column, m_bits: int, n_hashes: int) -> Column:
    """Array of n_hashes bit positions via double hashing
    pos_i = (h1 + i·(h2|1)) mod m; h2 forced odd so the stride is coprime
    with the power-of-two m and the probe sequence never degenerates."""
    h1 = _hash60(col, "bloomA")
    h2 = _hash60(col, "bloomB").bitwiseOR(F.lit(1))
    return F.array(*[
        F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(n_hashes)
    ])


def bloom_build(df: DataFrame, key_col: str, m_bits: int = 1 << 14,
                n_hashes: int = 5) -> DataFrame:
    """Build a Bloom filter over df[key_col] as (word_idx, bits) rows.

    One explode (1:n_hashes flatMap, no pre-shuffle) then one bit_or
    aggregation — map-side combinable, output bounded by m/64 rows no
    matter the input size. m_bits must be a multiple of 64."""
    if m_bits % 64:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")
    pos = F.explode(_bloom_positions(F.col(key_col), m_bits, n_hashes))
    return (df.select(pos.alias("pos"))
            .select((F.col("pos") / 64).cast("bigint").alias("word_idx"),
                    F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("w"))
            .groupBy("word_idx")
            .agg(F.bit_or("w").alias("bits")))


def bloom_probe(probe_df: DataFrame, key_col: str, bloom_df: DataFrame,
                m_bits: int = 1 << 14, n_hashes: int = 5) -> DataFrame:
    """Append `bloom_maybe` (boolean) to probe_df: true iff every one of the
    key's n_hashes bits is set in the filter.

    The probe explodes to n_hashes rows and equi-joins the (tiny, ≤ m/64
    rows) filter on word_idx — broadcast by construction — then re-groups
    to one row per probe. No false negatives; false-positive rate the usual
    (1 − e^(−kn/m))^k."""
    pos = F.posexplode(_bloom_positions(F.col(key_col), m_bits, n_hashes))
    exploded = (probe_df.select(key_col, pos.alias("i", "pos"))
                .select(key_col,
                        (F.col("pos") / 64).cast("bigint").alias("word_idx"),
                        F.pmod(F.col("pos"), F.lit(64)).cast("int").alias("bit")))
    hit = (exploded.join(F.broadcast(bloom_df), "word_idx", "left")
           .select(key_col,
                   F.expr("shiftright(coalesce(bits, 0L), bit) & 1").alias("set")))
    return (hit.groupBy(key_col)
            .agg((F.min("set") == 1).alias("bloom_maybe")))


def sql_bloom_cte(member_sql: str, probe_sql: str, member_key: str,
                  probe_key: str, m_bits: int = 1 << 14, n_hashes: int = 5,
                  prefix: str = "") -> str:
    """DuckDB twin: CTE chain ending in {prefix}bloomed(key, bloom_maybe).

    member_sql / probe_sql are FROM-able fragments; keys are column
    expressions over them."""
    p = prefix
    h1 = phash.sql_hash60_parts("'bloomA'", member_key)
    h2 = phash.sql_hash60_parts("'bloomB'", member_key)
    ph1 = phash.sql_hash60_parts("'bloomA'", probe_key)
    ph2 = phash.sql_hash60_parts("'bloomB'", probe_key)
    return f"""{p}bpos AS (
            SELECT ((({h1}) + g.i * (({h2}) | 1)) % {m_bits}) AS pos
            FROM {member_sql}, generate_series(0, {n_hashes - 1}) AS g(i)),
        {p}bwords AS (
            -- DuckDB raises on 1<<63 where Spark's shiftleft wraps to the
            -- sign bit; spell the top bit as the literal min-int64 instead
            SELECT pos // 64 AS word_idx,
                   bit_or(CASE WHEN pos % 64 = 63
                               THEN (-9223372036854775807::BIGINT - 1)
                               ELSE 1::BIGINT << (pos % 64) END) AS bits
            FROM {p}bpos GROUP BY 1),
        {p}ppos AS (
            SELECT {probe_key} AS key,
                   ((({ph1}) + g.i * (({ph2}) | 1)) % {m_bits}) AS pos
            FROM {probe_sql}, generate_series(0, {n_hashes - 1}) AS g(i)),
        {p}bloomed AS (
            SELECT p.key,
                   min((COALESCE(w.bits, 0) >> (p.pos % 64)) & 1) = 1 AS bloom_maybe
            FROM {p}ppos p LEFT JOIN {p}bwords w ON p.pos // 64 = w.word_idx
            GROUP BY p.key)"""


# ---------------------------------------------------------------------------
# Count-Min — depth × width counter matrix
# ---------------------------------------------------------------------------

def cms_build(df: DataFrame, item_col: str, depth: int = 4, width: int = 256) -> DataFrame:
    """Count-Min sketch of item frequencies as (row, bucket, cnt) rows.

    One explode to depth rows per item, one hash aggregation — map-side
    partials mean the shuffle carries at most depth·width rows per task;
    the sketch is depth·width rows total, independent of input size."""
    rows = F.explode(F.array(*[F.lit(r) for r in range(depth)]))
    e = df.select(F.col(item_col).alias("item"), rows.alias("row"))
    bucket = F.pmod(
        _hash60(F.concat_ws(phash.SEP, F.col("row").cast("string"), F.col("item")),
                "cms"),
        F.lit(width))
    return (e.select("row", bucket.alias("bucket"))
            .groupBy("row", "bucket")
            .agg(F.count("*").alias("cnt")))


def cms_query(cms_df: DataFrame, items_df: DataFrame, item_col: str,
              depth: int = 4, width: int = 256) -> DataFrame:
    """Point-query the sketch: est(item) = min over depth rows of the
    counter at (row, hash_row(item) mod width). Broadcast join against the
    (≤ depth·width row) sketch; absent counters read 0."""
    rows = F.explode(F.array(*[F.lit(r) for r in range(depth)]))
    e = items_df.select(F.col(item_col).alias("item"), rows.alias("row"))
    bucket = F.pmod(
        _hash60(F.concat_ws(phash.SEP, F.col("row").cast("string"), F.col("item")),
                "cms"),
        F.lit(width))
    probed = (e.select("item", "row", bucket.alias("bucket"))
              .join(F.broadcast(cms_df), ["row", "bucket"], "left")
              .select("item", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")))
    return probed.groupBy("item").agg(F.min("cnt").alias("cms_est"))


def sql_cms_cte(source_sql: str, item_expr: str, depth: int = 4,
                width: int = 256, prefix: str = "") -> str:
    """DuckDB twin CTE chain ending in {prefix}cms(row, bucket, cnt)."""
    p = prefix
    h = phash.sql_hash60_parts("'cms'",
                               f"CAST(g.i AS VARCHAR) || chr(30) || ({item_expr})")
    return f"""{p}cmse AS (
            SELECT g.i AS row, (({h}) % {width}) AS bucket
            FROM {source_sql}, generate_series(0, {depth - 1}) AS g(i)),
        {p}cms AS (
            SELECT row, bucket, count(*) AS cnt FROM {p}cmse GROUP BY 1, 2)"""


# ---------------------------------------------------------------------------
# HyperLogLog — 2^b registers of max leading-zero rank
# ---------------------------------------------------------------------------

RHO_SHIFT = 55  # Σ 2^(RHO_SHIFT − r) stays an exact int64 for m ≤ 64


def hll_registers(df: DataFrame, value_col: str, b: int = 6) -> DataFrame:
    """HLL register table: bucket = low b hash bits, r = rank of the first
    set bit in the remaining 60−b bits (1-based from the top; all-zero rest
    ranks 60−b+1). Rank is computed with INTEGER bit-length —
    length(bin(rest)) — never float log2, so the oracle matches exactly.

    One hash aggregation; output ≤ 2^b rows (absent buckets = empty)."""
    if not 4 <= b <= 6:
        raise ValueError(f"b must be in [4, 6] (m ≤ 64 keeps the harmonic sum "
                         f"an exact int64), got {b}")
    return hll_registers_by(df, [], value_col, b=b)


def hll_registers_by(df: DataFrame, group_cols: list, value_col: str,
                     b: int = 6) -> DataFrame:
    """Per-group HLL register tables: (group..., bucket, r). The grouped
    form exists for the MERGE demonstration — register-wise max across
    groups reproduces the global sketch exactly (hll_union_rollup)."""
    if not 4 <= b <= 6:
        raise ValueError(f"b must be in [4, 6], got {b}")
    h = _hash60(F.col(value_col), "hll")
    df = df.select(*group_cols, h.alias("h"))
    rest = F.shiftright(F.col("h"), b)
    width = 60 - b
    rho = F.when(rest == 0, F.lit(width + 1)) \
        .otherwise(F.lit(width) - F.length(F.bin(rest)) + 1)
    return (df.select(*group_cols,
                      F.col("h").bitwiseAND(F.lit((1 << b) - 1)).alias("bucket"),
                      rho.cast("int").alias("rho"))
            .groupBy(*group_cols, "bucket")
            .agg(F.max("rho").alias("r")))


def _hll_alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def hll_estimate(reg_df: DataFrame, b: int = 6) -> DataFrame:
    """Fold registers into one row. The harmonic sum is the exact integer
    S = Σ 2^(55−r) + (m − n_present)·2^55 (empty buckets contribute r=0);
    the raw estimate α·m²·2^55 / S is one correctly-rounded double divide
    of exact operands, floored — deterministic across engines. The
    small-range linear-counting correction is deliberately NOT applied
    in-engine (ln() is not cross-engine exact); callers apply it from
    (n_zero, est_raw) if they want the corrected number.

    Output: (m, n_present, n_zero, s_scaled, est_raw)."""
    m = 1 << b
    return (reg_df
            .agg(F.count("*").alias("n_present"),
                 F.sum(F.expr(f"shiftleft(1L, {RHO_SHIFT} - r)")).alias("s_present"))
            .select(F.lit(m).alias("m"),
                    F.col("n_present").cast("bigint").alias("n_present"),
                    (F.lit(m) - F.col("n_present")).cast("bigint").alias("n_zero"),
                    (F.col("s_present")
                     + (F.lit(m) - F.col("n_present")) * F.lit(1 << RHO_SHIFT))
                    .cast("bigint").alias("s_scaled"))
            .withColumn("est_raw",
                        F.floor(F.lit(_hll_alpha(m) * m * m * float(1 << RHO_SHIFT))
                                / F.col("s_scaled")).cast("bigint")))


def sql_hll_estimate_from(reg: str, b: int = 6, prefix: str = "") -> str:
    """CTE fragment {prefix}hll(m, n_present, n_zero, s_scaled, est_raw)
    folded from any register table {reg}(…, bucket, r) — the ONE rendering
    of the estimate arithmetic (sql_hll_cte and the merge oracle both
    splice it)."""
    m = 1 << b
    alpha_num = _hll_alpha(m) * m * m * float(1 << RHO_SHIFT)
    return f"""{prefix}hll AS (
            SELECT {m} AS m,
                   count(*) AS n_present,
                   {m} - count(*) AS n_zero,
                   CAST(sum(1::BIGINT << ({RHO_SHIFT} - r))
                        + ({m} - count(*)) * {1 << RHO_SHIFT}::BIGINT AS BIGINT)
                       AS s_scaled,
                   CAST(FLOOR({alpha_num!r} /
                        (sum(1::BIGINT << ({RHO_SHIFT} - r))
                         + ({m} - count(*)) * {1 << RHO_SHIFT}::BIGINT))
                       AS BIGINT) AS est_raw
            FROM {reg})"""


def sql_hll_registers_cte(source_sql: str, value_expr: str, b: int = 6,
                          prefix: str = "", group_expr: str = "") -> str:
    """DuckDB twin CTE chain ending in {prefix}hllreg((group,) bucket, r)."""
    p = prefix
    m = 1 << b
    width = 60 - b
    h = phash.sql_hash60_parts("'hll'", value_expr)
    g = f"{group_expr} AS grp, " if group_expr else ""
    gsel = "grp, " if group_expr else ""
    gby = "1, 2" if group_expr else "1"
    return f"""{p}hllh AS (SELECT {g}{h} AS h FROM {source_sql}),
        {p}hllr AS (
            SELECT {gsel}h & {m - 1} AS bucket,
                   CASE WHEN (h >> {b}) = 0 THEN {width + 1}
                        ELSE {width} - length(bin(h >> {b})) + 1 END AS rho
            FROM {p}hllh),
        {p}hllreg AS (SELECT {gsel}bucket, max(rho) AS r
                      FROM {p}hllr GROUP BY {gby})"""


def sql_hll_cte(source_sql: str, value_expr: str, b: int = 6,
                prefix: str = "") -> str:
    """DuckDB twin CTE chain ending in {prefix}hll(m, n_present, n_zero,
    s_scaled, est_raw)."""
    p = prefix
    return (sql_hll_registers_cte(source_sql, value_expr, b, p) + ",\n        "
            + sql_hll_estimate_from(f"{p}hllreg", b, p))


# ---------------------------------------------------------------------------
# KMV set algebra — union / intersection / Jaccard from two sketches
# ---------------------------------------------------------------------------

def kmv_set_ops(a: DataFrame, b: DataFrame, value_col: str, k: int = 64) -> DataFrame:
    """Set-cardinality algebra on two KMV sketches — the MERGEABLE-sketch
    property that matters at scale: each side reduces to its k smallest
    distinct hashes (per-partition combine, then a TakeOrdered of k rows —
    no full sort), and every estimate below works on those ≤2k rows. Two
    100 TB corpora compare through 2k numbers.

    union: the k smallest of the merged hash sets is exactly the KMV
    sketch of A ∪ B → the usual (k−1)·2^60 / h_(k) estimate (exact count
    when the merge holds < k hashes). intersection: among the merged
    top-k, the fraction also present in BOTH sketches estimates Jaccard
    (Beyer et al. 2007); est_intersect = floor(c · est_union / k_eff).

    Output (one row): a_n_kmv, a_est, b_n_kmv, b_est, n_common,
    union_est, inter_est, jaccard_x10k.
    """
    if not 2 <= k <= 64:
        raise ValueError(f"k must be in [2, 64], got {k}")

    def sk(df):
        # k rows, lazily checkpointed: each sketch feeds its own stats,
        # the merge, and the common-hash join — one TakeOrdered each
        # instead of one per consumer
        return (df.select(_hash60(F.col(value_col), "kmv").alias("h"))
                .distinct().orderBy("h").limit(k)
                .localCheckpoint(eager=False))

    ha, hb = sk(a), sk(b)
    merged = (ha.unionAll(hb).distinct().orderBy("h").limit(k)
              .localCheckpoint(eager=False))

    def est(n, kth):
        return F.when(n < k, n).otherwise(
            F.floor(F.lit(float((k - 1) * _H60_MAX)) / kth)).cast("bigint")

    sa = ha.agg(F.count("*").alias("a_n_kmv"), F.max("h").alias("a_kth"))
    sb = hb.agg(F.count("*").alias("b_n_kmv"), F.max("h").alias("b_kth"))
    sm = merged.agg(F.count("*").alias("k_eff"), F.max("h").alias("m_kth"))
    sc = (ha.join(hb, "h").join(merged, "h", "left_semi")
          .agg(F.count("*").alias("n_common")))
    r = sa.crossJoin(sb).crossJoin(sm).crossJoin(sc)
    union_est = est(F.col("k_eff"), F.col("m_kth"))
    return r.select(
        "a_n_kmv", est(F.col("a_n_kmv"), F.col("a_kth")).alias("a_est"),
        "b_n_kmv", est(F.col("b_n_kmv"), F.col("b_kth")).alias("b_est"),
        F.col("n_common").cast("bigint").alias("n_common"),
        union_est.alias("union_est"),
        F.floor(F.col("n_common").cast("double") * union_est.cast("double")
                / F.col("k_eff").cast("double")).cast("bigint")
            .alias("inter_est"),
        F.floor(F.col("n_common").cast("double") * 10000.0
                / F.col("k_eff").cast("double")).cast("bigint")
            .alias("jaccard_x10k"))


def sql_kmv_set_ops(a_sql: str, b_sql: str, value_expr: str, k: int = 64) -> str:
    """DuckDB twin of kmv_set_ops (portable hash path). a_sql/b_sql are
    FROM-able fragments; value_expr is evaluated against each."""
    h = phash.sql_hash60_parts("'kmv'", value_expr)
    big = f"{float((k - 1) * _H60_MAX)!r}"

    def est(n, kth):
        return (f"CAST(CASE WHEN {n} < {k} THEN {n}"
                f" ELSE FLOOR({big} / {kth}) END AS BIGINT)")

    return f"""
        WITH ska AS (SELECT DISTINCT {h} AS h FROM {a_sql} ORDER BY h LIMIT {k}),
        skb AS (SELECT DISTINCT {h} AS h FROM {b_sql} ORDER BY h LIMIT {k}),
        mrg AS (SELECT DISTINCT h FROM (SELECT h FROM ska
                                        UNION ALL SELECT h FROM skb)
                ORDER BY h LIMIT {k}),
        sa AS (SELECT count(*) AS a_n_kmv, max(h) AS a_kth FROM ska),
        sb AS (SELECT count(*) AS b_n_kmv, max(h) AS b_kth FROM skb),
        sm AS (SELECT count(*) AS k_eff, max(h) AS m_kth FROM mrg),
        sc AS (SELECT count(*) AS n_common
               FROM ska JOIN skb USING (h)
               WHERE h IN (SELECT h FROM mrg))
        SELECT CAST(a_n_kmv AS BIGINT) AS a_n_kmv,
               {est('a_n_kmv', 'a_kth')} AS a_est,
               CAST(b_n_kmv AS BIGINT) AS b_n_kmv,
               {est('b_n_kmv', 'b_kth')} AS b_est,
               CAST(n_common AS BIGINT) AS n_common,
               {est('k_eff', 'm_kth')} AS union_est,
               CAST(FLOOR(CAST(n_common AS DOUBLE)
                    * CAST({est('k_eff', 'm_kth')} AS DOUBLE)
                    / CAST(k_eff AS DOUBLE)) AS BIGINT) AS inter_est,
               CAST(FLOOR(CAST(n_common AS DOUBLE) * 10000.0
                    / CAST(k_eff AS DOUBLE)) AS BIGINT) AS jaccard_x10k
        FROM sa, sb, sm, sc"""
