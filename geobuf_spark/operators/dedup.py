"""Deduplication operators for training-data pipelines.

Exact dedup is a hash groupBy (map-side combinable). Near-dup comes in
three flavors, all shuffle-bounded:

- MinHash + LSH: shingle → minhash signatures → band buckets → bucket
  equi-join → verified Jaccard. Signatures/bands are pure expressions;
  only candidate pairs sharing a band bucket are compared, so the join is
  linear-ish, never O(n²). The base hash is the portable md5-derived
  hash60 (functions/phash.py), bit-identical in DuckDB, so the DuckDB
  oracle value-verifies the full pipeline.
- SimHash: 64-bit sign-aggregated token hashes; near-dups = Hamming ≤ t,
  found via band equi-join on 16-bit chunks (Pigeonhole: Hamming ≤ 3 ⇒
  some chunk equal).
- n-gram Jaccard (exact, for verification/small sides).

At 10^12 docs: band buckets are the shuffle keys; hot buckets (boilerplate
shingles) are capped via `max_bucket` before the self-join — the classic
guard against quadratic bucket blowup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geobuf_spark.functions import phash
from geobuf_spark.functions.text import tokens
from geobuf_spark.operators.fixpoint import iterate


def dedup_exact(df: DataFrame, key: str, text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash: one representative (min key) per text.

    Output: (fingerprint, rep_id, n_dups). Map-side partial aggregation
    makes this one shuffle of distinct hashes, not rows."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(key))
        .groupBy("fingerprint")
        .agg(F.min(key).alias("rep_id"), F.count("*").alias("n_dups"))
    )


def keep_latest(df: DataFrame, key, ts_col: str, tie_col: str,
                payload_cols: list[str] | None = None) -> DataFrame:
    """Latest-capture-wins dedup: one row per key, the one with the max
    (ts, tie) — the canonical Common-Crawl recrawl collapse (keep the
    newest WARC capture per URL).

    Implemented as max(struct(ts, tie, payload...)) + count, NOT a window:
    the struct-max is map-side combinable, so at 10^12 rows this is one
    shuffle of distinct keys with partial aggregation, where a row_number
    window would shuffle every row and sort each partition. The tie column
    must be unique per key so the lexicographic max is total.

    Output: (key, n_captures, <tie_col>, <ts_col>, payload...).
    """
    key_col = F.col(key) if isinstance(key, str) else key
    key_name = key if isinstance(key, str) else "key"
    payload_cols = payload_cols or []
    m = F.max(F.struct(F.col(ts_col), F.col(tie_col),
                       *[F.col(c) for c in payload_cols])).alias("_m")
    g = df.groupBy(key_col.alias(key_name)).agg(m, F.count("*").alias("n_captures"))
    return g.select(
        key_name, "n_captures",
        F.col(f"_m.{tie_col}").alias(tie_col),
        F.col(f"_m.{ts_col}").alias(ts_col),
        *[F.col(f"_m.{c}").alias(c) for c in payload_cols],
    )


def _shingles(text: Column, k: int) -> Column:
    """k-token shingles as strings (distinct)."""
    toks = tokens(text)
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws("\x1f", F.slice(toks, i, k)))
    )


_MERSENNE = (1 << 31) - 1  # keep a·h + b inside int64 (Spark 4 ANSI mode)


def _perm_coeffs(num_hashes: int, seed: int = 1234567):
    """Deterministic odd multipliers / offsets for affine permutations."""
    import numpy as _np

    rng = _np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, num_hashes, dtype=_np.int64) | 1
    b = rng.integers(0, _MERSENNE, num_hashes, dtype=_np.int64)
    return a, b


def minhash_signatures(df: DataFrame, key: str, text_col: str = "text",
                       num_hashes: int = 32, shingle_k: int = 3) -> DataFrame:
    """(key, sig: array<bigint>) — minhash over shingles, pure expressions.

    Shingles are hashed ONCE; each permutation is a cheap affine
    transform (a·h + b mod 2^31-1) over the precomputed hash array — the
    standard trick that keeps the cost O(shingles + permutations) instead of
    O(shingles × permutations) string hashes."""
    sh = _shingles(F.col(text_col), shingle_k)
    hashed = F.transform(sh, lambda s: F.pmod(phash.hash60(s), F.lit(_MERSENNE)))
    a, b = _perm_coeffs(num_hashes)
    base = df.select(F.col(key).alias("key"), hashed.alias("_h"))

    def perm(ai: int, bi: int):
        # single-param lambda: Spark must not bind the array index
        return F.array_min(F.transform(
            F.col("_h"), lambda h: F.pmod(h * F.lit(ai) + F.lit(bi), F.lit(_MERSENNE))
        ))

    sig = F.array(*[perm(int(a[i]), int(b[i])) for i in range(num_hashes)])
    return base.select("key", sig.alias("sig"))


def minhash_lsh_pairs(df: DataFrame, key: str, text_col: str = "text",
                      num_hashes: int = 32, bands: int = 8, shingle_k: int = 3,
                      jaccard_threshold: float = 0.5,
                      max_bucket: int = 1000) -> DataFrame:
    """Candidate near-dup pairs (a < b) whose estimated Jaccard (signature
    agreement rate) ≥ threshold. One shuffle on band buckets."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, key, text_col, num_hashes, shingle_k)

    def band_bucket(b: int) -> Column:
        rows = [F.element_at("sig", b * rows_per_band + r + 1)
                for r in range(rows_per_band)]
        return phash.hash60_parts(*rows, F.lit(b))

    banded = sigs.select(
        "key", "sig",
        F.posexplode(F.array(*[band_bucket(b) for b in range(bands)]))
        .alias("band", "bucket"),
    )
    # cap pathological buckets (boilerplate shingle sets)
    w = Window.partitionBy("band", "bucket").orderBy("key")
    banded = banded.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= max_bucket)
    # materialize once: both sides of the self-join reuse it instead of
    # recomputing shingles+signatures+window twice
    banded = banded.localCheckpoint(eager=False)

    left = banded.select(F.col("band"), F.col("bucket"), F.col("key").alias("a"), F.col("sig").alias("sig_a"))
    right = banded.select(F.col("band"), F.col("bucket"), F.col("key").alias("b"), F.col("sig").alias("sig_b"))
    pairs = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sig_a", "sig_b")
        .dropDuplicates(["a", "b"])
    )
    agree = F.size(F.filter(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        lambda v: v == 1,
    ))
    est = agree.cast("double") / F.lit(float(num_hashes))
    return (
        pairs.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("a", "b", "est_jaccard")
    )


def simhash64(df: DataFrame, key: str, text_col: str = "text") -> DataFrame:
    """(key, simhash bigint): sign-aggregated 63-bit token hashes
    (63 bits keeps the packed value non-negative in a bigint).

    ZERO-shuffle map-side kernel: each Arrow batch tokenizes via Arrow's
    C++ split, hashes every token with a vectorized FNV-1a (a loop over
    character positions, not tokens), and folds all 63 per-bit ±1 sums
    per doc in one 2-D segmented reduce. The previous formulation
    (explode + groupBy with 63 conditional SUMs) paid a full shuffle of
    every token and was the slowest bench query; the signature is a pure
    per-row function, so no shuffle is ever needed — at 10^12 docs this
    stage is embarrassingly parallel."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    # the key column passes through untouched with its original type
    # (string/decimal keys crashed the r2 astype(int64) version)
    key_field = df.select(F.col(key).alias("key")).schema.fields[0]
    out_schema = T.StructType([
        key_field,
        T.StructField("simhash", T.LongType()),
    ])
    FNV_BASIS = np.uint64(0xCBF29CE484222325)
    FNV_PRIME = np.uint64(0x100000001B3)
    SHIFTS = np.arange(63, dtype=np.uint64)

    def _sig(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            toks = pc.split_pattern(batch.column(1).cast(pa.string()), " ")
            toks = toks.combine_chunks() if isinstance(toks, pa.ChunkedArray) else toks
            doc_off = toks.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            doc_off = doc_off - doc_off[0]
            vals = toks.flatten()
            t_off = np.frombuffer(vals.buffers()[1], dtype=np.int32)[
                vals.offset : vals.offset + len(vals) + 1].astype(np.int64)
            flat = np.frombuffer(vals.buffers()[2], dtype=np.uint8)
            tstart, tlens = t_off[:-1], t_off[1:] - t_off[:-1]
            T_ = len(tstart)

            h = np.full(T_, FNV_BASIS, dtype=np.uint64)
            for j in range(int(tlens.max()) if T_ else 0):
                sel = tlens > j
                c = flat[tstart[sel] + j].astype(np.uint64)
                h[sel] = (h[sel] ^ c) * FNV_PRIME

            # (tokens × 63) ±1 matrix, segmented-summed per doc in one call
            bits = (((h[:, None] >> SHIFTS[None, :]) & np.uint64(1))
                    .astype(np.int32) * 2 - 1)
            ntok = doc_off[1:] - doc_off[:-1]
            # reduceat ONLY at non-empty docs' starts: consecutive
            # non-empty starts bound exactly one doc's tokens (empty docs
            # contribute nothing in between), and no start can hit T_ —
            # a clamp there would steal the previous doc's last token
            nonempty = ntok > 0
            sums = np.zeros((n, 63), dtype=np.int32)
            if nonempty.any():
                sums[nonempty] = np.add.reduceat(
                    bits, doc_off[:-1][nonempty], axis=0)
            packed = ((sums > 0).astype(np.int64)
                      << np.arange(63, dtype=np.int64)[None, :]).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(packed, type=pa.int64())],
                names=["key", "simhash"])

    return df.select(F.col(key).alias("key"), F.col(text_col)) \
        .mapInArrow(_sig, out_schema)


def simhash_near_pairs(df: DataFrame, key: str, text_col: str = "text",
                       max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming via chunk-band
    join: split 64 bits into (max_hamming+1) chunks; pigeonhole guarantees
    equal chunks for any pair within the bound."""
    nchunks = max_hamming + 1
    width = 64 // nchunks
    sh = simhash64(df, key, text_col)
    chunks = F.array(*[
        F.shiftrightunsigned(F.col("simhash"), c * width).bitwiseAND(F.lit((1 << width) - 1))
        for c in range(nchunks)
    ])
    banded = sh.select("key", "simhash", F.posexplode(chunks).alias("chunk_i", "chunk")) \
        .localCheckpoint(eager=False)  # one signature pass feeds both join sides
    left = banded.select("chunk_i", "chunk", F.col("key").alias("a"), F.col("simhash").alias("sh_a"))
    right = banded.select("chunk_i", "chunk", F.col("key").alias("b"), F.col("simhash").alias("sh_b"))
    pairs = (
        left.join(right, ["chunk_i", "chunk"])
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.withColumn("hamming", ham).filter(ham <= max_hamming).select("a", "b", "hamming")


def ngram_jaccard_pairs(df: DataFrame, key: str, text_col: str = "text",
                        shingle_k: int = 3, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs sharing ≥1 shingle.

    Explode shingles → self-join on shingle → count shared → Jaccard via
    inclusion-exclusion with per-doc shingle counts. Exact but heavier than
    LSH — the verification tier."""
    sh = df.select(F.col(key).alias("key"), F.explode(_shingles(F.col(text_col), shingle_k)).alias("s")) \
        .localCheckpoint(eager=False)  # reused by both join sides + counts
    counts = sh.groupBy("key").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("key").alias("a"), "s")
    b = sh.select(F.col("key").alias("b"), "s")
    shared = (
        a.join(b, "s").filter(F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count("*").alias("inter"))
    )
    out = (
        shared.join(counts.withColumnRenamed("key", "a").withColumnRenamed("n_sh", "na"), "a")
        .join(counts.withColumnRenamed("key", "b").withColumnRenamed("n_sh", "nb"), "b")
        .withColumn("jaccard", F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return out


def prefix_filter_pairs(df: DataFrame, key: str, text_col: str = "text",
                        shingle_k: int = 3,
                        tau_ppm: int = 500_000) -> DataFrame:
    """Exact Jaccard τ-join with PPJoin-style prefix filtering.

    Same output as an exact shingle-Jaccard join at threshold
    τ = tau_ppm/1e6, but candidate pairs are generated ONLY from each
    document's prefix under the global (df ASC, shingle ASC) order: the
    p = n − ⌈τ·n⌉ + 1 rarest shingles. Losslessness is the standard
    prefix-filter argument — if |A∩B|/|A∪B| ≥ τ then A and B must share
    at least one shingle inside both prefixes (skipping p items from
    either set leaves fewer than ⌈τ·n⌉ ≤ |A∩B| common ones). A length
    filter (τ·max(n_a,n_b) ≤ min(n_a,n_b)) prunes further; exact
    intersections are then computed for candidates only, never all
    shared-shingle pairs — at corpus scale the stop-shingle df² blowup
    lands solely on the (tiny) prefix join, not the verify join.

    Everything stays integer: prefix length via ⌈τ·n⌉ =
    (tau_ppm·n + 999999) div 1e6, the threshold as
    1e6·inter ≥ tau_ppm·(n_a + n_b − inter), and the reported score as
    jacc_ppm = 1e6·inter div union. Reference parity: the exact tier
    under uniquevalues/uniquevalues.go's property de-dup, re-expressed
    as the published prefix-filter candidate scheme (Chaudhuri et al.,
    ICDE'06; Xiao et al., WWW'08)."""
    sh = (df.select(F.col(key).alias("key"),
                    F.explode(_shingles(F.col(text_col), shingle_k))
                    .alias("s"))
          .localCheckpoint(eager=False))  # reused: rank, verify, counts
    dfreq = sh.groupBy("s").agg(F.count("*").alias("df_s"))
    w = Window.partitionBy("key").orderBy("df_s", "s")
    ranked = (sh.join(dfreq, "s")
              .withColumn("rn", F.row_number().over(w))
              .withColumn("n", F.count("*").over(Window.partitionBy("key"))))
    prefix = ranked.filter(
        F.col("rn") <= F.expr(
            f"n - (({tau_ppm} * n + 999999) div 1000000) + 1")
    ).select("key", "s", "n")
    cand = (prefix.select(F.col("key").alias("a"), "s",
                          F.col("n").alias("na"))
            .join(prefix.select(F.col("key").alias("b"), "s",
                                F.col("n").alias("nb")), "s")
            .filter((F.col("a") < F.col("b"))
                    & (F.lit(tau_ppm) * F.greatest("na", "nb")
                       <= F.lit(1_000_000) * F.least("na", "nb")))
            .select("a", "b", "na", "nb").distinct())
    inter = (cand.join(sh.select(F.col("key").alias("a"), "s"), "a")
             .join(sh.select(F.col("key").alias("b"), "s"), ["b", "s"])
             .groupBy("a", "b", "na", "nb")
             .agg(F.count("*").alias("inter")))
    return (inter
            .filter(F.lit(1_000_000) * F.col("inter")
                    >= F.lit(tau_ppm)
                    * (F.col("na") + F.col("nb") - F.col("inter")))
            .select("a", "b", "inter", "na", "nb",
                    F.expr("1000000 * inter div (na + nb - inter)")
                    .alias("jacc_ppm")))


def near_dup_components(pairs: DataFrame, a: str = "a", b: str = "b",
                        max_iters: int = 20) -> DataFrame:
    """Connected components over the near-dup pair graph → one
    representative (min id) per component: (doc_id, rep_id).

    Min-label propagation WITH pointer jumping: each round every node
    takes the min over its neighbors' labels, then compresses one level
    (label := label-of-label) — chains converge in O(log diameter) rounds
    instead of O(diameter). Raises ValueError if max_iters rounds still
    have not reached the fixpoint (a silent partial result would split
    components and let duplicates survive). Pairs are undirected; nodes
    absent from `pairs` are their own representative (callers usually
    left-join this output and coalesce to doc_id)."""
    edges = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .unionByName(pairs.select(F.col(b).alias("u"), F.col(a).alias("v")))
        .distinct()
    ).localCheckpoint(eager=False)  # pairs may be an expensive LSH plan

    def step(labels, _):
        # candidate label per node: min over neighbors' labels and its own
        neigh = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u").agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neigh, "u", "left")
            .select("u", F.least("label", F.coalesce("nlabel", "label")).alias("label"))
        )
        # pointer jumping: label := label(label) — halves chain distances
        mapping = new_labels.select(F.col("u").alias("label"), F.col("label").alias("_ll"))
        return (
            new_labels.join(mapping, "label", "left")
            .select("u", F.least("label", F.coalesce("_ll", "label")).alias("label"))
        )

    labels = iterate(
        edges.select("u").distinct().withColumn("label", F.col("u")), step, max_iters,
        until=lambda new, old: (
            new.alias("n").join(old.alias("o"), "u")
            .filter(F.col("n.label") != F.col("o.label"))),
        what="near_dup_components")
    return labels.select(F.col("u").alias("doc_id"), F.col("label").alias("rep_id"))


def dup_span_stats(df: DataFrame, key: str = "doc_id", text_col: str = "text",
                   n: int = 8) -> DataFrame:
    """Cross-document duplicated-span signal — the exact-substring-dedup
    proxy (C4 / RefinedWeb style): for each document, the fraction of its
    word n-grams that also occur in at least one OTHER document.

    Shape — exactly THREE shuffles of the (doc, gram) table and nothing
    else: explode n-grams keyed by md5 (narrow rows) → per-(doc, gram)
    multiplicity (shuffle 1, map-side partials) → distinct-doc count per
    gram as a COUNT OVER the gram partitioning (shuffle 2 — a window
    count replaces the aggregate-then-self-join form, which would shuffle
    the same table twice more) → per-doc rollup (shuffle 3). No self-join
    and no pair materialization, so unlike ngram_jaccard_pairs this stays
    linear in corpus size even when a span is shared by millions of
    documents — at 10^12 docs the hot-gram skew lands in ONE partition's
    count per gram, not a quadratic bucket.
    """
    from geobuf_spark.functions.text import word_ngrams

    # md5 maps over the array BEFORE the explode (a generator can't nest
    # inside an expression), so only narrow 32-char keys ever leave the row
    g = df.select(F.col(key).alias("key"),
                  F.explode(F.transform(word_ngrams(F.col(text_col), n),
                                        F.md5)).alias("gram"))
    per = g.groupBy("key", "gram").agg(F.count("*").alias("m"))
    j = per.withColumn("nd", F.count("*").over(Window.partitionBy("gram")))
    return (j.groupBy("key")
            .agg(F.sum("m").alias("n_grams"),
                 F.sum(F.when(F.col("nd") >= 2, F.col("m"))
                        .otherwise(F.lit(0))).alias("n_shared"))
            .select(F.col("key").alias(key), "n_grams", "n_shared",
                    (F.col("n_shared").cast("double")
                     / F.col("n_grams").cast("double")).alias("dup_span_frac")))


def mirror_pairs(df: DataFrame, group: str, text: str = "text",
                 j_min_ppm: int = 300_000) -> DataFrame:
    """Group-level mirror detection: pairs of groups (hosts, sources, …)
    whose DISTINCT content-fingerprint sets overlap at integer Jaccard ≥
    j_min_ppm. Output (g_a, g_b, shared, j_ppm) with g_a < g_b.

    The one implementation behind the host_mirrors query and the
    clean_corpus mirror gate. Plan: (group, md5(text)) distinct — ONE
    shuffle of narrow keys, lazily checkpointed so the self-join's two
    sides and the size joins reuse a single materialization instead of
    re-scanning the corpus — then a fingerprint equi-self-join, per-pair
    rollup, and the integer Jaccard gate (sizes broadcast: one row per
    group). At 100 TB a hot-fingerprint frequency cap/salt belongs before
    the self-join; the minted fixtures have no hot fingerprints.
    """
    fp = (df.select(F.col(group).alias("g"), F.md5(F.col(text)).alias("fp"))
          .distinct().localCheckpoint(eager=False))
    sizes = fp.groupBy("g").agg(F.count("*").alias("n"))
    shared = (fp.alias("a").join(fp.alias("b"), "fp")
              .filter(F.col("a.g") < F.col("b.g"))
              .groupBy(F.col("a.g").alias("g_a"), F.col("b.g").alias("g_b"))
              .agg(F.count("*").alias("shared")))
    return (shared
            .join(F.broadcast(sizes.withColumnRenamed("g", "g_a")
                              .withColumnRenamed("n", "na")), "g_a")
            .join(F.broadcast(sizes.withColumnRenamed("g", "g_b")
                              .withColumnRenamed("n", "nb")), "g_b")
            .withColumn("j_ppm",
                        F.expr("(shared * 1000000) div (na + nb - shared)"))
            .filter(F.col("j_ppm") >= j_min_ppm)
            .select("g_a", "g_b", "shared", "j_ppm"))


def edit1_near_pairs(df: DataFrame, s_col: str) -> DataFrame:
    """Exact edit-distance-≤1 string pairs WITHOUT the quadratic self-join:
    pigeonhole half-key blocking + levenshtein refine (the typosquat /
    near-URL detector).

    One edit (substitute, insert, or delete) leaves either the first
    ⌊L/2⌋ or the last ⌊L/2⌋ characters of BOTH strings untouched, where
    L is the shorter length. Each distinct string therefore emits four
    tagged keys — prefix and suffix at lengths ⌊len/2⌋ and ⌊(len−1)/2⌋
    (the two lengths that can equal ⌊L/2⌋ when the pair's lengths differ
    by one) — and every qualifying pair collides on at least one key.
    Same pigeonhole pattern as the SimHash 16-bit chunk join.

    Plan: distinct → 4× key fan-out (map-side) → ONE equi-join on the
    tagged key → length gate → dedup → thresholded levenshtein refine
    (Spark's threshold form short-circuits). Block density is
    data-dependent: a corpus whose strings share a literal half (the
    minted `*.example` hosts share their suffix half) degenerates that
    block toward quadratic — at web scale strip the shared public suffix
    before calling, or cap blocks like minhash's max_bucket at a recall
    cost. Output (s_a, s_b), s_a < s_b, exact.
    """
    base = df.select(F.col(s_col).alias("s")).distinct()
    keys = []
    for tag, side in ((0, "substring(s, 1, {k})"), (1, "right(s, {k})")):
        for dk in (0, 1):
            k = f"(length(s) - {dk}) div 2"
            keys.append(F.struct(
                F.lit(tag).alias("t"),
                F.expr(k).cast("int").alias("k"),
                F.expr(side.format(k=k)).alias("f")))
    keyed = (base.select("s", F.explode(F.array(*keys)).alias("key"))
             .localCheckpoint(eager=False))
    cand = (keyed.select(F.col("s").alias("s_a"), "key")
            .join(keyed.select(F.col("s").alias("s_b"), "key"), "key")
            .filter((F.col("s_a") < F.col("s_b"))
                    & (F.abs(F.length("s_a") - F.length("s_b")) <= 1))
            .select("s_a", "s_b").dropDuplicates(["s_a", "s_b"]))
    return cand.filter(F.levenshtein("s_a", "s_b", 1) >= 0)


def containment_pairs(df: DataFrame, key: str, text_col: str = "text",
                      shingle_k: int = 3, threshold: float = 0.6,
                      max_df: int = 1000) -> DataFrame:
    """Asymmetric shingle containment |A∩B| / min(|A|, |B|): catches a
    short document embedded in a longer one, which symmetric Jaccard
    dilutes below threshold (the dedup gap the reference's exact tier
    shares). Same inverted-join shape as ngram_jaccard_pairs — never
    all-pairs. Shingles with document frequency > max_df are dropped from
    candidate generation only (the stopword-shingle blowup guard at
    corpus scale); the intersection then under-counts those shingles, so
    the score is a LOWER bound — exact whenever no shingle exceeds
    max_df, which the fixture satisfies and pytest pins."""
    sh = (df.select(F.col(key).alias("key"),
                    F.explode(_shingles(F.col(text_col), shingle_k))
                    .alias("s"))
          .localCheckpoint(eager=False))
    counts = sh.groupBy("key").agg(F.count("*").alias("n_sh"))
    rare = (sh.groupBy("s").agg(F.count("*").alias("df_s"))
            .filter(F.col("df_s") <= max_df).select("s"))
    shf = sh.join(rare, "s")
    shared = (shf.select(F.col("key").alias("a"), "s")
              .join(shf.select(F.col("key").alias("b"), "s"), "s")
              .filter(F.col("a") < F.col("b"))
              .groupBy("a", "b").agg(F.count("*").alias("inter")))
    return (shared
            .join(counts.select(F.col("key").alias("a"),
                                F.col("n_sh").alias("na")), "a")
            .join(counts.select(F.col("key").alias("b"),
                                F.col("n_sh").alias("nb")), "b")
            .withColumn("containment",
                        F.col("inter").cast("double")
                        / F.least("na", "nb"))
            .filter(F.col("containment") >= threshold)
            .select("a", "b", "inter", "containment"))


def winnow_fingerprints(df: DataFrame, key: str, text_col: str = "text",
                        k: int = 5, w: int = 4) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every k-token gram, slide a w-gram window,
    keep each window's MINIMUM hash, distinct per document. Guarantee:
    any shared run of ≥ w+k−1 tokens between two documents shares at
    least one selected fingerprint, while only ~2/(w+1) of grams are
    kept — the index stays small without losing long matches.

    Pure array expressions in one projection (gram hashes → window
    minima → distinct); returns (key, fp) exploded. Hashes use the
    portable md5 bridge so DuckDB/python agree."""
    from geobuf_spark.functions import phash
    from geobuf_spark.functions.text import tokens

    toks = tokens(F.col(text_col))
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: phash.hash60(F.concat_ws(" ", F.slice(toks, i, k))))
    m = F.size(grams)
    fps = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.greatest(m - (w - 1), F.lit(1))),
        lambda j: F.array_min(F.slice(grams, j, w))))
    return df.select(F.col(key), F.explode(fps).alias("fp"))
