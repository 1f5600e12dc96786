"""Similarity search over embedding columns.

- brute-force cosine top-k: the exactness baseline. Queries are broadcast
  as a dense numpy matrix; each partition computes a vectorized
  (batch × queries) GEMM in a pandas UDF — Arrow in, BLAS inside, no
  per-row Python. Global top-k per query via window.
- LSH-bucketed ANN (random hyperplane signatures, pure expressions): the
  scale path — candidates share a signature band, so the join is linear;
  recall measured against the brute-force baseline in tests.
- IVF ANN: k-means centroids trained on a portable-hash-ordered sample
  (functions/phash.py), so the oracle's local twin
  (ivf_centroids_local) pins the same centroids; queries probe their
  nprobe nearest buckets.

At 10^12 vectors the brute-force path is a full scan per query batch —
still the right tool for small query sets (GEMM is ~free per row); the LSH
path bounds work when query sets are large.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geobuf_spark.functions import phash


def brute_force_topk(vectors: DataFrame, queries: DataFrame, k: int,
                     vec_id: str = "vec_id", emb: str = "embedding",
                     query_id: str = "query_id") -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank), self excluded,
    ties broken by neighbor id."""
    qrows = queries.select(query_id, emb).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    qnorm = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-30)

    spark = vectors.sparkSession
    b_qids = spark.sparkContext.broadcast(qids)
    b_qmat = spark.sparkContext.broadcast(qnorm)

    out_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("cos", T.DoubleType()),
    ])

    def _score(batches):
        qi, qm = b_qids.value, b_qmat.value
        for pdf in batches:
            ids = pdf[vec_id].to_numpy(np.int64)
            mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[emb]])
            if len(mat) == 0:
                continue
            mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
            cos = mat @ qm.T  # (batch, nq)
            n_batch, nq = cos.shape
            yield pd.DataFrame({
                "query_id": np.repeat(qi, n_batch),
                "neighbor_id": np.tile(ids, nq),
                "cos": cos.T.reshape(-1),
            })

    scored = vectors.select(vec_id, emb).mapInPandas(_score, out_schema)
    scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _hyperplanes(dim: int, nbits: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((nbits, dim))


def _cosine_refine(cand: DataFrame, id_left: str, id_right: str,
                   emb_left: str, emb_right: str) -> DataFrame:
    """Exact cosine over candidate pairs in ONE Arrow pass (row-wise numpy
    products, denominator floored at 1e-30) -> (id_left, id_right, cos).
    The single refine kernel behind ann_topk, ivf_topk, and
    cosine_near_pairs - fix it here, every family inherits it."""
    import pyarrow as pa

    out_schema = T.StructType([
        T.StructField(id_left, T.LongType()),
        T.StructField(id_right, T.LongType()),
        T.StructField("cos", T.DoubleType()),
    ])

    def _cos(batches):
        for batch in batches:
            names = batch.schema.names
            a = _emb_matrix(batch.column(names.index(emb_left)))
            b = _emb_matrix(batch.column(names.index(emb_right)))
            if len(a) == 0:
                continue
            num = (a * b).sum(axis=1)
            den = np.maximum(np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1), 1e-30)
            yield pa.RecordBatch.from_arrays(
                [batch.column(names.index(id_left)).cast(pa.int64()),
                 batch.column(names.index(id_right)).cast(pa.int64()),
                 pa.array(num / den)],
                names=[id_left, id_right, "cos"])

    return (cand.select(id_left, id_right, emb_left, emb_right)
            .mapInArrow(_cos, out_schema))


def _emb_matrix(col: "pa.Array") -> np.ndarray:
    """Arrow list<float> column → (n, dim) float64 matrix, zero-copy-ish."""
    import pyarrow as pa

    arr = col.combine_chunks() if hasattr(col, "combine_chunks") else col
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    offs = arr.offsets.to_numpy(zero_copy_only=False)
    dim = int(offs[1] - offs[0]) if len(offs) > 1 else 0
    return flat.reshape(-1, dim)


def lsh_signatures(vectors: DataFrame, nbits: int = 16, seed: int = 7,
                   vec_id: str = "vec_id", emb: str = "embedding") -> DataFrame:
    """Random-hyperplane signature as a bigint, computed in one Arrow pass:
    a (batch × nbits) sign matrix from a single GEMM against the plane
    matrix — one Python stage, no per-bit expression trees."""
    import pyarrow as pa
    from pyspark.sql import types as T

    first = vectors.select(F.size(emb).alias("d")).first()
    dim = first.d
    planes = _hyperplanes(dim, nbits, seed)
    spark = vectors.sparkSession
    b_planes = spark.sparkContext.broadcast(planes)
    weights = (np.uint64(1) << np.arange(nbits, dtype=np.uint64))

    in_schema = vectors.select(vec_id, emb).schema
    out_schema = T.StructType(list(in_schema.fields) + [T.StructField("lsh_sig", T.LongType())])

    def _sig(batches):
        P = b_planes.value
        for batch in batches:
            mat = _emb_matrix(batch.column(1))
            if len(mat) == 0:
                continue
            bits = (mat @ P.T) > 0  # (n, nbits)
            sig = (bits.astype(np.uint64) * weights[None, :]).sum(axis=1).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1), pa.array(sig, type=pa.int64())],
                names=[vec_id, emb, "lsh_sig"],
            )

    return vectors.select(vec_id, emb).mapInArrow(_sig, out_schema)


def _query_probes(queries: DataFrame, nbits: int, bands: int, multiprobe: int,
                  seed: int, query_id: str, emb: str) -> DataFrame:
    """Per-query probe rows (query_id, qemb, band, bucket): the band's base
    bucket plus, for multiprobe > 0, the buckets reached by flipping the
    band's weakest bits one at a time (smallest |projection margin| — the
    bits most likely to disagree with a true neighbor's signature).

    Query-side only: the vector table keeps one bucket per band, so recall
    rises at (1+multiprobe)× probe rows instead of more bands (which would
    multiply the big side)."""
    import pyarrow as pa

    width = nbits // bands
    dim = queries.select(F.size(emb).alias("d")).first().d
    planes = _hyperplanes(dim, nbits, seed)
    spark = queries.sparkSession
    b_planes = spark.sparkContext.broadcast(planes)
    emb_type = queries.select(emb).schema.fields[0].dataType

    out_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("qemb", emb_type),
        T.StructField("band", T.IntegerType()),
        T.StructField("bucket", T.LongType()),
    ])
    w_weights = np.uint64(1) << np.arange(width, dtype=np.uint64)

    def _probe(batches):
        P = b_planes.value
        for batch in batches:
            mat = _emb_matrix(batch.column(1))
            n = len(mat)
            if n == 0:
                continue
            proj = mat @ P.T  # (n, nbits)
            bits = proj > 0
            idx_parts, band_parts, bucket_parts = [], [], []
            base_idx = np.arange(n, dtype=np.int64)
            for i in range(bands):
                sl = slice(i * width, (i + 1) * width)
                bsig = (bits[:, sl].astype(np.uint64) * w_weights[None, :]).sum(axis=1)
                variants = [bsig]
                if multiprobe:
                    order = np.argsort(np.abs(proj[:, sl]), axis=1)  # weakest first
                    for j in range(min(multiprobe, width)):
                        variants.append(bsig ^ (np.uint64(1) << order[:, j].astype(np.uint64)))
                for v in variants:
                    idx_parts.append(base_idx)
                    band_parts.append(np.full(n, i, dtype=np.int32))
                    bucket_parts.append(v.astype(np.int64))
            idx = pa.array(np.concatenate(idx_parts))
            yield pa.RecordBatch.from_arrays([
                batch.column(0).take(idx), batch.column(1).take(idx),
                pa.array(np.concatenate(band_parts)),
                pa.array(np.concatenate(bucket_parts)),
            ], names=["query_id", "qemb", "band", "bucket"])

    return queries.select(query_id, emb).mapInArrow(_probe, out_schema)


def ann_topk(vectors: DataFrame, queries: DataFrame, k: int, *, nbits: int = 16,
             bands: int = 4, seed: int = 7, multiprobe: int = 0,
             vec_id: str = "vec_id", emb: str = "embedding",
             query_id: str = "query_id") -> DataFrame:
    """Approximate top-k: candidates share ≥1 signature band (queries also
    probe near-miss buckets when multiprobe > 0); exact cosine re-rank on
    candidates only."""
    width = nbits // bands
    sv = lsh_signatures(vectors, nbits, seed, vec_id, emb)

    def bandcol(sig, i):
        return F.shiftrightunsigned(sig, i * width).bitwiseAND(F.lit((1 << width) - 1))

    v_b = sv.select(
        vec_id, emb,
        F.posexplode(F.array(*[bandcol(F.col("lsh_sig"), i) for i in range(bands)])).alias("band", "bucket"),
    )
    q_b = _query_probes(queries, nbits, bands, multiprobe, seed, query_id, emb)
    cand = (
        q_b.join(v_b, ["band", "bucket"])
        .filter(F.col(vec_id) != F.col("query_id"))
        .dropDuplicates(["query_id", vec_id])
    )

    scored = _cosine_refine(cand, "query_id", vec_id, emb, "qemb")
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(vec_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(vec_id).alias("neighbor_id"), "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path: k-means-lite
# centroids, vectors bucketed by nearest centroid, queries probe the
# top-nprobe buckets, exact cosine re-rank on candidates only.
# ---------------------------------------------------------------------------

# k-means trains on the SAMPLE_N vectors with the smallest hash60(id)
SAMPLE_N = 100_000
# element type of the embedding column (array<float>): the local twin
# rounds its normalized vectors to it, as `_normalized` does in Spark
EMB_DTYPE = np.float32


def _spherical_kmeans(sample: np.ndarray, n_centroids: int,
                      iters: int) -> np.ndarray:
    """Spherical k-means on the hash-ordered training sample: f64
    re-normalize, seed with the first n_centroids rows (seedless and
    reproducible), then `iters` rounds of argmax-cosine assignment and
    re-normalized member means. Empty clusters keep their previous
    centroid. The one loop behind ivf_centroids and its local twin."""
    m = np.asarray(sample, dtype=np.float64)
    m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
    cents = m[:n_centroids].copy()
    for _ in range(iters):
        cl = np.argmax(m @ cents.T, axis=1)
        new = cents.copy()
        for k in range(n_centroids):
            members = m[cl == k]
            if len(members):
                v = members.mean(axis=0)
                nv = np.linalg.norm(v)
                if nv > 1e-30:
                    new[k] = v / nv
        cents = new
    return cents


def ivf_centroids(vectors: DataFrame, n_centroids: int = 16, iters: int = 5,
                  vec_id: str = "vec_id", emb: str = "embedding") -> np.ndarray:
    """Deterministic k-means on normalized vectors.

    Trains on the SAMPLE_N vectors with the smallest portable md5-hash of
    the id (functions/phash.py — DuckDB can recompute the sample order,
    so the oracle can pin the exact centroids): one deterministic
    collect, then every iteration runs in numpy on the Spark driver. This is
    how production coarse quantizers train (a bounded sample suffices to
    place bucket centroids; at 10^12 vectors a full pass per iteration is
    absurd), and it keeps iters × cluster passes out of the plan. The
    orderBy+limit pair compiles to TakeOrderedAndProject (per-partition
    top-k + one final merge), not a global sort."""
    vectors = _normalized(vectors, vec_id, emb)  # spherical k-means:
    # assignment AND the mean-update must both see unit vectors, or
    # long-norm outliers dominate the centroid sums
    rows = (
        vectors.select(vec_id, emb)
        .orderBy(phash.hash60(F.col(vec_id).cast("string")))
        .limit(max(SAMPLE_N, n_centroids)).collect()
    )
    return _spherical_kmeans(np.array([r[1] for r in rows]), n_centroids, iters)


def ivf_centroids_local(ids: np.ndarray, mat: np.ndarray, n_centroids: int = 16,
                        iters: int = 5) -> np.ndarray:
    """Local numpy twin of `ivf_centroids`: given the FULL (unnormalized)
    id/vector arrays, reproduces the Spark-trained centroids bit-for-bit —
    used by the external correctness oracle to pin the coarse quantizer
    as SQL literals (the 3-iteration k-means itself is not
    SQL-expressible; tests/test_ops_misc.py asserts exact equality with
    the Spark path so the twin cannot drift).

    Replicates the sample selection and normalization: `_normalized` (f64
    normalize, cast back to the column dtype EMB_DTYPE) and the
    hash60-ordered sample; `_spherical_kmeans` does the rest."""
    mat64 = np.asarray(mat, dtype=np.float64)
    matn = mat64 / np.maximum(np.linalg.norm(mat64, axis=1, keepdims=True), 1e-30)
    h = np.array([phash.py_hash60(str(int(i))) for i in ids], dtype=np.uint64)
    order = np.argsort(h, kind="stable")[: max(SAMPLE_N, n_centroids)]
    return _spherical_kmeans(matn.astype(EMB_DTYPE)[order], n_centroids, iters)


def _normalized(vectors: DataFrame, vec_id: str, emb: str) -> DataFrame:
    """L2-normalize the embedding column in one Arrow pass."""
    import pyarrow as pa

    schema = vectors.select(vec_id, emb).schema

    def _norm(batches):
        for batch in batches:
            mat = _emb_matrix(batch.column(1))
            if len(mat) == 0:
                continue
            mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
            n, d = mat.shape
            offs = np.arange(0, (n + 1) * d, d, dtype=np.int32)
            carr = pa.ListArray.from_arrays(
                pa.array(offs), pa.array(mat.reshape(-1), type=pa.float64()))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), carr.cast(batch.schema.field(1).type)],
                names=[vec_id, emb])

    return vectors.select(vec_id, emb).mapInArrow(_norm, schema)


def _assign_clusters(vectors: DataFrame, cents: np.ndarray,
                     vec_id: str, emb: str) -> DataFrame:
    """(vec_id, embedding, cluster) via one GEMM per Arrow batch."""
    import pyarrow as pa

    spark = vectors.sparkSession
    b_c = spark.sparkContext.broadcast(cents)
    emb_type = vectors.select(emb).schema.fields[0].dataType
    out_schema = T.StructType([
        T.StructField(vec_id, T.LongType()),
        T.StructField(emb, emb_type),
        T.StructField("cluster", T.IntegerType()),
    ])

    def _assign(batches):
        C = b_c.value
        for batch in batches:
            mat = _emb_matrix(batch.column(1))
            if len(mat) == 0:
                continue
            matn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
            cl = np.argmax(matn @ C.T, axis=1).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1), pa.array(cl)],
                names=[vec_id, emb, "cluster"])

    return vectors.select(vec_id, emb).mapInArrow(_assign, out_schema)


def ivf_topk(vectors: DataFrame, queries: DataFrame, k: int, *,
             n_centroids: int = 16, nprobe: int = 4, iters: int = 5,
             vec_id: str = "vec_id", emb: str = "embedding",
             query_id: str = "query_id") -> DataFrame:
    """IVF approximate top-k: (query_id, neighbor_id, rank).

    nprobe trades recall for candidate volume; nprobe == n_centroids
    degenerates to exact brute force (every bucket probed)."""
    import pyarrow as pa

    nprobe = min(nprobe, n_centroids)
    cents = ivf_centroids(vectors, n_centroids, iters, vec_id, emb)
    sv = _assign_clusters(vectors, cents, vec_id, emb)

    spark = vectors.sparkSession
    b_c = spark.sparkContext.broadcast(cents)
    emb_type = queries.select(emb).schema.fields[0].dataType
    q_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("qemb", emb_type),
        T.StructField("cluster", T.IntegerType()),
    ])

    def _probe(batches):
        C = b_c.value
        for batch in batches:
            mat = _emb_matrix(batch.column(1))
            if len(mat) == 0:
                continue
            matn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
            order = np.argsort(-(matn @ C.T), axis=1)[:, :nprobe].astype(np.int32)
            n = len(mat)
            idx = pa.array(np.repeat(np.arange(n), nprobe))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).take(idx), batch.column(1).take(idx),
                 pa.array(order.reshape(-1))],
                names=["query_id", "qemb", "cluster"])

    q_b = queries.select(query_id, emb).mapInArrow(_probe, q_schema)
    cand = (
        q_b.join(sv, "cluster")
        .filter(F.col(vec_id) != F.col("query_id"))
    )

    scored = _cosine_refine(cand, "query_id", vec_id, emb, "qemb")
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(vec_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(vec_id).alias("neighbor_id"), "rank")
    )


def cosine_near_pairs(vectors: DataFrame, threshold: float = 0.9, *,
                      nbits: int = 64, bands: int = 8, seed: int = 7,
                      max_bucket: int = 1000, multiprobe: int = 0,
                      vec_id: str = "vec_id",
                      emb: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cos) with a < b and
    cosine(emb_a, emb_b) >= threshold — the embedding tier of the dedup
    family (exact / minhash / simhash / ngram live in operators/dedup.py).

    Scale path, never all-pairs: random-hyperplane signatures in one Arrow
    GEMM pass (lsh_signatures), band buckets as the only shuffle key, a
    deterministic per-bucket cap (row_number by id) against pathological
    buckets, then exact cosine refine on candidates only. Hyperplane LSH
    is selective precisely in the near-dup regime this operator targets
    (threshold >= ~0.8): at cos 0.99 a width-8 band collides w.p. ~0.94,
    at cos 0.6 w.p. ~0.06, so candidate volume stays linear in rows while
    recall on true near-dups is ~1 across 8 bands. At 10^12 vectors the
    bucket join shuffles signature rows only (bands x rows), embeddings
    travel once, and max_bucket bounds any bucket's pair blowup.

    `multiprobe > 0` (VERDICT r3 #7) buys recall with probe rows instead
    of band count: one side of the self-join additionally probes the
    buckets reached by flipping its `multiprobe` weakest projection bits
    per band (the _query_probes kernel), so `bands` can drop — and wider
    bands (nbits/bands) collapse random collisions geometrically. A
    directed hit in either direction recovers an unordered pair, so the
    probe side joins the capped base side and (least, greatest)
    normalization replaces the a < b filter."""
    width = nbits // bands
    sv = lsh_signatures(vectors, nbits, seed, vec_id, emb)

    def bandcol(sig, i):
        return F.shiftrightunsigned(sig, i * width).bitwiseAND(F.lit((1 << width) - 1))

    banded = sv.select(
        F.col(vec_id), F.col(emb),
        F.posexplode(F.array(*[bandcol(F.col("lsh_sig"), i) for i in range(bands)]))
        .alias("band", "bucket"))
    w = Window.partitionBy("band", "bucket").orderBy(vec_id)
    banded = (banded.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") <= max_bucket))
    # both sides of the self-join reuse one materialization of the
    # signature pass instead of recomputing the GEMM + window twice
    banded = banded.localCheckpoint(eager=False)

    if multiprobe:
        probes = _query_probes(vectors, nbits, bands, multiprobe, seed,
                               vec_id, emb)
        # cap the probe side too (r4 review): without it a degenerate
        # bucket of B rows joins B·(1+multiprobe) uncapped probe rows
        # against max_bucket base rows — linear-in-B blowup the cap
        # exists to prevent. (1+multiprobe)·max_bucket keeps every probe
        # variant of the capped population while bounding pairs per
        # bucket at O(max_bucket²·(1+multiprobe)).
        # deterministic: per (band, bucket) a query_id appears at most once
        # (a band's probe variants are distinct buckets by construction)
        wp = Window.partitionBy("band", "bucket").orderBy("query_id")
        probes = (probes.withColumn("_rn", F.row_number().over(wp))
                  .filter(F.col("_rn") <= max_bucket * (1 + multiprobe)))
        left = probes.select("band", "bucket",
                             F.col("query_id").alias("a"),
                             F.col("qemb").alias("ea"))
    else:
        left = banded.select("band", "bucket", F.col(vec_id).alias("a"),
                             F.col(emb).alias("ea"))
    right = banded.select("band", "bucket", F.col(vec_id).alias("b"),
                          F.col(emb).alias("eb"))
    if multiprobe:
        # cos is symmetric, so the (ea, eb) attachment need not follow the
        # id swap — any orientation of the two vectors scores identically
        pairs = (left.join(right, ["band", "bucket"])
                 .filter(F.col("a") != F.col("b"))
                 .select(F.least("a", "b").alias("_pa"),
                         F.greatest("a", "b").alias("_pb"), "ea", "eb")
                 .dropDuplicates(["_pa", "_pb"])
                 .withColumnRenamed("_pa", "a").withColumnRenamed("_pb", "b"))
    else:
        pairs = (left.join(right, ["band", "bucket"])
                 .filter(F.col("a") < F.col("b"))
                 .dropDuplicates(["a", "b"]))

    scored = _cosine_refine(pairs, "a", "b", "ea", "eb")
    return scored.filter(F.col("cos") >= F.lit(threshold)).select("a", "b", "cos")


def mmr_select(docs: DataFrame, key: str = "doc_id", text_col: str = "text",
               k: int = 3, lam: int = 200, shingle_k: int = 3) -> list:
    """Greedy Maximal-Marginal-Relevance selection of k exemplar
    documents — the diversity-aware "pick representatives" step of a
    curation pipeline. Exact integers end to end: rel(d) = |distinct
    shingle_k-token shingles|, round r maximizes 1e6·rel −
    lam·maxsim_ppm where maxsim_ppm is the max floor-ppm Jaccard against
    the already-selected docs; ties → min key.

    Each round is ONE distributed argmax (orderBy → limit 1). The
    selected shingle sets ride along as plan literals (array_intersect
    against a constant array — no join), so per-round cost is a
    projection + top-1 over the corpus and exactly k single-row collects
    touch the driver; k is a small constant, never data-sized. Returns
    [(rank, key, rel, maxsim_ppm, score)].
    """
    from geobuf_spark.operators import dedup

    sh = (docs.select(F.col(key).alias("_k"),
                      dedup._shingles(F.col(text_col), shingle_k)
                      .alias("shs"))
          .withColumn("rel", F.size("shs").cast("bigint"))
          .localCheckpoint(eager=False))
    sel = []  # (key, rel, maxsim, score, shingle_list)
    for _ in range(k):
        df = sh
        sims = []
        for j, (_, _, _, _, shl) in enumerate(sel):
            lit = F.array(*[F.lit(s) for s in shl])
            df = df.withColumn(
                f"i{j}",
                F.size(F.array_intersect("shs", lit)).cast("bigint"))
            sims.append(F.expr(
                f"1000000 * i{j} div (rel + {len(shl)} - i{j})"))
        if not sims:
            maxsim = F.lit(0).cast("bigint")
        elif len(sims) == 1:
            maxsim = sims[0]
        else:
            maxsim = F.greatest(*sims)
        df = df.withColumn("maxsim", maxsim)
        df = df.withColumn(
            "score", F.expr(f"1000000 * rel - {lam} * maxsim"))
        if sel:
            df = df.filter(~F.col("_k").isin([s[0] for s in sel]))
        row = (df.orderBy(F.col("score").desc(), F.col("_k").asc())
               .limit(1).select("_k", "rel", "maxsim", "score", "shs")
               .collect()[0])
        sel.append((row["_k"], row["rel"], row["maxsim"], row["score"],
                    row["shs"]))
    return [(r + 1, s[0], int(s[1]), int(s[2]), int(s[3]))
            for r, s in enumerate(sel)]
