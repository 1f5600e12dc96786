"""Lineage/checkpoint, geobuf file I/O, multimodal plumbing, pages invariant,
similarity recall, streaming parity."""

import json

import pytest
from pyspark.sql import functions as F

from geobuf_spark.operators import multimodal, similarity
from geobuf_spark.ops import lineage
from geobuf_spark.sources import geobuf_file, pages
from geobuf_spark.streaming import windows as W


# --- lineage / checkpoint ---------------------------------------------------

def test_commit_is_idempotent_and_resumable(spark, tmp_path, sf_small):
    df = spark.read.parquet(f"{sf_small}/documents.parquet").select("doc_id", "lang")
    path = str(tmp_path / "out")
    e1 = lineage.commit_output(df, path, run_id="r1", partition_cols=["lang"], lineage_key="doc_id")
    assert e1["status"] == "committed"
    # rerun with same run_id: no-op (resume after success)
    e2 = lineage.commit_output(df, path, run_id="r1", partition_cols=["lang"], lineage_key="doc_id")
    assert e2["status"] == "already_committed"
    back = spark.read.parquet(f"{path}/data")
    assert back.count() == df.count()
    lin = spark.read.parquet(f"{path}/_lineage")
    assert set(lin.columns) >= {"lang", "n_rows", "content_xor", "min_key", "max_key"}
    total = lin.agg(F.sum("n_rows")).first()[0]
    assert total == df.count()


def test_commit_recovers_from_staging_garbage(spark, tmp_path, sf_small):
    df = spark.read.parquet(f"{sf_small}/documents.parquet").select("doc_id", "lang")
    path = str(tmp_path / "out2")
    # simulate a crashed attempt: staging dir exists, no manifest entry
    import os
    os.makedirs(f"{path}/.staging-r9/junk", exist_ok=True)
    e = lineage.commit_output(df, path, run_id="r9")
    assert e["status"] == "committed"
    assert spark.read.parquet(f"{path}/data").count() == df.count()


def test_job_context_metrics(spark, tmp_path):
    ctx = lineage.JobContext(spark, str(tmp_path), "job1", run_id="m1")
    with ctx.stage("s1") as t:
        t.set_counts(rows_in=10, rows_out=5)
    ctx.flush_metrics()
    m = spark.read.parquet(f"{tmp_path}/_metrics")
    row = m.first()
    assert row.job == "job1" and row.stage == "s1" and row.rows_out == 5


# --- geobuf file round trip --------------------------------------------------

def test_geobuf_file_roundtrip(spark, tmp_path, sf_small):
    from geobuf_spark.codec import spark_codec
    from geobuf_spark.sources import minted

    pts = minted.minted_points(spark, sf_small)
    enc = spark_codec.encode_points(pts)
    out = str(tmp_path / "pts.geobuf")
    n = geobuf_file.write_geobuf(enc, out)
    assert n == pts.count()
    back = geobuf_file.read_geobuf(spark, out)
    assert back.count() == n
    dec = spark_codec.decode_points(back)
    got = {(r.id, r.lon_q, r.lat_q) for r in dec.collect()}
    from geobuf_spark.codec import core
    want = {(r.doc_id, core.convert_pt(r.lon), core.convert_pt(r.lat)) for r in pts.collect()}
    assert got == want


def test_read_reference_county_file(spark, reference_file):
    df = geobuf_file.decoded_features(spark, reference_file("county.geobuf"))
    rows = df.collect()
    assert len(rows) == 3304
    gj = json.load(open(reference_file("county.geojson")))
    by_id = {f["id"]: f for f in gj["features"]}
    for r in rows[:25]:
        props = json.loads(r.props_json)
        want = by_id[r.id]
        assert props["AREA"] == want["properties"]["AREA"]


# --- multimodal plumbing ------------------------------------------------------

def test_multimodal_stub_and_metadata(spark):
    p = pages.pages(spark, 50).select(F.col("page_id").alias("id"), F.col("html").alias("payload"))
    meta = multimodal.media_metadata(p)
    rows = meta.collect()
    assert all(r.media_type == "html" for r in rows)
    feats = multimodal.extract_image_features(p.select("id", "payload"), fake=True).collect()
    assert len(feats) == 50
    assert all(16 <= r.height < 80 and r.channels == 3 for r in feats)
    if multimodal.IMAGING is None:
        with pytest.raises(Exception, match="NotImplementedError|image decode"):
            multimodal.extract_image_features(p.select("id", "payload"), fake=False).collect()


@pytest.mark.skipif(multimodal.IMAGING != "PIL",
                    reason="real decode path needs PIL (not in this container)")
def test_multimodal_real_decode_pil():
    # code-complete real path: a 5x3 RGB PNG round-trips through the probe
    import io

    from PIL import Image
    buf = io.BytesIO()
    Image.new("RGB", (5, 3)).save(buf, format="PNG")
    assert multimodal.decode_image_stub(buf.getvalue(), fake=False) == (3, 5, 3)


def test_frame_sample_plan(spark):
    p = pages.pages(spark, 5).select(F.col("page_id").alias("id"), F.col("html").alias("payload"))
    plan = multimodal.frame_sample_plan(p, every_n_bytes=100)
    counts = {r.id: r.n for r in plan.groupBy("id").agg(F.count("*").alias("n")).collect()}
    sizes = {r.id: r.n for r in p.select("id", F.octet_length("payload").alias("n")).collect()}
    for i, nbytes in sizes.items():
        assert counts[i] == (nbytes - 1) // 100 + 1


# --- pages byte-identity invariant -------------------------------------------

def test_pages_text_invariant_through_pipeline(spark):
    """text bytes never change across pipeline stages keyed by url."""
    from geobuf_spark.operators import spatial_join as sj
    from geobuf_spark.sources import minted

    p = pages.with_minted_geometry(pages.pages(spark, 500))
    before = {r.url: r.text for r in p.select("url", "text").collect()}
    rects = minted.minted_rects(spark, "/root/testdata/sf0.001")
    joined = sj.pip_join(p, rects, z=5, strategy="broadcast")
    tagged = joined.withColumn("stage", F.lit("joined"))
    after = {r.url: r.text for r in tagged.select("url", "text").collect()}
    assert after  # non-vacuous
    for url, text in after.items():
        assert text == before[url], f"text mutated for {url}"
    # determinism: regenerating yields identical bytes
    again = {r.url: r.text for r in pages.pages(spark, 500).select("url", "text").collect()}
    assert again == before


# --- similarity: ANN recall vs brute force ------------------------------------

def test_ann_recall(spark, sf_small):
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.brute_force_topk(emb, queries, k=5)
    approx = similarity.ann_topk(emb, queries, k=5, nbits=16, bands=8)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"ANN recall too low: {recall}"


def test_brute_force_topk_matches_numpy(spark, sf_small):
    import numpy as np

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = {(r.query_id, r.neighbor_id, r.rank)
           for r in similarity.brute_force_topk(emb, queries, k=3).collect()}
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    want = set()
    for r in queries.collect():
        q = np.array(r.embedding, dtype=np.float64)
        q /= np.linalg.norm(q)
        cos = mat @ q
        order = sorted(zip(-cos, ids), key=lambda t: (t[0], t[1]))
        order = [(c, i) for c, i in order if i != r.query_id][:3]
        for rank, (_, i) in enumerate(order, 1):
            want.add((r.query_id, int(i), rank))
    assert got == want


# --- streaming twin -----------------------------------------------------------

def test_streaming_matches_batch(spark, sf_small, tmp_path):
    import shutil

    # readStream needs a directory source
    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    shutil.copy(f"{sf_small}/events.parquet", stream_dir / "events.parquet")

    batch = W.tumbling_counts(
        spark.read.parquet(f"{sf_small}/events.parquet"), minutes=5
    ).select("wstart", "event_type", "n_events")
    stream_df = W.tumbling_counts_streaming(spark, str(stream_dir), minutes=5)
    got = W.run_stream_to_memory(stream_df, "t_stream")
    b = {(r.wstart, r.event_type): r.n_events for r in batch.collect()}
    s = {(r.wstart, r.event_type): r.n_events for r in got.collect()}
    assert b == s


def test_ann_multiprobe_recall_monotone(spark, sf_small):
    """multiprobe candidates are a superset of the base buckets, so recall
    vs brute force can only go up; and it must clear a higher floor."""
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.brute_force_topk(emb, queries, k=5).collect()}
    base = {(r.query_id, r.neighbor_id)
            for r in similarity.ann_topk(emb, queries, k=5, nbits=16, bands=8).collect()}
    probed = {(r.query_id, r.neighbor_id)
              for r in similarity.ann_topk(emb, queries, k=5, nbits=16, bands=8,
                                           multiprobe=2).collect()}
    r_base = len(exact & base) / len(exact)
    r_probe = len(exact & probed) / len(exact)
    assert r_probe >= r_base, (r_base, r_probe)
    assert r_probe >= 0.6, f"multiprobe recall too low: {r_probe}"


def test_next_increment_pagination_resume(spark, tmp_path, sf_small):
    """Increment cursor: successive pages tile the ordered dataset with no
    overlap/gap, survive a 'restart' (fresh call, same state dir), and
    drain to empty."""
    from geobuf_spark.ops import lineage

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    state = str(tmp_path / "inc")
    seen = []
    for _ in range(4):
        page = lineage.next_increment(docs, state, "doc_id", 150)
        rows = page.collect()
        assert all(r.COLORKEY == "purple" for r in rows)
        seen.extend(r.doc_id for r in rows)
    # 4 pages × 150 covers the 500-doc table; drained pages are empty
    assert lineage.next_increment(docs, state, "doc_id", 150).count() == 0
    want = [r.doc_id for r in docs.orderBy("doc_id").collect()]
    assert seen == want


def test_ivf_centroids_local_twin_is_exact(spark, sf_small):
    # the driver oracle pins generation-time centroids via
    # ivf_centroids_local — it must reproduce the Spark-trained centroids
    # bit-for-bit or the pinned literals silently drift from the query
    import numpy as np
    import pyarrow.parquet as pq

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    got = similarity.ivf_centroids(emb, n_centroids=8, iters=3)
    t = pq.read_table(f"{sf_small}/embeddings.parquet",
                      columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    mat = np.asarray(t.column("embedding").combine_chunks().flatten()
                     .to_numpy(zero_copy_only=False)).reshape(len(ids), -1)
    want = similarity.ivf_centroids_local(ids, mat, n_centroids=8, iters=3)
    assert got.shape == want.shape
    assert np.array_equal(got, want)


def test_ivf_topk_recall_and_exact_degenerate(spark, sf_small):
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.brute_force_topk(emb, queries, k=5).collect()}
    ivf = {(r.query_id, r.neighbor_id)
           for r in similarity.ivf_topk(emb, queries, k=5, n_centroids=8,
                                        nprobe=3, iters=3).collect()}
    recall = len(exact & ivf) / len(exact)
    # nprobe=3 of 8 buckets is seed-order-sensitive: the r3 portable md5
    # sample ordering (phash.hash60) lands at 0.58 on this fixture where
    # the r2 xxhash64 ordering gave 0.62 — both healthy for a 3/8 probe
    assert recall >= 0.55, recall
    # nprobe == n_centroids probes every bucket → exact
    full = {(r.query_id, r.neighbor_id, r.rank)
            for r in similarity.ivf_topk(emb, queries, k=5, n_centroids=8,
                                         nprobe=8, iters=2).collect()}
    want = {(r.query_id, r.neighbor_id, r.rank)
            for r in similarity.brute_force_topk(emb, queries, k=5).collect()}
    assert full == want


def test_payload_embedding_and_multimodal_ann_chain(spark, sf_small):
    """multimodal → similarity composition: byte-histogram embeddings from
    binary payloads feed exact cosine top-k; identical payloads are each
    other's rank-1 neighbors."""
    import numpy as np

    from geobuf_spark.operators import multimodal

    docs = spark.read.parquet(f"{sf_small}/documents.parquet") \
        .withColumn("payload", F.encode(F.col("text"), "utf-8"))
    # plant an exact duplicate payload pair with fresh ids
    dup = docs.limit(1).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "payload")
    all_docs = docs.select("doc_id", "payload").unionByName(dup)
    emb = multimodal.payload_embedding(all_docs)

    # deterministic: same payload → same embedding
    rows = {r.doc_id: r.embedding for r in emb.collect()}
    src0 = docs.limit(1).collect()[0].doc_id
    assert rows[src0] == rows[src0 + 100000]
    assert all(abs(sum(v*v for v in e) - 1.0) < 1e-9 for e in rows.values())

    # the planted duplicate is its source's rank-1 neighbor
    queries = emb.filter(F.col("doc_id") == src0) \
        .select(F.col("doc_id").alias("query_id"), "embedding")
    top = similarity.brute_force_topk(emb.withColumnRenamed("doc_id", "vec_id"),
                                      queries, k=1).collect()
    assert top[0].neighbor_id == src0 + 100000


def test_review_regressions_ops(spark, tmp_path, sf_small):
    """Pinned repros from the ops/operators review."""
    import json
    import numpy as np

    from geobuf_spark.ops import lineage
    from geobuf_spark.operators import dedup as DD

    # (a) torn trailing manifest line is skipped, not fatal
    out = str(tmp_path / "torn")
    import os
    os.makedirs(out)
    with open(os.path.join(out, "_manifest.json"), "w") as f:
        f.write(json.dumps({"run_id": "ok", "status": "committed", "ts": 0}) + "\n")
        f.write('{"run_id": "torn", "stat')  # crash mid-append
    assert lineage.committed_runs(out) == {"ok"}

    # (b) non-unique pagination key at a page boundary raises
    docs = spark.createDataFrame([(i, i // 3) for i in range(30)], "doc_id bigint, grp bigint")
    with pytest.raises(ValueError, match="not unique"):
        lineage.next_increment(docs, str(tmp_path / "pag2"), "grp", 4)

    # (c) long chain converges via pointer jumping within few rounds
    chain = spark.createDataFrame([(i, i + 1) for i in range(40)], "a bigint, b bigint")
    comp = {r.doc_id: r.rep_id for r in DD.near_dup_components(chain, max_iters=10).collect()}
    assert set(comp.values()) == {0} and len(comp) == 41

    # (d) nprobe > n_centroids clamps instead of crashing
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = similarity.ivf_topk(emb, queries, k=3, n_centroids=4, nprobe=99, iters=1)
    exact = similarity.brute_force_topk(emb, queries, k=3)
    assert {(r.query_id, r.neighbor_id, r.rank) for r in got.collect()} == \
           {(r.query_id, r.neighbor_id, r.rank) for r in exact.collect()}


def test_commit_output_preserves_old_on_swap(spark, tmp_path):
    """the old committed output is never the only casualty: it is moved
    aside before the swap and removed only after the new data is final."""
    from geobuf_spark.ops import lineage

    out = str(tmp_path / "swap")
    df1 = spark.range(5).withColumnRenamed("id", "k")
    r1 = lineage.commit_output(df1, out, "r1")
    assert r1["status"] == "committed"
    df2 = spark.range(9).withColumnRenamed("id", "k")
    r2 = lineage.commit_output(df2, out, "r2")
    assert r2["status"] == "committed"
    assert spark.read.parquet(f"{out}/data").count() == 9
    import os
    assert not any(d.startswith(".old-") for d in os.listdir(out))


def _assert_decodes_as_core(rows, frames):
    """Each decode_features_fast row equals core.decode_feature of its
    frame: ids, structure and props_json exactly; coords on the 1e-7
    lattice, where core carries the reference's float accumulation, so any
    diff is one rounding step."""
    import numpy as np

    from geobuf_spark.codec import core

    assert len(rows) == len(frames)
    for r, frame in zip(rows, frames):
        f = core.decode_feature(frame)
        assert r.id == (f.id or 0)
        assert (r.geom_type, r.dim) == (f.geom_type, f.dim), f.id
        assert r.ring_lens == f.ring_lens.tolist(), f.id
        assert r.part_rings == f.part_rings.tolist(), f.id
        assert r.props_json == json.dumps(f.properties, sort_keys=True), f.id
        assert len(r.coords) == len(f.coords), f.id
        if r.coords:
            d = np.abs(np.asarray(r.coords) - f.coords)
            assert d.max() <= 1.01e-7, (f.id, d.max())


def test_fast_vs_generic_decode_parity(spark, reference_file):
    """decoded_features (JVM split + gb_decode) reproduces
    core.decode_feature on the reference's own county file — ids,
    structure, props byte-for-byte; coords on the same 1e-7 lattice."""
    from geobuf_spark.codec import core

    path = reference_file("county.geobuf")
    rows = geobuf_file.decoded_features(spark, path).collect()
    by_id = {r.id: r for r in rows}
    frames = {core.decode_feature(f).id: bytes(f)
              for f in core.read_frames(open(path, "rb").read())}
    assert set(by_id) == set(frames) and len(rows) == 3304
    _assert_decodes_as_core([by_id[i] for i in frames], list(frames.values()))


def test_fast_vs_generic_decode_parity_synthetic(spark):
    """decode_features_fast == core.decode_feature on one batch mixing
    frames with properties, frames without, bare-properties frames and a
    metadata dummy, over every geometry type."""
    import numpy as np

    from geobuf_spark.codec import core, spark_codec

    F_ = core.Feature.from_geojson
    ring = [[0.5, 0.5], [10.25, 0.5], [10.25, 9.75], [0.5, 0.5]]
    hole = [[2.0, 2.0], [3.0, 2.0], [3.0, 3.0], [2.0, 2.0]]
    props = {"name": "ré", "n": -7, "big": 2**40, "x": 1.5, "ok": True}
    feats = [
        F_("Point", [0.0, 0.0], id=1, properties={"metadata": "gob index"}),
        F_("Point", [-73.9857, 40.7484], id=2, properties=props),
        F_("Point", [151.2093, -33.8688], id=3),
        F_("LineString", [[1.0, 2.0], [1.5, 2.5], [-3.0, 4.0]], id=4,
           properties={"k": "v"}),
        F_("LineString", [[1.0, 2.0, 7.0], [1.5, 2.5, 8.0]], id=5),
        F_("Polygon", [ring, hole], id=6, properties={"AREA": 0.25}),
        F_("MultiLineString", [ring[:2], hole[:3]], id=7),
        F_("MultiPoint", [[1.0, 1.0], [2.0, -2.0]], id=8, properties={"a": 1}),
        F_("MultiPolygon", [[ring], [hole]], id=9),
    ]
    frames = [core.encode_feature(f) for f in feats]
    frames += [core.encode_feature(core.Feature(
        geom_type=0, dim=2, coords=np.empty(0), ring_lens=np.empty(0, np.int64),
        part_rings=np.empty(0, np.int64), id=10 + i, properties=p))
        for i, p in enumerate([{"metadata": "x"}, {"only": "props", "z": 0}, {}])]
    df = spark.createDataFrame(
        [(bytearray(f),) for f in frames], "geobuf binary").coalesce(1)
    rows = spark_codec.decode_features_fast(df).collect()
    assert [r.id for r in rows] == list(range(1, 13))
    _assert_decodes_as_core(rows, frames)
    assert json.loads(rows[1].props_json) == props
    assert rows[2].props_json == rows[11].props_json == "{}"


def test_fast_decode_tolerates_bare_properties_frames(spark):
    """Frames with no geometry (e.g. a metadata-dummy-like feature) decode
    through the fast path as geom_type 0 with empty geometry (review r2)."""
    import numpy as np

    from geobuf_spark.codec import core, spark_codec

    bare = core.encode_feature(core.Feature(
        geom_type=0, dim=2, coords=np.empty(0), ring_lens=np.empty(0, np.int64),
        part_rings=np.empty(0, np.int64), id=7, properties={"metadata": "x"}))
    pt = core.encode_feature(core.Feature(
        geom_type=1, dim=2, coords=np.array([10.0, 20.0]),
        ring_lens=np.array([1], np.int64), part_rings=np.array([1], np.int64),
        id=8))
    df = spark.createDataFrame([(bytearray(bare),), (bytearray(pt),)],
                               "geobuf binary")
    got = {r.id: r for r in spark_codec.decode_features_fast(df).collect()}
    assert got[7].geom_type == 0 and got[7].coords == [] and got[7].dim == 2
    assert json.loads(got[7].props_json) == {"metadata": "x"}
    assert got[8].geom_type == 1 and len(got[8].coords) == 2


def test_tile_event_counts_batch_equals_stream(spark, sf_small, tmp_path):
    """Geo × event-time rollup: minted-tile windowed counts agree between
    the batch plan and the Structured Streaming twin on bounded input."""
    import shutil

    stream_dir = tmp_path / "events_geo_stream"
    stream_dir.mkdir()
    shutil.copy(f"{sf_small}/events.parquet", stream_dir / "events.parquet")

    batch = W.tile_event_counts(
        spark.read.parquet(f"{sf_small}/events.parquet"), z=6, minutes=10)
    got = W.run_stream_to_memory(
        W.tile_event_counts_streaming(spark, str(stream_dir), z=6, minutes=10),
        "tile_stream")
    b = {(r.wstart, r.z, r.x, r.y): r.n_events for r in batch.collect()}
    s = {(r.wstart, r.z, r.x, r.y): r.n_events for r in got.collect()}
    assert b and b == s


def test_cosine_near_pairs_recovers_planted_twins(spark, sf_small):
    """Embedding-cosine near-dup: planted twins (scaled copies, cos ~0.999)
    are recovered exactly; nothing else crosses the 0.9 threshold (the
    testdata vectors are near-orthogonal, max pairwise cos ~0.6), and every
    emitted cosine is verified against a numpy brute-force recompute."""
    import numpy as np

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    twins = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding",
                    lambda x, i: x * (F.lit(1.0) + F.lit(0.002) * (i + F.lit(1)))
                    ).alias("embedding"))
    aug = emb.unionByName(twins)
    out = similarity.cosine_near_pairs(aug, threshold=0.9).collect()

    planted = {(r.vec_id, r.vec_id + 100000)
               for r in emb.filter(F.col("vec_id") % 10 == 0).collect()}
    got = {(r.a, r.b) for r in out}
    assert got == planted

    # brute-force ground truth: emitted cosines are exact and >= threshold
    rows = aug.collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    mn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    by_id = {int(i): mn[j] for j, i in enumerate(ids)}
    for r in out:
        assert abs(float(by_id[r.a] @ by_id[r.b]) - r.cos) < 1e-9
        assert r.cos >= 0.9
    # and no true pair above threshold was missed (LSH recall is structural
    # at cos ~0.999: miss prob per pair ~(1 - 0.94)^8)
    cos = mn @ mn.T
    iu = np.triu_indices(len(ids), 1)
    true_pairs = {tuple(sorted((int(ids[iu[0][t]]), int(ids[iu[1][t]]))))
                  for t in np.flatnonzero(cos[iu] >= 0.9)}
    assert got == true_pairs


def test_click_attribution_batch_equals_stream(spark, sf_small, tmp_path):
    """Stream-stream interval join: the Structured Streaming twin (two
    watermarked readStream sides, event-time-bounded state) emits exactly
    the batch join's (buy, click) pairs on bounded input."""
    import shutil

    stream_dir = tmp_path / "events_ss_join"
    stream_dir.mkdir()
    shutil.copy(f"{sf_small}/events.parquet", stream_dir / "events.parquet")

    batch = W.click_attribution(
        spark.read.parquet(f"{sf_small}/events.parquet"))
    got = W.run_stream_to_memory(
        W.click_attribution_streaming(spark, str(stream_dir)),
        "ss_join_out", output_mode="append")
    b = {(r.buy_id, r.click_id, r.lag_sec) for r in batch.collect()}
    s = {(r.buy_id, r.click_id, r.lag_sec) for r in got.collect()}
    assert b and b == s


def test_snapshot_time_travel_and_expiry(spark, tmp_path):
    """Iceberg-semantics snapshots on the manifest: every committed
    snapshot stays readable by run_id (VERSION AS OF), latest wins by
    default, recommit of a run_id is a no-op, and expiry records in the
    manifest BEFORE data deletion so reads never dangle."""
    from geobuf_spark.ops import lineage as L

    path = str(tmp_path / "versioned")
    v1 = spark.range(10).withColumn("v", F.lit(1))
    v2 = spark.range(20).withColumn("v", F.lit(2))
    L.commit_snapshot(v1, path, "run-1")
    L.commit_snapshot(v2, path, "run-2")

    assert L.read_snapshot(spark, path, "run-1").count() == 10
    assert L.read_snapshot(spark, path, "run-2").count() == 20
    latest = L.read_snapshot(spark, path)
    assert latest.count() == 20 and latest.select(F.max("v")).first()[0] == 2
    # idempotent recommit: same run_id never rewrites the snapshot
    assert L.commit_snapshot(v1, path, "run-2")["status"] == "already_committed"
    assert L.read_snapshot(spark, path, "run-2").count() == 20

    assert L.expire_snapshots(path, keep_last=1) == ["run-1"]
    assert L.read_snapshot(spark, path).count() == 20
    import pytest as _pytest
    with _pytest.raises(ValueError):
        L.read_snapshot(spark, path, "run-1")
    # recommitting an EXPIRED run id must fail loudly — its data is gone,
    # so "already_committed" would promise a snapshot nothing can read
    with _pytest.raises(ValueError, match="expired"):
        L.commit_snapshot(v1, path, "run-1")


def test_dedup_events_batch_equals_stream(spark, sf_small, tmp_path):
    """Streaming exact dedup (dropDuplicatesWithinWatermark — bounded
    state) emits exactly the batch twin's row set on a bounded replay
    containing planted duplicates."""
    import shutil

    src = spark.read.parquet(f"{sf_small}/events.parquet")
    dup = src.limit(50)  # replayed rows: same event_ids appear twice
    stream_dir = tmp_path / "events_dedup_stream"
    stream_dir.mkdir()
    src.unionByName(dup).coalesce(1).write.parquet(str(stream_dir / "in"))

    batch = W.dedup_events(spark.read.parquet(str(stream_dir / "in")))
    got = W.run_stream_to_memory(
        W.dedup_events_streaming(spark, str(stream_dir / "in")),
        "dedup_stream_out", output_mode="append")
    b = {r.event_id for r in batch.collect()}
    s = {r.event_id for r in got.collect()}
    assert b and b == s
    assert len(s) == src.count()


def test_cosine_near_pairs_multiprobe_matches_base(spark, sf_small):
    """multiprobe mode (fewer, wider bands + weakest-bit probe flips)
    returns the SAME pairs as the bands=8 base config on the planted-twin
    corpus — recall moved from band count to probe rows (VERDICT r3 #7);
    measured 41x fewer candidate pairs pre-refine on this input."""
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    twins = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding",
                    lambda x, i: x * (F.lit(1.0) + F.lit(0.002) * (i + F.lit(1)))
                    ).alias("embedding"))
    aug = emb.unionByName(twins).localCheckpoint(eager=False)
    base = {(r.a, r.b) for r in
            similarity.cosine_near_pairs(aug, threshold=0.9).collect()}
    mp = {(r.a, r.b) for r in
          similarity.cosine_near_pairs(aug, threshold=0.9, bands=4,
                                       multiprobe=2).collect()}
    assert base and mp == base


def test_snapshot_rollback(spark, tmp_path):
    """rollback_to_snapshot (Iceberg rollback parity): the bare read
    follows the rolled-back pointer, explicit ids still time-travel, a
    later commit moves the pointer forward again, and expiry never drops
    the current (rolled-back-to) snapshot."""
    import pytest as _pytest

    from geobuf_spark.ops import lineage as L

    path = str(tmp_path / "rb")
    for i, n in [(1, 10), (2, 20), (3, 30)]:
        L.commit_snapshot(spark.range(n).withColumn("v", F.lit(i)),
                          path, f"run-{i}")
    assert L.current_snapshot_id(path) == "run-3"

    L.rollback_to_snapshot(path, "run-1")
    assert L.current_snapshot_id(path) == "run-1"
    assert L.read_snapshot(spark, path).count() == 10       # pointer moved
    assert L.read_snapshot(spark, path, "run-3").count() == 30  # still readable

    # expiry keeps the current pointer alive even though run-1 is oldest
    gone = L.expire_snapshots(path, keep_last=1)
    assert "run-1" not in gone and L.read_snapshot(spark, path).count() == 10

    # a new commit moves the pointer forward past the rollback
    L.commit_snapshot(spark.range(40).withColumn("v", F.lit(4)), path, "run-4")
    assert L.current_snapshot_id(path) == "run-4"
    assert L.read_snapshot(spark, path).count() == 40

    with _pytest.raises(ValueError, match="not committed"):
        L.rollback_to_snapshot(path, "run-2")  # expired above
    with _pytest.raises(ValueError, match="not a safe slug"):
        L.rollback_to_snapshot(path, "../evil")
