"""Spark-level geobuf codec: encode/decode round trips on DataFrames."""

import json
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from geobuf_spark.codec import core
from geobuf_spark.codec import spark_codec as sc
from geobuf_spark.sources import minted


def test_points_roundtrip_df(spark, sf_small):
    pts = minted.minted_points(spark, sf_small)
    enc = sc.encode_points(pts)
    dec = sc.decode_points(enc)
    got = {(r.id, r.lon_q, r.lat_q) for r in dec.collect()}
    want = {
        (r.doc_id, core.convert_pt(r.lon), core.convert_pt(r.lat))
        for r in pts.collect()
    }
    assert got == want


def test_points_frames_reference_decodable(spark, sf_small):
    """Every Spark-encoded frame parses with the reference-semantics core
    decoder — proving wire compatibility, not just self-consistency."""
    pts = minted.minted_points(spark, sf_small).limit(50)
    coords = {r.doc_id: (r.lon, r.lat) for r in pts.collect()}
    rows = sc.encode_points(pts).collect()
    assert len(rows) == len(coords)
    for r in rows:
        f = core.decode_feature(bytes(r.geobuf), quantized=True)
        assert f.id == r.doc_id
        assert core.GEOM_TYPES[f.geom_type] == "Point"
        lon, lat = coords[r.doc_id]
        assert f.coords[0] == core.convert_pt(lon)
        assert f.coords[1] == core.convert_pt(lat)
        # current-writer bbox present (write_feature.go:249-260)
        assert f.bbox is not None and len(f.bbox) == 4


def test_generic_roundtrip_df(spark):
    """encode_features_generic writes core.encode_feature's frames for
    GEOM_SCHEMA rows (MultiPolygon parts included) and keeps the input
    columns; decode_features_fast reads them back as core.decode_feature
    does."""
    feats = [
        (1, 3, 2, [0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 0.0], [4], [1], json.dumps({"name": "sq"})),
        (2, 2, 2, [10.5, -3.25, 11.0, -3.5], [2], [1], json.dumps({"k": 7})),
        (3, 6, 2, [0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0, 0.0,
                   5.0, 5.0, 6.0, 5.0, 6.0, 6.0, 5.0, 5.0], [4, 4], [1, 1], "{}"),
    ]
    df = spark.createDataFrame(feats, schema=sc.GEOM_SCHEMA)
    enc = sc.encode_features_generic(df)
    assert enc.columns == df.columns + ["geobuf"]
    frames = {r.id: bytes(r.geobuf) for r in enc.collect()}
    dec = {r.id: r for r in sc.decode_features_fast(enc).collect()}
    for fid, gt, dim, coords, rl, pr, props in feats:
        assert frames[fid] == core.encode_feature(core.Feature(
            geom_type=gt, dim=dim, coords=np.array(coords), ring_lens=np.array(rl),
            part_rings=np.array(pr), id=fid, properties=json.loads(props)))
        f, r = core.decode_feature(frames[fid]), dec[fid]
        assert (r.geom_type, r.dim) == (f.geom_type, f.dim) == (gt, dim)
        assert list(r.ring_lens) == f.ring_lens.tolist() == rl
        assert list(r.part_rings) == f.part_rings.tolist() == pr
        assert np.abs(np.array(r.coords) - f.coords).max() <= 1.01e-7
        assert np.abs(np.array(r.coords) - np.array(coords)).max() <= 1e-7
        assert r.props_json == json.dumps(f.properties, sort_keys=True)
        assert json.loads(r.props_json) == json.loads(props)


def test_kernel_empty_batch(spark):
    """Empty input through the point codec: no rows, no failure."""
    empty = spark.createDataFrame([], "doc_id long, lon double, lat double")
    enc = sc.encode_points(empty)
    assert enc.count() == 0 and sc.decode_points(enc).count() == 0
    assert sc.roundtrip_points(empty).count() == 0
    assert tuple(sc.decode_points_agg(enc).collect()[0]) == (0, None, None, None)


# ---------------------------------------------------------------------------
# vectorized property tables (fixed schema) on the point hot path
# ---------------------------------------------------------------------------

def _props_points(spark, ids, lon, lat, **cols):
    """A (doc_id, lon, lat, *cols) DataFrame and the property columns:
    string or double/bigint by the first value. Built from rows, since a
    pandas float column would turn NaN into null."""
    types = {k: "string" if isinstance(v[0], str) else
             "double" if isinstance(v[0], (float, np.floating)) else "bigint"
             for k, v in cols.items()}
    schema = ", ".join(["doc_id bigint, lon double, lat double"]
                       + [f"{k} {t}" for k, t in types.items()])
    rows = [(int(i), float(x), float(y),
             *(v[j].item() if isinstance(v[j], np.generic) else v[j] for v in cols.values()))
            for j, (i, x, y) in enumerate(zip(ids, lon, lat))]
    return spark.createDataFrame(rows, schema), list(cols)


def _core_point(i, x, y, props):
    return core.encode_feature(core.Feature.from_geojson(
        "Point", [float(x), float(y)], id=int(i), properties=props))


def test_points_props_kernel_byte_parity(spark):
    """encode_points_with_props frames equal core.encode_feature's, byte
    for byte: string (multi-byte UTF-8, empty) and int property columns."""
    rng = np.random.default_rng(47)
    n = 300
    ids = rng.integers(0, 2**40, n)
    lon = rng.uniform(-170, 170, n); lat = rng.uniform(-80, 80, n)
    langs = [["en", "de", "fr", "zh-Hant", ""][i % 5] for i in range(n)]
    urls = [f"https://example.com/page/{i}?q=é{i%7}" for i in range(n)]
    nchars = rng.integers(0, 1_000_000, n)
    df, props = _props_points(spark, ids, lon, lat, url=urls, lang=langs, n_chars=nchars)
    got = {r.doc_id: bytes(r.geobuf)
           for r in sc.encode_points_with_props(df, props=props).collect()}
    want = {int(ids[i]): _core_point(ids[i], lon[i], lat[i], {
        "url": urls[i], "lang": langs[i], "n_chars": int(nchars[i])}) for i in range(n)}
    assert got == want
    # round-trip through the reference-semantics decoder
    f = core.decode_feature(got[int(ids[5])])
    assert f.properties == {"url": urls[5], "lang": langs[5], "n_chars": int(nchars[5])}


def test_encode_points_with_props_dataframe(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    from geobuf_spark.sources import minted

    pts = minted.minted_points(spark, sf_small).join(
        docs.select("doc_id", "lang", "n_chars"), "doc_id")
    enc = sc.encode_points_with_props(pts, props=["lang", "n_chars"])
    rows = enc.orderBy("doc_id").limit(20).collect()
    src = {r.doc_id: (r.lang, r.n_chars) for r in pts.orderBy("doc_id").limit(20).collect()}
    for r in rows:
        f = core.decode_feature(bytes(r.geobuf))
        assert (f.properties["lang"], f.properties["n_chars"]) == src[r.doc_id]
        assert f.id == r.doc_id and f.geom_type == 1


def test_points_props_kernel_float_parity(spark):
    """Float property columns keep their bits on the wire, NaN and ±Inf
    included (no detour through JSON text, where they would turn into
    strings): frames equal core.encode_feature's."""
    rng = np.random.default_rng(53)
    n = 100
    ids = np.arange(n); lon = rng.uniform(-170, 170, n); lat = rng.uniform(-80, 80, n)
    vals = rng.standard_normal(n) * 1e6
    vals[[1, 2, 4, 5]] = [math.nan, math.inf, -math.inf, -0.0]
    df, props = _props_points(spark, ids, lon, lat, score=vals)
    got = {r.doc_id: bytes(r.geobuf)
           for r in sc.encode_points_with_props(df, props=props).collect()}
    assert got == {i: _core_point(i, lon[i], lat[i], {"score": float(vals[i])})
                   for i in range(n)}
    assert core.decode_feature(got[3]).properties["score"] == vals[3]
    assert math.isnan(core.decode_feature(got[1]).properties["score"])
    assert core.decode_feature(got[4]).properties["score"] == -math.inf


def test_lazy_property_extraction(spark, sf_small):
    """LazyFeatureTileID parity: pull ONE property out of real frames
    without touching geometry; values equal the full generic decode."""
    import numpy as np

    from geobuf_spark.sources import minted

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    pts = minted.minted_points(spark, sf_small).join(
        docs.select("doc_id", "lang", "n_chars"), "doc_id")
    enc = sc.encode_points_with_props(pts, props=["lang", "n_chars"]).cache()

    lazy_lang = {r.id: r.lang for r in sc.lazy_property(enc, "lang").collect()}
    lazy_n = {r.id: r.n_chars
              for r in sc.lazy_property(enc, "n_chars", value_type="bigint").collect()}
    src = {r.doc_id: (r.lang, r.n_chars) for r in pts.collect()}
    assert len(lazy_lang) == len(src)
    for k, (lang, n_chars) in src.items():
        assert lazy_lang[k] == lang, k
        assert lazy_n[k] == n_chars, k
    # absent key → all None
    miss = sc.lazy_property(enc, "nope").collect()
    assert all(r.nope is None for r in miss)
    enc.unpersist()


def test_lazy_property_kernel_direct(spark):
    """lazy_property of a string and a double column equals
    core.decode_properties(frame).get(key) on every frame."""
    rng = np.random.default_rng(61)
    n = 50
    ids = np.arange(n)
    lon = rng.uniform(-10, 10, n); lat = rng.uniform(-10, 10, n)
    tiles = [f"9/{i}/{i*2}" for i in range(n)]
    scores = rng.standard_normal(n)
    df, props = _props_points(spark, ids, lon, lat, TILEID=tiles, score=scores)
    enc = sc.encode_points_with_props(df, props=props).coalesce(1)
    frames = [bytes(r.geobuf) for r in enc.collect()]
    assert [r.TILEID for r in sc.lazy_property(enc, "TILEID").collect()] == tiles
    got = [tuple(r) for r in sc.lazy_property(enc, "score", value_type="double").collect()]
    assert got == [(i, core.decode_properties(f)["score"]) for i, f in enumerate(frames)]
    assert [s for _, s in got] == scores.tolist()


def test_frame_keys_and_bbox_wire_level(spark, sf_small):
    import numpy as np

    from geobuf_spark.sources import minted

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    pts = minted.minted_points(spark, sf_small).join(
        docs.select("doc_id", "lang", "n_chars"), "doc_id")
    enc = sc.encode_points_with_props(pts, props=["lang", "n_chars"]).cache()

    # ReadKeys parity: every key of every frame, as core reads them
    keys = sorted(r.key for r in sc.frame_keys(enc).collect())
    assert keys == sorted(k for r in enc.collect()
                          for k in core.decode_properties(bytes(r.geobuf)))
    assert set(keys) == {"lang", "n_chars"}

    # ReadBB parity: bbox without decoding geometry == quantized point box
    bb = sc.frame_bbox(enc)
    rows = bb.collect()
    src = {r.doc_id: (r.lon, r.lat) for r in pts.collect()}
    # degenerate point bbox: w==e==qx, s==n==qy — check the multiset matches
    got = sorted((r.w_q, r.s_q, r.e_q, r.n_q) for r in rows)
    want = sorted(
        (int(core.quantize_vec(np.array([lo]))[0]), int(core.quantize_vec(np.array([la]))[0]),
         int(core.quantize_vec(np.array([lo]))[0]), int(core.quantize_vec(np.array([la]))[0]))
        for lo, la in src.values())
    assert got == want
    enc.unpersist()


def test_frame_bbox_missing_field(spark, reference_file):
    """county.geobuf was written by an older encoder with NO bbox field —
    the wire-level reader must yield not-found, not garbage."""
    from geobuf_spark.codec.core import read_frames

    data = open(reference_file("county.geobuf"), "rb").read()
    frames = []
    for i, fr in enumerate(read_frames(data)):
        frames.append(bytes(fr))
        if i >= 50:
            break
    df = spark.createDataFrame([(bytearray(f),) for f in frames], "geobuf binary")
    assert sc.frame_bbox(df).filter(F.col("w_q").isNotNull()).count() == 0
    # but keys ARE readable from the same frames
    keys = {r.key for r in sc.frame_keys(df).collect()}
    assert "AREA" in keys and "COLORKEY" in keys


def test_decode_points_any_with_props(spark, sf_small):
    """props-bearing point frames decode in the JVM (gb_point skips the
    property fields): coords equal the source lattice and core's decode
    of the same frames, ids preserved."""
    import numpy as np

    from geobuf_spark.sources import minted

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    pts = minted.minted_points(spark, sf_small).join(
        docs.select("doc_id", "lang", "n_chars"), "doc_id")
    enc = sc.encode_points_with_props(pts, props=["lang", "n_chars"])
    frames = [bytes(r.geobuf) for r in enc.collect()]
    got = {(r.id, r.lon_q, r.lat_q) for r in sc.decode_points(enc).collect()}
    src = {r.doc_id: (r.lon, r.lat) for r in pts.collect()}
    assert got == {(i, *core.quantize_vec(np.array(src[i])).tolist())
                   for i in src}
    want = set()
    for f in frames:
        feat = core.decode_feature(f, quantized=True)
        assert feat.properties  # the frames really carry properties
        want.add((feat.id, int(feat.coords[0]), int(feat.coords[1])))
    assert got == want
    # prop-less frames decode the same as core's decode of them
    plain = [core.encode_feature(core.Feature.from_geojson(
        "Point", [float(x), float(y)], id=i))
        for i, x, y in zip(range(10), np.linspace(-5, 5, 10), np.linspace(2, 3, 10))]
    df = spark.createDataFrame([(f,) for f in plain], "geobuf binary")
    got = {(r.id, r.lon_q, r.lat_q) for r in sc.decode_points(df).collect()}
    assert got == {(i, core.convert_pt(x), core.convert_pt(y)) for i, x, y in
                   zip(range(10), np.linspace(-5, 5, 10), np.linspace(2, 3, 10))}


def test_review_regressions(spark, gb_decode):
    """Pinned repros from the round-1 codec review."""
    import numpy as np

    # (a) the geometry code of props-bearing frames is read by field, not
    # at a fixed offset
    df, props = _props_points(spark, [1, 2], [1.0, 2.0], [3.0, 4.0], lang=["en", "de"])
    enc = sc.encode_points_with_props(df, props=props).orderBy("doc_id")
    rows = gb_decode([bytes(r.geobuf) for r in enc.collect()])
    assert [r.geom_type for r in rows] == [1, 1]
    assert [r.props_json for r in rows] == ['{"lang": "en"}', '{"lang": "de"}']
    # (b) id-less frames: lazy read still finds the property
    f = core.Feature.from_geojson("Point", [1.0, 2.0], properties={"lang": "en"})
    a2 = spark.createDataFrame([(core.encode_feature(f),)], "geobuf binary")
    assert [tuple(r) for r in sc.lazy_property(a2, "lang").collect()] == [(0, "en")]
    # (c) zero-vertex lines, empty rings and ring-less polygons rejected
    # loudly, naming the fault
    lines = spark.createDataFrame([(1, [0.1, 0.2]), (2, [])],
                                  "line_id long, coords array<double>")
    with pytest.raises(Exception, match="line coords must be non-empty"):
        sc.encode_lines(lines).collect()
    for coords, ring_lens, msg in [([0.1, 0.2, 0.3, 0.4], [2, 0], "empty ring"),
                                   ([], [], ">=1 ring")]:
        polys = spark.createDataFrame(
            [(1, coords, ring_lens)],
            "poly_id long, coords array<double>, ring_lens array<int>")
        with pytest.raises(Exception, match=msg):
            sc.encode_polygons(polys).collect()


def test_s2_parent_exact_at_high_levels(spark):
    """integer parent arithmetic: exact where double division rounds."""
    from pyspark.sql import functions as F
    from geobuf_spark.functions import cells

    level = 27
    n = 1 << level
    rows = [(int((2 * n + 1) * n + (n - 1)),), (int((5 * n + n - 1) * n + 0),)]
    df = spark.createDataFrame(rows, "cell bigint")
    got = [r.p for r in df.select(cells.s2_parent(F.col("cell"), level).alias("p")).collect()]
    m = 1 << (level - 1)
    want = []
    for (cell,) in rows:
        j = cell & (n - 1); i = (cell >> level) & (n - 1); f = cell >> (2 * level)
        want.append((f * m + (i >> 1)) * m + (j >> 1))
    assert got == want


def test_s2_cover_antimeridian_split(spark):
    import numpy as np
    from geobuf_spark.functions import cells

    r, c = cells.s2_cover_bbox_kernel([179.9], [-0.05], [-179.9], [0.05], 12)
    pairs = list(zip(r.tolist(), c.tolist()))
    assert len(pairs) < 200 and len(pairs) == len(set(pairs))
    # seam superset via the Spark expression itself
    pts = spark.createDataFrame(
        [(179.95, 0.0), (-179.95, 0.01)], "lon double, lat double")
    from pyspark.sql import functions as F
    cells_got = {row.cell for row in
                 pts.withColumn("cell", cells.s2_cell(F.col("lon"), F.col("lat"), 12)).collect()}
    assert cells_got <= set(c.tolist())


def test_lazy_readers_long_property_keys(spark):
    """Keys >= 128 bytes encode their length as a multi-byte varint; the
    lazy readers must read it as a varint, not one byte (ADVICE r01)."""
    long_key = "k" * 130
    frames = []
    for fid in range(8):
        feat = core.Feature(
            geom_type=1, dim=2,
            coords=np.array([10.0 + fid, 20.0]),
            ring_lens=np.array([1], np.int64),
            part_rings=np.array([1], np.int64),
            id=fid,
            properties={long_key: fid * 11, "short": f"s{fid}"},
        )
        frames.append(core.encode_feature(feat))
    df = spark.createDataFrame([(f,) for f in frames], "geobuf binary").coalesce(1)

    got = [tuple(r) for r in sc.lazy_property(df, long_key, value_type="bigint").collect()]
    assert got == [(fid, fid * 11) for fid in range(8)]
    # the SECOND property (after the long-key one) must still be reachable
    got = [tuple(r) for r in sc.lazy_property(df, "short").collect()]
    assert got == [(fid, f"s{fid}") for fid in range(8)]
    assert [r.key for r in sc.frame_keys(df).collect()] == [long_key, "short"] * 8
    assert [list(core.decode_properties(f)) for f in frames] == [[long_key, "short"]] * 8


def test_encode_props_rejects_nulls(spark):
    """Null prop values used to round-trip through float64 NaN into
    INT64_MIN varints (and null strings into "") — must raise instead
    (ADVICE r01: geobuf KeyValue has no null encoding)."""
    df = spark.createDataFrame(
        [(1, 10.0, 20.0, "a", 5), (2, 11.0, 21.0, None, 6),
         (3, 12.0, 22.0, "c", None)],
        "doc_id long, lon double, lat double, name string, rank long")
    with pytest.raises(Exception, match="null"):
        sc.encode_points_with_props(df, props=["name", "rank"]).collect()
    with pytest.raises(Exception, match="null"):
        sc.encode_points(
            df.withColumn("lon", F.when(F.col("doc_id") == 2, None)
                          .otherwise(F.col("lon")))).collect()
    # null-free slice still encodes fine
    clean = df.filter(F.col("doc_id") == 1)
    assert sc.encode_points_with_props(clean, props=["name", "rank"]).count() == 1


def test_fused_decode_agg_matches_materializing_path(spark):
    """decode_points_agg / decode_lines_agg (fused decode→reduce) must
    equal the materializing decode + aggregate exactly."""
    import numpy as np

    from geobuf_spark.sources import minted
    p = minted.minted_points(spark, "/root/testdata/sf0.001") \
        .select(F.col("doc_id"), "lon", "lat")
    enc = sc.encode_points(p)
    fused = sc.decode_points_agg(enc).collect()[0]
    d = sc.decode_points(enc)
    full = d.agg(F.count("*"), F.sum("id"), F.sum("lon_q"), F.sum("lat_q")).collect()[0]
    assert list(fused) == list(full)

    rng = np.random.default_rng(3)
    n = 500
    nv = rng.integers(2, 12, n).astype(np.int64)
    c = rng.uniform(-170, 170, int(nv.sum()) * 2)
    verts = np.split(c.reshape(-1, 2), np.cumsum(nv)[:-1])
    df = spark.createDataFrame(
        [(bytearray(core.encode_feature(core.Feature.from_geojson(
            "LineString", v.tolist(), id=i))),) for i, v in enumerate(verts)],
        "geobuf binary")
    fusedl = sc.decode_lines_agg(df).collect()[0]
    dl = sc.decode_lines(df)
    fulll = dl.agg(F.count("*"), F.sum(F.size("coords_q")),
                   F.sum(F.element_at("coords_q", 1))).collect()[0]
    assert list(fusedl) == list(fulll)


def test_truncated_frames_raise_not_corrupt(spark):
    """A frame whose geometry length overruns its boundary must raise
    instead of reading the NEXT frame's bytes (review r2), in the JVM and
    in the core.py oracle alike."""
    import numpy as np

    f = core.encode_feature(core.Feature(
        geom_type=1, dim=2, coords=np.array([100.0, 50.0]),
        ring_lens=np.array([1], np.int64), part_rings=np.array([1], np.int64),
        id=5))
    # geometry payload spans bytes 6..16 in this frame — cut inside it
    # (cutting only the trailing bbox leaves geometry decodable, which is
    # correct lazy-read behavior, not corruption)
    for cut in (12, 8, 5):
        df = spark.createDataFrame([(f,), (f[:cut],)], "geobuf binary")
        with pytest.raises(Exception, match="truncated or corrupt"):
            sc.decode_points(df).collect()
        with pytest.raises(ValueError, match="truncated or corrupt"):
            core.decode_feature(f[:cut], quantized=True)
        with pytest.raises(ValueError, match="truncated or corrupt"):
            core.decode_properties(f[:cut])
    # intact frames still decode, to core's values
    df = spark.createDataFrame([(f,), (f,)], "geobuf binary")
    feat = core.decode_feature(f, quantized=True)
    assert [tuple(r) for r in sc.decode_points(df).collect()] == \
        [(feat.id, *feat.coords.tolist())] * 2 == [(5, 10**9, 5 * 10**8)] * 2
