"""JVM codec (codec/jvm/GbCodec.java) — exact parity vs the
reference-semantics codec in core.py. Every spark_codec function runs
these UDFs — the point, line and polygon codec, the full decode
(decode_features_fast), the generic and property-table encoders
(gb_encode) and the lazy reads (gb_prop, gb_keys) — and is pinned against
core.encode_feature/decode_feature/decode_properties on the same inputs. The jar is committed and the geobuf
read path depends on it, so a jar that cannot be registered fails this
suite instead of skipping it.
"""
import json
import math
import struct

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from geobuf_spark.codec import core, jvm_codec, spark_codec


@pytest.fixture(scope="module")
def jvm(spark):
    jvm_codec.require(spark)
    return spark


def _frames_df(spark, frames):
    return spark.createDataFrame(
        pa.table({"geobuf": frames}).to_pandas())


def _core_point_frames(ids, lon, lat) -> list[bytes]:
    """Point frames from core.encode_feature, the byte-parity oracle."""
    return [core.encode_feature(core.Feature.from_geojson(
                "Point", [float(x), float(y)], id=int(i)))
            for i, x, y in zip(ids, lon, lat)]


def _core_point_decode(frames) -> list[tuple[int, int, int]]:
    """(id, lon_q, lat_q) per frame from core.decode_feature(quantized)."""
    out = []
    for f in frames:
        feat = core.decode_feature(f, quantized=True)
        out.append((feat.id, int(feat.coords[0]), int(feat.coords[1])))
    return out


def _core_line_frames(ids, verts) -> list[bytes]:
    """LineString frames from core.encode_feature; verts[i] is feature
    i's (nv, dim) vertex array, so the dim follows its width."""
    return [core.encode_feature(core.Feature.from_geojson(
                "LineString", np.asarray(v).tolist(), id=int(i)))
            for i, v in zip(ids, verts)]


def _geom_row(f: core.Feature, props_json: str | None = None) -> tuple:
    """A GEOM_SCHEMA row of f; props_json defaults to its properties."""
    if props_json is None:
        props_json = json.dumps(f.properties)
    return (f.id, f.geom_type, f.dim, f.coords.tolist(), f.ring_lens.tolist(),
            f.part_rings.tolist(), props_json)


def _gb_encode(spark, rows) -> list[bytes]:
    """encode_features_generic frames of GEOM_SCHEMA rows, in row order."""
    from pyspark.sql import types as T

    schema = T.StructType(spark_codec.GEOM_SCHEMA.fields + [T.StructField("k", T.IntegerType())])
    df = spark.createDataFrame([(*r, k) for k, r in enumerate(rows)], schema)
    enc = spark_codec.encode_features_generic(df).collect()
    return [bytes(r.geobuf) for r in sorted(enc, key=lambda r: r.k)]


def _core_quantized(frames) -> dict[int, list[int]]:
    """id → flat quantized coords per frame, from core.decode_feature."""
    out = {}
    for f in frames:
        feat = core.decode_feature(f, quantized=True)
        out[feat.id] = feat.coords.tolist()
    return out


def test_register_idempotent(jvm):
    assert jvm_codec.register(jvm) is True
    assert jvm_codec.register(jvm) is True
    assert all(jvm.catalog.functionExists(name) for name, _, _ in jvm_codec._UDFS)


def test_point_agg_parity(jvm):
    rng = np.random.default_rng(11)
    n = 5000
    ids = rng.integers(0, 2**40, n).astype(np.int64)
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-90, 90, n)
    frames = _core_point_frames(ids, lon, lat)
    got = spark_codec.decode_points_agg(_frames_df(jvm, frames)).collect()[0]
    want = _core_point_decode(frames)
    assert tuple(got) == (n, *(sum(col) for col in zip(*want)))


def test_point_decode_parity(jvm):
    rng = np.random.default_rng(12)
    n = 300
    ids = np.arange(n, dtype=np.int64)
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-90, 90, n)
    frames = _core_point_frames(ids, lon, lat)
    got = sorted(tuple(r) for r in
                 spark_codec.decode_points(_frames_df(jvm, frames)).collect())
    assert got == sorted(_core_point_decode(frames))


# Point frames written byte by byte from the wire table (PAPER.md §1.2):
# 0x08 varint id | 0x18 type code 1 (Point, dim 2) | 0x22 length, then
# zigzag varints of x, y = int64(c * 1e7) truncated toward zero | 0x2A
# length, then the degenerate bbox [W, S, E, N] = [x, y, x, y].
GOLDEN_POINTS = [
    # id 1 at (1, 2): zigzag(1e7) = 2e7 = 80 da c4 09,
    # zigzag(2e7) = 4e7 = 80 b4 89 13
    ((1, 1.0, 2.0, 10_000_000, 20_000_000), bytes.fromhex(
        "08 01 18 01 22 08 80dac409 80b48913"
        " 2a 10 80dac409 80b48913 80dac409 80b48913")),
    # two-byte id 300 = ac 02; negative coords: zigzag(-5e6) = 9999999 =
    # ff ac e2 04, zigzag(-2.5e6) = 4999999 = bf 96 b1 02
    ((300, -0.5, -0.25, -5_000_000, -2_500_000), bytes.fromhex(
        "08 ac02 18 01 22 08 fface204 bf96b102"
        " 2a 10 fface204 bf96b102 fface204 bf96b102")),
    # truncation toward zero on both signs: ±12345678.9 → ±12345678,
    # zigzag 24691356 = 9c 85 e3 0b and 24691355 = 9b 85 e3 0b
    ((7, 1.23456789, -1.23456789, 12_345_678, -12_345_678), bytes.fromhex(
        "08 07 18 01 22 08 9c85e30b 9b85e30b"
        " 2a 10 9c85e30b 9b85e30b 9c85e30b 9b85e30b")),
    # id 0 at the origin: the id field is still written
    ((0, 0.0, 0.0, 0, 0), bytes.fromhex("08 00 18 01 22 02 00 00 2a 04 00000000")),
]


def test_golden_point_frames(jvm):
    """core.encode_feature and gb_point_enc both write the spec-derived
    frames; gb_point decodes them to the truncated lattice values."""
    for (i, x, y, _, _), frame in GOLDEN_POINTS:
        assert core.encode_feature(core.Feature.from_geojson(
            "Point", [x, y], id=i)) == frame
    df = jvm.createDataFrame([src[:3] for src, _ in GOLDEN_POINTS],
                             "doc_id long, lon double, lat double")
    enc = {r.doc_id: bytes(r.geobuf)
           for r in spark_codec.encode_points(df).collect()}
    assert enc == {src[0]: frame for src, frame in GOLDEN_POINTS}
    frames = _frames_df(jvm, [frame for _, frame in GOLDEN_POINTS])
    dec = {tuple(r) for r in spark_codec.decode_points(frames).collect()}
    assert dec == {(i, qx, qy) for (i, _, _, qx, qy), _ in GOLDEN_POINTS}


# Property, line and polygon frames written byte by byte from the same
# table. A properties field (0x12, repeated) is a map entry: 0x0A key
# string, then 0x12 and a nested Value message whose field gives the type
# — 0x0A string, 0x20 int64 varint (a negative value as its 10-byte two's
# complement), 0x19 float64 little-endian. A LineString (code 2) packs the
# per-vertex zigzag deltas; a Polygon (code 3) packs, per ring, the varint
# count nv * 2 and then the ring's deltas, the delta state reset at each
# ring start. zigzag(5e6) = 1e7 = 80 ad e2 04, zigzag(2.5e6) = 5e6 =
# c0 96 b1 02, zigzag(-2.5e6) = 4999999 = bf 96 b1 02, zigzag(1e7) = 2e7
# = 80 da c4 09, zigzag(-1e7) = 19999999 = ff d9 c4 09.
GOLDEN_FEATURES = [
    (("Point", [0.5, 0.25], 2, {"name": "ab", "n": -2, "x": 0.5}), bytes.fromhex(
        "08 02"
        " 12 0c 0a 04 6e616d65 12 04 0a 02 6162"         # "name": "ab"
        " 12 10 0a 01 6e 12 0b 20 feffffffffffffffff01"  # "n": -2
        " 12 0e 0a 01 78 12 09 19 000000000000e03f"      # "x": 0.5
        " 18 01 22 08 80ade204 c096b102"
        " 2a 10 80ade204 c096b102 80ade204 c096b102")),
    # (0, 0) → (0.5, 0) → (0.5, 0.25): deltas (0, 0), (5e6, 0), (0, 2.5e6)
    (("LineString", [[0.0, 0.0], [0.5, 0.0], [0.5, 0.25]], 3, {}), bytes.fromhex(
        "08 03 18 02 22 0c 00 00 80ade204 00 00 c096b102"
        " 2a 0a 00 00 80ade204 c096b102")),
    # the unit square with a triangular hole; bbox [0, 0, 1, 1]
    (("Polygon", [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]],
                  [[0.25, 0.25], [0.5, 0.25], [0.25, 0.5], [0.25, 0.25]]], 4, {}),
     bytes.fromhex(
        "08 04 18 03 22 30"
        " 08 00 00 80dac409 00 00 80dac409 ffd9c409 ffd9c409"
        " 08 c096b102 c096b102 c096b102 00 bf96b102 c096b102 00 bf96b102"
        " 2a 0a 00 00 80dac409 80dac409")),
]


def test_golden_feature_frames(jvm):
    """core.encode_feature and encode_features_generic (gb_encode) write
    the spec-derived property, line and polygon frames; encode_lines and
    encode_polygons write the line and the polygon; gb_decode and
    core.decode_feature read all three back to the source features."""
    feats = [core.Feature.from_geojson(t, c, id=i, properties=p)
             for (t, c, i, p), _ in GOLDEN_FEATURES]
    frames = [frame for _, frame in GOLDEN_FEATURES]
    assert [core.encode_feature(f) for f in feats] == frames
    assert _gb_encode(jvm, [_geom_row(f) for f in feats]) == frames
    line, poly = feats[1], feats[2]
    enc = spark_codec.encode_lines(jvm.createDataFrame(
        [(3, line.coords.tolist())], "line_id long, coords array<double>"))
    assert bytes(enc.first().geobuf) == frames[1]
    enc = spark_codec.encode_polygons(jvm.createDataFrame(
        [(4, poly.coords.tolist(), poly.ring_lens.tolist())],
        "poly_id long, coords array<double>, ring_lens array<int>"))
    assert bytes(enc.first().geobuf) == frames[2]
    rows = spark_codec.decode_features_fast(_frames_df(jvm, frames)).collect()
    for f, frame, r in zip(feats, frames, rows):
        for got in (core.decode_feature(frame), r):
            got = (got.id, got.geom_type, got.dim, list(got.coords),
                   list(got.ring_lens), list(got.part_rings))
            assert got == (f.id, f.geom_type, f.dim, f.coords.tolist(),
                           f.ring_lens.tolist(), f.part_rings.tolist())
        assert core.decode_feature(frame).properties == f.properties
        assert r.props_json == json.dumps(f.properties, sort_keys=True)


def test_geometry_code_is_a_varint(jvm):
    """Field 3 is `0x18 varint` (PAPER.md §1.2): the golden LineString
    with its code 2 written as the two-byte varint `82 00` decodes, in
    core.decode_feature and in gb_decode, to the same feature as the
    canonical frame."""
    (t, c, i, p), frame = GOLDEN_FEATURES[1]
    assert frame[2:4] == b"\x18\x02"
    long_code = frame[:3] + b"\x82\x00" + frame[4:]
    want = core.Feature.from_geojson(t, c, id=i, properties=p)
    r = spark_codec.decode_features_fast(_frames_df(jvm, [long_code])).first()
    for got in (core.decode_feature(long_code), r):
        assert (got.id, got.geom_type, got.dim, list(got.coords),
                list(got.ring_lens), list(got.part_rings)) == (
            want.id, want.geom_type, want.dim, want.coords.tolist(),
            want.ring_lens.tolist(), want.part_rings.tolist())


@pytest.mark.parametrize("bad, shown", [(float("nan"), "NaN"),
                                        (float("inf"), "Infinity"),
                                        (float("-inf"), "-Infinity")])
def test_encoders_reject_non_finite(jvm, bad, shown):
    """NaN and ±Inf have no 1e-7 lattice point: every JVM encoder throws,
    naming the value, instead of writing 0 or Long.MAX/MIN_VALUE."""
    from pyspark.sql import functions as F

    cases = [
        ("id long, lon double, lat double", (1, 10.0, bad),
         "gb_point_enc(id, lon, lat)"),
        ("id long, coords array<double>", (1, [0.0, 1.0, bad, 2.0]),
         "gb_line_enc(id, coords)"),
        ("id long, coords array<double>, ring_nv array<int>",
         (1, [0.0, 0.0, 1.0, 0.0, bad, 1.0], [3]),
         "gb_poly_enc(id, coords, ring_nv)"),
    ]
    for schema, row, expr in cases:
        df = jvm.createDataFrame([row], schema)
        with pytest.raises(Exception, match=f"non-finite coordinate {shown} "):
            df.select(F.expr(expr)).collect()


@pytest.mark.parametrize("dim", [2, 3, 5])
def test_line_decode_parity(jvm, dim):
    """decode_lines reads dim-d LineString frames written by
    core.encode_feature to core.decode_feature's quantized coords."""
    rng = np.random.default_rng(20 + dim)
    n, nv = 200, 7
    ids = np.arange(n, dtype=np.int64) * 3 + 1
    frames = _core_line_frames(ids, rng.uniform(-170, 170, (n, nv, dim)))
    got = {r["line_id"]: list(r["coords_q"])
           for r in spark_codec.decode_lines(_frames_df(jvm, frames)).collect()}
    assert got == _core_quantized(frames)


def test_line_agg_parity(jvm):
    """decode_lines_agg == (count, Σ size, Σ first x) of core's decode."""
    rng = np.random.default_rng(31)
    n, nv = 2000, 12
    ids = rng.permutation(n).astype(np.int64)
    frames = _core_line_frames(ids, rng.uniform(-179, 179, (n, nv, 2)))
    got = spark_codec.decode_lines_agg(_frames_df(jvm, frames)).collect()[0]
    want = _core_quantized(frames).values()
    assert tuple(got) == (n, sum(map(len, want)), sum(c[0] for c in want))


def test_corrupt_frame_raises(jvm):
    # a truncated frame (bbox payload overrunning the frame end) fails
    # the task
    buf = _core_point_frames([1], [10.0], [20.0])[0][:-1]
    df = _frames_df(jvm, pa.array([buf], type=pa.binary()))
    with pytest.raises(Exception, match="truncated or corrupt"):
        spark_codec.decode_points_agg(df).collect()


def test_point_encode_byte_parity(jvm):
    """encode_points frames are byte-identical to core.encode_feature's,
    including negative coords, the 1e-7 lattice, and large ids."""
    rng = np.random.default_rng(21)
    n = 4000
    ids = np.concatenate([np.arange(n - 4, dtype=np.int64),
                          np.array([0, 1, 2**40, 2**62], dtype=np.int64)])
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-90, 90, n)
    df = jvm.createDataFrame(
        pa.table({"doc_id": ids, "lon": lon, "lat": lat}).to_pandas())
    got = sorted((r.doc_id, bytes(r.geobuf))
                 for r in spark_codec.encode_points(df).collect())
    assert got == sorted(zip(ids.tolist(), _core_point_frames(ids, lon, lat)))


def _poly_fixture(rng, n):
    """Random multi-ring polygons: (id, flat x,y coords, vertices per ring)."""
    rows = []
    for i in range(n):
        nvs = [int(rng.integers(3, 12)) for _ in range(int(rng.integers(1, 4)))]
        rows.append((i * 7 + 1, rng.uniform(-180, 180, sum(nvs) * 2).tolist(), nvs))
    return rows


def _core_poly_frames(rows) -> list[bytes]:
    """Polygon frames from core.encode_feature for _poly_fixture rows."""
    out = []
    for i, c, nvs in rows:
        rings = np.split(np.reshape(c, (-1, 2)), np.cumsum(nvs)[:-1])
        out.append(core.encode_feature(core.Feature.from_geojson(
            "Polygon", [r.tolist() for r in rings], id=i)))
    return out


def test_poly_encode_byte_parity(jvm):
    """encode_polygons (gb_poly_enc) frames are byte-identical to
    core.encode_feature's, across ring counts 1-3 and negative coords."""
    import pandas as pd
    rows = _poly_fixture(np.random.default_rng(41), 400)
    df = jvm.createDataFrame(
        pd.DataFrame(rows, columns=["poly_id", "coords", "ring_lens"]))
    got = {r.poly_id: bytes(r.geobuf)
           for r in spark_codec.encode_polygons(df).collect()}
    assert got == dict(zip([r[0] for r in rows], _core_poly_frames(rows)))


def test_poly_decode_parity(jvm):
    """decode_polygons (gb_poly_dec) reads core.encode_feature's Polygon
    frames as core.decode_feature does: same ring_lens, same absolute
    quantized coords with the delta state reset at each ring."""
    frames = _core_poly_frames(_poly_fixture(np.random.default_rng(42), 300))
    got = {r["poly_id"]: (list(r["coords_q"]), list(r["ring_lens"]))
           for r in spark_codec.decode_polygons(_frames_df(jvm, frames)).collect()}
    want = {}
    for f in frames:
        feat = core.decode_feature(f, quantized=True)
        want[feat.id] = (feat.coords.tolist(), feat.ring_lens.tolist())
    assert got == want


def test_poly_agg_and_corrupt(jvm):
    from pyspark.sql import functions as F

    rows = _poly_fixture(np.random.default_rng(43), 500)
    df = _frames_df(jvm, _core_poly_frames(rows))
    row = spark_codec.decode_polygons(df).agg(
        F.count("*").alias("n"), F.sum("poly_id").alias("sum_id"),
        F.sum(F.size("ring_lens")).alias("sum_rings"),
        F.sum(F.size("coords_q")).alias("sum_coord_tokens")).collect()[0]
    assert row["n"] == 500
    assert row["sum_id"] == sum(r[0] for r in rows)
    assert row["sum_rings"] == sum(len(r[2]) for r in rows)
    assert row["sum_coord_tokens"] == sum(len(r[1]) for r in rows)
    # a ring count token overrunning the payload must fail the task. Use
    # lattice-small coords (quantized deltas are single-byte varints, so
    # glen < 128 and every byte offset is fixed): frame = 0x08 id | 0x18 3
    # | 0x22 glen | count deltas... — corrupt the count token at gi+2.
    buf = bytearray(_core_poly_frames([(5, [1e-7, 2e-7, 3e-7, 1e-7, 2e-7, 4e-7], [3])])[0])
    gi = buf.index(0x22)
    assert buf[gi + 1] < 0x80 and buf[gi + 2] == 6  # glen 1 byte; count 3*2
    buf[gi + 2] = 0x7E  # claims 126 tokens; payload has 6
    dfc = _frames_df(jvm, pa.array([bytes(buf)], type=pa.binary()))
    with pytest.raises(Exception, match="truncated or corrupt"):
        spark_codec.decode_polygons(dfc).collect()


def test_line_encode_byte_parity_and_roundtrip(jvm):
    """encode_lines (gb_line_enc) frames are byte-identical to
    core.encode_feature's, and decode_lines of them recovers the quantized
    vertices."""
    import pandas as pd
    rng = np.random.default_rng(22)
    verts = [rng.uniform(-180, 180, (int(rng.integers(2, 60)), 2)) for _ in range(500)]
    df = jvm.createDataFrame(pd.DataFrame(
        {"line_id": range(500), "coords": [v.reshape(-1).tolist() for v in verts]}))
    enc = spark_codec.encode_lines(df)
    got = {r.line_id: bytes(r.geobuf) for r in enc.collect()}
    assert got == dict(enumerate(_core_line_frames(range(500), verts)))
    dec = {r.line_id: list(r.coords_q)
           for r in spark_codec.decode_lines(enc).collect()}
    assert dec == {i: core.quantize_vec(v.reshape(-1)).tolist()
                   for i, v in enumerate(verts)}


def test_frames_split_parity(jvm, tmp_path):
    """gb_frames (JVM stream splitter) vs core.read_frames byte-parity on
    a framed multi-feature stream, and the full many-files read plan
    (read_geobuf_files_jvm) vs read_geobuf (same splitter, with the
    metadata-dummy sniff)."""
    from pyspark.sql import functions as F

    ids = np.arange(50, dtype=np.int64)
    frames = _core_point_frames(ids, ids * 0.001, ids * -0.002)
    stream = core.write_frames(frames)

    # splitter parity on one stream
    got = (jvm.createDataFrame([(stream,)], "content binary")
           .select(F.posexplode(F.expr("gb_frames(content, false)")))
           .orderBy("pos").collect())
    assert [bytes(r[1]) for r in got] == frames
    assert [bytes(f) for f in core.read_frames(stream)] == frames

    # many-files plan parity vs read_geobuf
    d = tmp_path / "many"
    d.mkdir()
    for i in range(4):
        part = frames[i * 12:(i + 1) * 12]
        (d / f"part-{i}.geobuf").write_bytes(core.write_frames(part))
    jdf = jvm_codec.read_geobuf_files_jvm(jvm, str(d))
    from geobuf_spark.sources import geobuf_file
    pdf = geobuf_file.read_geobuf(jvm, str(d))
    jb = sorted(bytes(r["geobuf"]) for r in jdf.collect())
    pb = sorted(bytes(r["geobuf"]) for r in pdf.collect())
    assert jb == pb == sorted(frames[:48])

    # truncated stream fails loudly
    with pytest.raises(Exception):
        (jvm.createDataFrame([(stream[:-1],)], "content binary")
         .select(F.explode(F.expr("gb_frames(content, false)"))).collect())


def test_roundtrip_points_jvm_parity(jvm):
    """roundtrip_points (gb_point(gb_point_enc(...)) in codegen) returns
    the quantized lattice values of core's encode→decode."""
    from geobuf_spark.sources import pages

    p = (pages.with_minted_geometry(pages.pages(jvm, 500))
         .select("page_id", "lon", "lat"))
    got = sorted(tuple(r) for r in
                 spark_codec.roundtrip_points(p, id_col="page_id").collect())
    src = p.collect()
    want = _core_point_decode(_core_point_frames(
        [r.page_id for r in src], [r.lon for r in src], [r.lat for r in src]))
    assert got == sorted(want)


def test_point_enc_tie_lattice_parity(jvm):
    """gb_point_enc vs core.encode_feature under adversarial inputs:
    uniform floats mixed with exact half-ulp tie candidates on the 1e-7
    lattice (the rounding boundary where two implementations of
    go_round7 would first diverge). 6k frames, byte-for-byte."""
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    n = 6000
    ids = rng.integers(0, 1 << 40, n)
    lon = np.concatenate([
        rng.uniform(-180, 180, n // 2),
        (rng.integers(-1_800_000_000, 1_800_000_000, n // 4) + 0.5) / 1e7,
        rng.integers(-1_800_000_000, 1_800_000_000, n - n // 2 - n // 4) / 1e7,
    ])
    lat = np.concatenate([
        rng.uniform(-90, 90, n // 2),
        (rng.integers(-900_000_000, 900_000_000, n // 4) + 0.5) / 1e7,
        rng.integers(-900_000_000, 900_000_000, n - n // 2 - n // 4) / 1e7,
    ])
    py = _core_point_frames(ids, lon, lat)
    df = jvm.createDataFrame(pd.DataFrame(
        {"id": ids.astype("int64"), "lon": lon, "lat": lat}))
    jv = [bytes(r[0]) for r in
          df.select(F.expr("gb_point_enc(id, lon, lat)")).collect()]
    assert py == jv


def test_line_poly_enc_random_parity(jvm):
    """Random lines and two-ring polygons: gb_line_enc and gb_poly_enc vs
    core.encode_feature, byte-for-byte (hypothesis-free fixed seeds — each
    case is one Spark job, so a handful of seeded draws beats per-example
    jobs)."""
    import pandas as pd
    from pyspark.sql import functions as F

    for seed in (1, 2, 3):
        rng = np.random.default_rng(seed)
        n = 300
        ids = np.arange(n, dtype=np.int64)
        nv = rng.integers(2, 30, n)
        flat = [np.round(rng.uniform(-180, 180, int(k) * 2), 7) for k in nv]
        py = _core_line_frames(ids, [c.reshape(-1, 2) for c in flat])
        df = jvm.createDataFrame(pd.DataFrame(
            {"id": ids, "coords": [c.tolist() for c in flat]}))
        jv = [bytes(r[0]) for r in
              df.select(F.expr("gb_line_enc(id, coords)")).collect()]
        assert py == jv, f"line mismatch seed {seed}"

        # two-ring polygons over the same draws
        nv2 = rng.integers(2, 8, n)
        flat2 = [np.round(rng.uniform(-85, 85, int(k) * 2), 7) for k in nv2]
        rows = [(int(i), np.concatenate([a, b]).tolist(), [int(k), int(k2)])
                for i, a, b, k, k2 in zip(ids, flat, flat2, nv, nv2)]
        dfp = jvm.createDataFrame(pd.DataFrame(
            rows, columns=["id", "coords", "ring_nv"]))
        jvp = [bytes(r[0]) for r in
               dfp.select(F.expr("gb_poly_enc(id, coords, ring_nv)")).collect()]
        assert _core_poly_frames(rows) == jvp, f"poly mismatch seed {seed}"


def test_committed_jar_matches_source():
    """The committed jar was built from the committed GbCodec.java: its
    recorded source hash equals the source's, so registering it never
    recompiles."""
    from tools import build_jvm

    assert build_jvm.JAR.exists()
    assert build_jvm.recorded_hash() == build_jvm.source_hash()


# --- cross-engine parity of the read path: direct calls into the JVM
# classes (one py4j round trip per frame, no Spark job per example) -------

def _udf(spark, name):
    return getattr(spark._jvm.geobufspark.GbCodec, name)()


def _jvm_call(udf, frame: bytes, *args):
    """(True, result) of udf.call(frame, *args), or (False, None) when the
    call throws."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import IllegalArgumentException
    try:
        return True, udf.call(bytearray(frame), *args)
    except (IllegalArgumentException, Py4JJavaError):
        return False, None


def _jvm_accepts(udf, frame: bytes, *args) -> bool:
    return _jvm_call(udf, frame, *args)[0]


def _walk_accepts(frame: bytes) -> bool:
    """A full pass of core's field walk reads the frame."""
    try:
        list(core.frame_fields(frame))
    except ValueError:
        return False
    return True


def _core_accepts(frame: bytes) -> bool:
    try:
        core.decode_feature(frame, quantized=True)
    except ValueError:
        return False
    return True


def _fields(frame: bytes):
    """(tag, start, end) of every top-level field of a well-formed frame."""
    out, pos = [], 0
    while pos < len(frame):
        start, tag = pos, frame[pos]
        v, pos = core.decode_varint(frame, pos + 1)
        if tag & 7 == 2:
            pos += v
        out.append((tag, start, pos))
    return out


def _bbox_field(w, s, e, n) -> bytes:
    payload = core.pack_varints(core.zigzag_vec(np.array([w, s, e, n], np.int64)))
    return bytes([0x2A, len(payload)]) + payload


_coord = st.floats(-179.9, 179.9, allow_nan=False)
_props = st.dictionaries(
    st.text(min_size=1, max_size=6),
    st.one_of(st.text(max_size=6), st.integers(-2**40, 2**40), st.booleans()),
    max_size=3)


@st.composite
def _feature_frames(draw, props=_props):
    """A point or line feature frame with random id and properties."""
    fid = draw(st.one_of(st.none(), st.integers(0, 2**50)))
    if draw(st.booleans()):
        f = core.Feature.from_geojson(
            "Point", [draw(_coord), draw(_coord)], id=fid, properties=draw(props))
    else:
        pts = draw(st.lists(st.tuples(_coord, _coord), min_size=2, max_size=6))
        f = core.Feature.from_geojson(
            "LineString", [list(p) for p in pts], id=fid, properties=draw(props))
    return core.encode_feature(f)


_METADATA_DUMMY = core.encode_feature(core.Feature.from_geojson(
    "Point", [0.0, 0.0], properties={"metadata": "gob-encoded index"}))


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(frames=st.lists(_feature_frames(), min_size=1, max_size=6),
       lead=st.sampled_from(["dummy", "metadata_plus_key", "none"]),
       cut=st.integers(0, 5), tail=st.integers(1, 3),
       bad=st.integers(0, 255).filter(lambda t: t != 0x0A))
@example(frames=[GOLDEN_POINTS[0][1]], lead="none", cut=0, tail=3, bad=0x0B)
def test_gb_frames_parity_with_read_frames(jvm, frames, lead, cut, tail, bad):
    """gb_frames(…, true) == core.read_frames on a stream led by the
    metadata dummy (dropped), by a first feature carrying "metadata" plus
    another key (kept), or by neither; gb_frames(…, false) ==
    read_frames(skip_metadata=False) on a mid-file range of whole frames.
    A stream missing its last bytes, or with a frame tag other than 0x0A,
    fails in both engines."""
    if lead == "dummy":
        frames = [_METADATA_DUMMY] + frames
    elif lead == "metadata_plus_key":
        frames = [core.encode_feature(core.Feature.from_geojson(
            "Point", [1.0, 2.0], id=3,
            properties={"metadata": "x", "name": "y"}))] + frames
    split = _udf(jvm, "Frames")
    stream = core.write_frames(frames)
    want = [bytes(f) for f in core.read_frames(stream)]
    assert [bytes(f) for f in split.call(bytearray(stream), True)] == want
    assert len(want) == len(frames) - (lead == "dummy")

    cut = min(cut, len(frames) - 1)
    mid = core.write_frames(frames[cut:])
    want = [bytes(f) for f in core.read_frames(mid, skip_metadata=False)]
    assert [bytes(f) for f in split.call(bytearray(mid), False)] == want
    assert want == [bytes(f) for f in frames[cut:]]

    last = len(core.write_frames(frames[:-1]))
    for broken in (stream[:-tail], stream[:last] + bytes([bad]) + stream[last + 1:]):
        with pytest.raises(ValueError, match="truncated or corrupt"):
            list(core.read_frames(broken, skip_metadata=False))
        assert not _jvm_accepts(split, broken, False)


def test_read_geobuf_skips_the_dummy_only(jvm, tmp_path):
    """The Spark read path: frame_idx and the dummy skip match
    core.read_frames per file; a first feature with "metadata" among
    other keys is kept."""
    from geobuf_spark.sources import geobuf_file

    pts = [core.encode_feature(core.Feature.from_geojson(
        "Point", [i * 0.5, -i * 0.25], id=i)) for i in range(5)]
    keeper = core.encode_feature(core.Feature.from_geojson(
        "Point", [1.0, 2.0], id=99, properties={"metadata": "x", "k": 1}))
    files = {"a.geobuf": [_METADATA_DUMMY] + pts,
             "b.geobuf": [keeper] + pts[:2]}
    want = set()
    for name, frames in files.items():
        data = core.write_frames(frames)
        (tmp_path / name).write_bytes(data)
        want |= {(name, i, bytes(f))
                 for i, f in enumerate(core.read_frames(data))}
    got = {(r.path.rsplit("/", 1)[1], r.frame_idx, bytes(r.geobuf))
           for r in geobuf_file.read_geobuf(jvm, str(tmp_path)).collect()}
    assert got == want
    assert len(got) == 5 + 3


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(frame=_feature_frames(),
       shape=st.sampled_from(["as_is", "no_bbox", "duplicate"]),
       extra=st.tuples(*[st.integers(-2**40, 2**40)] * 4))
def test_gb_bbox_parity_with_decode_feature(jvm, frame, shape, extra):
    """gb_bbox == core.decode_feature(...).bbox on the lattice; a frame
    without a bbox gives null; of two bbox fields the last one wins in
    both."""
    bbox = _udf(jvm, "Bbox")
    if shape == "no_bbox":
        frame = b"".join(frame[s:e] for tag, s, e in _fields(frame) if tag != 0x2A)
        assert bbox.call(bytearray(frame)) is None
        assert core.decode_feature(frame).bbox is None
        return
    if shape == "duplicate":
        frame = frame + _bbox_field(*extra)
        assert list(bbox.call(bytearray(frame))) == list(extra)
        assert np.array_equal(core.decode_feature(frame).bbox, np.array(extra) / core.POWER)
        return
    got = np.array(list(bbox.call(bytearray(frame))), np.int64)
    assert np.array_equal(got.astype(np.float64) / core.POWER,
                          core.decode_feature(frame).bbox)


def test_frame_bbox_dataframe(jvm):
    """frame_bbox over a DataFrame: quantized bbox columns, null where the
    frame has no bbox field or is null."""
    with_bb = core.encode_feature(core.Feature.from_geojson(
        "LineString", [[1.0, 2.0], [-3.0, 4.5]], id=1))
    no_bb = b"".join(with_bb[s:e] for tag, s, e in _fields(with_bb) if tag != 0x2A)
    df = jvm.createDataFrame(
        [(bytearray(with_bb),), (bytearray(no_bb),), (None,)], "geobuf binary")
    rows = [tuple(r) for r in spark_codec.frame_bbox(df).collect()]
    assert rows == [(-30000000, 20000000, 10000000, 45000000),
                    (None,) * 4, (None,) * 4]


@st.composite
def _corrupt_frames(draw):
    """A well-formed frame broken one way: truncated, a length prefix
    raised past the end, a trailing varint cut short or over 10 bytes,
    or one random byte replaced."""
    frame = draw(_feature_frames())
    kind = draw(st.sampled_from(
        ["truncate", "overrun", "short_varint", "long_varint", "byte"]))
    if kind == "truncate":
        return frame[:draw(st.integers(0, len(frame) - 1))]
    if kind == "overrun":
        tag, s, e = draw(st.sampled_from(
            [f for f in _fields(frame) if f[0] & 7 == 2]))
        n, p = core.decode_varint(frame, s + 1)
        grow = draw(st.sampled_from([1, 2, 1 << 20, (1 << 64) - 1]))
        return (frame[:s + 1] + core.encode_varint(n + grow)
                + frame[p:])
    if kind == "short_varint":
        return frame + bytes([0x08]) + b"\x80" * draw(st.integers(0, 3))
    if kind == "long_varint":
        return frame + bytes([0x08]) + b"\xff" * draw(st.integers(10, 12)) + b"\x01"
    i = draw(st.integers(0, len(frame) - 1))
    return frame[:i] + bytes([draw(st.integers(0, 255))]) + frame[i + 1:]


# fields a frame can carry beyond the encoder's: a late property, a wire-5
# field, the id under a two-byte tag, an unknown two-byte tag, an 11-byte
# varint, a second bbox, a bbox of 3 values
_EXTRA_FIELDS = [bytes.fromhex("120a0a046c61746512023801"), b"\x0d\x00",
                 b"\x88\x00\x05", b"\xf8\x01\x01", b"\x08" + b"\xff" * 10 + b"\x01",
                 _bbox_field(-5, 6, 7, 8), bytes.fromhex("2a03020406")]


@st.composite
def _reordered_frames(draw):
    """A well-formed frame with its fields permuted, one field repeated
    anywhere or dropped (a payload with no code, a code with no payload),
    or one of _EXTRA_FIELDS inserted anywhere."""
    frame = draw(_feature_frames())
    fields = [frame[s:e] for _, s, e in _fields(frame)]
    kind = draw(st.sampled_from(["permute", "repeat", "drop", "extra"]))
    if kind == "permute":
        fields = draw(st.permutations(fields))
    elif kind == "drop":
        fields.pop(draw(st.integers(0, len(fields) - 1)))
    else:
        f = (draw(st.sampled_from(fields)) if kind == "repeat"
             else draw(st.sampled_from(_EXTRA_FIELDS)))
        fields.insert(draw(st.integers(0, len(fields))), f)
    return b"".join(fields)


def _gb_decode_row(decode, frame: bytes):
    """gb_decode's row of frame as Python values, or None when it throws."""
    ok, r = _jvm_call(decode, frame)
    return (r.get(0), r.get(1), r.get(2), list(r.get(3)), list(r.get(4)),
            list(r.get(5)), r.getString(6)) if ok else None


def _core_row(frame: bytes):
    """core.decode_feature's GEOM_SCHEMA row of frame (coords as gb_decode
    rounds them), or None when it raises."""
    try:
        f = core.decode_feature(frame, quantized=True)
    except ValueError:
        return None
    fid = ((f.id or 0) + 2**63) % 2**64 - 2**63  # a Java long
    return (fid, f.geom_type, f.dim, core.go_round7(f.coords / 1e7).tolist(),
            f.ring_lens.tolist(), f.part_rings.tolist(),
            json.dumps(f.properties, sort_keys=True))


def _core_keys(frame: bytes):
    """(key, (start, end)) of every property entry, as gb_keys reads
    them, by core's walk; None where the walk or a key read raises."""
    try:
        return [(core._read_key(frame, s, s + n)[0], (s, s + n))
                for tag, n, s in core.frame_fields(frame) if tag == 0x12]
    except ValueError:
        return None


@settings(max_examples=300, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(frame=st.one_of(_reordered_frames(), _corrupt_frames()), pick=st.integers(0, 7))
def test_corrupt_frame_accept_reject_parity(jvm, frame, pick):
    """Per-frame fuzz of the two engines' one field walk, on well-formed
    frames with fields reordered, repeated, dropped or added and on
    corrupt frames: gb_decode and core.decode_feature accept the same
    frames and read them to the same row; gb_bbox rejects exactly when a
    full pass of core's walk does, and gb_keys and gb_prop exactly when
    that pass or one of the entry reads they make does, to core's
    values."""
    want = _core_row(frame)
    assert _gb_decode_row(_udf(jvm, "Decode"), frame) == want
    ok, got = _jvm_call(_udf(jvm, "Bbox"), frame)
    assert ok == _walk_accepts(frame)
    if want:
        bbox = core.decode_feature(frame).bbox
        assert (got is None and bbox is None) or np.array_equal(
            np.array(list(got), np.int64).astype(np.float64) / core.POWER, bbox)
    keyed = _core_keys(frame)
    ok, got = _jvm_call(_udf(jvm, "Keys"), frame)
    assert (list(got) if ok else None) == (keyed and [k for k, _ in keyed])
    key = ([k for k, _ in keyed or []] + ["absent"])[pick % (len(keyed or []) + 1)]
    hits = [e for k, e in keyed or [] if k == key]
    try:
        value = core._read_entry(frame, *hits[-1])[1] if hits else None
    except ValueError:
        keyed = None
    ok, got = _jvm_call(_udf(jvm, "Prop"), frame, key)
    assert ok == (keyed is not None)
    if ok:  # repr: a NaN equals itself
        assert [repr(got.get(i)) for i in (1, 2, 3)] == [
            repr(_typed(value, t)) for t in ("string", "bigint", "double")]


_LINE_FRAME = core.encode_feature(core.Feature.from_geojson(
    "LineString", [[1.0, 2.0], [-3.0, 4.5]], id=1))


@pytest.mark.parametrize("tail", [b"\x0d\x00", b"\x08" + b"\xff" * 10 + b"\x01"],
                         ids=["wire5", "varint11"])
def test_field_after_bbox_rejected_by_both_engines(jvm, tail):
    """A wire-5 field or an 11-byte varint after the bbox rejects the frame
    in core.decode_feature and in every JVM reader; core stopped reading
    at the bbox, and gb_bbox and the line decoders read wire 5 as a
    varint."""
    frame = _LINE_FRAME + tail
    assert not _core_accepts(frame)
    for udf in ("Decode", "Bbox", "LineStats", "LineDecode", "Keys"):
        assert not _jvm_accepts(_udf(jvm, udf), frame), udf


def test_property_after_bbox_is_a_property(jvm):
    """A property entry after the bbox is in core.decode_feature's
    properties, as in gb_decode's props_json."""
    frame = _LINE_FRAME + _EXTRA_FIELDS[0]
    assert core.decode_feature(frame).properties == {"late": True}
    assert _gb_decode_row(_udf(jvm, "Decode"), frame) == _core_row(frame)


def test_last_bbox_wins_in_both(jvm):
    """Of two bbox fields both engines keep the last; a last bbox of three
    values is no bbox in both, whatever came before it."""
    frame = _LINE_FRAME + _bbox_field(-5, 6, 7, 8)
    assert list(_udf(jvm, "Bbox").call(bytearray(frame))) == [-5, 6, 7, 8]
    assert core.decode_feature(frame).bbox.tolist() == [-5e-7, 6e-7, 7e-7, 8e-7]
    for f in (_LINE_FRAME + _EXTRA_FIELDS[-1], frame + _EXTRA_FIELDS[-1]):
        assert _udf(jvm, "Bbox").call(bytearray(f)) is None
        assert core.decode_feature(f).bbox is None


def test_code_and_payload_rules(jvm):
    """A payload with no code is a bare frame in both engines; a tag is a
    varint, so the id under the two-byte tag 88 00 is the id; the first
    code wins."""
    fields = [_LINE_FRAME[s:e] for _, s, e in _fields(_LINE_FRAME)]
    bare = b"".join(f for f in fields if f[0] != 0x18)
    assert core.decode_feature(bare).geom_type == 0
    wide_id = b"\x88\x00\x05" + _LINE_FRAME
    assert core.decode_feature(wide_id).id == 1
    assert core.decode_feature(_LINE_FRAME[2:] + b"\x88\x00\x05").id == 5
    second_code = _LINE_FRAME + b"\x18\x01"
    assert core.decode_feature(second_code).geom_type == 2
    for frame in (bare, wide_id, second_code, _LINE_FRAME[2:] + b"\x88\x00\x05"):
        assert _gb_decode_row(_udf(jvm, "Decode"), frame) == _core_row(frame)
        assert _jvm_accepts(_udf(jvm, "Bbox"), frame)


@settings(max_examples=50, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(frame=_feature_frames(), total=st.integers(62, 300))
def test_many_field_frames_accepted(jvm, frame, total):
    """No field count is capped: a frame padded with varint fields to
    62..300 fields in all is read by both field walks."""
    frame += b"\x30\x01" * max(total - len(_fields(frame)), 0)
    assert _walk_accepts(frame)
    assert _jvm_accepts(_udf(jvm, "Bbox"), frame)


def test_hundred_property_feature(jvm):
    """A Point with 100 integer properties (over 100 fields) reads through
    decode_features_fast, lazy_property, frame_keys and frame_bbox as
    core.decode_feature / decode_properties read it."""
    props = {f"p{i:03d}": i * 1000 - 7 for i in range(100)}
    frame = core.encode_feature(core.Feature.from_geojson(
        "Point", [12.5, -3.25], id=42, properties=props))
    assert len(_fields(frame)) > 100
    want = core.decode_feature(frame)
    assert core.decode_properties(frame) == props
    df = _frames_df(jvm, [frame])
    r = spark_codec.decode_features_fast(df).first()
    assert (r.id, r.geom_type, list(r.coords)) == (
        want.id, want.geom_type, want.coords.tolist())
    assert r.props_json == json.dumps(props, sort_keys=True)
    assert [k.key for k in spark_codec.frame_keys(df).collect()] == list(props)
    got = spark_codec.lazy_property(df, "p099", value_type="bigint").first()
    assert tuple(got) == (42, props["p099"])
    bb = tuple(spark_codec.frame_bbox(df).first())
    assert np.array_equal(np.array(bb, np.float64) / core.POWER, want.bbox)


# --- gb_decode: properties JSON and corrupt frames ---------------------------

_text = st.one_of(
    st.text(st.characters(codec="utf-8", blacklist_categories=("Cs",)), max_size=6),
    st.sampled_from(["", "k", '"\\', "\x00\x1f\x7f", "é", "￿", "\U0001F600"]))
_F64 = [0.0, -0.0, math.nan, math.inf, -math.inf, 5e-324, 2.2250738585072014e-308,
        1.7976931348623157e308, 1e16, 1e15, 1e-4, 1e-5, 0.1, 2e23]
_I64 = [0, 1, -1, 2**63 - 1, -2**63]
# one Value message field (PAPER.md §1.2; core._read_value numbering)
_value_fields = st.one_of(
    _text.map(lambda t: b"\x0a" + core.encode_varint(len(t.encode())) + t.encode()),
    st.integers(0, 2**32 - 1).map(lambda u: b"\x15" + struct.pack("<I", u)),
    st.floats(width=32).map(lambda x: b"\x15" + struct.pack("<f", x)),
    st.integers(0, 2**64 - 1).map(lambda u: b"\x19" + struct.pack("<Q", u)),
    st.one_of(st.floats(), st.sampled_from(_F64)).map(
        lambda x: b"\x19" + struct.pack("<d", x)),
    st.one_of(st.integers(-2**63, 2**63 - 1), st.sampled_from(_I64)).map(
        lambda v: b"\x20" + core.encode_varint(v)),
    st.one_of(st.integers(0, 2**64 - 1), st.sampled_from([0, 2**63, 2**64 - 1])).map(
        lambda u: b"\x28" + core.encode_varint(u)),
    st.one_of(st.integers(-2**63, 2**63 - 1), st.sampled_from(_I64)).map(
        lambda v: b"\x30" + core.encode_varint(core.zigzag64(v))),
    st.sampled_from([0, 1, 2]).map(lambda u: b"\x38" + core.encode_varint(u)))


def _entry(key: str, value: bytes) -> bytes:
    """One properties field: 0x12 | len | 0x0A key | 0x12 value message."""
    kb = key.encode()
    inner = (b"\x0a" + core.encode_varint(len(kb)) + kb
             + b"\x12" + core.encode_varint(len(value)) + value)
    return b"\x12" + core.encode_varint(len(inner)) + inner


@st.composite
def _props_frames(draw):
    """A point or line frame, or a bare one, whose properties cover every
    Value field with extreme values, control, non-ASCII and astral
    characters in keys and values, and repeated keys."""
    keys = st.one_of(_text, st.sampled_from(["k", "K", "é", "\U0001F600"]))
    props = b"".join(_entry(k, v) for k, v in draw(
        st.lists(st.tuples(keys, _value_fields), min_size=1, max_size=6)))
    frame = draw(_feature_frames(props=st.just({})))
    if draw(st.booleans()):
        return props
    if frame[0] == 0x08:
        _, p = core.decode_varint(frame, 1)
        return frame[:p] + props + frame[p:]
    return props + frame


@settings(max_examples=400, deadline=None)
@given(frame=_props_frames())
def test_props_json_matches_python_json(jvm, frame):
    """gb_decode's props_json is json.dumps(core.decode_properties(frame),
    sort_keys=True) to the byte: Python's shortest float repr (float32
    widened first), NaN/Infinity, ensure_ascii escapes, keys in code point
    order, the last value of a repeated key, unsigned uint64."""
    want = json.dumps(core.decode_properties(frame), sort_keys=True)
    assert _udf(jvm, "Decode").call(bytearray(frame)).getString(6) == want


def _cuts_and_overruns(frame: bytes) -> list[bytes]:
    """Every strict prefix of frame, and frame with each length prefix
    raised so its payload runs one byte past the frame end, or to
    2**64 - 1."""
    out = [frame[:k] for k in range(len(frame))]
    for tag, s, e in _fields(frame):
        if tag & 7 == 2:
            n, p = core.decode_varint(frame, s + 1)
            for n2 in (n + len(frame) - e + 1, 2**64 - 1):
                out.append(frame[:s + 1] + core.encode_varint(n2) + frame[p:])
    return out


def _entry_of(key: bytes, klen: int, value: bytes, vlen: int) -> bytes:
    """A properties field with the key and value-message lengths given."""
    inner = (b"\x0a" + core.encode_varint(klen) + key
             + b"\x12" + core.encode_varint(vlen) + value)
    return b"\x12" + core.encode_varint(len(inner)) + inner


def _count_positions(tokens, geom_type: int) -> list[int]:
    """Indexes of the ring counts (and MultiPolygon part counts) in the
    token stream of a well-formed ring-structured geometry."""
    out, i = [], 0
    while i < len(tokens):
        nr = 1
        if geom_type == 6:
            out.append(i)
            nr, i = int(tokens[i]), i + 1
        for _ in range(nr):
            out.append(i)
            i += 1 + int(tokens[i])
    return out


def _payload_corruptions(frame: bytes) -> list[bytes]:
    """frame broken inside a field, its top-level framing intact: each
    field tag given wire type 1 or 5; a property entry's key, value
    message or string length raised one byte past its message, or to
    2**64 - 1; the geometry code given a dim of 16, 17 or 31 (the dim
    nibble overflows into the type); a ring or part count raised one past
    the geometry payload, or to 2**64 - 1."""
    out = []
    fields = _fields(frame)
    code = next((core.decode_varint(frame, s + 1)[0]
                 for tag, s, _ in fields if tag == 0x18), 0)
    gt = code if code <= 6 else code >> 4
    for tag, s, e in fields:
        def put(field):
            out.append(frame[:s] + field + frame[e:])
        for wire in (1, 5):
            out.append(frame[:s] + bytes([tag & ~7 | wire]) + frame[s + 1:])
        n, p = core.decode_varint(frame, s + 1)
        if tag == 0x12:
            klen, kp = core.decode_varint(frame, p + 1)
            key, rest = frame[kp:kp + klen], frame[kp + klen:e]
            vlen, vp = core.decode_varint(frame, kp + klen + 1)
            value = frame[vp:e]
            for over in (lambda used: used + 1, lambda used: 2**64 - 1):
                put(_entry_of(key, over(len(key) + len(rest)), value, vlen))
                put(_entry_of(key, klen, value, over(len(value))))
                if value[:1] == b"\x0a":  # a string value
                    _, sp = core.decode_varint(value, 1)
                    v2 = b"\x0a" + core.encode_varint(over(len(value) - sp)) + value[sp:]
                    put(_entry_of(key, klen, v2, len(v2)))
        if tag == 0x18:
            for dim in (16, 17, 31):
                put(b"\x18" + core.encode_varint((gt << 4) + dim))
        if tag == 0x22 and gt in (3, 5, 6):
            tokens = [int(t) for t in core.unpack_varints(
                np.frombuffer(frame, np.uint8), p, p + n)]
            for i in _count_positions(tokens, gt):
                for big in (len(tokens) - i, 2**64 - 1):
                    payload = core.pack_varints(np.array(
                        tokens[:i] + [big] + tokens[i + 1:], np.uint64))
                    put(b"\x22" + core.encode_varint(len(payload)) + payload)
    return out


# a Point whose string property claims 5 bytes where its value message
# holds 2 (read unbounded, the string took the next field's bytes), and a
# MultiPolygon whose second part claims 2 rings where 1 value is left
_STRING_OVERRUN = bytes.fromhex("12090a016b12040a056162") + core.encode_feature(
    core.Feature.from_geojson("Point", [1.0, 2.0]))
_RING_OVERRUN = bytes([0x18, 6, 0x22, 8]) + core.pack_varints(
    np.array([2, 6, 0, 0, 2, 0, 0, 2], np.uint64))


def test_gb_decode_rejects_cut_and_overrun_frames(jvm):
    """gb_decode and core.decode_feature reject the same truncated frames
    and overrunning length prefixes, and the same frames broken inside a
    field. gb_decode reads every frame it accepts as core does."""
    bases = [frame for _, frame in GOLDEN_FEATURES] + [
        core.encode_feature(core.Feature.from_geojson(
            "MultiPolygon", [[[[0, 0], [1, 0], [0, 1], [0, 0]]],
                             [[[5, 5], [6, 5], [5, 6], [5, 5]]]], id=9)),
        core.encode_feature(core.Feature.from_geojson(
            "LineString", [[1.5, -2.0, 3.0], [-1.0, 2.5, 0.0]], id=10,
            properties={"é": "ü", "k": 2**40})),
        _entry("bare", b"\x38\x01")]
    decode = _udf(jvm, "Decode")
    frames = [f for base in bases for f in _cuts_and_overruns(base)]
    verdicts = [(_jvm_accepts(decode, f), _core_accepts(f)) for f in frames]
    for frame, (j, c) in zip(frames, verdicts):
        assert j == c, (frame.hex(), j, c)
    assert sum(not j for j, _ in verdicts) == 336
    inner = [f for base in bases for f in _payload_corruptions(base)] + [
        _STRING_OVERRUN, _RING_OVERRUN]
    inner_verdicts = [(_jvm_accepts(decode, f), _core_accepts(f)) for f in inner]
    for frame, (j, c) in zip(inner, inner_verdicts):
        assert j == c, (frame.hex(), j, c)
    # all but two: a dim-17 code reads as a valid dim-1 geometry of the next type
    assert (len(inner), sum(not j for j, _ in inner_verdicts)) == (109, 107)
    frames += inner
    verdicts += inner_verdicts
    accepted = [f for f, (j, _) in zip(frames, verdicts) if j]
    df = spark_codec.decode_features_fast(_frames_df(jvm, accepted))
    for frame, r in zip(accepted, df.collect()):
        assert tuple(r) == _core_row(frame), frame.hex()


# --- gb_encode: the generic encoder and its property writer ------------------

_INT_EDGES = [0, -1, 2**63 - 1, -2**63, 2**63, 2**64 - 1]
_json_values = st.one_of(
    _text,
    st.one_of(st.floats(), st.sampled_from(_F64)),
    st.one_of(st.integers(-2**63, 2**64 - 1), st.sampled_from(_INT_EDGES)),
    st.booleans())
_coords = st.one_of(st.integers(-1_799_999_999, 1_799_999_999).map(lambda q: q / 1e7),
                    st.floats(-180, 180))


@st.composite
def _features(draw):
    """A GEOM_SCHEMA row over all six types, dims 2-5, holes, MultiPolygon
    parts and a missing id, with props_json text holding every property
    value type (escaped or raw) and repeated keys."""
    gt = draw(st.integers(1, 6))
    dim = draw(st.integers(2, 5))

    def ring():
        return draw(st.lists(st.tuples(*[_coords] * dim), min_size=1, max_size=5))

    if gt == 1:
        geom = [ring()[:1]]
    elif gt in (2, 4):
        geom = [ring()]
    else:
        geom = [[ring() for _ in range(draw(st.integers(1, 3)))]
                for _ in range(draw(st.integers(1, 3)) if gt == 6 else 1)]
    rings = [r for part in geom for r in part] if gt not in (1, 2, 4) else geom
    parts = [len(p) for p in geom] if gt == 6 else [len(rings)]
    fid = draw(st.one_of(st.none(), st.integers(-2**63, 2**63 - 1)))
    keys = st.one_of(_text, st.sampled_from(["k", "K", "é", "\U0001F600"]))
    pairs = draw(st.lists(st.tuples(keys, _json_values), max_size=6))
    ascii_ = draw(st.booleans())
    text = "{" + ", ".join(json.dumps(k, ensure_ascii=ascii_) + ": "
                           + json.dumps(v, ensure_ascii=ascii_) for k, v in pairs) + "}"
    coords = [c for r in rings for v in r for c in v]
    return (fid, gt, dim, coords, [len(r) for r in rings], parts, text)


def _core_encode(row) -> bytes:
    fid, gt, dim, coords, rl, pr, text = row
    return core.encode_feature(core.Feature(
        geom_type=gt, dim=dim, coords=np.array(coords, dtype=np.float64),
        ring_lens=np.array(rl, np.int64), part_rings=np.array(pr, np.int64), id=fid,
        properties=json.loads(text) if text else {}))


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(_features(), min_size=1, max_size=12))
def test_gb_encode_matches_core(jvm, rows):
    """encode_features_generic (gb_encode) is byte-identical to
    core.encode_feature of json.loads(props_json): every geometry type and
    dim, holes and parts, no-id rows; str, float (NaN, ±Inf, -0.0,
    subnormal), int at the int64/uint64 edges and bool values; a repeated
    key keeps its first position and its last value."""
    assert _gb_encode(jvm, rows) == [_core_encode(r) for r in rows]


_POINT = core.Feature.from_geojson("Point", [1.0, 2.0], id=1)


@pytest.mark.parametrize("row", [
    _geom_row(_POINT, '{"a": null}'),
    _geom_row(_POINT, '{"a": {"b": 1}}'),
    _geom_row(_POINT, '{"a": [1]}'),
    _geom_row(_POINT, '{"a": "\\ud800"}'),
    _geom_row(_POINT, '{"\\udc00": 1}'),
    _geom_row(_POINT, '{"a": 18446744073709551616}'),
    _geom_row(_POINT, '{"a": -9223372036854775809}'),
    _geom_row(_POINT, '[]'),
    (1, 2, 2, [], [0], [1], "{}"),
    (1, 1, 2, [math.nan, 2.0], [1], [1], "{}"),
    (1, 3, 2, [0.0, 0.0, 1.0, 0.0, 1.0, math.inf], [3], [1], "{}"),
    (1, 2, 3, [0.0, 0.0, 1.0, 1.0, 1.0, math.nan], [2], [1], "{}"),
    (1, 2, 2, [1e12, 0.0], [1], [1], "{}"),
], ids=["null", "object", "array", "lone_surrogate", "lone_surrogate_key",
        "int_over", "int_under", "not_an_object", "empty_geometry", "nan_point",
        "inf_polygon", "nan_z", "off_lattice"])
def test_gb_encode_rejects_what_core_rejects(jvm, row):
    """A null or nested value, a lone surrogate, an int outside
    [-2**63, 2**64), props that are not an object, an empty geometry and a
    non-finite or off-lattice coordinate: core raises, and gb_encode fails
    the task instead of writing a frame."""
    with pytest.raises((ValueError, TypeError, AttributeError, UnicodeEncodeError)):
        _core_encode(row)
    with pytest.raises(Exception, match="IllegalArgumentException"):
        _gb_encode(jvm, [row])


def test_property_int_range(jvm):
    """int64 values take field 4, [2**63, 2**64) the unsigned field 5
    (tag 0x28), and both read back as written; a wider int is rejected,
    by core and by gb_encode alike."""
    ok = [2**63 - 1, -2**63, -1, 2**63, 2**64 - 1]
    feats = [core.Feature.from_geojson("Point", [1.0, 2.0], id=1, properties={"a": v})
             for v in ok]
    frames = [core.encode_feature(f) for f in feats]
    for v, frame in zip(ok, frames):
        assert core.decode_feature(frame).properties == {"a": v}
        # 0x12 len 0x0A 0x01 "a" 0x12 len <field tag>
        assert frame[9] == (0x28 if v >= 2**63 else 0x20)
    assert _gb_encode(jvm, [_geom_row(f) for f in feats]) == frames
    for v in (2**64, 2**70, -2**70, -2**63 - 1):
        with pytest.raises(ValueError, match="outside"):
            core.encode_feature(core.Feature.from_geojson(
                "Point", [1.0, 2.0], properties={"a": v}))
        with pytest.raises(Exception, match="outside"):
            _gb_encode(jvm, [_geom_row(_POINT, json.dumps({"a": v}))])


# --- gb_prop / gb_keys: the lazy reads --------------------------------------

def _typed(value, value_type):
    """core's property value as lazy_property types it, else None."""
    if value_type == "string":
        return value if isinstance(value, str) else None
    if value_type == "bigint":
        ok = isinstance(value, int) and not isinstance(value, bool)
        return value if ok and -2**63 <= value < 2**63 else None
    return value if isinstance(value, float) else None


_DUP_FRAME = (_entry("lang", b"\x0a\x02en") + _entry("n", b"\x30\x03")
              + _entry("u", b"\x28" + core.encode_varint(2**63 + 5))
              + _entry("lang", b"\x0a\x02de") + _entry("f", b"\x15" + struct.pack("<f", 0.1)))


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(frames=st.lists(_props_frames(), min_size=1, max_size=8),
       value_type=st.sampled_from(["string", "bigint", "double"]),
       pick=st.integers(0, 2**16))
@example(frames=[_DUP_FRAME], value_type="string", pick=3)
@example(frames=[_DUP_FRAME] * 2, value_type="bigint", pick=1)
@example(frames=[_DUP_FRAME], value_type="double", pick=4)
def test_lazy_property_matches_core(jvm, frames, value_type, pick):
    """lazy_property == core.decode_properties(frame).get(key), typed by
    value_type, on frames with repeated keys (the last wins) and every
    Value field (uint64 and sint64 included); keys from frame_keys, in
    wire order with repeats, equal the keys core reads."""
    df = jvm.createDataFrame([(bytearray(f),) for f in frames], "geobuf binary").coalesce(1)
    keys = [r.key for r in spark_codec.frame_keys(df).collect()]
    wire = []
    for f in frames:
        for tag, s, _ in _fields(f):
            if tag == 0x12:  # 0x12 len | 0x0A klen key ...
                n, p = core.decode_varint(f, core.decode_varint(f, s + 1)[1] + 1)
                wire.append(f[p:p + n].decode())
    assert keys == wire
    assert set(keys) == {k for f in frames for k in core.decode_properties(f)}
    key = (keys + ["absent"])[pick % (len(keys) + 1)]
    got = spark_codec.lazy_property(df, key, value_type=value_type).collect()
    for (fid, value), f in zip(got, frames):
        want = _typed(core.decode_properties(f).get(key), value_type)
        assert fid == (core.decode_feature(f).id or 0)
        assert value == want or (want != want and value != value), (key, value, want)
