"""JVM line and ring codec (encode_lines/decode_lines/decode_lines_agg,
encode_polygons/decode_polygons): byte parity with the per-feature
reference-semantics encoder in core.py, exact round trips, and decode of
core-written frames at any dim, with properties or without a bbox."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geobuf_spark.codec import core
from geobuf_spark.codec import spark_codec as sc


@pytest.fixture(scope="module")
def batch():
    rng = np.random.default_rng(7)
    n = 500
    nv = rng.integers(2, 50, n).astype(np.int64)
    coords = rng.integers(-1_700_000_000, 1_700_000_000, int(nv.sum()) * 2) / 1e7
    ids = rng.integers(0, 2**40, n)
    return ids, coords, nv


def _split(coords, nv, dim=2) -> list[np.ndarray]:
    """Flat batch coords → one (nv_i, dim) vertex array per feature."""
    return np.split(np.reshape(coords, (-1, dim)), np.cumsum(nv)[:-1])


def _core_frames(geom: str, ids, parts) -> list[bytes]:
    """core.encode_feature frames of geometry type `geom`, one per id;
    parts[i] is a vertex array, or a list of rings for ring types."""
    return [core.encode_feature(core.Feature.from_geojson(
                geom, p.tolist() if isinstance(p, np.ndarray) else p, id=int(i)))
            for i, p in zip(ids, parts)]


def _frames_df(spark, frames):
    return spark.createDataFrame([(bytearray(f),) for f in frames], "geobuf binary")


def _lines_df(spark, ids, verts):
    return spark.createDataFrame(
        [(int(i), v.reshape(-1).tolist()) for i, v in zip(ids, verts)],
        "line_id long, coords array<double>")


def _with_code(frame: bytes, code: int) -> bytes:
    """frame with its geometry code byte (0x18 right after the id) set."""
    _, p = core.decode_varint(frame, 1)
    assert frame[p] == 0x18
    return frame[:p + 1] + bytes([code]) + frame[p + 2:]


def test_lines_kernel_byte_parity(spark, batch):
    """encode_lines frames are byte-identical to core.encode_feature's."""
    ids, coords, nv = batch
    got = {r.line_id: bytes(r.geobuf)
           for r in sc.encode_lines(_lines_df(spark, ids, _split(coords, nv))).collect()}
    assert got == dict(zip(ids.tolist(), _core_frames(
        "LineString", ids, _split(coords, nv))))


def test_lines_kernel_roundtrip(spark, batch):
    ids, coords, nv = batch
    dec = sc.decode_lines(sc.encode_lines(_lines_df(spark, ids, _split(coords, nv))))
    got = {r.line_id: list(r.coords_q) for r in dec.collect()}
    q = core.quantize_vec(coords)
    assert got == {int(i): v.reshape(-1).tolist()
                   for i, v in zip(ids, _split(q, nv))}


def test_lines_dataframe_roundtrip(spark):
    from bench import synth_lines

    lines = synth_lines(spark, 2000).cache()
    enc = sc.encode_lines(lines)
    dec = sc.decode_lines(enc)
    got = {r.line_id: list(r.coords_q) for r in dec.collect()}
    want = {
        r.line_id: list(core.quantize_vec(np.asarray(r.coords)))
        for r in lines.collect()
    }
    assert got == want


@pytest.fixture(scope="module")
def batch3d():
    rng = np.random.default_rng(11)
    n = 300
    nv = rng.integers(2, 40, n).astype(np.int64)
    coords = rng.integers(-1_700_000_000, 1_700_000_000, int(nv.sum()) * 3) / 1e7
    ids = rng.integers(0, 2**40, n)
    return ids, coords, nv


def test_lines_kernel_dim3_roundtrip(spark, batch3d):
    """dim-3 LineString frames from core.encode_feature (geom code 2<<4|3
    = 0x23, makegeomcode geom.go:59-76) decode to the quantized source."""
    ids, coords, nv = batch3d
    frames = _core_frames("LineString", ids, _split(coords, nv, 3))
    assert {core.decode_feature(f).dim for f in frames} == {3}
    assert {_with_code(f, 0x23) == f for f in frames} == {True}
    got = {r.line_id: list(r.coords_q)
           for r in sc.decode_lines(_frames_df(spark, frames)).collect()}
    q = core.quantize_vec(coords)
    assert got == {int(i): v.reshape(-1).tolist()
                   for i, v in zip(ids, _split(q, nv, 3))}


def test_lines_dataframe_dim3_roundtrip(spark):
    """One partition mixing dim-2 and dim-3 LineStrings: decode_lines reads
    each frame at its own dim."""
    rng = np.random.default_rng(3)
    frames, want = [], {}
    for i in range(200):
        dim = 2 + i % 2
        v = rng.integers(-1_000_000_000, 1_000_000_000,
                         (int(rng.integers(2, 20)), dim)) / 1e7
        frames += _core_frames("LineString", [i], [v])
        want[i] = core.quantize_vec(v.reshape(-1)).tolist()
    dec = sc.decode_lines(_frames_df(spark, frames).coalesce(1))
    assert {r.line_id: list(r.coords_q) for r in dec.collect()} == want


@pytest.mark.parametrize("dim", [2, 3, 5])
def test_decode_lines_agg_any_dim(spark, dim):
    """decode_lines_agg equals decode_lines + (count, Σ size(coords_q),
    Σ coords_q[1]) on frames of any dim."""
    rng = np.random.default_rng(50 + dim)
    verts = [rng.uniform(-170, 170, (int(rng.integers(2, 9)), dim)) for _ in range(40)]
    df = _frames_df(spark, _core_frames("LineString", range(40), verts))
    fused = sc.decode_lines_agg(df).collect()[0]
    full = sc.decode_lines(df).agg(
        F.count("*"), F.sum(F.size("coords_q")),
        F.sum(F.element_at("coords_q", 1))).collect()[0]
    assert list(fused) == list(full)
    assert fused.sum_size == dim * sum(len(v) for v in verts)


# ---------------------------------------------------------------------------
# ring-structured geometries (Polygon / MultiLineString)
# ---------------------------------------------------------------------------

def _ring_rows(seed, n=200, max_rings=4, dim=2):
    """(id, flat coords, vertices per ring) rows of random ring features."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in rng.integers(0, 2**40, n):
        nvs = rng.integers(3, 30, int(rng.integers(1, max_rings + 1))).tolist()
        c = rng.integers(-1_700_000_000, 1_700_000_000, sum(nvs) * dim) / 1e7
        rows.append((int(i), c.tolist(), nvs))
    return rows


def _ring_frames(rows, geom="Polygon", dim=2) -> list[bytes]:
    return _core_frames(geom, [r[0] for r in rows],
                        [[v.tolist() for v in _split(c, nvs, dim)]
                         for _, c, nvs in rows])


def _polys_df(spark, rows):
    return spark.createDataFrame(
        rows, "poly_id long, coords array<double>, ring_lens array<int>")


def _decoded_rings(spark, frames) -> dict:
    return {r.poly_id: (list(r.coords_q), list(r.ring_lens))
            for r in sc.decode_polygons(_frames_df(spark, frames)).collect()}


def _quantized_rings(rows) -> dict:
    return {i: (core.quantize_vec(np.asarray(c)).tolist(), nvs) for i, c, nvs in rows}


@pytest.mark.parametrize("geom_type,name", [(3, "Polygon"), (5, "MultiLineString")])
def test_rings_kernel_byte_parity(spark, geom_type, name):
    """encode_polygons frames are byte-identical to core.encode_feature's
    Polygons. A MultiLineString shares the Polygon wire shape (geom.go:
    255-273) and differs only in its geometry code byte; decode_polygons
    reads it to core's rings."""
    rows = _ring_rows(13)
    enc = {r.poly_id: bytes(r.geobuf)
           for r in sc.encode_polygons(_polys_df(spark, rows)).collect()}
    frames = _ring_frames(rows, name)
    assert [_with_code(enc[r[0]], geom_type) for r in rows] == frames
    assert _decoded_rings(spark, frames) == _quantized_rings(rows)


def test_rings_kernel_roundtrip(spark):
    rows = _ring_rows(17)
    dec = sc.decode_polygons(sc.encode_polygons(_polys_df(spark, rows)))
    got = {r.poly_id: (list(r.coords_q), list(r.ring_lens)) for r in dec.collect()}
    assert got == _quantized_rings(rows)


def test_rings_kernel_dim3_roundtrip(spark):
    """dim-3 MultiLineString frames from core.encode_feature decode to the
    quantized source, and core.decode_feature agrees on type and dim."""
    rows = _ring_rows(19, dim=3)
    frames = _ring_frames(rows, "MultiLineString", dim=3)
    assert _decoded_rings(spark, frames) == _quantized_rings(rows)
    f0 = core.decode_feature(frames[0], quantized=True)
    assert f0.geom_type == 5 and f0.dim == 3 and f0.ring_lens.tolist() == rows[0][2]


def test_polygons_dataframe_roundtrip(spark):
    rng = np.random.default_rng(23)
    rows = []
    for i in range(150):
        nr = int(rng.integers(1, 4))
        rl = [int(rng.integers(3, 12)) for _ in range(nr)]
        c = (rng.integers(-1_000_000_000, 1_000_000_000, sum(rl) * 2) / 1e7).tolist()
        rows.append((i, c, rl))
    df = spark.createDataFrame(rows, "poly_id bigint, coords array<double>, ring_lens array<int>")
    dec = sc.decode_polygons(sc.encode_polygons(df))
    got = {r.poly_id: (list(r.coords_q), list(r.ring_lens)) for r in dec.collect()}
    want = {i: (list(core.quantize_vec(np.asarray(c))), rl) for i, c, rl in rows}
    assert got == want


def test_multipoint_kernel_byte_parity(spark, batch):
    """A MultiPoint shares the LineString wire shape (packed deltas,
    geom.go:249-252): core's MultiPoint frames are encode_lines frames
    with geometry code 4, and decode_lines reads them back."""
    ids, coords, nv = batch
    ids, verts = ids[::17], _split(coords, nv)[::17]
    enc = {r.line_id: bytes(r.geobuf)
           for r in sc.encode_lines(_lines_df(spark, ids, verts)).collect()}
    frames = _core_frames("MultiPoint", ids, verts)
    assert [_with_code(enc[int(i)], 4) for i in ids] == frames
    got = {r.line_id: list(r.coords_q)
           for r in sc.decode_lines(_frames_df(spark, frames)).collect()}
    assert got == {int(i): core.quantize_vec(v.reshape(-1)).tolist()
                   for i, v in zip(ids, verts)}


# ---------------------------------------------------------------------------
# MultiPolygon kernels
# ---------------------------------------------------------------------------

def _mp_batch(seed, n=120, dim=2):
    rng = np.random.default_rng(seed)
    polys_per_feat = rng.integers(1, 4, n).astype(np.int64)
    rings_per_poly = rng.integers(1, 3, int(polys_per_feat.sum())).astype(np.int64)
    ring_nv = rng.integers(3, 20, int(rings_per_poly.sum())).astype(np.int64)
    coords = rng.integers(-1_700_000_000, 1_700_000_000, int(ring_nv.sum()) * dim) / 1e7
    ids = rng.integers(0, 2**40, n)
    return ids, coords, ring_nv, rings_per_poly, polys_per_feat


def _mp_frames(seed):
    """_mp_batch features as core.encode_feature frames, with the batch."""
    ids, coords, ring_nv, rpp, ppf = batch = _mp_batch(seed)
    v_off = np.concatenate(([0], np.cumsum(ring_nv)))
    r_off = np.concatenate(([0], np.cumsum(rpp)))
    p_off = np.concatenate(([0], np.cumsum(ppf)))
    frames = []
    for i in range(len(ids)):
        r0, r1 = r_off[p_off[i]], r_off[p_off[i + 1]]
        frames.append(core.encode_feature(core.Feature(
            geom_type=6, dim=2, coords=coords[2 * v_off[r0]:2 * v_off[r1]],
            ring_lens=ring_nv[r0:r1], part_rings=rpp[p_off[i]:p_off[i + 1]],
            id=int(ids[i]))))
    return frames, batch


def _lattice(q) -> list:
    """The float coords of exact lattice values q, as the fast decode
    writes them: go_round7(q / 1e7)."""
    return core.go_round7(np.asarray(q, dtype=np.int64) / 1e7).tolist()


def test_multipolygon_kernel_byte_parity(gb_decode):
    """MultiPolygon frames written by core.encode_feature: gb_decode reads
    each one as core.decode_feature does — id, part_rings, ring_lens, and
    coords on the same lattice."""
    frames, _ = _mp_frames(29)
    for frame, r in zip(frames, gb_decode(frames)):
        want = core.decode_feature(frame, quantized=True)
        assert (r.id, r.geom_type, r.dim) == (want.id, 6, 2)
        assert r.part_rings == want.part_rings.tolist()
        assert r.ring_lens == want.ring_lens.tolist()
        assert r.coords == _lattice(want.coords)


def test_multipolygon_kernel_roundtrip(gb_decode):
    """A batch of nested MultiPolygons round-trips core.encode_feature →
    gb_decode: the structure arrays exactly, coords on the lattice."""
    frames, (ids, coords, ring_nv, rpp, ppf) = _mp_frames(31)
    rows = gb_decode(frames)
    assert [r.id for r in rows] == ids.tolist()
    assert [len(r.part_rings) for r in rows] == ppf.tolist()
    assert [n for r in rows for n in r.part_rings] == rpp.tolist()
    assert [n for r in rows for n in r.ring_lens] == ring_nv.tolist()
    assert [c for r in rows for c in r.coords] == _lattice(core.quantize_vec(coords))
    # reference-semantics decoder agrees on the first feature's structure
    f0 = core.decode_feature(frames[0], quantized=True)
    assert f0.geom_type == 6 and f0.part_rings.tolist() == rpp[:ppf[0]].tolist()


def test_rings_kernel_on_county_polygons(spark, reference_file):
    """Real-world ring structure: the reference's county dataset, Polygon
    features re-encoded through encode_polygons, must round-trip exactly
    on the quantized lattice and match the per-feature encoder's bytes
    (id-only features: properties/bbox handling identical by construction)."""
    from geobuf_spark.codec.core import read_frames

    data = open(reference_file("county.geobuf"), "rb").read()
    polys = []
    for frame in read_frames(data):
        f = core.decode_feature(frame)
        if f.geom_type == 3:
            polys.append(f)
        if len(polys) >= 400:
            break
    assert len(polys) >= 300
    rows = [(i, f.coords.tolist(), f.ring_lens.tolist()) for i, f in enumerate(polys)]
    enc = sc.encode_polygons(_polys_df(spark, rows)).cache()
    # decode == quantized source
    got = {r.poly_id: (list(r.coords_q), list(r.ring_lens))
           for r in sc.decode_polygons(enc).collect()}
    assert got == _quantized_rings(rows)
    # byte parity vs the per-feature encoder on a sample
    frames = {r.poly_id: bytes(r.geobuf) for r in enc.collect()}
    for i in range(0, len(polys), 50):
        cf = core.Feature(geom_type=3, dim=2, coords=polys[i].coords,
                          ring_lens=polys[i].ring_lens,
                          part_rings=polys[i].part_rings, id=i)
        assert core.encode_feature(cf) == frames[i], i


def test_decode_geometries_mixed_batch(spark):
    """One binary column holding all six geometry types: gb_decode reads
    every frame to its own type and the exact lattice coords, and the
    structure arrays match the generic per-feature decoder."""
    rng = np.random.default_rng(41)
    frames = []
    expected = {}
    fid = 0

    def add(feat_frames, build):
        nonlocal fid
        for b in build:
            expected[fid] = b
            fid += 1
        frames.extend(feat_frames)

    # points
    ids = np.arange(fid, fid + 50)
    lon = rng.uniform(-170, 170, 50); lat = rng.uniform(-80, 80, 50)
    add([core.encode_feature(core.Feature.from_geojson(
            "Point", [lon[i], lat[i]], id=int(ids[i]))) for i in range(50)],
        [(1, core.quantize_vec(np.array([lon[i], lat[i]])).tolist()) for i in range(50)])
    # lines + multipoints
    for gt, name in ((2, "LineString"), (4, "MultiPoint")):
        verts = [rng.uniform(-170, 170, (int(rng.integers(2, 10)), 2)) for _ in range(30)]
        add(_core_frames(name, range(fid, fid + 30), verts),
            [(gt, core.quantize_vec(v.reshape(-1)).tolist()) for v in verts])
    # polygons + multilinestrings
    for gt, name in ((3, "Polygon"), (5, "MultiLineString")):
        feats = [[rng.uniform(-170, 170, (int(rng.integers(3, 8)), 2))
                  for _ in range(int(rng.integers(1, 3)))] for _ in range(20)]
        add(_core_frames(name, range(fid, fid + 20), [[r.tolist() for r in f] for f in feats]),
            [(gt, core.quantize_vec(np.concatenate(f).reshape(-1)).tolist()) for f in feats])
    # multipolygons
    for i in range(15):
        polys = [[rng.uniform(-170, 170, (int(rng.integers(3, 8)), 2)).tolist()
                  for _ in range(int(rng.integers(1, 3)))]
                 for _ in range(int(rng.integers(1, 3)))]
        feat = core.Feature.from_geojson("MultiPolygon", polys, id=fid)
        add([core.encode_feature(feat)], [(6, core.quantize_vec(feat.coords).tolist())])

    order = rng.permutation(len(frames))
    df = spark.createDataFrame(
        [(bytearray(frames[i]),) for i in order], "geobuf binary").repartition(4)
    dec = sc.decode_features_fast(df)
    got = {r.id: (r.geom_type, r.coords) for r in dec.collect()}
    assert got == {i: (gt, _lattice(q)) for i, (gt, q) in expected.items()}
    # structure against the generic decoder on every multipolygon frame
    for some in dec.filter(F.col("geom_type") == 6).collect():
        g = core.decode_feature(frames[some.id], quantized=True)
        assert some.part_rings == g.part_rings.tolist()
        assert some.ring_lens == g.ring_lens.tolist()


def _props_line_frame(fid: int, coords: np.ndarray, props: dict,
                      geom_type: int = 2, dim: int = 2,
                      with_bbox: bool = True) -> bytes:
    """A feature frame with properties (and optionally no bbox, like
    reference files written by older encoders — county.geobuf has none)."""
    nv = np.array([len(coords) // dim], dtype=np.int64)
    feat = core.Feature(geom_type=geom_type, dim=dim, coords=coords,
                        ring_lens=nv, part_rings=np.array([1], np.int64),
                        id=fid, properties=props)
    frame = core.encode_feature(feat)
    if not with_bbox:
        # strip the trailing bbox field (tag 42 + len + payload)
        pos, out = 0, bytearray()
        while pos < len(frame):
            tag = frame[pos]
            val, nxt = core.decode_varint(frame, pos + 1)
            end = nxt + val if tag & 0x7 == 2 else nxt
            if tag != 42:
                out += frame[pos:end]
            pos = end
        frame = bytes(out)
    return frame


def test_decode_lines_with_properties(spark):
    """Props-carrying line frames must decode exactly — the old fixed
    whole-frame tokenizer silently produced garbage on them (ADVICE r01)."""
    rng = np.random.default_rng(7)
    frames, want = [], []
    for fid in range(40):
        nv = int(rng.integers(2, 9))
        c = rng.uniform(-170, 170, nv * 2)
        props = {"name": f"road-{fid}", "lanes": fid % 5}
        frames.append(_props_line_frame(fid, c, props))
        want.append(core.quantize_vec(c).tolist())
    got = [(r.line_id, list(r.coords_q))
           for r in sc.decode_lines(_frames_df(spark, frames).coalesce(1)).collect()]
    assert got == list(enumerate(want))


def test_decode_rings_props_and_no_bbox(spark):
    """Polygon frames with properties AND without bbox (old-writer files)
    through decode_polygons — reader.go field-walk parity."""
    rng = np.random.default_rng(11)
    frames, want = [], []
    for fid in range(25):
        nv = int(rng.integers(3, 8))
        c = rng.uniform(-80, 80, nv * 2)
        frames.append(_props_line_frame(
            fid, c, {"area": float(fid)}, geom_type=3,
            with_bbox=bool(fid % 2)))
        want.append(core.quantize_vec(c).tolist())
    got = [(r.poly_id, list(r.coords_q), list(r.ring_lens)) for r in
           sc.decode_polygons(_frames_df(spark, frames).coalesce(1)).collect()]
    assert got == [(i, w, [len(w) // 2]) for i, w in enumerate(want)]


def test_decode_geometries_mixed_dim_and_props(spark):
    """gb_decode takes the dim from each frame's FULL geom code: a batch
    mixing dim-2 and dim-3 LineStrings, all carrying properties, decodes
    each frame at its own dim with its own props."""
    rng = np.random.default_rng(13)
    rows, want = [], {}
    fid = 0
    for dim in (2, 3):
        for _ in range(20):
            nv = int(rng.integers(2, 7))
            c = rng.uniform(-80, 80, nv * dim)
            rows.append(_props_line_frame(fid, c, {"d": dim}, dim=dim))
            want[fid] = (dim, core.quantize_vec(c).tolist())
            fid += 1
    order = rng.permutation(fid)
    df = spark.createDataFrame(
        [(bytearray(rows[i]),) for i in order], "geobuf binary").repartition(3)
    got = {r.id: (r.dim, r.coords, r.props_json)
           for r in sc.decode_features_fast(df).collect()}
    assert got == {i: (dim, _lattice(q), f'{{"d": {dim}}}')
                   for i, (dim, q) in want.items()}
