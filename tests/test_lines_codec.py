"""Vectorized LineString batch codec: byte parity with the per-feature
reference-semantics encoder, exact round trips, DataFrame wrappers."""

import numpy as np
import pyarrow as pa
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


def test_lines_kernel_byte_parity(batch):
    ids, coords, nv = batch
    arr = sc.encode_lines_kernel(ids, coords, nv)
    starts = np.concatenate(([0], np.cumsum(nv)[:-1]))
    for i in range(len(ids)):
        span = coords[2 * starts[i] : 2 * (starts[i] + nv[i])]
        cf = core.Feature.from_geojson("LineString", span.reshape(-1, 2).tolist(), id=int(ids[i]))
        assert core.encode_feature(cf) == arr[i].as_py(), i


def test_lines_kernel_roundtrip(batch):
    ids, coords, nv = batch
    arr = sc.encode_lines_kernel(ids, coords, nv)
    dids, dcoords, dnv = sc.decode_lines_kernel(arr)
    assert np.array_equal(dids, ids)
    assert np.array_equal(dnv, nv)
    assert np.array_equal(dcoords, core.quantize_vec(coords))


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


def test_lines_kernel_dim3_byte_parity(batch3d):
    # geom code embeds dim per makegeomcode (geom.go:59-76): 2<<4|3 = 0x23
    ids, coords, nv = batch3d
    arr = sc.encode_lines_kernel(ids, coords, nv, dim=3)
    starts = np.concatenate(([0], np.cumsum(nv)[:-1]))
    for i in range(0, len(ids), 7):
        span = coords[3 * starts[i] : 3 * (starts[i] + nv[i])]
        cf = core.Feature.from_geojson("LineString", span.reshape(-1, 3).tolist(), id=int(ids[i]))
        assert cf.dim == 3
        assert core.encode_feature(cf) == arr[i].as_py(), i


def test_lines_kernel_dim3_roundtrip(batch3d):
    ids, coords, nv = batch3d
    arr = sc.encode_lines_kernel(ids, coords, nv, dim=3)
    dids, dcoords, dnv = sc.decode_lines_kernel(arr)
    assert np.array_equal(dids, ids)
    assert np.array_equal(dnv, nv)
    assert np.array_equal(dcoords, core.quantize_vec(coords))
    # and the per-feature reference-semantics decoder agrees on dim
    f0 = core.decode_feature(arr[0].as_py(), quantized=True)
    assert f0.dim == 3 and f0.geom_type == 2


def test_lines_dataframe_dim3_roundtrip(spark):
    rng = np.random.default_rng(3)
    rows = []
    for i in range(200):
        nv = int(rng.integers(2, 20))
        c = (rng.integers(-1_000_000_000, 1_000_000_000, nv * 3) / 1e7).tolist()
        rows.append((i, c))
    df = spark.createDataFrame(rows, "line_id bigint, coords array<double>")
    dec = sc.decode_lines(sc.encode_lines(df, dim=3))
    got = {r.line_id: list(r.coords_q) for r in dec.collect()}
    want = {i: list(core.quantize_vec(np.asarray(c))) for i, c in rows}
    assert got == want


# ---------------------------------------------------------------------------
# ring-structured kernels (Polygon / MultiLineString)
# ---------------------------------------------------------------------------

def _ring_batch(seed, n=200, max_rings=4, dim=2):
    rng = np.random.default_rng(seed)
    rings_per_feat = rng.integers(1, max_rings + 1, n).astype(np.int64)
    ring_nv = rng.integers(3, 30, int(rings_per_feat.sum())).astype(np.int64)
    coords = rng.integers(-1_700_000_000, 1_700_000_000, int(ring_nv.sum()) * dim) / 1e7
    ids = rng.integers(0, 2**40, n)
    return ids, coords, ring_nv, rings_per_feat


@pytest.mark.parametrize("geom_type,name", [(3, "Polygon"), (5, "MultiLineString")])
def test_rings_kernel_byte_parity(geom_type, name):
    ids, coords, ring_nv, rpf = _ring_batch(13)
    arr = sc.encode_rings_kernel(ids, coords, ring_nv, rpf, geom_type=geom_type)
    ring_starts = np.concatenate(([0], np.cumsum(ring_nv)[:-1]))
    feat_ring_start = np.concatenate(([0], np.cumsum(rpf)[:-1]))
    for i in range(0, len(ids), 11):
        rings = []
        for r in range(rpf[i]):
            g = feat_ring_start[i] + r
            s = ring_starts[g]
            rings.append(coords[2 * s : 2 * (s + ring_nv[g])].reshape(-1, 2).tolist())
        cf = core.Feature.from_geojson(name, rings, id=int(ids[i]))
        assert core.encode_feature(cf) == arr[i].as_py(), i


def test_rings_kernel_roundtrip():
    ids, coords, ring_nv, rpf = _ring_batch(17)
    arr = sc.encode_rings_kernel(ids, coords, ring_nv, rpf, geom_type=3)
    dids, dcoords, dnv, drpf, gt, dim = sc.decode_rings_kernel(arr)
    assert gt == 3 and dim == 2
    assert np.array_equal(dids, ids)
    assert np.array_equal(drpf, rpf)
    assert np.array_equal(dnv, ring_nv)
    assert np.array_equal(dcoords, core.quantize_vec(coords))


def test_rings_kernel_dim3_roundtrip():
    ids, coords, ring_nv, rpf = _ring_batch(19, dim=3)
    arr = sc.encode_rings_kernel(ids, coords, ring_nv, rpf, geom_type=5, dim=3)
    dids, dcoords, dnv, drpf, gt, dim = sc.decode_rings_kernel(arr)
    assert gt == 5 and dim == 3
    assert np.array_equal(dcoords, core.quantize_vec(coords))
    # reference-semantics per-feature decoder agrees
    f0 = core.decode_feature(arr[0].as_py(), quantized=True)
    assert f0.geom_type == 5 and f0.dim == 3 and f0.ring_lens.tolist() == ring_nv[:rpf[0]].tolist()


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


def test_multipoint_kernel_byte_parity(batch):
    ids, coords, nv = batch
    arr = sc.encode_lines_kernel(ids, coords, nv, geom_type=4)
    starts = np.concatenate(([0], np.cumsum(nv)[:-1]))
    for i in range(0, len(ids), 17):
        span = coords[2 * starts[i] : 2 * (starts[i] + nv[i])]
        cf = core.Feature.from_geojson("MultiPoint", span.reshape(-1, 2).tolist(), id=int(ids[i]))
        assert core.encode_feature(cf) == arr[i].as_py(), i
    dids, dcoords, dnv = sc.decode_lines_kernel(arr)
    assert np.array_equal(dcoords, core.quantize_vec(coords))


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


def test_rings_kernel_on_county_polygons(reference_file):
    """Real-world ring structure: the reference's county dataset, Polygon
    features re-encoded through the batch kernel, must round-trip exactly
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
    ids = np.arange(len(polys), dtype=np.int64)
    ring_nv = np.concatenate([f.ring_lens for f in polys])
    rpf = np.array([len(f.ring_lens) for f in polys], dtype=np.int64)
    coords = np.concatenate([f.coords for f in polys])
    arr = sc.encode_rings_kernel(ids, coords, ring_nv, rpf, geom_type=3)
    # batch decode == quantized source
    dids, dcoords, dnv, drpf, gt, dim = sc.decode_rings_kernel(arr)
    assert np.array_equal(dcoords, core.quantize_vec(coords))
    assert np.array_equal(dnv, ring_nv)
    # byte parity vs the per-feature encoder on a sample
    for i in range(0, len(polys), 50):
        cf = core.Feature(geom_type=3, dim=2, coords=polys[i].coords,
                          ring_lens=polys[i].ring_lens,
                          part_rings=polys[i].part_rings, id=int(ids[i]))
        assert core.encode_feature(cf) == arr[i].as_py(), i


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
    for gt in (2, 4):
        ids = np.arange(fid, fid + 30)
        nv = rng.integers(2, 10, 30).astype(np.int64)
        c = rng.uniform(-170, 170, int(nv.sum()) * 2)
        arr = sc.encode_lines_kernel(ids, c, nv, geom_type=gt)
        st = np.concatenate(([0], np.cumsum(nv)[:-1]))
        add([arr[i].as_py() for i in range(30)],
            [(gt, core.quantize_vec(c[2*st[i]:2*(st[i]+nv[i])]).tolist()) for i in range(30)])
    # polygons + multilinestrings
    for gt in (3, 5):
        ids = np.arange(fid, fid + 20)
        rpf = rng.integers(1, 3, 20).astype(np.int64)
        rnv = rng.integers(3, 8, int(rpf.sum())).astype(np.int64)
        c = rng.uniform(-170, 170, int(rnv.sum()) * 2)
        arr = sc.encode_rings_kernel(ids, c, rnv, rpf, geom_type=gt)
        vst = np.concatenate(([0], np.cumsum(rnv)[:-1]))
        rst = np.concatenate(([0], np.cumsum(rpf)[:-1]))
        rows = []
        for i in range(20):
            s = vst[rst[i]]
            nvv = rnv[rst[i]:rst[i]+rpf[i]].sum()
            rows.append((gt, core.quantize_vec(c[2*s:2*(s+nvv)]).tolist()))
        add([arr[i].as_py() for i in range(20)], rows)
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


def test_decode_lines_with_properties():
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
    arr = pa.array(frames, type=pa.binary())
    ids, coords, nv = sc.decode_lines_kernel(arr)
    assert ids.tolist() == list(range(40))
    off = 0
    for i, n in enumerate(nv):
        assert coords[off:off + 2 * n].tolist() == want[i], i
        off += 2 * n


def test_decode_rings_props_and_no_bbox():
    """Polygon frames with properties AND without bbox (old-writer files)
    through the vectorized ring kernel — reader.go field-walk parity."""
    rng = np.random.default_rng(11)
    frames, want = [], []
    for fid in range(25):
        nv = int(rng.integers(3, 8))
        c = rng.uniform(-80, 80, nv * 2)
        frames.append(_props_line_frame(
            fid, c, {"area": float(fid)}, geom_type=3,
            with_bbox=bool(fid % 2)))
        want.append(core.quantize_vec(c).tolist())
    arr = pa.array(frames, type=pa.binary())
    ids, coords, rnv, rpf, gt, dim = sc.decode_rings_kernel(arr)
    assert gt == 3 and dim == 2 and ids.tolist() == list(range(25))
    assert rpf.tolist() == [1] * 25
    off = 0
    for i, n in enumerate(rnv):
        assert coords[off:off + 2 * n].tolist() == want[i], i
        off += 2 * n


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
