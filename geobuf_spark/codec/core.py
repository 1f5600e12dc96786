"""Pure numpy geobuf codec — the numeric core of the engine.

Implements the delta-encoded varint protobuf feature format of
murphy214/geobuf from scratch in Python/numpy, matching the reference's
wire semantics (parity cites point at /root/reference):

- quantization ``int64(coord * 1e7)`` truncates toward zero
  (geobuf_raw/geom.go:173-179 ``ConvertPt``);
- zigzag ``(v << 1) ^ (v >> 63)`` (geom.go:182-184 ``paramEnc``);
- per-ring delta encoding, first vertex absolute (geom.go:204-246);
- decode accumulates ``sv/1e7`` then applies the reference's hand-rolled
  half-up-on-magnitude rounding (geom.go:78-90 ``round``), replicated
  exactly in :func:`go_round7`;
- feature field layout id/properties/geomtype/geometry/bbox
  (geobuf_raw/write_feature.go:192-263, read_feature.go:9-100);
- file framing ``0x0A + varint(len) + feature`` (writer.go:73-89).

Documented divergences from the reference (quirks we do NOT copy):
- property value field 6 (sint64) is zigzag-decoded here; the reference
  reads it as a plain uint64 (read_feature.go:43-44) which loses the value.
- Go map iteration randomizes property byte order (write_feature.go:212);
  we emit properties in insertion order, so our encoder is byte-stable.
- the reference's ``WritePackedUint64`` (write_primitives.go:71-198) caps
  varints at 8 bytes — identical to standard varints for all values
  < 2**56, which covers every legal coordinate delta; we use standard
  varints (up to 10 bytes), byte-identical on that domain.

Frame reading rules — one walk, ``frame_fields``; GbCodec.java's
``Walker`` reads a frame by the same rules:
- a tag is a varint, and every varint is at most 10 bytes;
- wire 0 is a varint, wire 2 a length prefix whose payload must fit
  inside the frame; any other wire type rejects the frame;
- fields may come in any order and may repeat; unknown fields are
  skipped;
- the last id wins, the first geometry code and the first geometry
  payload win, the last bbox wins;
- a bbox payload that does not hold four whole varints is no bbox;
- every field-2 entry is a property; a repeated key keeps its first
  position and takes its last value;
- a frame with no geometry code or no geometry payload is bare
  (geom_type 0, dim 2, no coordinates).

Geometry model (columnar, Arrow-friendly):
    coords     flat float64 array, interleaved per vertex (x,y[,z,m...])
    ring_lens  vertices per ring (one entry for Point/LineString/MultiPoint)
    part_rings rings per part (MultiPolygon parts; [n_rings] otherwise)
    geom_type  1 Point, 2 LineString, 3 Polygon, 4 MultiPoint,
               5 MultiLineString, 6 MultiPolygon   (geom.go:59-76)
    dim        coordinate dimension 2..15 (geom.go:24-56)
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

POWER = 10.0**7
_U1 = np.uint64(1)
_U7 = np.uint64(7)
_U0x7F = np.uint64(0x7F)

GEOM_TYPES = {
    1: "Point",
    2: "LineString",
    3: "Polygon",
    4: "MultiPoint",
    5: "MultiLineString",
    6: "MultiPolygon",
}
GEOM_CODES = {v: k for k, v in GEOM_TYPES.items()}


# ---------------------------------------------------------------------------
# scalar primitives
# ---------------------------------------------------------------------------

def encode_varint(x: int) -> bytes:
    """Standard protobuf varint (pbf.EncodeVarint semantics, ≤10 bytes)."""
    x &= (1 << 64) - 1
    out = bytearray()
    while x > 127:
        out.append(0x80 | (x & 0x7F))
        x >>= 7
    out.append(x)
    return bytes(out)


def decode_varint(buf, pos: int) -> tuple[int, int]:
    """Read one varint starting at pos → (value, new_pos); raises past the
    end of buf or past 10 bytes."""
    result = 0
    for shift in range(0, 70, 7):
        if pos >= len(buf):
            raise ValueError("truncated or corrupt frame: varint running past the end")
        b = int(buf[pos])
        pos += 1
        result |= (b & 0x7F) << shift
        if b < 0x80:
            return result & ((1 << 64) - 1), pos
    raise ValueError("truncated or corrupt frame: varint longer than 10 bytes")


def _payload_end(buf, pos: int, size: int) -> int:
    """End of the size-byte payload at pos; raises past the end of buf."""
    if size > len(buf) - pos:
        raise ValueError("truncated or corrupt frame: field payload running past the end")
    return pos + size


def zigzag64(v: int) -> int:
    """paramEnc — geom.go:182-184."""
    return ((v << 1) ^ (v >> 63)) & ((1 << 64) - 1)


def unzigzag64(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def convert_pt(c: float) -> int:
    """ConvertPt — geom.go:173-179: int64(c*1e7), Go truncation toward zero."""
    return int(c * POWER)  # python int() truncates toward zero like Go


def go_round7(x):
    """Exact replica of the reference's round(val, 0.5, 7) — geom.go:78-90.

    Go: digit = 1e7*val; _, frac = math.Modf(digit);
        frac >= 0.5 ? Ceil(digit) : Floor(digit); /1e7.
    Modf's frac carries digit's sign, so negative values always Floor
    (asymmetric on purpose — we must match it). Vectorized over ndarray.
    """
    digit = np.asarray(x, dtype=np.float64) * POWER
    frac = digit - np.trunc(digit)
    r = np.where(frac >= 0.5, np.ceil(digit), np.floor(digit))
    out = r / POWER
    return out if isinstance(x, np.ndarray) else float(out)


# ---------------------------------------------------------------------------
# vectorized varint packing (no per-value Python on coordinate paths)
# ---------------------------------------------------------------------------

def varint_lengths(v: np.ndarray) -> np.ndarray:
    """Byte length of each uint64's varint encoding (1..10)."""
    v = v.astype(np.uint64, copy=False)
    n = np.ones(v.shape, dtype=np.int64)
    x = v >> _U7
    while np.any(x):
        n += (x != 0).astype(np.int64)
        x >>= _U7
    return n


def varint_matrix(v: np.ndarray):
    """Vectorized varint encode: values → ((N, maxlen) uint8 byte matrix
    with continuation bits set, per-value byte lengths). Row i's varint is
    mat[i, :lens[i]]."""
    v = v.astype(np.uint64, copy=False)
    lens = varint_lengths(v)
    maxlen = int(lens.max()) if len(v) else 1
    j = np.arange(maxlen, dtype=np.uint64)
    groups = (v[:, None] >> (j[None, :] * _U7)) & _U0x7F
    cont = np.where(np.arange(maxlen)[None, :] < (lens - 1)[:, None], 0x80, 0)
    return (groups | cont.astype(np.uint64)).astype(np.uint8), lens


def pack_varints(v: np.ndarray) -> bytes:
    """Packed varint bytes of a uint64 vector (WritePackedUint64 semantics,
    write_primitives.go:71-198, sans the length prefix)."""
    v = np.ascontiguousarray(v, dtype=np.uint64)
    if v.size == 0:
        return b""
    mat, lens = varint_matrix(v)
    mask = np.arange(mat.shape[1])[None, :] < lens[:, None]
    return mat[mask].tobytes()  # row-major → sequential per-value bytes


def unpack_varints(buf: np.ndarray, start: int, end: int) -> np.ndarray:
    """Decode all packed varints in buf[start:end] → uint64 vector.

    Vectorized: find value boundaries (bytes < 0x80), then combine 7-bit
    groups with a segmented shift — no per-value Python loop.
    """
    seg = buf[start:end]
    if seg.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = seg < 0x80
    ends = np.flatnonzero(is_end)
    starts = np.concatenate(([0], ends[:-1] + 1))
    lens = ends - starts + 1
    maxlen = int(lens.max())
    if maxlen > 10:
        raise ValueError("truncated or corrupt frame: varint longer than 10 bytes")
    vals = np.zeros(len(ends), dtype=np.uint64)
    payload = (seg & 0x7F).astype(np.uint64)
    for j in range(maxlen):
        sel = lens > j
        vals[sel] |= payload[starts[sel] + j] << np.uint64(7 * j)
    return vals


def unzigzag_vec(u: np.ndarray) -> np.ndarray:
    return (u >> _U1).astype(np.int64) ^ -((u & _U1).astype(np.int64))


def zigzag_vec(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64, copy=False)
    return (v.astype(np.uint64) << _U1) ^ (v >> np.int64(63)).astype(np.uint64)


def quantize_vec(c: np.ndarray) -> np.ndarray:
    """ConvertPt vectorized — truncation toward zero (geom.go:173-179)."""
    return np.trunc(np.asarray(c, dtype=np.float64) * POWER).astype(np.int64)


# ---------------------------------------------------------------------------
# feature model
# ---------------------------------------------------------------------------

@dataclass
class Feature:
    """Columnar feature: flat coords + ring/part structure (§1.5 mapping)."""

    geom_type: int
    dim: int
    coords: np.ndarray  # flat float64, len = n_vertices * dim
    ring_lens: np.ndarray  # int64 vertices per ring
    part_rings: np.ndarray  # int64 rings per part
    id: int | None = None
    properties: dict = field(default_factory=dict)
    bbox: np.ndarray | None = None  # [w, s, e, n]

    def vertices(self) -> np.ndarray:
        return self.coords.reshape(-1, self.dim)

    def rings(self) -> list[np.ndarray]:
        out, off = [], 0
        for n in self.ring_lens:
            out.append(self.coords[off : off + n * self.dim].reshape(-1, self.dim))
            off += n * self.dim
        return out

    def to_geojson_coords(self):
        """Nested lists in GeoJSON shape for this geometry type."""
        rings = [r.tolist() for r in self.rings()]
        t = self.geom_type
        if t == 1:
            return rings[0][0]
        if t in (2, 4):
            return rings[0]
        if t in (3, 5):
            return rings
        # MultiPolygon: group rings by part_rings
        out, i = [], 0
        for nr in self.part_rings:
            out.append(rings[i : i + nr])
            i += nr
        return out

    @staticmethod
    def from_geojson(geom_type: str, coordinates, id=None, properties=None, dim=None):
        code = GEOM_CODES[geom_type]
        if code == 1:
            parts = [[np.asarray([coordinates], dtype=np.float64)]]
        elif code in (2, 4):
            parts = [[np.asarray(coordinates, dtype=np.float64)]]
        elif code in (3, 5):
            parts = [[np.asarray(r, dtype=np.float64) for r in coordinates]]
        else:
            parts = [[np.asarray(r, dtype=np.float64) for r in poly] for poly in coordinates]
        if dim is None:
            dim = parts[0][0].shape[1] if parts and parts[0] and parts[0][0].size else 2
        ring_lens = np.asarray([len(r) for p in parts for r in p], dtype=np.int64)
        part_rings = np.asarray([len(p) for p in parts], dtype=np.int64)
        if ring_lens.sum() == 0:
            coords = np.empty(0, dtype=np.float64)
        else:
            coords = np.concatenate([r.reshape(-1) for p in parts for r in p])
        return Feature(
            geom_type=code, dim=int(dim), coords=coords, ring_lens=ring_lens,
            part_rings=part_rings, id=id, properties=dict(properties or {}),
        )


def geom_bbox(feat: Feature) -> np.ndarray:
    """Get_BoundingBox — bb.go:10-163: [west, south, east, north] over all
    vertices (Point → degenerate box)."""
    v = feat.vertices()
    if v.size == 0:
        return np.array([0.0, 0.0, 0.0, 0.0])
    return np.array([v[:, 0].min(), v[:, 1].min(), v[:, 0].max(), v[:, 1].max()])


def merge_bboxes(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Push_Two_BoundingBoxs — bb.go:39-60: union of two [W,S,E,N] boxes."""
    return np.array([
        min(a[0], b[0]), min(a[1], b[1]), max(a[2], b[2]), max(a[3], b[3])
    ])


def expand_bboxes(boxes) -> np.ndarray:
    """Expand_BoundingBoxs — bb.go:62-86: fold of merge_bboxes over a list."""
    boxes = [np.asarray(b, dtype=np.float64) for b in boxes]
    if not boxes:
        return np.array([0.0, 0.0, 0.0, 0.0])
    m = np.stack(boxes)
    return np.array([m[:, 0].min(), m[:, 1].min(), m[:, 2].max(), m[:, 3].max()])


def geometry_collection_bbox(feats) -> np.ndarray:
    """BoundingBox_GeometryCollection — bb.go:157-163: extent of a
    collection = fold of member-geometry bboxes."""
    return expand_bboxes([geom_bbox(f) for f in feats])


# ---------------------------------------------------------------------------
# property value variant (README.md:36-45; write_primitives.go:244-286)
# ---------------------------------------------------------------------------

def _write_value(value) -> bytes:
    if isinstance(value, bool):  # before int — bool is an int subclass
        return bytes([18, 2, 56, 1 if value else 0])
    if isinstance(value, str):
        sb = value.encode("utf-8")
        inner = bytes([10]) + encode_varint(len(sb)) + sb
        return bytes([18]) + encode_varint(len(inner)) + inner
    if isinstance(value, float):
        # FloatVal64 — write_primitives.go:228-240: little-endian float64
        return bytes([18, 9, 25]) + struct.pack("<d", value)
    if isinstance(value, int):
        # int64 takes field 4, a negative one as its 10-byte two's
        # complement (write_primitives.go:264-265); [2**63, 2**64) the
        # unsigned field 5 (write_primitives.go:266-267); no field holds more
        if -(1 << 63) <= value < (1 << 63):
            tag = 32
        elif (1 << 63) <= value < (1 << 64):
            tag = 40
        else:
            raise ValueError(f"property int {value} outside [-2**63, 2**64)")
        vb = encode_varint(value)
        return bytes([18, len(vb) + 1, tag]) + vb
    if isinstance(value, bytes):
        inner = bytes([10]) + encode_varint(len(value)) + value
        return bytes([18]) + encode_varint(len(inner)) + inner
    raise TypeError(f"unsupported property type {type(value)!r}")


def _make_keyvalue(key: str, value) -> bytes:
    # MakeKeyValue — write_feature.go:180-189
    kb = key.encode("utf-8")
    vb = _write_value(value)
    inner = bytes([10]) + encode_varint(len(kb)) + kb + vb
    return bytes([18]) + encode_varint(len(inner)) + inner


def _read_key(buf, p: int, end: int) -> tuple[str, int]:
    """(key, end of the key) of the property entry buf[p:end]."""
    entry = buf[:end]
    klen, p = decode_varint(entry, p + 1)  # after the 0x0A key tag
    e = _payload_end(entry, p, klen)
    return bytes(entry[p:e]).decode("utf-8"), e


def _read_entry(buf, p: int, end: int):
    """(key, value) of the property entry buf[p:end]. Every read is bounded
    by its message: the key and the value message by the entry, the value
    by its value message; a length running past its message raises."""
    key, p = _read_key(buf, p, end)
    entry = buf[:end]
    vlen, p = decode_varint(entry, p + 1)  # the value's length, after its 0x12 tag
    return key, _read_value(entry[: _payload_end(entry, p, vlen)], p)[0]


def _read_value(buf, pos: int):
    if pos >= len(buf):
        raise ValueError("truncated or corrupt frame: property value running past the end")
    tag = buf[pos]
    pos += 1
    fieldno = tag >> 3
    if fieldno == 1:  # string
        n, pos = decode_varint(buf, pos)
        return bytes(buf[pos : _payload_end(buf, pos, n)]).decode("utf-8"), pos + n
    if fieldno == 2:  # float32 LE
        return struct.unpack("<f", bytes(buf[pos : _payload_end(buf, pos, 4)]))[0], pos + 4
    if fieldno == 3:  # float64 LE
        return struct.unpack("<d", bytes(buf[pos : _payload_end(buf, pos, 8)]))[0], pos + 8
    if fieldno == 4:  # int64 plain varint (two's complement)
        u, pos = decode_varint(buf, pos)
        return (u - (1 << 64)) if u >= (1 << 63) else u, pos
    if fieldno == 5:  # uint64
        u, pos = decode_varint(buf, pos)
        return u, pos
    if fieldno == 6:  # sint64 — zigzag (divergence: reference reads as uint)
        u, pos = decode_varint(buf, pos)
        return unzigzag64(u), pos
    if fieldno == 7:  # bool
        u, pos = decode_varint(buf, pos)
        return bool(u), pos
    raise ValueError(f"unknown property value field {fieldno}")


# ---------------------------------------------------------------------------
# geometry encode (geom.go:171-302)
# ---------------------------------------------------------------------------

def _encode_geometry_values(feat: Feature) -> np.ndarray:
    """uint64 stream for the packed geometry field (pre-varint)."""
    dim = feat.dim
    t = feat.geom_type
    scaled = np.asarray(feat.coords, dtype=np.float64) * POWER
    if not np.all((scaled >= -(2.0**63)) & (scaled < 2.0**63)):
        # NaN, ±Inf or a product past int64 has no lattice point; the cast
        # would write garbage
        raise ValueError("non-finite coordinate or one off the int64 lattice; "
                         "filter before encoding")
    q = quantize_vec(feat.coords).reshape(-1, dim)

    def ring_deltas(qring: np.ndarray) -> np.ndarray:
        # writeline — geom.go:204-246: first vertex absolute, then deltas;
        # delta state resets per ring (fresh pt per readline, geom.go:103-111)
        d = np.empty_like(qring)
        d[0] = qring[0]
        if len(qring) > 1:
            d[1:] = qring[1:] - qring[:-1]
        return zigzag_vec(d.reshape(-1))

    if len(q) == 0:
        raise ValueError(
            "empty geometry cannot be encoded (the wire format has no "
            "empty-coordinates shape); filter such features out")
    if t == 1:
        # writepointbs — geom.go:187-201: only x,y written even when dim>2
        return zigzag_vec(q[0, :2].copy())
    offsets = np.concatenate(([0], np.cumsum(feat.ring_lens)))
    rings = [q[offsets[i] : offsets[i + 1]] for i in range(len(feat.ring_lens))]
    if t in (2, 4):
        return ring_deltas(rings[0])
    if t in (3, 5):
        # writepolygon — geom.go:255-273: per ring varint(len*dim) + deltas
        out = []
        for r in rings:
            out.append(np.array([len(r) * dim], dtype=np.uint64))
            out.append(ring_deltas(r))
        return np.concatenate(out)
    # MultiPolygon — geom.go:276-302: per part varint(n_rings) + polygon body
    out, i = [], 0
    for nr in feat.part_rings:
        out.append(np.array([nr], dtype=np.uint64))
        for r in rings[i : i + nr]:
            out.append(np.array([len(r) * dim], dtype=np.uint64))
            out.append(ring_deltas(r))
        i += nr
    return np.concatenate(out)


def encode_feature(feat: Feature) -> bytes:
    """WriteFeature — write_feature.go:192-263 (current-writer semantics:
    always appends bbox when a geometry exists)."""
    out = bytearray()
    if feat.id is not None:
        out.append(8)
        out += encode_varint(int(feat.id) & ((1 << 64) - 1))
    for k, v in feat.properties.items():
        out += _make_keyvalue(k, v)
    if feat.geom_type:
        code = feat.geom_type if feat.dim == 2 else ((feat.geom_type << 4) + feat.dim)
        out += bytes([24, code])  # makegeomcode — geom.go:71-76
        vals = _encode_geometry_values(feat)
        packed = pack_varints(vals)
        out.append(34)
        out += encode_varint(len(packed))
        out += packed
        # bbox — write_feature.go:249-260: zigzag(int64(c*1e7)) × [W,S,E,N]
        bb = geom_bbox(feat)
        bvals = zigzag_vec(np.array([convert_pt(c) for c in bb], dtype=np.int64))
        bpacked = pack_varints(bvals)
        out.append(42)
        out += encode_varint(len(bpacked))
        out += bpacked
    return bytes(out)


# ---------------------------------------------------------------------------
# feature decode (read_feature.go:9-100)
# ---------------------------------------------------------------------------

def _decode_geometry(vals: np.ndarray, geom_type: int, dim: int, quantized: bool = False):
    """Reconstruct flat coords/ring_lens/part_rings from the uint64 stream.

    ``quantized=False`` replicates readline/readpolygon/readmultipolygon
    (geom.go:92-159): cumulative sum of ``sv/1e7`` per ring in float64, then
    go_round7 on each prefix sum — reference-exact, but carries the
    reference's own float-accumulation error (worst case 2e-7 vs input).

    ``quantized=True`` is the engine's exact path: integer cumsum of the
    raw deltas → int64 lattice coordinates, losslessly invertible.
    """
    if geom_type == 1:
        # writepointbs drops dims > 2 on encode (geom.go:187-201), so only
        # two values exist regardless of the dim embedded in the geom code
        if len(vals) != 2:
            raise ValueError("truncated or corrupt frame: point payload without exactly 2 values")
        iv = unzigzag_vec(vals)
        coords = iv if quantized else go_round7(iv.astype(np.float64) / POWER)
        return coords, np.array([1], dtype=np.int64), np.array([1], dtype=np.int64)
    if not 2 <= geom_type <= 6 or dim == 0:
        raise ValueError(f"truncated or corrupt frame: geometry type {geom_type}, dim {dim}")

    def decode_ring(seg: np.ndarray) -> np.ndarray:
        iv = unzigzag_vec(seg).reshape(-1, dim)
        if quantized:
            return np.cumsum(iv, axis=0).reshape(-1)
        pts = iv.astype(np.float64) / POWER
        return go_round7(np.cumsum(pts, axis=0)).reshape(-1)

    if geom_type in (2, 4):
        if len(vals) % dim:
            raise ValueError("truncated or corrupt frame: line values not a multiple of dim")
        coords = decode_ring(vals)
        n = len(vals) // dim
        return coords, np.array([n], dtype=np.int64), np.array([1], dtype=np.int64)

    # ring-structured (geom.go:103-125): per ring a count of len(ring)*dim
    # values then its deltas; MultiPolygon prefixes each polygon with its
    # ring count. A count running past the payload raises.
    rings, ring_lens, part_rings, i = [], [], [], 0

    def count(limit: int) -> int:
        nonlocal i
        n = int(vals[i]) if i < len(vals) else -1
        i += 1
        if not 0 <= n <= limit:
            raise ValueError("truncated or corrupt frame: ring or part count "
                             "running past the geometry payload")
        return n

    while i < len(vals):
        nr = 1
        if geom_type == 6:
            nr = count(len(vals) - i - 1)  # every ring takes its count value
            part_rings.append(nr)
        for _ in range(nr):
            n = count(len(vals) - i - 1)
            if n % dim:
                raise ValueError("truncated or corrupt frame: ring values not a multiple of dim")
            rings.append(decode_ring(vals[i : i + n]))
            ring_lens.append(n // dim)
            i += n
    coords = np.concatenate(rings) if rings else np.empty(0)
    return coords, np.asarray(ring_lens, dtype=np.int64), np.asarray(
        part_rings if geom_type == 6 else [len(ring_lens)], dtype=np.int64
    )


def frame_fields(buf):
    """The field walk of a frame, the one every reader here loops over
    (read_feature.go:9-100; ReadKeys jumps, reader.go:120-142): yields
    (tag, value, start) per field, value the varint of a wire-0 field or
    the payload length of a wire-2 field, whose payload is
    buf[start:start + value]. A wire type other than 0 or 2, an
    overlong varint and a field cut short by the frame end raise."""
    pos, n = 0, len(buf)
    while pos < n:
        tag, pos = decode_varint(buf, pos)
        if tag & 7 not in (0, 2):
            raise ValueError(f"truncated or corrupt frame: unexpected wire type {tag & 7}")
        value, pos = decode_varint(buf, pos)
        start = pos
        if tag & 7 == 2:
            pos = _payload_end(buf, pos, value)
        yield tag, value, start


def decode_properties(frame) -> dict:
    """Properties ONLY: the field walk parses the 0x12 entries and jumps
    id/geometry/bbox bytes. A field or entry that does not parse raises."""
    return dict(_read_entry(frame, s, s + n)
                for tag, n, s in frame_fields(frame) if tag == 0x12)


def _read_bbox(buf, pos: int, end: int):
    """readboundingbox — geom.go:161-169: 4 × sv/1e7, or None when
    buf[pos:end] does not hold four whole varints."""
    box, vals = buf[:end], []
    try:
        for _ in range(4):
            v, pos = decode_varint(box, pos)
            vals.append(v)
    except ValueError:
        return None
    return unzigzag_vec(np.array(vals, dtype=np.uint64)).astype(np.float64) / POWER


def decode_feature(frame: bytes, quantized: bool = False) -> Feature:
    """ReadFeature — read_feature.go:9-100, one pass of frame_fields under
    the rules in the module docstring.

    With ``quantized=True`` coords are exact int64 lattice values (×1e7).
    What frame_fields rejects, a property entry that does not parse, a
    geometry payload ending mid-varint, an unknown geometry type or dim
    0, and a value or ring count that does not fit the geometry payload
    raise ValueError."""
    buf = np.frombuffer(frame, dtype=np.uint8)
    fid = code = geom = bbox = None
    props: dict = {}
    for tag, n, s in frame_fields(buf):
        if tag == 0x08:
            fid = n
        elif tag == 0x12:
            key, props[key] = _read_entry(buf, s, s + n)
        elif tag == 0x18 and code is None:
            code = n
        elif tag == 0x22 and geom is None:
            geom = s, s + n
        elif tag == 0x2A:
            bbox = s, s + n
    geom_type, dim = 0, 2
    coords = np.empty(0)
    ring_lens = part_rings = np.empty(0, dtype=np.int64)
    if code is not None and geom is not None:
        # geomcode_details — geom.go:59-68; writepointbs drops dims > 2
        # (geom.go:187-201), so a Point's dim is 2 whatever the code says
        if code > 6:
            geom_type, dim = code >> 4, code & 0xF
        else:
            geom_type = code
        if geom_type == 1:
            dim = 2
        s, e = geom
        if e > s and buf[e - 1] >= 0x80:
            raise ValueError("truncated or corrupt frame: geometry payload ending mid-varint")
        coords, ring_lens, part_rings = _decode_geometry(
            unpack_varints(buf, s, e), geom_type, dim, quantized)
    dtype = np.int64 if quantized else np.float64
    return Feature(
        geom_type=geom_type, dim=dim, coords=np.asarray(coords, dtype=dtype),
        ring_lens=ring_lens, part_rings=part_rings, id=fid, properties=props,
        bbox=_read_bbox(buf, *bbox) if bbox else None,
    )


# ---------------------------------------------------------------------------
# file framing (writer.go:73-89, reader.go:84-93)
# ---------------------------------------------------------------------------

def write_frames(frames: list[bytes]) -> bytes:
    out = bytearray()
    for f in frames:
        out.append(0x0A)
        out += encode_varint(len(f))
        out += f
    return bytes(out)


def read_frames(data: bytes, skip_metadata: bool = True):
    """Yield raw feature frames from a geobuf buffer/file.

    Skips a leading metadata dummy feature (a point feature whose single
    property key is "metadata" — reader.go:258-274 CheckMetaData); the gob
    payload is Go-specific and intentionally not parsed (our engine's index
    is table partitioning, SURVEY §1.5). Pass skip_metadata=False when the
    bytes are a mid-file range (subfile seeks) where no dummy can occur.
    A frame tag other than 0x0A and a frame cut short by the end of data
    raise ValueError, as gb_frames fails.
    """
    pos = 0
    first = skip_metadata
    n = len(data)
    while pos < n:
        if data[pos] != 0x0A:
            raise ValueError(f"truncated or corrupt stream: bad frame tag {data[pos]:#x} at {pos}")
        ln, pos = decode_varint(data, pos + 1)
        end = _payload_end(data, pos, ln)
        frame = data[pos:end]
        pos = end
        if first:
            first = False
            if _is_metadata_frame(frame):
                continue
        yield frame


def _is_metadata_frame(frame: bytes) -> bool:
    """Metadata-dummy sniff (CheckMetaData parity, reader.go:258-274).

    The reference checks only that feature #1 carries a "metadata"
    property; we additionally require it to be the feature's ONLY
    property, so a legitimate first feature that happens to carry a
    "metadata" key among others is not silently dropped. (A single-
    property feature keyed exactly "metadata" remains ambiguous — the
    reference's own sniff has the same blind spot.) A frame the field
    walk or the key read rejects is not the dummy."""
    try:
        entries = [(s, s + n) for tag, n, s in frame_fields(frame) if tag == 0x12]
        return len(entries) == 1 and _read_key(frame, *entries[0])[0] == "metadata"
    except ValueError:
        return False
