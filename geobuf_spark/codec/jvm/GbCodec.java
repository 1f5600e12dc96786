package geobufspark;

import com.fasterxml.jackson.core.JsonFactory;
import com.fasterxml.jackson.core.JsonParser;
import com.fasterxml.jackson.core.JsonToken;
import com.fasterxml.jackson.core.json.JsonReadFeature;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.api.java.UDF2;
import org.apache.spark.sql.api.java.UDF3;
import org.apache.spark.sql.expressions.UserDefinedFunction;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.DataType;
import scala.collection.Seq;

/**
 * JVM-side geobuf frame codec, the only codec in Spark: every function of
 * codec/spark_codec.py runs these UDFs, and codec/core.py is the parity
 * oracle. The point, line and polygon encoders and decoders
 * (encode_/decode_points, encode_/decode_lines, decode_lines_agg,
 * encode_/decode_polygons), the full decode of a frame to a GEOM_SCHEMA
 * row (gb_decode: every geometry type, properties as JSON), the generic
 * encoder and the property tables (gb_encode: WriteFeature,
 * write_feature.go:180-263), and the lazy reads of one property
 * (gb_prop: LazyFeatureTileID, split_combine.go:333-370) and of the keys
 * (gb_keys: ReadKeys, reader.go:120-142).
 *
 * Why the JVM: a Python Arrow kernel pays a per-task Python dispatch floor
 * plus two Arrow serdes; a JVM UDF runs inside the scan stage with zero
 * Python, the same execution shape Catalyst gives from_json. Compiled with
 * the JDK javac against the pyspark-shipped jars (tools/build_jvm.py) —
 * no sbt needed.
 *
 * Wire layout (write_feature.go:192-263 semantics, byte-identical to the
 * Python encoder): 0x08 varint id, 0x12 property entries, 0x18 varint
 * geometry code, 0x22 length-prefixed geometry payload of zigzag varints,
 * 0x2A length-prefixed bbox.
 *
 * Every UDF that reads a frame's fields does so in one Walker pass (walk),
 * under the rules of core.frame_fields:
 * - a tag is a varint, and every varint is at most 10 bytes;
 * - wire 0 is a varint, wire 2 a length prefix whose payload must fit
 *   inside the frame; any other wire type rejects the frame;
 * - fields may come in any order and may repeat; unknown fields are
 *   skipped;
 * - the last id wins, the first geometry code and the first geometry
 *   payload win, the last bbox wins;
 * - a bbox payload that does not hold four whole varints is no bbox;
 * - every field-2 entry is a property; a repeated key keeps its first
 *   position and takes its last value;
 * - a frame with no geometry code or no geometry payload is bare
 *   (geom_type 0); the geometry decoders other than gb_decode reject it.
 * A corrupt frame fails the task. No field count is capped: the frame
 * length bounds the walk. The geometry decoders also reject a payload
 * ending mid-varint, a non-point payload in Point and a token count not
 * divisible by dim in lines; gb_decode rejects what core.decode_feature
 * rejects: an invalid or overrunning ring count, an unknown geometry
 * type, dim 0, and property entries that do not parse.
 */
public final class GbCodec {
    private GbCodec() {}

    /** GbCodec$cls as a UserDefinedFunction returning type, through the
     *  typed functions.udf overloads, which Py4J cannot pick. */
    public static UserDefinedFunction udf(String cls, DataType type) throws Exception {
        Object f = Class.forName("geobufspark.GbCodec$" + cls).getDeclaredConstructor().newInstance();
        if (f instanceof UDF3) return functions.udf((UDF3<?, ?, ?, ?>) f, type);
        if (f instanceof UDF2) return functions.udf((UDF2<?, ?, ?>) f, type);
        return functions.udf((UDF1<?, ?>) f, type);
    }

    /**
     * Bounds-checked forward reader over b[p..end): varints of at most 10
     * bytes, and next(), the field walk under the rules in the class
     * header. A varint running past the end or longer than 10 bytes, a
     * wire type other than 0 or 2, and a payload running past the end
     * throw.
     */
    static final class Walker {
        final byte[] b;
        final int end;
        int p, start;
        long tag, value;

        Walker(byte[] b, int p, int end) {
            this.b = b;
            this.p = p;
            this.end = end;
        }

        long varint() {
            long v = 0;
            for (int shift = 0; shift < 70; shift += 7) {
                if (p >= end)
                    throw new IllegalArgumentException(
                        "varint running past the frame end - truncated or corrupt input");
                int c = b[p++] & 0xFF;
                v |= (long) (c & 0x7F) << shift;
                if (c < 0x80) return v;
            }
            throw new IllegalArgumentException(
                "varint longer than 10 bytes - truncated or corrupt input");
        }

        /** Jump n (unsigned) payload bytes; returns where they start. */
        int skip(long n) {
            if (Long.compareUnsigned(n, end - p) > 0)
                throw new IllegalArgumentException(
                    "field payload running past the frame end - truncated or corrupt input");
            int s = p;
            p += (int) n;
            return s;
        }

        /** Next field: tag, value (the length for wire 2), payload start. */
        boolean next() {
            if (p >= end) return false;
            tag = varint();
            int wire = (int) tag & 7;
            if (wire != 0 && wire != 2)
                throw new IllegalArgumentException(
                    "unexpected wire type " + wire + " - truncated or corrupt input");
            value = varint();
            start = wire == 2 ? skip(value) : p;
            return true;
        }
    }

    private static final int[] NO_ENTRIES = new int[0];

    /** One frame's fields: last id, first geometry code and payload, last
     *  bbox, and the bounds of every property entry (start, end pairs). */
    static final class Frame {
        final byte[] b;
        long id, code;
        boolean coded;
        int gs = -1, gl, bs = -1, bl, np;
        int[] props = NO_ENTRIES;

        Frame(byte[] b) {
            this.b = b;
        }

        /** The geometry payload's token values (zigzagged); a bare frame
         *  throws. */
        long[] tokens() {
            if (!coded || gs < 0)
                throw new IllegalArgumentException(
                    "frame missing geometry-type or geometry field");
            return payloadTokens(b, gs, gl);
        }

        /** dim of the geometry code (geomcode_details, geom.go:59-68). */
        int dim() {
            return code <= 6 ? 2 : (int) (code & 0xF);
        }
    }

    /** The one pass over a frame's fields; null for a null frame. */
    static Frame walk(byte[] b) {
        if (b == null) return null;
        Frame f = new Frame(b);
        Walker w = new Walker(b, 0, b.length);
        while (w.next()) {
            if (w.tag == 0x08) f.id = w.value;
            else if (w.tag == 0x12) {
                if (f.np == f.props.length) f.props = java.util.Arrays.copyOf(f.props, 2 * f.np + 2);
                f.props[f.np++] = w.start;
                f.props[f.np++] = w.p;
            } else if (w.tag == 0x18 && !f.coded) {
                f.code = w.value;
                f.coded = true;
            } else if (w.tag == 0x22 && f.gs < 0) {
                f.gs = w.start;
                f.gl = (int) w.value;
            } else if (w.tag == 0x2A) {
                f.bs = w.start;
                f.bl = (int) w.value;
            }
        }
        return f;
    }

    /**
     * Varint values of the geometry payload b[gs..gs+gl): a payload ending
     * mid-varint and a varint longer than 10 bytes throw.
     */
    static long[] payloadTokens(byte[] b, int gs, int gl) {
        if (gl > 0 && (b[gs + gl - 1] & 0xFF) >= 0x80)
            throw new IllegalArgumentException(
                "geometry payload ends mid-varint - truncated or corrupt input");
        // count tokens (bytes with the continuation bit clear), then decode
        int n = 0;
        for (int i = gs; i < gs + gl; i++) if ((b[i] & 0xFF) < 0x80) n++;
        long[] toks = new long[n];
        int ti = 0, shift = 0;
        long v = 0;
        for (int i = gs; i < gs + gl; i++) {
            int c = b[i] & 0xFF;
            if (shift > 63)
                throw new IllegalArgumentException(
                    "geometry varint longer than 10 bytes - truncated or corrupt input");
            v |= (long) (c & 0x7F) << shift;
            shift += 7;
            if (c < 0x80) { toks[ti++] = v; v = 0; shift = 0; }
        }
        return toks;
    }

    static long unzigzag(long u) {
        return (u >>> 1) ^ -(u & 1L);
    }

    static long zigzag(long v) {
        return (v << 1) ^ (v >> 63);
    }

    /**
     * int64(c * 1e7) - Go/numpy truncation toward zero (geom.go:173-179).
     * NaN, +-Inf and a product outside [-2^63, 2^63) have no lattice point
     * (the cast would give 0 or saturate, where core.encode_feature
     * raises), so they throw, naming the value.
     */
    static long quantize(double c) {
        double s = c * 1e7;
        if (!(s >= -0x1p63 && s < 0x1p63))
            throw new IllegalArgumentException(
                (Double.isFinite(c) ? "coordinate off the int64 lattice "
                                    : "non-finite coordinate ") + c + " - filter before encoding");
        return (long) s;
    }

    static int varintLen(long v) {
        int n = 1;
        while ((v & ~0x7FL) != 0) { v >>>= 7; n++; }
        return n;
    }

    static int writeVarint(byte[] out, int p, long v) {
        while ((v & ~0x7FL) != 0) { out[p++] = (byte) ((v & 0x7F) | 0x80); v >>>= 7; }
        out[p++] = (byte) v;
        return p;
    }

    /**
     * gb_point(geobuf) -> [id, lon_q, lat_q]: the quantized point of
     * core.decode_feature(frame, quantized=True), extra fields skipped.
     */
    public static final class Point implements UDF1<byte[], long[]> {
        @Override
        public long[] call(byte[] b) {
            Frame f = walk(b);
            if (f == null) return null;
            long[] t = f.tokens();
            if (t.length != 2)
                throw new IllegalArgumentException(
                    "not a point frame (geometry is not 2 values)");
            return new long[]{f.id, unzigzag(t[0]), unzigzag(t[1])};
        }
    }

    /**
     * gb_line_stats(geobuf) -> [id, size, first_x_q] where size is the
     * length of the decoded flat coords array (dim * n_vertices) and
     * first_x_q the first absolute quantized coordinate - the fused
     * roads-scan reduce shape of decode_lines_agg.
     */
    public static final class LineStats implements UDF1<byte[], long[]> {
        @Override
        public long[] call(byte[] b) {
            Frame f = walk(b);
            if (f == null) return null;
            long[] t = f.tokens();
            if (t.length % f.dim() != 0)
                throw new IllegalArgumentException(
                    "line geometry token count not divisible by dim");
            return new long[]{f.id, t.length, t.length > 0 ? unzigzag(t[0]) : 0L};
        }
    }

    /**
     * gb_line_decode(geobuf) -> [id, x0,y0,x1,y1,...] - id followed by the
     * absolute quantized coords of a LineString or MultiPoint frame at
     * its own dim (decode_lines; deltas cumsum'd per dimension).
     */
    public static final class LineDecode implements UDF1<byte[], long[]> {
        @Override
        public long[] call(byte[] b) {
            Frame f = walk(b);
            if (f == null) return null;
            long[] t = f.tokens();
            int dim = f.dim(), m = t.length;
            if (m % dim != 0)
                throw new IllegalArgumentException(
                    "line geometry token count not divisible by dim");
            long[] out = new long[m + 1];
            out[0] = f.id;
            for (int d = 0; d < dim; d++) {
                long acc = 0;
                for (int i = d; i < m; i += dim) {
                    acc += unzigzag(t[i]);
                    out[i + 1] = acc;
                }
            }
            return out;
        }
    }

    /**
     * gb_poly_dec(geobuf) -> [id, R, nv_1..nv_R, x0,y0,x1,y1,...] - the
     * ring-structured decode of one Polygon or MultiLineString frame at its
     * own dim (decode_polygons): R rings, each ring's vertex count, then the
     * absolute quantized coords with the delta state RESET at each ring
     * start (geom.go:103-111,127-157 - the first vertex of every ring is
     * encoded absolute). A ring token count that is zero, not divisible by
     * dim, or overrunning the payload throws.
     */
    public static final class PolyDecode implements UDF1<byte[], long[]> {
        @Override
        public long[] call(byte[] b) {
            Frame f = walk(b);
            if (f == null) return null;
            long[] t = f.tokens();
            int dim = f.dim(), m = t.length;
            // first pass: count rings and coord tokens, validate counts
            int rings = 0, coordToks = 0;
            for (int p = 0; p < m; ) {
                long cnt = t[p];
                if (cnt <= 0 || cnt % dim != 0 || p + 1 + cnt > m)
                    throw new IllegalArgumentException(
                        "ring token count invalid or overrunning the payload"
                        + " - truncated or corrupt input");
                rings++;
                coordToks += (int) cnt;
                p += 1 + (int) cnt;
            }
            long[] out = new long[2 + rings + coordToks];
            out[0] = f.id;
            out[1] = rings;
            int ri = 2, ci = 2 + rings;
            for (int p = 0; p < m; ) {
                int cnt = (int) t[p++];
                out[ri++] = cnt / dim;
                for (int d = 0; d < dim; d++) {
                    long acc = 0;
                    for (int i = d; i < cnt; i += dim) {
                        acc += unzigzag(t[p + i]);
                        out[ci + i] = acc;
                    }
                }
                p += cnt;
                ci += cnt;
            }
            return out;
        }
    }

    private static final byte[] NO_PROPS = new byte[0];

    /**
     * One frame, byte-identical to core.encode_feature: [0x08 id] | props
     * (KeyValue fields already written) | 0x18 code | 0x22 packed zigzag
     * tokens | 0x2A bbox, or only id and props for geometry type 0. q holds
     * the quantized coords, dim per vertex (2..15); rings the vertices per
     * ring and parts the rings per polygon of a MultiPolygon. A Point
     * writes its first vertex's x,y (writepointbs, geom.go:187-201), a
     * LineString or MultiPoint its one ring's per-vertex deltas
     * (geom.go:204-246), a Polygon or MultiLineString per ring the varint
     * nv*dim then its deltas, the delta state reset at each ring
     * (geom.go:255-273), a MultiPolygon each polygon's ring count first
     * (geom.go:276-302). The bbox is min/max over ALL the quantized
     * vertices (bb.go:10-37). An empty geometry or ring, and structure
     * arrays that do not add up to the vertex count, throw.
     */
    static byte[] writeFrame(Long id, byte[] props, int gt, int dim,
                             long[] q, int[] rings, int[] parts) {
        int head = (id == null ? 0 : 1 + varintLen(id)) + props.length;
        if (gt == 0) {
            byte[] out = new byte[head];
            int p = 0;
            if (id != null) { out[p++] = 0x08; p = writeVarint(out, p, id); }
            System.arraycopy(props, 0, out, p, props.length);
            return out;
        }
        if (gt < 1 || gt > 6 || dim < 2 || dim > 15)
            throw new IllegalArgumentException(
                "geometry type " + gt + " or dim " + dim + " outside 1..6 and 2..15");
        if (q.length == 0 || q.length % dim != 0)
            throw new IllegalArgumentException(
                "empty geometry or coords not a multiple of dim " + dim
                + "; filter before encoding");
        int nv = q.length / dim;
        long[] zz;
        int n = 0;
        if (gt == 1) {
            zz = new long[]{zigzag(q[0]), zigzag(q[1])};
            n = 2;
        } else {
            if (rings == null || (gt == 6 && parts == null))
                throw new IllegalArgumentException("null ring_lens/part_rings");
            long sum = 0;
            for (int r : rings) {
                if (r <= 0)
                    throw new IllegalArgumentException("empty ring; filter before encoding");
                sum += r;
            }
            if (sum != nv || ((gt == 2 || gt == 4) && rings.length != 1))
                throw new IllegalArgumentException(
                    "ring_lens " + java.util.Arrays.toString(rings)
                    + " do not add up to the " + nv + " vertices");
            int np = gt == 6 ? parts.length : 1;
            if (gt == 6) {
                sum = 0;
                for (int k : parts) {
                    if (k < 0) throw new IllegalArgumentException("negative part ring count");
                    sum += k;
                }
                if (sum != rings.length)
                    throw new IllegalArgumentException(
                        "part_rings do not add up to the " + rings.length + " rings");
            }
            zz = new long[q.length + rings.length + (gt == 6 ? np : 0)];
            int vi = 0, ri = 0;
            for (int part = 0; part < np; part++) {
                int nr = gt == 6 ? parts[part] : rings.length;
                if (gt == 6) zz[n++] = nr;
                for (int end = ri + nr; ri < end; ri++) {
                    if (gt != 2 && gt != 4) zz[n++] = (long) rings[ri] * dim;
                    for (int i = 0, m = rings[ri] * dim; i < m; i++, vi++)
                        zz[n++] = zigzag(i < dim ? q[vi] : q[vi] - q[vi - dim]);
                }
            }
        }
        long minx = Long.MAX_VALUE, maxx = Long.MIN_VALUE;
        long miny = Long.MAX_VALUE, maxy = Long.MIN_VALUE;
        for (int i = 0; i < q.length; i += dim) {
            long x = q[i], y = q[i + 1];
            if (x < minx) minx = x;
            if (x > maxx) maxx = x;
            if (y < miny) miny = y;
            if (y > maxy) maxy = y;
        }
        int glen = 0;
        for (int i = 0; i < n; i++) glen += varintLen(zz[i]);
        long zb0 = zigzag(minx), zb1 = zigzag(miny);
        long zb2 = zigzag(maxx), zb3 = zigzag(maxy);
        int blen = varintLen(zb0) + varintLen(zb1) + varintLen(zb2) + varintLen(zb3);
        byte[] out = new byte[head + 2
                + 1 + varintLen(glen) + glen + 1 + varintLen(blen) + blen];
        int p = 0;
        if (id != null) { out[p++] = 0x08; p = writeVarint(out, p, id); }
        System.arraycopy(props, 0, out, p, props.length);
        p += props.length;
        out[p++] = 0x18; out[p++] = (byte) (dim == 2 ? gt : (gt << 4) + dim);
        out[p++] = 0x22; p = writeVarint(out, p, glen);
        for (int i = 0; i < n; i++) p = writeVarint(out, p, zz[i]);
        out[p++] = 0x2A; p = writeVarint(out, p, blen);
        p = writeVarint(out, p, zb0); p = writeVarint(out, p, zb1);
        p = writeVarint(out, p, zb2); p = writeVarint(out, p, zb3);
        return out;
    }

    /** Quantized coords of a Spark array<double>, in one iterator pass:
     *  per-index apply() pays generic dispatch + unboxing per value. */
    static long[] quantizeAll(Seq<?> coords) {
        long[] q = new long[coords.size()];
        scala.collection.Iterator<?> it = coords.iterator();
        for (int i = 0; i < q.length; i++) {
            Object c = it.next();
            if (c == null)
                throw new IllegalArgumentException("null coordinate - filter before encoding");
            q[i] = quantize((Double) c);
        }
        return q;
    }

    /** A Spark array<int>/array<bigint> as int[]; null stays null.
     *  Number, not Integer: Spark hands int or bigint elements depending
     *  on the column type, and erasure would defer a bad cast to here. */
    static int[] ints(Seq<?> xs) {
        if (xs == null) return null;
        int[] out = new int[xs.size()];
        scala.collection.Iterator<?> it = xs.iterator();
        for (int i = 0; i < out.length; i++) {
            Object x = it.next();
            if (x == null) throw new IllegalArgumentException("null ring_lens/part_rings entry");
            out[i] = ((Number) x).intValue();
        }
        return out;
    }

    /**
     * gb_poly_enc(id, coords, ring_nv) -> geobuf Polygon frame (dim 2,
     * code 3) through writeFrame. coords is the flat interleaved x,y array
     * across all rings; ring_nv the vertices per ring.
     */
    public static final class PolyEnc implements UDF3<Long, Seq<Double>, Seq<Number>, byte[]> {
        @Override
        public byte[] call(Long id, Seq<Double> coords, Seq<Number> ringNv) {
            if (id == null || coords == null || ringNv == null)
                throw new IllegalArgumentException(
                    "encode polygon: null id/coords/ring_nv - filter before encoding");
            int m = coords.size();
            if (m == 0 || m % 2 != 0 || ringNv.size() == 0)
                throw new IllegalArgumentException(
                    "polygon coords must be non-empty interleaved x,y with >=1 ring");
            return writeFrame(id, NO_PROPS, 3, 2, quantizeAll(coords), ints(ringNv), null);
        }
    }

    /**
     * gb_point_enc(id, lon, lat) -> geobuf frame, byte-identical to
     * core.encode_feature (write_feature.go:192-263 layout: 0x08 id |
     * 0x18 code=1 | 0x22 zigzag varint x,y | 0x2A degenerate bbox
     * x,y,x,y). Coordinates go through quantize().
     */
    public static final class PointEnc implements UDF3<Long, Double, Double, byte[]> {
        @Override
        public byte[] call(Long id, Double lon, Double lat) {
            if (id == null || lon == null || lat == null)
                throw new IllegalArgumentException(
                    "encode point: null id/lon/lat - filter before encoding");
            long zx = zigzag(quantize(lon));
            long zy = zigzag(quantize(lat));
            long uid = id;
            int lx = varintLen(zx), ly = varintLen(zy);
            int glen = lx + ly, blen = 2 * glen;
            byte[] out = new byte[1 + varintLen(uid) + 2
                    + 1 + varintLen(glen) + glen + 1 + varintLen(blen) + blen];
            int p = 0;
            out[p++] = 0x08; p = writeVarint(out, p, uid);
            out[p++] = 0x18; out[p++] = 0x01;
            out[p++] = 0x22; p = writeVarint(out, p, glen);
            p = writeVarint(out, p, zx); p = writeVarint(out, p, zy);
            out[p++] = 0x2A; p = writeVarint(out, p, blen);
            p = writeVarint(out, p, zx); p = writeVarint(out, p, zy);
            p = writeVarint(out, p, zx); p = writeVarint(out, p, zy);
            return out;
        }
    }

    /**
     * gb_line_enc(id, coords) -> geobuf LineString frame (dim 2, code 2)
     * through writeFrame. coords is the flat interleaved x,y array.
     */
    public static final class LineEnc implements UDF2<Long, Seq<Double>, byte[]> {
        @Override
        public byte[] call(Long id, Seq<Double> coords) {
            if (id == null || coords == null)
                throw new IllegalArgumentException(
                    "encode line: null id/coords - filter before encoding");
            int m = coords.size();
            if (m == 0 || m % 2 != 0)
                throw new IllegalArgumentException(
                    "line coords must be non-empty interleaved x,y (dim 2)");
            return writeFrame(id, NO_PROPS, 2, 2, quantizeAll(coords), new int[]{m / 2}, null);
        }
    }

    /**
     * gb_bbox(geobuf) -> [w, s, e, n] quantized, or null when the frame
     * has no bbox - ReadBB (read_feature.go:103-134): the fields are
     * walked forward and the geometry is jumped through its length prefix,
     * its deltas never decoded. The last bbox field wins. The walk alone
     * decides accept or reject; a bbox payload that does not hold four
     * whole varints reads as no bbox.
     */
    public static final class Bbox implements UDF1<byte[], long[]> {
        @Override
        public long[] call(byte[] b) {
            Frame f = walk(b);
            if (f == null || f.bs < 0) return null;
            Walker v = new Walker(b, f.bs, f.bs + f.bl);
            long[] out = new long[4];
            try {
                for (int i = 0; i < 4; i++) out[i] = unzigzag(v.varint());
            } catch (IllegalArgumentException e) {
                return null;
            }
            return out;
        }
    }

    /**
     * go_round7(q / 1e7) - core.go_round7 (geom.go:78-90 round): Modf's
     * frac carries the sign, so negative values always floor.
     */
    static double round7(long q) {
        double digit = (q / 1e7) * 1e7;
        double frac = digit - (digit < 0 ? Math.ceil(digit) : Math.floor(digit));
        return (frac >= 0.5 ? Math.ceil(digit) : Math.floor(digit)) / 1e7;
    }

    /**
     * gb_decode(geobuf) -> Row(id, geom_type, dim, coords, ring_lens,
     * part_rings, props_json), the GEOM_SCHEMA row of one frame in one
     * walk: id 0 when absent. A bare frame gives geom_type 0, dim 2 and
     * empty arrays. Coordinates are round7 of the exact lattice value, not
     * the reference's per-vertex float accumulation. props_json is
     * json.dumps(core.decode_properties(frame), sort_keys=True) of the
     * entries the walk found, "{}" when there are none.
     */
    public static final class Decode implements UDF1<byte[], Row> {
        private static final double[] NO_COORDS = new double[0];
        private static final int[] NONE = new int[0];
        private static final int[] ONE = {1};

        @Override
        public Row call(byte[] b) {
            Frame f = walk(b);
            if (f == null) return null;
            long id = f.id, code = f.code;
            String pj = Props.json(f);
            if (!f.coded || f.gs < 0)
                return RowFactory.create(id, 0, 2, NO_COORDS, NONE, NONE, pj);
            long[] t = f.tokens();
            int n = t.length;
            long gt = code <= 6 ? code : code >> 4;
            int dim = f.dim();
            if (gt == 1) {
                if (n != 2)
                    throw new IllegalArgumentException(
                        "point frame with != 2 geometry values");
                double[] c = {round7(unzigzag(t[0])), round7(unzigzag(t[1]))};
                return RowFactory.create(id, 1, 2, c, ONE, ONE, pj);
            }
            if (gt < 2 || gt > 6)
                throw new IllegalArgumentException("unknown geom type " + gt);
            if (dim == 0)
                throw new IllegalArgumentException("geometry code " + code + " has dim 0");
            double[] coords = new double[n];
            if (gt == 2 || gt == 4) {
                if (n % dim != 0)
                    throw new IllegalArgumentException(
                        "line geometry token count not divisible by dim");
                ring(t, 0, n, dim, coords, 0);
                return RowFactory.create(id, (int) gt, dim, coords,
                                         new int[]{n / dim}, ONE, pj);
            }
            // ring-structured: per ring a count then its deltas; MultiPolygon
            // prefixes each polygon with its ring count
            int[] rings = new int[n], parts = new int[gt == 6 ? n : 0];
            int nr = 0, np = 0, nc = 0, p = 0;
            while (p < n) {
                long left = 1;
                if (gt == 6) {
                    left = t[p++];
                    // every ring takes at least its count token
                    if (Long.compareUnsigned(left, n - p) > 0)
                        throw new IllegalArgumentException(
                            "polygon ring count overrunning the payload"
                            + " - truncated or corrupt input");
                    parts[np++] = (int) left;
                }
                for (; left > 0; left--) {
                    long cnt = p < n ? t[p++] : -1;
                    if (Long.compareUnsigned(cnt, n - p) > 0 || cnt % dim != 0)
                        throw new IllegalArgumentException(
                            "ring token count invalid or overrunning the payload"
                            + " - truncated or corrupt input");
                    ring(t, p, (int) cnt, dim, coords, nc);
                    rings[nr++] = (int) cnt / dim;
                    p += cnt;
                    nc += cnt;
                }
            }
            return RowFactory.create(id, (int) gt, dim,
                    java.util.Arrays.copyOf(coords, nc),
                    java.util.Arrays.copyOf(rings, nr),
                    gt == 6 ? java.util.Arrays.copyOf(parts, np) : new int[]{nr}, pj);
        }

        /** cnt delta tokens from t[p] -> round7 coords at out[o], the delta
         *  state (one running sum per dimension) starting at zero. */
        private static void ring(long[] t, int p, int cnt, int dim, double[] out, int o) {
            for (int d = 0; d < dim; d++) {
                long acc = 0;
                for (int i = d; i < cnt; i += dim) {
                    acc += unzigzag(t[p + i]);
                    out[o + i] = round7(acc);
                }
            }
        }
    }

    /**
     * Property entry reader, a port of core._read_entry and _read_value:
     * key() and value() read one 0x12 entry from its start, each value as
     * the Java twin of core's Python value (String, Double - a float32
     * widened -, Long, a BigInteger for a uint64 of 2^63 or more, Boolean).
     * Every read is bounded by its message, as core._read_entry bounds it:
     * the key and the value message by the entry, the value by its value
     * message; a length running past its message, a varint longer than 10
     * bytes, invalid UTF-8 and an unknown value field throw. json() writes
     * a frame's entries as Python's json.dumps(..., sort_keys=True): keys
     * sorted by code point, a repeated key keeps its last value,
     * ensure_ascii escapes, ", " and ": " separators, floats in Python's
     * shortest round-trip repr.
     */
    static final class Props {
        private final byte[] b;
        /** may run past lim, as a Python index does; the next read there
         *  throws */
        private long pos;
        /** end of the message being read: the frame, an entry or a value */
        private long lim;

        Props(byte[] b, long pos, long lim) {
            this.b = b;
            this.pos = pos;
            this.lim = lim;
        }

        /** Python str ordering: by code point, not by UTF-16 unit. */
        private static final java.util.Comparator<String> CODE_POINT_ORDER = (x, y) -> {
            int i = 0, j = 0;
            while (i < x.length() && j < y.length()) {
                int cx = x.codePointAt(i), cy = y.codePointAt(j);
                if (cx != cy) return Integer.compare(cx, cy);
                i += Character.charCount(cx);
                j += Character.charCount(cy);
            }
            return Integer.compare(x.length() - i, y.length() - j);
        };

        /** The entry f.props[i] of a walked frame. */
        Props(Frame f, int i) {
            this(f.b, f.props[i], f.props[i + 1]);
        }

        static String json(Frame f) {
            if (f.np == 0) return "{}";
            java.util.TreeMap<String, String> props = new java.util.TreeMap<>(CODE_POINT_ORDER);
            for (int i = 0; i < f.np; i += 2) {
                Props r = new Props(f, i);
                props.put(r.key(), jsonText(r.value()));
            }
            StringBuilder sb = new StringBuilder("{");
            for (java.util.Map.Entry<String, String> e : props.entrySet()) {
                if (sb.length() > 1) sb.append(", ");
                quote(sb, e.getKey());
                sb.append(": ").append(e.getValue());
            }
            return sb.append('}').toString();
        }

        private int at(long p) {
            if (p >= lim)
                throw new IllegalArgumentException(
                    "property read past its message - truncated or corrupt input");
            return b[(int) p] & 0xFF;
        }

        /** core.decode_varint: at most 10 bytes. */
        private long varint() {
            long v = 0;
            for (int shift = 0; shift < 70; shift += 7) {
                int c = at(pos++);
                v |= (long) (c & 0x7F) << shift;
                if (c < 0x80) return v;
            }
            throw new IllegalArgumentException(
                "property varint longer than 10 bytes - truncated or corrupt input");
        }

        /** A varint length whose payload ends within lim (core._payload_end). */
        private long length() {
            long n = varint();
            if (Long.compareUnsigned(n, lim - pos) > 0)
                throw new IllegalArgumentException(
                    "property length running past its message - truncated or corrupt input");
            return n;
        }

        /** A length-prefixed string at pos as strict UTF-8; pos moves past it. */
        private String utf8() {
            long n = length();
            int s = (int) pos, e = (int) (pos + n);
            pos = e;
            try {
                return java.nio.charset.StandardCharsets.UTF_8.newDecoder()
                    .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
                    .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
                    .decode(java.nio.ByteBuffer.wrap(b, s, e - s)).toString();
            } catch (java.nio.charset.CharacterCodingException x) {
                throw new IllegalArgumentException("property string is not valid UTF-8", x);
            }
        }

        /** width little-endian bytes at pos (struct.unpack needs them all) */
        private long fixed(int width) {
            if (pos + width > lim)
                throw new IllegalArgumentException(
                    "property value past its message - truncated or corrupt input");
            long v = 0;
            for (int i = width - 1; i >= 0; i--) v = (v << 8) | (b[(int) pos + i] & 0xFF);
            return v;
        }

        /** At an entry's start: its key (0x0A tag, varint length, UTF-8). */
        String key() {
            pos++;
            return utf8();
        }

        /** After the key: core._read_value of the value message (0x12 tag,
         *  varint length, one field), bounded by that length. */
        Object value() {
            pos++;
            long n = length();
            lim = pos + n;
            int field = at(pos++) >> 3;
            switch (field) {
                case 1: return utf8();
                case 2: return (double) Float.intBitsToFloat((int) fixed(4));
                case 3: return Double.longBitsToDouble(fixed(8));
                case 4: return varint();
                case 5: {
                    long u = varint();
                    return u >= 0 ? (Object) u : new java.math.BigInteger(Long.toUnsignedString(u));
                }
                case 6: return unzigzag(varint());
                case 7: return varint() != 0;
                default:
                    throw new IllegalArgumentException("unknown property value field " + field);
            }
        }

        /** One value() as json.dumps writes it. */
        private static String jsonText(Object v) {
            if (v instanceof String) {
                StringBuilder sb = new StringBuilder();
                quote(sb, (String) v);
                return sb.toString();
            }
            return v instanceof Double ? repr((Double) v) : v.toString();
        }
    }

    /**
     * A feature's property table as core._make_keyvalue writes it
     * (MakeKeyValue, write_feature.go:180-189): per key 0x12 len | 0x0A key
     * | 0x12 len | one Value field typed as core._write_value types it
     * (write_primitives.go:244-286). Entries come from props_json text and
     * from a struct of typed columns; a repeated key keeps its first
     * position and takes its last value, as the dict json.loads builds
     * does. Values are typed when written, so a value a later duplicate
     * replaces is never checked, as in Python.
     */
    static final class PropTable {
        private static final JsonFactory JSON = JsonFactory.builder()
            .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS).build();
        private static final java.math.BigInteger TWO_64 = java.math.BigInteger.ONE.shiftLeft(64);

        private final java.util.LinkedHashMap<String, Object> entries =
            new java.util.LinkedHashMap<>();

        /**
         * The entries of a JSON object, read as json.loads reads them: ints
         * of any size, floats (NaN, Infinity and -Infinity included),
         * strings, booleans, null; a nested object or array is kept as its
         * start token and rejected when written. Null or "" is no entries;
         * anything but one object throws.
         */
        void json(String text) {
            if (text == null || text.isEmpty()) return;
            try (JsonParser p = JSON.createParser(text)) {
                if (p.nextToken() != JsonToken.START_OBJECT)
                    throw new IllegalArgumentException("props_json is not a JSON object");
                while (p.nextToken() == JsonToken.FIELD_NAME) {
                    String key = p.currentName();
                    Object v;
                    switch (p.nextToken()) {
                        case VALUE_STRING: v = p.getText(); break;
                        case VALUE_NUMBER_INT:
                            v = p.getNumberType() == JsonParser.NumberType.BIG_INTEGER
                                ? p.getBigIntegerValue() : (Object) p.getLongValue();
                            break;
                        case VALUE_NUMBER_FLOAT: {
                            // json.loads knows only these three non-numbers
                            String t = p.getText();
                            char c = t.charAt(t.charAt(0) == '-' && t.length() > 1 ? 1 : 0);
                            if (!(c >= '0' && c <= '9') && !t.equals("NaN")
                                    && !t.equals("Infinity") && !t.equals("-Infinity"))
                                throw new IllegalArgumentException("props_json number " + t);
                            v = p.getDoubleValue();
                            break;
                        }
                        case VALUE_TRUE: v = Boolean.TRUE; break;
                        case VALUE_FALSE: v = Boolean.FALSE; break;
                        case VALUE_NULL: v = null; break;
                        default:
                            v = p.currentToken();
                            p.skipChildren();
                    }
                    entries.put(key, v);
                }
                if (p.nextToken() != null)
                    throw new IllegalArgumentException("props_json has data after its object");
            } catch (java.io.IOException e) {
                throw new IllegalArgumentException(
                    "props_json is not valid JSON: " + e.getMessage(), e);
            }
        }

        /** The fields of a struct of typed columns, keyed by field name. */
        void typed(Row r) {
            String[] names = r.schema().fieldNames();
            for (int i = 0; i < names.length; i++) entries.put(names[i], r.get(i));
        }

        byte[] bytes() {
            java.io.ByteArrayOutputStream out = new java.io.ByteArrayOutputStream();
            for (java.util.Map.Entry<String, Object> e : entries.entrySet()) {
                byte[] kb = utf8(e.getKey());
                byte[] vb = value(e.getKey(), e.getValue());
                int inner = 1 + varintLen(kb.length) + kb.length + vb.length;
                out.write(0x12);
                varint(out, inner);
                out.write(0x0A);
                varint(out, kb.length);
                out.write(kb, 0, kb.length);
                out.write(vb, 0, vb.length);
            }
            return out.toByteArray();
        }

        /** core._write_value: 0x12 len | one Value field. */
        private static byte[] value(String key, Object v) {
            if (v instanceof Boolean)
                return new byte[]{0x12, 2, 0x38, (byte) ((Boolean) v ? 1 : 0)};
            if (v instanceof String) {
                byte[] sb = utf8((String) v);
                java.io.ByteArrayOutputStream out = new java.io.ByteArrayOutputStream();
                out.write(0x12);
                varint(out, 1 + varintLen(sb.length) + sb.length);
                out.write(0x0A);
                varint(out, sb.length);
                out.write(sb, 0, sb.length);
                return out.toByteArray();
            }
            if (v instanceof Double || v instanceof Float) {
                long bits = Double.doubleToRawLongBits(((Number) v).doubleValue());
                byte[] out = {0x12, 9, 0x19, 0, 0, 0, 0, 0, 0, 0, 0};
                for (int i = 0; i < 8; i++) out[3 + i] = (byte) (bits >>> (8 * i));
                return out;
            }
            if (v instanceof Long || v instanceof Integer
                    || v instanceof Short || v instanceof Byte)
                return intValue(0x20, ((Number) v).longValue());
            if (v instanceof java.math.BigInteger) {
                java.math.BigInteger x = (java.math.BigInteger) v;
                // int64 is field 4, [2^63, 2^64) the unsigned field 5
                // (write_primitives.go:264-267); anything wider has no field
                if (x.bitLength() <= 63) return intValue(0x20, x.longValue());
                if (x.signum() > 0 && x.compareTo(TWO_64) < 0)
                    return intValue(0x28, x.longValue());
                throw new IllegalArgumentException(
                    "property '" + key + "' int " + x + " outside [-2**63, 2**64)");
            }
            if (v == null)
                throw new IllegalArgumentException(
                    "property '" + key + "' is null - geobuf KeyValue has no null"
                    + " encoding; filter or fill before encoding");
            throw new IllegalArgumentException(
                "property '" + key + "' has unsupported value type " + v);
        }

        private static byte[] intValue(int tag, long v) {
            byte[] out = new byte[3 + varintLen(v)];
            out[0] = 0x12;
            out[1] = (byte) (out.length - 2);
            out[2] = (byte) tag;
            writeVarint(out, 3, v);
            return out;
        }

        private static void varint(java.io.ByteArrayOutputStream out, long v) {
            byte[] buf = new byte[10];
            out.write(buf, 0, writeVarint(buf, 0, v));
        }

        /** Strict UTF-8, as str.encode: a lone surrogate throws. */
        private static byte[] utf8(String s) {
            try {
                java.nio.ByteBuffer bb = java.nio.charset.StandardCharsets.UTF_8.newEncoder()
                    .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
                    .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
                    .encode(java.nio.CharBuffer.wrap(s));
                return java.util.Arrays.copyOf(bb.array(), bb.limit());
            } catch (java.nio.charset.CharacterCodingException x) {
                throw new IllegalArgumentException(
                    "property text is not valid Unicode (a lone surrogate?)", x);
            }
        }
    }

    /**
     * gb_encode(feature, props) -> one geobuf frame, byte-identical to
     * core.encode_feature. feature is a GEOM_SCHEMA struct (id, geom_type,
     * dim, coords, ring_lens, part_rings, props_json); props a struct of
     * typed property columns, or null. The property table holds the
     * props_json entries, then the typed ones. A null id writes no id
     * field; geometry type 0 writes no geometry.
     */
    public static final class Encode implements UDF2<Row, Row, byte[]> {
        @Override
        public byte[] call(Row f, Row typed) {
            if (f == null || f.isNullAt(1) || f.isNullAt(2))
                throw new IllegalArgumentException(
                    "encode feature: null feature, geom_type or dim");
            PropTable t = new PropTable();
            t.json(f.getString(6));
            if (typed != null) t.typed(typed);
            Long id = f.isNullAt(0) ? null : f.getLong(0);
            int gt = f.getInt(1);
            if (gt == 0) return writeFrame(id, t.bytes(), 0, 2, null, null, null);
            if (f.isNullAt(3))
                throw new IllegalArgumentException("encode feature: null coords");
            return writeFrame(id, t.bytes(), gt, f.getInt(2), quantizeAll(f.getSeq(3)),
                              ints(f.getSeq(4)), ints(f.getSeq(5)));
        }
    }

    /**
     * gb_prop(geobuf, key) -> Row(id, string, bigint, double): the one
     * property `key` of a frame, LazyFeatureTileID (split_combine.go:
     * 333-370). The walk jumps the geometry and bbox; every entry's key is
     * read and only the value of the last entry with the key is parsed, as
     * in core.decode_properties(frame).get(key). The value lands in the field
     * of its type: a string, an int that fits int64 (not a bool), a float
     * (float32 widened); the other fields, and all three for an absent key,
     * a bool or a uint64 of 2^63 or more, are null. id is 0 when absent.
     */
    public static final class Prop implements UDF2<byte[], String, Row> {
        @Override
        public Row call(byte[] b, String key) {
            Frame f = walk(b);
            if (f == null) return null;
            Props hit = null;
            for (int i = 0; i < f.np; i += 2) {
                Props r = new Props(f, i);
                if (r.key().equals(key)) hit = r;
            }
            Object v = hit == null ? null : hit.value();
            return RowFactory.create(f.id, v instanceof String ? v : null,
                                     v instanceof Long ? v : null, v instanceof Double ? v : null);
        }
    }

    /**
     * gb_keys(geobuf) -> array&lt;string&gt;: every property key in wire
     * order, repeats kept - ReadKeys (reader.go:120-142). Values, geometry
     * and bbox are jumped by the walk, never parsed.
     */
    public static final class Keys implements UDF1<byte[], java.util.List<String>> {
        @Override
        public java.util.List<String> call(byte[] b) {
            Frame f = walk(b);
            if (f == null) return null;
            java.util.ArrayList<String> out = new java.util.ArrayList<>();
            for (int i = 0; i < f.np; i += 2) out.add(new Props(f, i).key());
            return out;
        }
    }

    /** json's string encoding with ensure_ascii: lowercase \\uXXXX escapes,
     *  astral characters as their surrogate pair. */
    static void quote(StringBuilder sb, String s) {
        sb.append('"');
        for (int i = 0; i < s.length(); i++) {
            char c = s.charAt(i);
            switch (c) {
                case '"': sb.append("\\\""); break;
                case '\\': sb.append("\\\\"); break;
                case '\n': sb.append("\\n"); break;
                case '\r': sb.append("\\r"); break;
                case '\t': sb.append("\\t"); break;
                case '\b': sb.append("\\b"); break;
                case '\f': sb.append("\\f"); break;
                default:
                    if (c >= 0x20 && c < 0x7F) sb.append(c);
                    else sb.append(String.format("\\u%04x", (int) c));
            }
        }
        sb.append('"');
    }

    /**
     * Python's float repr as json writes it: NaN/Infinity/-Infinity, else
     * the shortest decimal that reads back to d (the closer of the two at
     * that length, ties to even), in exponent form when the decimal point
     * sits more than 16 digits right or 4 or more places left of the
     * first digit. Java 17's Double.toString is not shortest.
     */
    static String repr(double d) {
        if (Double.isNaN(d)) return "NaN";
        if (Double.isInfinite(d)) return d > 0 ? "Infinity" : "-Infinity";
        String sign = (Double.doubleToRawLongBits(d) < 0) ? "-" : "";
        double a = Math.abs(d);
        if (a == 0) return sign + "0.0";
        java.math.BigDecimal x = new java.math.BigDecimal(a), best = null;
        for (int p = 1; best == null; p++) {
            java.math.BigDecimal lo = x.round(new java.math.MathContext(p, java.math.RoundingMode.DOWN));
            java.math.BigDecimal hi = x.round(new java.math.MathContext(p, java.math.RoundingMode.UP));
            boolean okLo = lo.doubleValue() == a, okHi = hi.doubleValue() == a;
            if (okLo && okHi)
                best = x.round(new java.math.MathContext(p, java.math.RoundingMode.HALF_EVEN));
            else if (okLo || okHi)
                best = okLo ? lo : hi;
        }
        best = best.stripTrailingZeros();
        String digits = best.unscaledValue().toString();
        int nd = digits.length(), decpt = nd - best.scale();
        StringBuilder sb = new StringBuilder(sign);
        if (decpt <= -4 || decpt > 16) {
            sb.append(digits.charAt(0));
            if (nd > 1) sb.append('.').append(digits, 1, nd);
            int e = decpt - 1;
            sb.append(e < 0 ? "e-" : "e+");
            if (Math.abs(e) < 10) sb.append('0');
            sb.append(Math.abs(e));
        } else if (decpt <= 0) {
            sb.append("0.");
            for (int i = decpt; i < 0; i++) sb.append('0');
            sb.append(digits);
        } else if (decpt >= nd) {
            sb.append(digits);
            for (int i = nd; i < decpt; i++) sb.append('0');
            sb.append(".0");
        } else {
            sb.append(digits, 0, decpt).append('.').append(digits, decpt, nd);
        }
        return sb.toString();
    }

    /**
     * Metadata-dummy sniff, a port of core._is_metadata_frame
     * (CheckMetaData parity, reader.go:258-274): the frame's only property
     * entry is keyed exactly "metadata". A frame the walk or the key read
     * rejects is not the dummy, as in the Python sniff.
     */
    static boolean isMetadataFrame(byte[] b) {
        try {
            Frame f = walk(b);
            return f.np == 2 && new Props(f, 0).key().equals("metadata");
        } catch (IllegalArgumentException e) {
            return false;
        }
    }

    /**
     * gb_frames(file_bytes, skip_metadata) -> array&lt;binary&gt; of raw
     * feature frames - the JVM twin of core.read_frames (reader.go:84-93
     * framing: 0x0A, varint length, frame bytes). With skip_metadata the
     * first frame is dropped when it is the metadata dummy (same sniff as
     * core.read_frames); pass false for mid-file ranges and freshly
     * written buffers, which carry none. Truncated streams fail the task.
     */
    public static final class Frames implements UDF2<byte[], Boolean, java.util.List<byte[]>> {
        @Override
        public java.util.List<byte[]> call(byte[] b, Boolean skipMetadata) {
            if (b == null) return null;
            java.util.ArrayList<byte[]> out = new java.util.ArrayList<>();
            Walker w = new Walker(b, 0, b.length);
            boolean first = skipMetadata != null && skipMetadata;
            while (w.p < w.end) {
                if ((b[w.p] & 0xFF) != 0x0A)
                    throw new IllegalArgumentException(
                        "bad frame tag at offset " + w.p + " - truncated or corrupt stream");
                w.p++;
                int s = w.skip(w.varint());
                byte[] frame = java.util.Arrays.copyOfRange(b, s, w.p);
                if (first) {
                    first = false;
                    if (isMetadataFrame(frame)) continue;
                }
                out.add(frame);
            }
            return out;
        }
    }
}
