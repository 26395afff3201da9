package avrospark;

import java.nio.charset.StandardCharsets;
import java.util.Arrays;
import java.util.IdentityHashMap;
import java.util.List;
import java.util.Map;
import java.util.concurrent.ConcurrentHashMap;

import org.apache.avro.Schema;
import org.apache.spark.sql.Column;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.api.java.UDF2;
import org.apache.spark.sql.api.java.UDF3;
import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.analysis.UnresolvedAlias;
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute;
import org.apache.spark.sql.catalyst.expressions.Expression;
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow;
import org.apache.spark.sql.catalyst.expressions.UserDefinedGenerator;
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData;
import org.apache.spark.sql.catalyst.util.GenericArrayData;
import org.apache.spark.sql.classic.Dataset;
import org.apache.spark.sql.classic.ExpressionColumnNode;
import org.apache.spark.sql.execution.datasources.FileStatusWithMetadata;
import org.apache.spark.sql.execution.datasources.HadoopFsRelation;
import org.apache.spark.sql.execution.datasources.LogicalRelation;
import org.apache.spark.sql.execution.datasources.PartitionDirectory;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.unsafe.types.UTF8String;
import scala.jdk.javaapi.CollectionConverters;

/**
 * JVM-side Avro binary codec for avro_spark: byte-compatible with the
 * pure-Python codec in avro_spark/sources/avro_binary.py (same zigzag
 * varints, length-prefixed strings/bytes, single-block arrays/maps with a
 * zero terminator, branch-indexed unions — the public Avro binary spec).
 *
 * Scope: records of null/boolean/int/long/float/double/string/bytes,
 * enum, fixed, array, map, {null, T} unions (the engine's nullable-*
 * extension — the Python side renders it as a ["null", T] union before
 * handing the schema over; the column is the plain nullable value), and
 * general multi-branch unions (column = tagged struct ($type$,
 * branch values...), the schema/spark_types.py layout). Unions with
 * NULLABLE branches — a shape standard Avro JSON cannot spell (a union
 * directly inside a union) — arrive wrapped in synthetic
 * single-field records marked with the "avrospark.unwrap" property:
 * record framing writes no bytes, so the wrapper is byte-invisible, and
 * both encode and decode treat it as transparent (the Spark value is
 * the inner value, no extra Row level). Only the 'any' type stays on
 * the Python codec.
 *
 * Row access is positional and schema-ordered: the Python wrapper builds
 * the struct column in Avro field order, exactly like the pandas path.
 */
public final class AvroCodecUDF {

  private static final ConcurrentHashMap<String, Schema> SCHEMAS = new ConcurrentHashMap<>();

  private static Schema schemaOf(String json) {
    return SCHEMAS.computeIfAbsent(json, j -> new Schema.Parser().parse(j));
  }

  // ------------------------------------------------------------ byte sink
  static final class Buf {
    byte[] a = new byte[256];
    int n = 0;

    void ensure(int extra) {
      if (n + extra > a.length) {
        int cap = a.length;
        while (cap < n + extra) cap <<= 1;
        byte[] b = new byte[cap];
        System.arraycopy(a, 0, b, 0, n);
        a = b;
      }
    }

    void put(byte b) { ensure(1); a[n++] = b; }

    void put(byte[] src) { ensure(src.length); System.arraycopy(src, 0, a, n, src.length); n += src.length; }

    byte[] bytes() { byte[] out = new byte[n]; System.arraycopy(a, 0, out, 0, n); return out; }
  }

  static void writeVarint(Buf out, long n) {
    while (true) {
      long b = n & 0x7FL;
      n >>>= 7;
      if (n != 0) out.put((byte) (b | 0x80L));
      else { out.put((byte) b); return; }
    }
  }

  static void writeLong(Buf out, long v) { writeVarint(out, (v << 1) ^ (v >> 63)); }

  // --------------------------------------------------------------- encode
  @SuppressWarnings("unchecked")
  static void encode(Buf out, Schema s, Object v) {
    switch (s.getType()) {
      case NULL:
        return;
      case BOOLEAN:
        out.put((byte) (((Boolean) v) ? 1 : 0));
        return;
      case INT:
      case LONG:
        writeLong(out, ((Number) v).longValue());
        return;
      case FLOAT: {
        int bits = Float.floatToIntBits(((Number) v).floatValue());
        out.ensure(4);
        out.a[out.n++] = (byte) bits;
        out.a[out.n++] = (byte) (bits >>> 8);
        out.a[out.n++] = (byte) (bits >>> 16);
        out.a[out.n++] = (byte) (bits >>> 24);
        return;
      }
      case DOUBLE: {
        long bits = Double.doubleToLongBits(((Number) v).doubleValue());
        out.ensure(8);
        for (int i = 0; i < 8; i++) out.a[out.n++] = (byte) (bits >>> (8 * i));
        return;
      }
      case STRING: {
        byte[] raw = ((String) v).getBytes(StandardCharsets.UTF_8);
        writeLong(out, raw.length);
        out.put(raw);
        return;
      }
      case BYTES: {
        byte[] raw = (byte[]) v;
        writeLong(out, raw.length);
        out.put(raw);
        return;
      }
      case FIXED: {
        byte[] raw = (byte[]) v;
        if (raw.length != s.getFixedSize())
          throw new RuntimeException(
              "bad fixed length " + raw.length + ", expected " + s.getFixedSize());
        out.put(raw);
        return;
      }
      case ENUM: {
        // check membership first: getEnumOrdinal THROWS on unknown symbols
        // in Avro 1.12 (it never returns a negative ordinal), so guard via
        // hasEnumSymbol to keep the codec's own error wording
        if (!s.hasEnumSymbol((String) v))
          throw new RuntimeException("bad enum value: " + v);
        writeLong(out, s.getEnumOrdinal((String) v));
        return;
      }
      case ARRAY: {
        List<Object> items = asList(v);
        if (!items.isEmpty()) {
          writeLong(out, items.size());
          Schema it = s.getElementType();
          for (Object x : items) encode(out, it, x);
        }
        writeLong(out, 0);
        return;
      }
      case MAP: {
        Map<String, Object> entries = asMap(v);
        if (!entries.isEmpty()) {
          writeLong(out, entries.size());
          Schema vt = s.getValueType();
          for (Map.Entry<String, Object> e : entries.entrySet()) {
            byte[] raw = e.getKey().getBytes(StandardCharsets.UTF_8);
            writeLong(out, raw.length);
            out.put(raw);
            encode(out, vt, e.getValue());
          }
        }
        writeLong(out, 0);
        return;
      }
      case RECORD: {
        // transparent wrapper (avrospark.unwrap): a synthetic
        // single-field record the Python renderer emits so a union can
        // sit inside a union in STANDARD Avro JSON (nullable unions /
        // nullable branches). Record framing writes no bytes, and the
        // Spark value is the inner value directly — no extra Row level.
        if (s.getObjectProp("avrospark.unwrap") != null) {
          encode(out, s.getFields().get(0).schema(), v);
          return;
        }
        Row row = (Row) v;
        List<Schema.Field> fields = s.getFields();
        for (int i = 0; i < fields.size(); i++)
          encode(out, fields.get(i).schema(), row.isNullAt(i) ? null : row.get(i));
        return;
      }
      case UNION: {
        List<Schema> ts = s.getTypes();
        int nullIdx = nullBranch(ts);
        if (ts.size() == 2 && nullIdx >= 0
            && !isUnwrap(ts.get(1 - nullIdx))) {
          // simple {null, T} with T NON-nullable: the column IS the
          // plain nullable value. (T = an unwrap wrapper means
          // ["null", "T*"] — that union does NOT collapse: the column
          // is the general tagged struct, handled below.)
          int valIdx = 1 - nullIdx;
          Schema valType = ts.get(valIdx);
          // byte parity with the Python codec: pandas cannot distinguish
          // null from NaN in nullable float/double columns, so the Python
          // side encodes NaN as the null branch there — mirror that here
          // or engine='auto' output would depend on JDK availability
          boolean nanNull =
              (valType.getType() == Schema.Type.FLOAT
                  && v instanceof Float && ((Float) v).isNaN())
              || (valType.getType() == Schema.Type.DOUBLE
                  && v instanceof Double && ((Double) v).isNaN());
          if (v == null || nanNull) { writeLong(out, nullIdx); return; }
          writeLong(out, valIdx);
          encode(out, valType, v);
          return;
        }
        // general union: tagged struct ($type$ int, <tag_i> value_i for
        // each non-null branch, in branch order) — same layout as
        // schema/spark_types.py. A bare null is only legal with a null
        // branch (the validate form, frontend.lua:899-919).
        if (v == null) {
          if (nullIdx < 0)
            throw new RuntimeException("null for union without a null branch");
          writeLong(out, nullIdx);
          return;
        }
        Row row = (Row) v;
        if (row.isNullAt(0))
          throw new RuntimeException("union struct with null tag");
        int tag = ((Number) row.get(0)).intValue();
        if (tag < 0 || tag >= ts.size())
          throw new RuntimeException("bad union tag: " + tag);
        Schema branch = ts.get(tag);
        writeLong(out, tag);
        if (branch.getType() == Schema.Type.NULL) return;
        int pos = 1;
        for (int i = 0; i < tag; i++)
          if (ts.get(i).getType() != Schema.Type.NULL) pos++;
        if (row.isNullAt(pos)) {
          // a NULLABLE branch (unwrap wrapper around [null, T]) accepts
          // a null value — it encodes as the inner union's null
          if (branch.getType() == Schema.Type.RECORD
              && branch.getObjectProp("avrospark.unwrap") != null) {
            encode(out, branch, null);
            return;
          }
          throw new RuntimeException(
              "null union value for non-null branch " + tag);
        }
        encode(out, branch, row.get(pos));
        return;
      }
      default:
        throw new RuntimeException("jvm codec cannot encode " + s.getType());
    }
  }

  /** index of the null branch in a union, or -1 */
  static int nullBranch(List<Schema> ts) {
    for (int i = 0; i < ts.size(); i++)
      if (ts.get(i).getType() == Schema.Type.NULL) return i;
    return -1;
  }

  /** true when s is a transparent avrospark.unwrap wrapper record */
  static boolean isUnwrap(Schema s) {
    return s.getType() == Schema.Type.RECORD
        && s.getObjectProp("avrospark.unwrap") != null;
  }

  @SuppressWarnings("unchecked")
  static List<Object> asList(Object v) {
    if (v instanceof List) return (List<Object>) v;
    if (v instanceof scala.collection.Seq)
      return scala.jdk.javaapi.CollectionConverters.asJava((scala.collection.Seq<Object>) v);
    if (v instanceof Object[]) return java.util.Arrays.asList((Object[]) v);
    throw new RuntimeException("unexpected array value " + v.getClass());
  }

  @SuppressWarnings("unchecked")
  static Map<String, Object> asMap(Object v) {
    if (v instanceof Map) return (Map<String, Object>) v;
    if (v instanceof scala.collection.Map)
      return scala.jdk.javaapi.CollectionConverters.asJava((scala.collection.Map<String, Object>) v);
    throw new RuntimeException("unexpected map value " + v.getClass());
  }

  // --------------------------------------------------------------- decode
  static final class Cursor {
    final byte[] buf;
    int pos = 0;
    Cursor(byte[] b) { buf = b; }
  }

  static long readLong(Cursor c) {
    long acc = 0;
    int shift = 0;
    while (true) {
      byte b = c.buf[c.pos++];
      acc |= (long) (b & 0x7F) << shift;
      if ((b & 0x80) == 0) break;
      shift += 7;
    }
    return (acc >>> 1) ^ -(acc & 1);
  }

  /** A union's branch index, range-checked on the RAW long before the
   *  int cast: a corrupt tag that is a multiple of 2^32 would wrap to a
   *  valid index and silently decode the wrong branch. */
  static int unionIndex(Cursor c, int n) {
    long idx = readLong(c);
    if (idx < 0 || idx >= n)
      throw new RuntimeException(
          "union branch index " + idx + " out of range [0, " + n + ")");
    return (int) idx;
  }

  // ----------------------------------------------------------- UDF fronts
  // --------------------------------------------- vector-scoring UDFs
  // Parsed double-matrix/cube caches, keyed by the literal JSON string
  // (same memoization pattern as schemaOf): parse once per executor,
  // reuse across every row of every task.
  private static final Map<String, double[][]> MAT_CACHE = new ConcurrentHashMap<>();
  private static final Map<String, double[][][]> CUBE_CACHE = new ConcurrentHashMap<>();
  private static final Map<String, double[][]> CUBE_CC_CACHE = new ConcurrentHashMap<>();

  private static double[][] matOf(String json) {
    return MAT_CACHE.computeIfAbsent(json, AvroCodecUDF::parseMat);
  }

  private static double[][] parseMat(String json) {
    try {
      com.fasterxml.jackson.databind.ObjectMapper om =
          new com.fasterxml.jackson.databind.ObjectMapper();
      return om.readValue(json, double[][].class);
    } catch (java.io.IOException e) {
      throw new RuntimeException("bad matrix json", e);
    }
  }

  private static double[][][] cubeOf(String json) {
    return CUBE_CACHE.computeIfAbsent(json, s -> {
      try {
        com.fasterxml.jackson.databind.ObjectMapper om =
            new com.fasterxml.jackson.databind.ObjectMapper();
        return om.readValue(s, double[][][].class);
      } catch (java.io.IOException e) {
        throw new RuntimeException("bad codebook json", e);
      }
    });
  }

  /** Per-(subspace, code) dot(c, c), strict left fold — the
   *  code-independent term of the PQ assignment score, computed once
   *  per codebook literal instead of once per row. */
  private static double[][] cubeCC(String json) {
    return CUBE_CC_CACHE.computeIfAbsent(json, s -> {
      double[][][] books = cubeOf(s);
      double[][] cc = new double[books.length][];
      for (int b = 0; b < books.length; b++) {
        cc[b] = new double[books[b].length];
        for (int c = 0; c < books[b].length; c++) {
          double acc = 0.0;
          for (double x : books[b][c]) acc += x * x;
          cc[b][c] = acc;
        }
      }
      return cc;
    });
  }

  /**
   * Nearest centroid id (ties → lowest id) over a NORMALIZED centroid
   * matrix passed as a JSON literal — the JVM form of the
   * transform+array_max struct fold in similarity._argmax_centroid,
   * with identical float semantics: sims are strict left-fold dots,
   * comparison is Spark's double ordering (Double.compare — NaN
   * largest, -0.0 < 0.0), a null element nulls that sim (nulls sort
   * FIRST in the struct ordering, so null sims lose to any real sim,
   * and an all-null row resolves to id 0 like the SQL form).
   */
  public static final class ArgmaxCentroid
      implements UDF2<String, scala.collection.Seq<Object>, Integer> {
    @Override
    public Integer call(String matJson, scala.collection.Seq<Object> v) {
      if (v == null) return null;
      double[][] mat = matOf(matJson);
      int n = v.size();
      double[] vv = new double[n];
      boolean anyNull = false;
      for (int i = 0; i < n; i++) {
        Object o = v.apply(i);
        if (o == null) { anyNull = true; break; }
        vv[i] = ((Number) o).doubleValue();
      }
      int best = 0;
      boolean haveBest = false;
      double bestSim = 0.0;
      for (int ci = 0; ci < mat.length; ci++) {
        double[] c = mat[ci];
        if (anyNull || c.length != n) continue;  // null sim: never wins
        double acc = 0.0;
        for (int j = 0; j < n; j++) acc += vv[j] * c[j];
        if (!haveBest || Double.compare(acc, bestSim) > 0) {
          haveBest = true;
          bestSim = acc;
          best = ci;
        }
      }
      return best;  // all-null sims -> 0, matching the SQL fold
    }
  }

  /**
   * PQ code array (m ints) for one vector against JSON codebooks — the
   * JVM form of similarity.pq_codes: per subspace, argmin of
   * -2*dot(s,c) + dot(c,c) with ties → lowest code id, identical float
   * semantics (strict left-fold dots, (-2.0*dot)+cc rounding order,
   * Double.compare ordering). A null element in the subvector nulls
   * every score of that subspace; the SQL struct fold then returns
   * code 0 (nulls sort first under array_min), replicated here.
   */
  public static final class PqCodes
      implements UDF2<String, scala.collection.Seq<Object>, java.util.List<Integer>> {
    @Override
    public java.util.List<Integer> call(String booksJson, scala.collection.Seq<Object> v) {
      if (v == null) return null;
      double[][][] books = cubeOf(booksJson);
      double[][] cc = cubeCC(booksJson);
      int m = books.length;
      int sub = m > 0 ? books[0][0].length : 0;
      int n = v.size();
      double[] vv = new double[n];
      boolean[] isNull = new boolean[n];
      for (int i = 0; i < n; i++) {
        Object o = v.apply(i);
        if (o == null) isNull[i] = true;
        else vv[i] = ((Number) o).doubleValue();
      }
      java.util.ArrayList<Integer> out = new java.util.ArrayList<>(m);
      for (int s = 0; s < m; s++) {
        int from = s * sub;
        // SQL slice(v, pos, len) clamps at the array end; a short or
        // null-holding slice nulls the dot and the fold yields code 0
        boolean bad = from + sub > n;
        if (!bad) {
          for (int j = from; j < from + sub; j++) {
            if (isNull[j]) { bad = true; break; }
          }
        }
        int bestC = 0;
        if (!bad) {
          boolean have = false;
          double bestD = 0.0;
          for (int ci = 0; ci < books[s].length; ci++) {
            double[] c = books[s][ci];
            if (c.length != sub) continue;
            double acc = 0.0;
            for (int j = 0; j < sub; j++) acc += vv[from + j] * c[j];
            double d2 = (-2.0 * acc) + cc[s][ci];
            if (!have || Double.compare(d2, bestD) < 0) {
              have = true;
              bestD = d2;
              bestC = ci;
            }
          }
        }
        out.add(bestC);
      }
      return out;
    }
  }

  /**
   * PQ reconstruction: concatenation of the selected codebook entries —
   * the JVM form of similarity.pq_reconstruct (flatten ∘ zip_with ∘
   * element_at). Null codes array → null; a null/out-of-range code
   * nulls its sub-array, and SQL flatten of a null sub-array is NULL —
   * replicated here.
   */
  public static final class PqReconstruct
      implements UDF2<String, scala.collection.Seq<Object>, java.util.List<Double>> {
    @Override
    public java.util.List<Double> call(String booksJson, scala.collection.Seq<Object> codes) {
      if (codes == null) return null;
      double[][][] books = cubeOf(booksJson);
      int m = books.length;
      int nc = codes.size();
      int top = Math.max(m, nc);  // zip_with pads the shorter side
      java.util.ArrayList<Double> out = new java.util.ArrayList<>(
          m > 0 ? m * books[0][0].length : 0);
      for (int s = 0; s < top; s++) {
        if (s >= m || s >= nc) return null;  // padded null sub-array
        Object c = codes.apply(s);
        if (c == null) return null;
        int ci = ((Number) c).intValue();
        if (ci < 0 || ci >= books[s].length) return null;  // element_at null
        for (double x : books[s][ci]) out.add(x);
      }
      return out;
    }
  }

  /**
   * Strict left-fold dot product in double — bit-identical to the
   * zip_with+aggregate SQL form the vector operators use (same
   * multiply-then-accumulate rounding order; null on length mismatch or
   * any null element, exactly like zip_with's null padding propagating
   * through the fold), but evaluated as one tight JVM loop instead of
   * per-element interpreted lambda calls (HigherOrderFunction is
   * CodegenFallback, so a big verify join pays ~2 interpreted
   * evaluations per element per row).
   */
  public static final class Dot
      implements UDF2<scala.collection.Seq<Object>, scala.collection.Seq<Object>, Double> {
    @Override
    public Double call(scala.collection.Seq<Object> a, scala.collection.Seq<Object> b) {
      if (a == null || b == null) return null;
      int n = a.size();
      if (b.size() != n) return null;
      double acc = 0.0;
      scala.collection.Iterator<Object> ia = a.iterator();
      scala.collection.Iterator<Object> ib = b.iterator();
      while (ia.hasNext()) {
        Object x = ia.next();
        Object y = ib.next();
        if (x == null || y == null) return null;
        acc += ((Number) x).doubleValue() * ((Number) y).doubleValue();
      }
      return acc;
    }
  }

  /** (schemaJson, struct row) → Avro binary bytes */
  public static final class Encode implements UDF2<String, Row, byte[]> {
    @Override
    public byte[] call(String schemaJson, Row row) {
      Buf out = new Buf();
      encode(out, schemaOf(schemaJson), row);
      return out.bytes();
    }
  }

  // ----------------------------------------------- OCF container framing
  // The Object Container File read (sources/avro_ocf.py) is ONE Catalyst
  // generator, OcfRead: its input row is a whole file's bytes, one
  // block's (codec, count, data) for the split read, or one Avro value
  // (the body from_avro_bytes and from_wire decode). A file's framing is
  // checked up front (magic, writer schema, block sizes, sync markers);
  // then one block at a time is inflated and its records decoded, lazily,
  // straight into Catalyst values. Task memory stays bounded by block
  // size, and no Row/List object or CatalystTypeConverters pass sits
  // between the decoder and Spark. The Python engine remains the no-JDK
  // fallback.

  /** Block decompression for ALL SIX Avro-spec codecs: null / deflate
   *  (RFC-1951) / snappy / zstandard / bzip2 / xz (the last two via
   *  commons-compress + the xz library, both on every Spark classpath). */
  static byte[] decompressBlock(String codec, byte[] data) {
    if (codec.equals("null")) return data;
    if (codec.equals("deflate")) {
      java.util.zip.Inflater inf = new java.util.zip.Inflater(true);
      inf.setInput(data);
      byte[] buf = new byte[Math.max(data.length * 4, 1 << 16)];
      int n = 0;
      try {
        while (!inf.finished()) {
          if (n == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2);
          int got = inf.inflate(buf, n, buf.length - n);
          if (got == 0 && inf.needsInput())
            throw new RuntimeException("truncated deflate block");
        n += got;
        }
      } catch (java.util.zip.DataFormatException e) {
        throw new RuntimeException("bad deflate block", e);
      } finally {
        inf.end();
      }
      return java.util.Arrays.copyOf(buf, n);
    }
    if (codec.equals("snappy")) {
      // Avro spec: snappy stream + 4-byte BIG-endian CRC32 of the
      // UNCOMPRESSED bytes appended to the block
      if (data.length < 4)
        throw new RuntimeException("snappy block shorter than its CRC");
      byte[] out = snappyDecompress(data, data.length - 4);
      java.util.zip.CRC32 crc = new java.util.zip.CRC32();
      crc.update(out, 0, out.length);
      long want = ((long) (data[data.length - 4] & 0xFF) << 24)
          | ((data[data.length - 3] & 0xFF) << 16)
          | ((data[data.length - 2] & 0xFF) << 8)
          | (data[data.length - 1] & 0xFF);
      if (crc.getValue() != want)
        throw new RuntimeException("snappy block CRC mismatch");
      return out;
    }
    if (codec.equals("zstandard")) {
      // Avro spec: the block is one zstd frame, no checksum wrapper.
      // zstd-jni ships in every Spark distribution (shuffle codec);
      // the streaming reader handles frames with or without
      // Frame_Content_Size, unlike one-shot Zstd.decompress.
      try (com.github.luben.zstd.ZstdInputStream zin =
              new com.github.luben.zstd.ZstdInputStream(
                  new java.io.ByteArrayInputStream(data))) {
        // long-safe sizing hint: data.length * 4 overflows int for
        // compressed payloads over 512 MiB (legal foreign blocks)
        java.io.ByteArrayOutputStream bos =
            new java.io.ByteArrayOutputStream((int) Math.min(
                Integer.MAX_VALUE - 8,
                Math.max((long) data.length * 4, 1 << 16)));
        byte[] buf = new byte[1 << 16];
        int got;
        // standard InputStream idiom: 0 is a legal non-EOF return from
        // ZstdInputStream in some frame states; only -1 means EOF
        while ((got = zin.read(buf)) != -1) {
          if (got > 0) bos.write(buf, 0, got);
        }
        return bos.toByteArray();
      } catch (java.io.IOException e) {
        throw new RuntimeException("bad zstandard block: " + e.getMessage(), e);
      }
    }
    if (codec.equals("bzip2") || codec.equals("xz")) {
      // commons-compress (bzip2) + org.tukaani.xz (xz) ship on the
      // Spark classpath; without this case these codecs silently
      // routed the WHOLE read to the ~10x slower Python engine
      try (java.io.InputStream zin = codec.equals("bzip2")
              ? new org.apache.commons.compress.compressors.bzip2
                  .BZip2CompressorInputStream(
                      new java.io.ByteArrayInputStream(data))
              : new org.apache.commons.compress.compressors.xz
                  .XZCompressorInputStream(
                      new java.io.ByteArrayInputStream(data))) {
        java.io.ByteArrayOutputStream bos =
            new java.io.ByteArrayOutputStream((int) Math.min(
                Integer.MAX_VALUE - 8,
                Math.max((long) data.length * 4, 1 << 16)));
        byte[] buf = new byte[1 << 16];
        int got;
        while ((got = zin.read(buf)) != -1) {
          if (got > 0) bos.write(buf, 0, got);
        }
        return bos.toByteArray();
      } catch (java.io.IOException e) {
        throw new RuntimeException(
            "bad " + codec + " block: " + e.getMessage(), e);
      }
    }
    throw new RuntimeException("jvm OCF codec cannot decompress '" + codec + "'");
  }

  /** Block COMPRESSION twin of decompressBlock, same six codecs: the
   *  write path's framing stage calls this through the CompressBlock
   *  UDF so block compression runs JVM-side (the from-scratch Python
   *  snappy compressor measured ~14 MB/s/task; this path is the fix).
   *  Emits the Avro-framed payload (snappy includes the spec's 4-byte
   *  big-endian CRC32 of the UNCOMPRESSED bytes); level < 0 picks each
   *  codec's default, matching the Python framing stage's defaults
   *  (deflate zlib-default, bzip2 9, xz preset 6, zstd 3). */
  static byte[] compressBlock(String codec, int level, byte[] data) {
    if (codec.equals("null")) return data;
    if (codec.equals("deflate")) {
      java.util.zip.Deflater def = new java.util.zip.Deflater(
          level < 0 ? java.util.zip.Deflater.DEFAULT_COMPRESSION : level,
          true);
      try {
        def.setInput(data);
        def.finish();
        java.io.ByteArrayOutputStream bos =
            new java.io.ByteArrayOutputStream(Math.max(64, data.length / 3));
        byte[] buf = new byte[1 << 16];
        while (!def.finished()) {
          int got = def.deflate(buf);
          if (got > 0) bos.write(buf, 0, got);
        }
        return bos.toByteArray();
      } finally {
        def.end();
      }
    }
    if (codec.equals("snappy")) {
      byte[] comp = snappyCompress(data);
      java.util.zip.CRC32 crc = new java.util.zip.CRC32();
      crc.update(data, 0, data.length);
      long v = crc.getValue();
      byte[] outb = java.util.Arrays.copyOf(comp, comp.length + 4);
      outb[comp.length] = (byte) (v >>> 24);
      outb[comp.length + 1] = (byte) (v >>> 16);
      outb[comp.length + 2] = (byte) (v >>> 8);
      outb[comp.length + 3] = (byte) v;
      return outb;
    }
    if (codec.equals("zstandard"))
      return com.github.luben.zstd.Zstd.compress(data, level < 0 ? 3 : level);
    if (codec.equals("bzip2") || codec.equals("xz")) {
      java.io.ByteArrayOutputStream bos =
          new java.io.ByteArrayOutputStream(Math.max(64, data.length / 3));
      try {
        java.io.OutputStream z = codec.equals("bzip2")
            ? new org.apache.commons.compress.compressors.bzip2
                .BZip2CompressorOutputStream(bos, level < 0 ? 9 : level)
            : new org.apache.commons.compress.compressors.xz
                .XZCompressorOutputStream(bos, level < 0 ? 6 : level);
        try {
          z.write(data);
        } finally {
          z.close();
        }
        return bos.toByteArray();
      } catch (java.io.IOException e) {
        throw new RuntimeException(
            codec + " compression failed: " + e.getMessage(), e);
      }
    }
    throw new RuntimeException("jvm OCF codec cannot compress '" + codec + "'");
  }

  /** From-scratch greedy snappy COMPRESSOR (public
   *  format_description.txt). The algorithm mirrors
   *  sources/snappy_codec.py byte-for-byte (hash table over 4-byte
   *  prefixes holding the LATEST position, skip acceleration on
   *  incompressible stretches, 2-byte-offset copies chained at 64
   *  bytes, always-legal element shapes), so the two engines emit
   *  identical streams for identical input (fuzz-pinned in tests). */
  static byte[] snappyCompress(byte[] data) {
    int n = data.length;
    java.io.ByteArrayOutputStream out =
        new java.io.ByteArrayOutputStream(Math.max(32, n / 2));
    int v = n;
    while ((v & ~0x7F) != 0) {
      out.write((v & 0x7F) | 0x80);
      v >>>= 7;
    }
    out.write(v);
    if (n < 4) {
      if (n > 0) snappyLiteral(out, data, 0, n);
      return out.toByteArray();
    }
    java.util.HashMap<Integer, Integer> table =
        new java.util.HashMap<>(Math.min(1 << 16, Math.max(16, n / 4)));
    int i = 0, litStart = 0, skip = 32;
    int limit = n - 4 + 1;
    while (i < limit) {
      int key = (data[i] & 0xFF) | ((data[i + 1] & 0xFF) << 8)
          | ((data[i + 2] & 0xFF) << 16) | ((data[i + 3] & 0xFF) << 24);
      Integer cand = table.put(key, i); // previous position, like the
      if (cand != null && i - cand <= 65535) { // Python get-then-set
        int m = 4, maxM = n - i;
        while (m < maxM && data[cand + m] == data[i + m]) m++;
        snappyLiteral(out, data, litStart, i);
        snappyCopy(out, i - cand, m);
        i += m;
        litStart = i;
        skip = 32;
      } else {
        i += skip >>> 5;
        skip++;
      }
    }
    snappyLiteral(out, data, litStart, n);
    return out.toByteArray();
  }

  static void snappyLiteral(
      java.io.ByteArrayOutputStream out, byte[] data, int start, int end) {
    while (start < end) {
      int len = Math.min(end - start, 1 << 16);
      if (len <= 60) {
        out.write((len - 1) << 2);
      } else if (len <= 0x100) {
        out.write(60 << 2);
        out.write(len - 1);
      } else {
        out.write(61 << 2);
        out.write((len - 1) & 0xFF);
        out.write(((len - 1) >>> 8) & 0xFF);
      }
      out.write(data, start, len);
      start += len;
    }
  }

  static void snappyCopy(
      java.io.ByteArrayOutputStream out, int offset, int length) {
    int o0 = offset & 0xFF, o1 = (offset >>> 8) & 0xFF;
    while (length > 64) {
      out.write((63 << 2) | 2); // len-64 copy
      out.write(o0);
      out.write(o1);
      length -= 64;
    }
    out.write(((length - 1) << 2) | 2);
    out.write(o0);
    out.write(o1);
  }

  /** from-scratch snappy decode (public format_description.txt — the
   *  same element grammar as sources/snappy_codec.py, kept in byte-level
   *  agreement by the cross-engine fuzz): little-endian varint preamble,
   *  then literal / 1-2-4-byte-offset copy elements; copies may overlap
   *  (LZ77 run repetition). Every element is bounds-checked — corrupt
   *  lengths/offsets throw instead of reading or writing out of range. */
  static byte[] snappyDecompress(byte[] data, int csLen) {
    long ulen = 0;
    int shift = 0, p = 0;
    while (true) {
      if (p >= csLen)
        throw new RuntimeException("snappy: truncated length preamble");
      byte b = data[p++];
      ulen |= (long) (b & 0x7F) << shift;
      if ((b & 0x80) == 0) break;
      shift += 7;
      if (shift > 35)
        throw new RuntimeException("snappy: length preamble overflow");
    }
    if (ulen > Integer.MAX_VALUE - 8)
      throw new RuntimeException("snappy: block claims " + ulen + " bytes");
    // densest legal element: 3-byte copy emitting 64 bytes (~21.3x) —
    // cap at 32x remaining input so a tiny corrupt block cannot force a
    // 2 GB allocation (same guard as the Python twin)
    if (ulen > Math.max(64L, (long) (csLen - p) * 32))
      throw new RuntimeException(
          "snappy: preamble claims " + ulen + " bytes from "
              + (csLen - p) + " input bytes — corrupt");
    byte[] out = new byte[(int) ulen];
    int o = 0;
    while (p < csLen) {
      int tag = data[p++] & 0xFF;
      int kind = tag & 3;
      if (kind == 0) { // literal
        int len = tag >>> 2;
        if (len >= 60) {
          int nb = len - 59; // 1..4 little-endian extra length bytes
          if (p + nb > csLen)
            throw new RuntimeException("snappy: truncated literal length");
          len = 0;
          for (int k = 0; k < nb; k++) len |= (data[p + k] & 0xFF) << (8 * k);
          p += nb;
          if (len < 0)
            throw new RuntimeException("snappy: literal length overflow");
        }
        len += 1;
        if (p + len > csLen || p + len < 0)
          throw new RuntimeException("snappy: literal runs past input");
        if (o + len > out.length)
          throw new RuntimeException("snappy: literal overflows output");
        System.arraycopy(data, p, out, o, len);
        p += len;
        o += len;
        continue;
      }
      int len, off;
      if (kind == 1) {
        if (p >= csLen) throw new RuntimeException("snappy: truncated copy");
        len = ((tag >>> 2) & 0x7) + 4;
        off = ((tag >>> 5) << 8) | (data[p] & 0xFF);
        p += 1;
      } else if (kind == 2) {
        if (p + 2 > csLen) throw new RuntimeException("snappy: truncated copy");
        len = (tag >>> 2) + 1;
        off = (data[p] & 0xFF) | ((data[p + 1] & 0xFF) << 8);
        p += 2;
      } else {
        if (p + 4 > csLen) throw new RuntimeException("snappy: truncated copy");
        len = (tag >>> 2) + 1;
        off = (data[p] & 0xFF) | ((data[p + 1] & 0xFF) << 8)
            | ((data[p + 2] & 0xFF) << 16) | ((data[p + 3] & 0xFF) << 24);
        p += 4;
      }
      if (off <= 0 || off > o)
        throw new RuntimeException(
            "snappy: copy offset " + off + " outside the " + o + " bytes produced");
      if (o + len > out.length)
        throw new RuntimeException("snappy: copy overflows output");
      // byte loop handles overlap (off < len) correctly by construction
      for (int k = 0; k < len; k++) { out[o] = out[o - off]; o++; }
    }
    if (o != out.length)
      throw new RuntimeException(
          "snappy: stream produced " + o + " bytes, preamble claims " + out.length);
    return out;
  }

  /** (codec, level, rawBlockBody) -> Avro-framed compressed block.
   *  level null or < 0 = the codec's default. Registered as a plain
   *  projection between the Python blocking and writing stages of
   *  write_avro_files: narrow, so file/partition identity survives. */
  public static final class CompressBlock
      implements UDF3<String, Integer, byte[], byte[]> {
    @Override
    public byte[] call(String codec, Integer level, byte[] data) {
      if (data == null) throw new RuntimeException("null block body");
      return compressBlock(codec, level == null ? -1 : level.intValue(), data);
    }
  }

  // ------------------------------------------------------------- skipping
  /** bounds-checked cursor advance for the skip path: a corrupt size in
   *  [2^31, 2^63) would wrap NEGATIVE under a bare (int) cast and move
   *  the cursor backwards — net-zero progress, an infinite loop. Bound
   *  against the remaining buffer BEFORE casting (same rule OcfRead
   *  applies to block sizes). */
  static void skipBytes(Cursor c, long n, String what) {
    if (n < 0 || n > c.buf.length - c.pos)
      throw new RuntimeException(
          "corrupt " + what + ": " + n + " with "
              + (c.buf.length - c.pos) + " bytes left");
    c.pos += (int) n;
  }

  /** advance past one encoded value without materializing it — the
   *  projection-pushdown half of decode. Size-prefixed array/map blocks
   *  (negative count, Avro spec) skip in O(1). */
  static void skip(Cursor c, Schema s) {
    switch (s.getType()) {
      case NULL: return;
      case BOOLEAN: c.pos += 1; return;
      case INT: case LONG: case ENUM: skipLong(c); return;
      case FLOAT: c.pos += 4; return;
      case DOUBLE: c.pos += 8; return;
      case STRING: case BYTES:
        skipBytes(c, readLong(c), s.getType() + " length");
        return;
      case FIXED: c.pos += s.getFixedSize(); return;
      case ARRAY: {
        while (true) {
          long n = readLong(c);
          if (n == 0) return;
          if (n < 0) {
            skipBytes(c, readLong(c), "array block size");
            continue;
          }
          for (long i = 0; i < n; i++) skip(c, s.getElementType());
        }
      }
      case MAP: {
        while (true) {
          long n = readLong(c);
          if (n == 0) return;
          if (n < 0) {
            skipBytes(c, readLong(c), "map block size");
            continue;
          }
          for (long i = 0; i < n; i++) {
            skipBytes(c, readLong(c), "map key length");
            skip(c, s.getValueType());
          }
        }
      }
      case RECORD: {
        for (Schema.Field f : s.getFields()) skip(c, f.schema());
        return;
      }
      case UNION:
        skip(c, s.getTypes().get(unionIndex(c, s.getTypes().size())));
        return;
      default:
        throw new RuntimeException("jvm codec cannot skip " + s.getType());
    }
  }

  static void skipLong(Cursor c) {
    while ((c.buf[c.pos] & 0x80) != 0) c.pos++;
    c.pos++;
  }

  // ------------------------------------------ OCF read: Catalyst values
  /** One compiled step of a decode plan: reads one encoded value at the
   *  cursor and returns it as a Catalyst value. */
  interface Dec {
    Object read(Cursor c);
  }

  /** A record as a GenericInternalRow. A null step byte-skips its field
   *  (projected reads); only the other steps take an output slot. */
  static final class RecordDec implements Dec {
    final Schema[] types;
    final Dec[] steps;
    int width = 0;

    RecordDec(Schema rec) {
      types = rec.getFields().stream().map(Schema.Field::schema).toArray(Schema[]::new);
      steps = new Dec[types.length];
    }

    /** Builds the steps: entry(j) is TRUE to decode field j whole, a map
     *  to keep only that sub-tree of it (nested dotted pruning, see
     *  projPlan), null to skip it. */
    @SuppressWarnings("unchecked")
    RecordDec fill(java.util.function.IntFunction<Object> entry,
        IdentityHashMap<Schema, Dec> named) {
      for (int j = 0; j < steps.length; j++) {
        Object t = entry.apply(j);
        if (t == Boolean.TRUE) steps[j] = catalystDec(types[j], named);
        else if (t != null)
          steps[j] = projectedField(types[j], (Map<String, Object>) t, named);
        if (steps[j] != null) width++;
      }
      return this;
    }

    @Override
    public Object read(Cursor c) {
      Object[] vals = new Object[width];
      int p = 0;
      for (int i = 0; i < steps.length; i++) {
        if (steps[i] == null) skip(c, types[i]);
        else vals[p++] = steps[i].read(c);
      }
      return new GenericInternalRow(vals);
    }
  }

  /** Decode plans, built once per (schema JSON, projection CSV) per JVM. */
  static final ConcurrentHashMap<String, Dec> OCF_PLANS = new ConcurrentHashMap<>();

  static Dec ocfPlan(String schemaJson, String keepCsv) {
    return OCF_PLANS.computeIfAbsent(schemaJson + "\0" + keepCsv, k -> {
      Schema s = schemaOf(schemaJson);
      IdentityHashMap<Schema, Dec> named = new IdentityHashMap<>();
      return keepCsv.isEmpty() ? catalystDec(s, named)
          : projectedSub(s, projPlan(keepCsv), named);
    });
  }

  /** A projection CSV as a tree, {name: TRUE | nested tree}: TRUE keeps
   *  that field whole, a nested tree keeps only that RECURSIVE sub-tree
   *  of a record field (dotted "a.b.c" entries, any depth — parquet-style
   *  nested pruning, mirroring the Python projected_field_steps). The CSV
   *  arrives canonical from the Python validator: no entry is a prefix of
   *  another. */
  static Map<String, Object> projPlan(String keepCsv) {
    java.util.HashMap<String, Object> tree = new java.util.HashMap<>();
    for (String entry : keepCsv.split(",")) {
      String[] parts = entry.split("\\.");
      java.util.HashMap<String, Object> cur = tree;
      for (int d = 0; d < parts.length; d++) {
        if (d == parts.length - 1) {
          cur.put(parts[d], Boolean.TRUE);
          break;
        }
        Object nxt = cur.get(parts[d]);
        if (nxt == Boolean.TRUE) break;  // shorter entry keeps it all
        if (nxt == null) {
          nxt = new java.util.HashMap<String, Object>();
          cur.put(parts[d], nxt);
        }
        @SuppressWarnings("unchecked")
        java.util.HashMap<String, Object> nxtMap =
            (java.util.HashMap<String, Object>) nxt;
        cur = nxtMap;
      }
    }
    return tree;
  }

  /** The whole value of one schema node as a Catalyst value, compiled.
   *  A record's plan enters `named` (by identity) before its fields are
   *  built, so a recursive type refers back to its own plan instead of
   *  expanding forever; every cycle passes through such a record. The
   *  transparent avrospark.unwrap record reads as its one field. */
  static Dec catalystDec(Schema s, IdentityHashMap<Schema, Dec> named) {
    switch (s.getType()) {
      case NULL:
        return c -> null;
      case BOOLEAN:
        return c -> c.buf[c.pos++] != 0;
      case INT:
        return c -> (int) readLong(c);
      case LONG:
        return c -> readLong(c);
      case FLOAT:
        return c -> {
          int bits = (c.buf[c.pos] & 0xFF)
              | (c.buf[c.pos + 1] & 0xFF) << 8
              | (c.buf[c.pos + 2] & 0xFF) << 16
              | (c.buf[c.pos + 3] & 0xFF) << 24;
          c.pos += 4;
          return Float.intBitsToFloat(bits);
        };
      case DOUBLE:
        return c -> {
          long bits = 0;
          for (int i = 0; i < 8; i++) bits |= (long) (c.buf[c.pos + i] & 0xFF) << (8 * i);
          c.pos += 8;
          return Double.longBitsToDouble(bits);
        };
      case STRING:
        return AvroCodecUDF::readUtf8;
      case BYTES:
        return c -> readBytes(c, (int) readLong(c));
      case FIXED: {
        int n = s.getFixedSize();
        return c -> readBytes(c, n);
      }
      case ENUM: {
        java.util.ArrayList<UTF8String> syms = new java.util.ArrayList<>();
        for (String sym : s.getEnumSymbols()) syms.add(UTF8String.fromString(sym));
        return c -> syms.get((int) readLong(c));
      }
      case ARRAY: {
        Dec it = catalystDec(s.getElementType(), named);
        return c -> readArray(c, it);
      }
      case MAP: {
        Dec vt = catalystDec(s.getValueType(), named);
        return c -> readMap(c, vt);
      }
      case RECORD: {
        if (isUnwrap(s)) return catalystDec(s.getFields().get(0).schema(), named);
        Dec seen = named.get(s);
        if (seen != null) return seen;
        RecordDec rec = new RecordDec(s);
        named.put(s, rec);
        return rec.fill(j -> Boolean.TRUE, named);
      }
      case UNION: {
        List<Schema> ts = s.getTypes();
        Dec[] br = new Dec[ts.size()];
        for (int i = 0; i < br.length; i++) br[i] = catalystDec(ts.get(i), named);
        int nIdx = nullBranch(ts);
        if (br.length == 2 && nIdx >= 0 && !isUnwrap(ts.get(1 - nIdx)))
          return c -> br[unionIndex(c, 2)].read(c);  // plain nullable value
        // general union: tagged struct ($type$, one slot per non-null
        // branch). The null branch is a tagged value, not an outer null:
        // evolution and flatten plans key on $type$.
        int[] slot = new int[br.length];
        int width = 1;
        for (int i = 0; i < br.length; i++)
          if (ts.get(i).getType() != Schema.Type.NULL) slot[i] = width++;
        int w = width;
        return c -> {
          int idx = unionIndex(c, br.length);
          Object[] vals = new Object[w];
          vals[0] = idx;
          if (slot[idx] > 0) vals[slot[idx]] = br[idx].read(c);
          return new GenericInternalRow(vals);
        };
      }
      default:
        throw new RuntimeException("jvm codec cannot decode " + s.getType());
    }
  }

  /** A record or a union of records and null, kept to the sub-tree's
   *  fields and byte-skipping the rest; any other shape raises when a
   *  value reaches it. */
  static Dec projectedField(
      Schema fs, Map<String, Object> tree, IdentityHashMap<Schema, Dec> named) {
    if (fs.getType() != Schema.Type.UNION) return projectedSub(fs, tree, named);
    List<Schema> ts = fs.getTypes();
    Dec[] br = new Dec[ts.size()];
    for (int i = 0; i < br.length; i++)
      br[i] = ts.get(i).getType() == Schema.Type.NULL
          ? c -> null : projectedSub(ts.get(i), tree, named);
    return c -> br[unionIndex(c, br.length)].read(c);
  }

  static Dec projectedSub(
      Schema rec, Map<String, Object> tree, IdentityHashMap<Schema, Dec> named) {
    if (rec.getType() != Schema.Type.RECORD) {
      String msg = "nested projection requires a record field, got " + rec.getType();
      return c -> { throw new RuntimeException(msg); };
    }
    List<Schema.Field> fields = rec.getFields();
    return new RecordDec(rec).fill(j -> tree.get(fields.get(j).name()), named);
  }

  /** A string as UTF8String: all-ASCII bytes as a view into the block,
   *  anything else through java.lang.String, which replaces invalid UTF-8
   *  with U+FFFD. A length outside the block takes the String path too,
   *  which raises StringIndexOutOfBoundsException. */
  static UTF8String readUtf8(Cursor c) {
    int n = (int) readLong(c);
    byte[] b = c.buf;
    int p = c.pos;
    if (n >= 0 && n <= b.length - p) {
      int end = p + n;
      int i = p;
      while (i < end && b[i] >= 0) i++;
      if (i == end) {
        c.pos = end;
        return UTF8String.fromBytes(b, p, n);
      }
    }
    UTF8String out = UTF8String.fromString(new String(b, p, n, StandardCharsets.UTF_8));
    c.pos = p + n;
    return out;
  }

  /** n bytes as a copy, never a view: a bytes or fixed value outlives
   *  the block it was read from. */
  static byte[] readBytes(Cursor c, int n) {
    byte[] out = new byte[n];
    System.arraycopy(c.buf, c.pos, out, 0, n);
    c.pos += n;
    return out;
  }

  static Object readArray(Cursor c, Dec it) {
    java.util.ArrayList<Object> out = new java.util.ArrayList<>();
    while (true) {
      long n = readLong(c);
      if (n == 0) return new GenericArrayData(out.toArray());
      if (n < 0) { n = -n; readLong(c); }
      for (long i = 0; i < n; i++) out.add(it.read(c));
    }
  }

  /** A map as ArrayBasedMapData, collected in a LinkedHashMap: entries
   *  keep their wire order, and a repeated key keeps its first position
   *  and takes the last value. */
  static Object readMap(Cursor c, Dec vt) {
    java.util.LinkedHashMap<UTF8String, Object> out = new java.util.LinkedHashMap<>();
    while (true) {
      long n = readLong(c);
      if (n == 0)
        return new ArrayBasedMapData(new GenericArrayData(out.keySet().toArray()),
            new GenericArrayData(out.values().toArray()));
      if (n < 0) { n = -n; readLong(c); }
      for (long i = 0; i < n; i++) {
        UTF8String k = readUtf8(c);
        out.put(k, vt.read(c));
      }
    }
  }

  /** The records of some OCF blocks of one byte array, decoded lazily:
   *  one block is inflated when the previous one is used up. `blocks`
   *  holds a (count, offset, size) triple per block. */
  static final class Records extends scala.collection.AbstractIterator<InternalRow> {
    final Dec plan;
    final String codec;
    final byte[] src;
    final long[] blocks;
    int nextBlock = 0;
    Cursor c;
    int left = 0;  // records still to read from c

    Records(Dec plan, String codec, byte[] src, long[] blocks) {
      this.plan = plan;
      this.codec = codec;
      this.src = src;
      this.blocks = blocks;
    }

    @Override
    public boolean hasNext() {
      while (left == 0) {
        if (nextBlock == blocks.length) return false;
        int off = (int) blocks[nextBlock + 1];
        int size = (int) blocks[nextBlock + 2];
        byte[] data = off == 0 && size == src.length
            ? src : Arrays.copyOfRange(src, off, off + size);
        c = new Cursor(decompressBlock(codec, data));
        left = (int) blocks[nextBlock];
        nextBlock += 3;
        if (left <= 0) { left = 0; checkEnd(); }
      }
      return true;
    }

    @Override
    public InternalRow next() {
      if (!hasNext()) throw new java.util.NoSuchElementException();
      InternalRow row = (InternalRow) plan.read(c);
      if (--left == 0) checkEnd();
      return row;
    }

    void checkEnd() {
      if (c.pos != c.buf.length)
        throw new RuntimeException(
            "trailing bytes in OCF block: " + (c.buf.length - c.pos));
    }
  }

  /** Whole OCF file bytes → its records. The whole container framing is
   *  checked before the first block is decoded. expectSchemaJson, when
   *  non-empty, must BYTE-equal the embedded avro.schema — the streaming
   *  reader's per-file guard (batch readers verify canonically at plan
   *  time and pass ""). A byte mismatch on a canonically-equal foreign
   *  rendering is a loud false positive by design: the error says how to
   *  verify canonically instead. */
  static Records fileRecords(Dec plan, String expectSchemaJson, byte[] blob) {
    if (blob.length < 4
        || blob[0] != 'O' || blob[1] != 'b' || blob[2] != 'j' || blob[3] != 1)
      throw new RuntimeException("not an Avro object container file (bad magic)");
    Cursor c = new Cursor(blob);
    c.pos = 4;
    String codec = "null";
    String schemaJson = null;
    while (true) {  // file metadata map (may be block-size-prefixed)
      long n = readLong(c);
      if (n == 0) break;
      if (n < 0) { n = -n; readLong(c); }
      for (long i = 0; i < n; i++) {
        int klen = (int) readLong(c);
        String k = new String(c.buf, c.pos, klen, StandardCharsets.UTF_8);
        c.pos += klen;
        int vlen = (int) readLong(c);
        if (k.equals("avro.codec"))
          codec = new String(c.buf, c.pos, vlen, StandardCharsets.UTF_8);
        if (k.equals("avro.schema"))
          schemaJson = new String(c.buf, c.pos, vlen, StandardCharsets.UTF_8);
        c.pos += vlen;
      }
    }
    if (!expectSchemaJson.isEmpty() && !expectSchemaJson.equals(schemaJson))
      throw new RuntimeException(
          "OCF writer-schema mismatch: the file embeds a different schema "
              + "rendering than this stream was planned with (silent garbage "
              + "otherwise). For canonically-equal foreign renderings, read "
              + "with engine='python', which compares Parsing Canonical Form.");
    byte[] sync = new byte[16];
    System.arraycopy(c.buf, c.pos, sync, 0, 16);
    c.pos += 16;
    long[] blocks = new long[0];
    int nb = 0;
    while (c.pos < blob.length) {
      long count = readLong(c);
      long size = readLong(c);
      if (count < 0 || size < 0 || c.pos + size + 16 > blob.length)
        throw new RuntimeException(
            "corrupt OCF: block claims " + count + " records / " + size
                + " bytes with " + (blob.length - c.pos) + " bytes left");
      if (nb == blocks.length) blocks = Arrays.copyOf(blocks, 2 * nb + 3);
      blocks[nb++] = count;
      blocks[nb++] = c.pos;
      blocks[nb++] = size;
      c.pos += (int) size;
      for (int i = 0; i < 16; i++)
        if (c.buf[c.pos + i] != sync[i])
          throw new RuntimeException("OCF sync marker mismatch");
      c.pos += 16;
    }
    return new Records(plan, codec, blob, Arrays.copyOf(blocks, nb));
  }

  /** One Avro value's bytes → its record; rejects a null input and
   *  trailing bytes. */
  static InternalRow valueRecord(Dec plan, byte[] blob) {
    if (blob == null) throw new RuntimeException("from_avro_bytes: null input value");
    Cursor c = new Cursor(blob);
    InternalRow row = (InternalRow) plan.read(c);
    if (c.pos != blob.length)
      throw new RuntimeException(
          "trailing bytes after Avro value: " + (blob.length - c.pos));
    return row;
  }

  /** The OCF read generator's function: one input row — (content) of a
   *  whole file, (codec, count, data) of one block, or, when `value`,
   *  (bytes) of one Avro value — to its records. It ships to executors
   *  as strings and a flag; the decode plan is looked up there once per
   *  copy, not per row (its key is the whole schema JSON). */
  static final class OcfRead
      extends scala.runtime.AbstractFunction1<Row, scala.collection.IterableOnce<InternalRow>>
      implements java.io.Serializable {
    final String schemaJson;
    final String keepCsv;
    final String expectSchemaJson;
    final boolean value;
    transient volatile Dec plan;

    OcfRead(String schemaJson, String keepCsv, String expectSchemaJson, boolean value) {
      this.schemaJson = schemaJson;
      this.keepCsv = keepCsv;
      this.expectSchemaJson = expectSchemaJson;
      this.value = value;
    }

    @Override
    public scala.collection.IterableOnce<InternalRow> apply(Row in) {
      Dec plan = this.plan;
      if (plan == null) this.plan = plan = ocfPlan(schemaJson, keepCsv);
      if (value) return new scala.Some<>(valueRecord(plan, (byte[]) in.get(0)));
      if (in.size() == 1) return fileRecords(plan, expectSchemaJson, (byte[]) in.get(0));
      byte[] data = (byte[]) in.get(2);
      return new Records(plan, in.getString(0),
          data, new long[] {in.getLong(1), 0, data.length});
    }
  }

  /** Builds the OCF read Column on the driver: (writer schema JSON,
   *  projection CSV or "", expected schema JSON or "", output StructType
   *  JSON, NUL-joined input column names, value flag) → a Catalyst
   *  UserDefinedGenerator whose output columns are the record's fields.
   *  With the flag set, one input column holds one Avro value per row;
   *  otherwise one input column (content) reads whole files and three
   *  (codec, count, data) read blocks. */
  public static final class OcfReadColumn {
    public Column column(String schemaJson, String keepCsv,
        String expectSchemaJson, String elementSchemaJson, String inputCols,
        boolean value) {
      java.util.ArrayList<Expression> in = new java.util.ArrayList<>();
      for (String name : inputCols.split("\0")) in.add(UnresolvedAttribute.quoted(name));
      Expression gen = new UserDefinedGenerator(
          (StructType) DataType.fromJson(elementSchemaJson),
          new OcfRead(schemaJson, keepCsv, expectSchemaJson, value),
          CollectionConverters.asScala(in).toList());
      return new Column(ExpressionColumnNode.apply(
          new UnresolvedAlias(gen, scala.Option.empty())));
    }
  }

  // ------------------------------------------------------------ file listing
  /** A file-source scan (spark.read...load()) -> every file it reads, from
   *  its own FileIndex: no job, no second listing. One "length\tpath"
   *  record per file, records joined by NUL (a path can hold a newline,
   *  never a NUL); paths print as the scan's path column. A Function, so
   *  the driver calls it on one cached instance in one round trip. */
  public static final class ScanFiles
      implements java.util.function.Function<Dataset<?>, String> {
    @Override
    public String apply(Dataset<?> scan) {
      LogicalRelation rel = (LogicalRelation) scan.queryExecution().analyzed();
      scala.collection.immutable.Seq<Expression> none =
          scala.collection.immutable.List$.MODULE$.empty();
      StringBuilder out = new StringBuilder();
      for (PartitionDirectory dir : CollectionConverters.asJava(
          ((HadoopFsRelation) rel.relation()).location().listFiles(none, none))) {
        for (FileStatusWithMetadata f : CollectionConverters.asJava(dir.files())) {
          if (out.length() > 0) out.append('\0');
          out.append(f.getLen()).append('\t').append(f.getPath().toString());
        }
      }
      return out.toString();
    }
  }

  private AvroCodecUDF() {}
}
