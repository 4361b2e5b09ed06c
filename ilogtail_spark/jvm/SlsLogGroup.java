package ilogtail.spark.pb;

import java.nio.charset.StandardCharsets;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;

import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.api.java.UDF3;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.unsafe.types.UTF8String;

/**
 * The SLS {@code LogGroup} wire codec (sls_logs.proto), walked by hand as
 * the reference's {@code ManualPBParser} does, as Spark Java UDFs.
 *
 * <p>It has the semantics of {@code decode_message}/{@code encode_message}
 * with {@code LOG_GROUP} in {@code ilogtail_spark/operators/pb.py}:
 *
 * <ul>
 *   <li>Decode skips unknown fields. A wire-type mismatch on a known field,
 *       a truncated or overrunning field, a varint longer than 10 bytes,
 *       malformed UTF-8 in any string (the unused {@code Log.Values}
 *       included) and a NULL payload make the payload invalid.
 *   <li>A duplicate content or tag key keeps the last value at the first
 *       key's position; a repeated singular field keeps the last value.
 *   <li>A missing {@code time} or {@code timeNs} decodes as NULL. A
 *       {@code time} varint above 2^63 - 1 decodes as its low 64 bits in
 *       two's complement, so a negative time written by {@link Encode}
 *       reads back as itself.
 *   <li>Encode writes fields in field-number order. A NULL time is written
 *       as 0 and a NULL content value as "". A NULL {@code timeNs}, or one
 *       outside uint32, is omitted; a NULL topic is omitted.
 * </ul>
 *
 * <p>Build the jar beside this file with {@code build.sh}.
 */
public final class SlsLogGroup {
  private SlsLogGroup() {}

  /**
   * {@code binary -> array<struct<topic, source, category, machine_uuid,
   * tags, log_time, time_ns, contents>>}: one element per {@code Log}; an
   * invalid payload gives none.
   */
  public static final class Decode implements UDF1<byte[], List<Row>> {
    @Override
    public List<Row> call(byte[] pb) {
      return decode(pb, false);
    }
  }

  /**
   * As {@link Decode}, with a trailing {@code _pb_ok} boolean; an invalid
   * payload gives one {@code _pb_ok = false} element with "" strings,
   * empty maps and NULL times.
   */
  public static final class DecodeKeepInvalid implements UDF1<byte[], List<Row>> {
    @Override
    public List<Row> call(byte[] pb) {
      return decode(pb, true);
    }
  }

  /**
   * {@code (logs array<struct<_o, _t bigint, _ns bigint, content...
   * string>>, topic string, tail binary) -> binary}: one {@code LogGroup}
   * whose logs are {@code logs} in order, each content keyed by its struct
   * field's name ({@code _o} is the sort key and is not written), then the
   * topic, then {@code tail}: the encoded fields after topic (source and
   * log tags), which are the same for every group.
   */
  public static final class Encode implements UDF3<scala.collection.Seq<Row>, String, byte[], byte[]> {
    @Override
    public byte[] call(scala.collection.Seq<Row> logs, String topic, byte[] tail) {
      Sink out = new Sink(256);
      Sink log = new Sink(256);
      byte[][] keys = null;
      int n = logs == null ? 0 : logs.length();
      for (int i = 0; i < n; i++) {
        Row r = logs.apply(i);
        if (keys == null) {
          keys = contentKeys(r.schema());
        }
        log.n = 0;
        log.tag(1, WT_VARINT);
        log.varint(r.isNullAt(1) ? 0 : r.getLong(1));
        for (int c = 0; c < keys.length; c++) {
          byte[] v = r.isNullAt(3 + c) ? EMPTY : r.getString(3 + c).getBytes(StandardCharsets.UTF_8);
          log.tag(2, WT_LEN);
          log.varint(fieldSize(keys[c].length) + fieldSize(v.length));
          log.bytes(1, keys[c]);
          log.bytes(2, v);
        }
        if (!r.isNullAt(2) && (r.getLong(2) >>> 32) == 0) {
          log.tag(4, WT_FIXED32);
          log.fixed32((int) r.getLong(2));
        }
        out.tag(1, WT_LEN);
        out.varint(log.n);
        out.append(log.a, log.n);
      }
      if (topic != null) {
        out.bytes(3, topic.getBytes(StandardCharsets.UTF_8));
      }
      out.append(tail, tail.length);
      return Arrays.copyOf(out.a, out.n);
    }
  }

  private static final int WT_VARINT = 0, WT_FIXED64 = 1, WT_LEN = 2, WT_FIXED32 = 5;
  private static final byte[] EMPTY = new byte[0];
  private static final UTF8String NONE = UTF8String.EMPTY_UTF8;
  private static final List<Row> INVALID =
      List.of(RowFactory.create(NONE, NONE, NONE, NONE, Map.of(), null, null, Map.of(), false));

  /** Thrown, without a stack trace, for any malformed payload. */
  private static final class Invalid extends Exception {
    static final Invalid PAYLOAD = new Invalid();

    private Invalid() {
      super(null, null, false, false);
    }
  }

  private static List<Row> decode(byte[] pb, boolean keepInvalid) {
    try {
      return group(pb, keepInvalid);
    } catch (Invalid e) {
      return keepInvalid ? INVALID : List.of();
    }
  }

  private static final class Log {
    Long time;
    Long timeNs;
    final Map<UTF8String, UTF8String> contents = new LinkedHashMap<>();
  }

  private static List<Row> group(byte[] pb, boolean keepInvalid) throws Invalid {
    if (pb == null) {
      throw Invalid.PAYLOAD;
    }
    Reader r = new Reader(pb);
    int end = pb.length;
    UTF8String topic = NONE, source = NONE, category = NONE, machineUuid = NONE;
    Map<UTF8String, UTF8String> tags = new LinkedHashMap<>();
    List<Log> logs = new ArrayList<>();
    while (r.pos < end) {
      int wt = r.tag(end, 6);
      switch (r.field) {
        case 1 -> logs.add(log(r, r.message(wt, end)));
        case 2 -> category = r.string(wt, end);
        case 3 -> topic = r.string(wt, end);
        case 4 -> source = r.string(wt, end);
        case 5 -> machineUuid = r.string(wt, end);
        case 6 -> pair(r, r.message(wt, end), tags);
        default -> r.skip(wt, end);
      }
    }
    List<Row> rows = new ArrayList<>(logs.size());
    for (Log log : logs) {
      rows.add(keepInvalid
          ? RowFactory.create(topic, source, category, machineUuid, tags, log.time, log.timeNs, log.contents, true)
          : RowFactory.create(topic, source, category, machineUuid, tags, log.time, log.timeNs, log.contents));
    }
    return rows;
  }

  private static Log log(Reader r, int end) throws Invalid {
    Log log = new Log();
    while (r.pos < end) {
      int wt = r.tag(end, 4);
      switch (r.field) {
        case 1 -> {
          r.expect(wt, WT_VARINT);
          log.time = r.varint(end);
        }
        case 2 -> pair(r, r.message(wt, end), log.contents);
        case 3 -> r.string(wt, end);
        case 4 -> {
          r.expect(wt, WT_FIXED32);
          log.timeNs = Integer.toUnsignedLong(r.fixed32(end));
        }
        default -> r.skip(wt, end);
      }
    }
    return log;
  }

  /** A {@code Log.Content} or {@code LogTag}: {@code key = 1, value = 2}. */
  private static void pair(Reader r, int end, Map<UTF8String, UTF8String> into) throws Invalid {
    UTF8String key = NONE, value = NONE;
    while (r.pos < end) {
      int wt = r.tag(end, 2);
      switch (r.field) {
        case 1 -> key = r.string(wt, end);
        case 2 -> value = r.string(wt, end);
        default -> r.skip(wt, end);
      }
    }
    into.put(key, value);
  }

  /**
   * A cursor over one payload. Every read is bounded by the end of the
   * message it is in, so a field that crosses that end is invalid where it
   * starts, not at the enclosing message's framing check.
   */
  private static final class Reader {
    final byte[] buf;
    int pos;
    /** The last tag's field number, or 0 when it is above the message's highest. */
    int field;
    /** The last varint had bits above the 64th. */
    boolean wide;

    Reader(byte[] buf) {
      this.buf = buf;
    }

    long varint(int end) throws Invalid {
      long v = 0;
      wide = false;
      for (int shift = 0; shift < 64; shift += 7) {
        if (pos >= end) {
          throw Invalid.PAYLOAD;
        }
        int b = buf[pos++];
        v |= (long) (b & 0x7F) << shift;
        if (shift == 63 && (b & 0x7E) != 0) {
          wide = true;
        }
        if (b >= 0) {
          return v;
        }
      }
      throw Invalid.PAYLOAD; // longer than 10 bytes
    }

    /** Reads a tag, sets {@link #field} and returns the wire type. */
    int tag(int end, int maxField) throws Invalid {
      long tag = varint(end);
      long f = tag >>> 3;
      field = wide || f > maxField ? 0 : (int) f;
      return (int) tag & 7;
    }

    void expect(int wt, int want) throws Invalid {
      if (wt != want) {
        throw Invalid.PAYLOAD;
      }
    }

    /** A length prefix that fits before {@code end}. */
    int length(int end) throws Invalid {
      long n = varint(end);
      if (wide || n < 0 || n > end - pos) {
        throw Invalid.PAYLOAD;
      }
      return (int) n;
    }

    /** Enters a length-delimited message; returns its end. */
    int message(int wt, int end) throws Invalid {
      expect(wt, WT_LEN);
      int n = length(end);
      return pos + n;
    }

    UTF8String string(int wt, int end) throws Invalid {
      expect(wt, WT_LEN);
      int n = length(end);
      checkUtf8(buf, pos, pos + n);
      UTF8String s = n == 0 ? NONE : UTF8String.fromBytes(buf, pos, n);
      pos += n;
      return s;
    }

    int fixed32(int end) throws Invalid {
      if (end - pos < 4) {
        throw Invalid.PAYLOAD;
      }
      int v = (buf[pos] & 0xFF) | (buf[pos + 1] & 0xFF) << 8
          | (buf[pos + 2] & 0xFF) << 16 | (buf[pos + 3] & 0xFF) << 24;
      pos += 4;
      return v;
    }

    /** Skips an unknown field (ManualPBParser::skipField). */
    void skip(int wt, int end) throws Invalid {
      int n;
      switch (wt) {
        case WT_VARINT -> {
          varint(end);
          return;
        }
        case WT_FIXED64 -> n = 8;
        case WT_LEN -> n = length(end);
        case WT_FIXED32 -> n = 4;
        default -> throw Invalid.PAYLOAD;
      }
      if (end - pos < n) {
        throw Invalid.PAYLOAD;
      }
      pos += n;
    }
  }

  /** Strict UTF-8 (Unicode Table 3-7): no overlongs, surrogates or code points above U+10FFFF. */
  private static void checkUtf8(byte[] b, int i, int end) throws Invalid {
    while (i < end) {
      int c = b[i];
      if (c >= 0) {
        i++;
        continue;
      }
      c &= 0xFF;
      int more, lo = 0x80, hi = 0xBF;
      if (c >= 0xC2 && c <= 0xDF) {
        more = 1;
      } else if (c >= 0xE0 && c <= 0xEF) {
        more = 2;
        lo = c == 0xE0 ? 0xA0 : lo;
        hi = c == 0xED ? 0x9F : hi;
      } else if (c >= 0xF0 && c <= 0xF4) {
        more = 3;
        lo = c == 0xF0 ? 0x90 : lo;
        hi = c == 0xF4 ? 0x8F : hi;
      } else {
        throw Invalid.PAYLOAD;
      }
      if (end - i <= more) {
        throw Invalid.PAYLOAD;
      }
      int c1 = b[i + 1] & 0xFF;
      if (c1 < lo || c1 > hi) {
        throw Invalid.PAYLOAD;
      }
      for (int k = 2; k <= more; k++) {
        if ((b[i + k] & 0xC0) != 0x80) {
          throw Invalid.PAYLOAD;
        }
      }
      i += more + 1;
    }
  }

  /** UTF-8 names of the content fields: those after {@code _o, _t, _ns}. */
  private static byte[][] contentKeys(StructType schema) {
    String[] names = schema.fieldNames();
    byte[][] keys = new byte[names.length - 3][];
    for (int c = 0; c < keys.length; c++) {
      keys[c] = names[3 + c].getBytes(StandardCharsets.UTF_8);
    }
    return keys;
  }

  private static int varintSize(long v) {
    int n = 1;
    while ((v & ~0x7FL) != 0) {
      v >>>= 7;
      n++;
    }
    return n;
  }

  /** Size of a field-1..15 length-delimited field with an {@code n}-byte body. */
  private static int fieldSize(int n) {
    return 1 + varintSize(n) + n;
  }

  /** A growable byte buffer with the protobuf writes encode needs. */
  private static final class Sink {
    byte[] a;
    int n;

    Sink(int capacity) {
      a = new byte[capacity];
    }

    private void room(int k) {
      if (a.length - n < k) {
        a = Arrays.copyOf(a, Math.max(a.length * 2, n + k));
      }
    }

    void tag(int field, int wt) {
      varint(field << 3 | wt);
    }

    void varint(long v) {
      room(10);
      while ((v & ~0x7FL) != 0) {
        a[n++] = (byte) (v & 0x7F | 0x80);
        v >>>= 7;
      }
      a[n++] = (byte) v;
    }

    void fixed32(int v) {
      room(4);
      a[n++] = (byte) v;
      a[n++] = (byte) (v >>> 8);
      a[n++] = (byte) (v >>> 16);
      a[n++] = (byte) (v >>> 24);
    }

    void append(byte[] b, int len) {
      room(len);
      System.arraycopy(b, 0, a, n, len);
      n += len;
    }

    void bytes(int field, byte[] b) {
      tag(field, WT_LEN);
      varint(b.length);
      append(b, b.length);
    }
  }
}
