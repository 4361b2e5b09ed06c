package ilogtail.spark.time;

import java.sql.Timestamp;
import java.time.DateTimeException;
import java.time.Instant;
import java.time.LocalDate;
import java.time.LocalDateTime;
import java.time.ZoneOffset;
import java.util.ArrayList;
import java.util.List;
import java.util.Map;
import java.util.concurrent.ConcurrentHashMap;

import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF4;

/**
 * The native timestamp parser as a Spark Java UDF: the NetBSD {@code
 * strptime_ns} character scanner ({@code core/common/Strptime.cpp:83-533})
 * and its {@code Strptime} wrapper ({@code core/common/TimeUtil.cpp:93-160}).
 *
 * <p>{@code (src string, fmt string, source_year int, now timestamp) ->
 * struct<ok boolean, sec bigint, nsec bigint>}. {@code sec} is the {@code
 * mktime} value of the parsed wall clock in UTC, the session zone that
 * {@code get_spark} pins and the zone the reference runs under; the caller
 * subtracts the SourceTimezone offset. A format is compiled once per UDF
 * instance and kept in a small map keyed by its text.
 *
 * <ul>
 *   <li>{@code conv_num} is greedy and never gives a digit back: it takes
 *       the next digit while {@code value * 10 <= ulim}, then range-checks.
 *       {@code %m} on {@code 19} fails; on {@code 92} it parses 9 and
 *       leaves {@code 2}.
 *   <li>Month and day names match case-insensitively (ASCII), full names
 *       first, then abbreviations, and never retry a shorter name.
 *   <li>{@code %z} and {@code %Z} are consumed, not applied. Composites
 *       ({@code %c %D %F %R %r %T %X %x}) expand; {@code %E}/{@code %O} are
 *       skipped; text after the format is ignored.
 *   <li>{@code %f} keeps its first 9 digits. {@code %s} is the whole-format
 *       strtoll law of {@code Strptime.cpp:84-112}; a run past int64 fails.
 *   <li>Seconds follow {@code mktime}'s normalization: Feb 30 is Mar 2, and
 *       second 61 rolls into the next minute. A year whose first of the
 *       month lies outside Spark's timestamp range gives a NULL {@code sec}.
 *   <li>A format without a year uses {@code source_year}: below 0 gives a
 *       NULL {@code sec}, above 0 is the year, 0 deduces it from {@code
 *       now} ({@code DeduceYear}).
 *   <li>An unknown conversion, a NULL source and a NULL format fail.
 * </ul>
 *
 * <p>Build the jar beside this file with {@code build.sh}.
 */
public final class Strptime implements UDF4<String, String, Integer, Object, Row> {
  private static final long serialVersionUID = 1L;
  private static final Row FAIL = RowFactory.create(false, null, null);
  private static final int MAX_FORMATS = 64;
  // the compiled form of a format with an unknown conversion
  private static final Op[] NEVER = {};

  private transient Map<String, Op[]> formats;

  @Override
  public Row call(String src, String fmt, Integer sourceYear, Object now) {
    if (src == null || fmt == null) {
      return FAIL;
    }
    if (fmt.equals("%s")) {
      return epoch(src);
    }
    Map<String, Op[]> cache = formats;
    if (cache == null) {
      cache = formats = new ConcurrentHashMap<>();
    }
    Op[] ops = cache.get(fmt);
    if (ops == null) {
      if (cache.size() >= MAX_FORMATS) {
        cache.clear();
      }
      List<Op> out = new ArrayList<>();
      ops = compile(fmt, out) ? out.toArray(new Op[0]) : NEVER;
      cache.put(fmt, ops);
    }
    return ops == NEVER ? FAIL : parse(ops, src, sourceYear == null ? -1 : sourceYear, now);
  }

  /**
   * The {@code %s} leg: {@code n = strtoll(src)}; the seconds are the first
   * {@code min(len, 10)} characters of {@code n}'s decimal text (sign
   * counted, leading zeros gone), and the fraction is the digit run at
   * that offset of the raw source, so {@code +5} parses as 5 s and 5e8 ns.
   * Seconds of 0 fail.
   */
  private static Row epoch(String src) {
    Tm t = new Tm(src);
    t.skipSpace();
    int start = t.i;
    if (t.at(start) == '+' || t.at(start) == '-') {
      t.i++;
    }
    int end = t.digits(t.i);
    long n;
    try {
      n = end > t.i ? Long.parseLong(src.substring(start, end)) : 0;
    } catch (NumberFormatException e) {
      return FAIL;
    }
    String text = Long.toString(n);
    int width = Math.min(text.length(), 10);
    long sec = Long.parseLong(text.substring(0, width));
    return sec == 0 ? FAIL : RowFactory.create(true, sec, nanos(src, width, t.digits(width)));
  }

  private static Row parse(Op[] ops, String src, int sourceYear, Object now) {
    Tm t = new Tm(src);
    try {
      for (Op op : ops) {
        t.step(op);
      }
    } catch (Fail e) {
      return FAIL;
    }
    Long year = null;
    if (t.hasYear) {
      year = t.year + 1900;
    } else if (sourceYear > 0) {
      year = (long) sourceYear;
    } else if (sourceYear == 0) {
      year = deduceYear(t.mon, t.mday, now);
    }
    return RowFactory.create(true, year == null ? null : mktime(year, t), t.nsec);
  }

  /** What one step of a compiled format matches. */
  private enum Kind {
    SPACE, LITERAL, NUMBER, FRACTION, AM_PM, MONTH_NAME, DAY_NAME, ISO_YEAR, ZONE_OFFSET, ZONE_NAME
  }

  /** The struct tm field a NUMBER sets. */
  private enum Field {
    YEAR, YEAR_OF_CENTURY, CENTURY, MONTH, DAY, HOUR, HOUR12, MINUTE, SECOND, UNUSED
  }

  private static final String[] MONTHS = {
    "January", "February", "March", "April", "May", "June", "July", "August",
    "September", "October", "November", "December",
    "Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec",
  };
  private static final String[] DAYS = {
    "Sunday", "Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday",
    "Sun", "Mon", "Tue", "Wed", "Thu", "Fri", "Sat",
  };
  // North-American zone names %z accepts, case-insensitively
  private static final String[] ZONES = {"EST", "CST", "MST", "PST", "EDT", "CDT", "MDT", "PDT"};
  // military zone letters %z accepts; G, U and Z are matched earlier or not at all
  private static final String MILITARY = "ABCDEFHILMNOPQRSTVWXY";

  /** One step of a compiled format. */
  private record Op(Kind kind, Field field, int lo, int hi, char ch) {
    static Op of(Kind kind) {
      return new Op(kind, Field.UNUSED, 0, 0, '\0');
    }

    static Op number(Field field, int lo, int hi) {
      return new Op(Kind.NUMBER, field, lo, hi, '\0');
    }
  }

  /** Appends the ops of {@code fmt} to {@code ops}; false on an unknown conversion. */
  private static boolean compile(String fmt, List<Op> ops) {
    int i = 0;
    while (i < fmt.length()) {
      char c = fmt.charAt(i++);
      if (c != '%') {
        ops.add(isSpace(c) ? Op.of(Kind.SPACE) : new Op(Kind.LITERAL, Field.UNUSED, 0, 0, c));
        continue;
      }
      if (i < fmt.length() && (fmt.charAt(i) == 'E' || fmt.charAt(i) == 'O')) {
        i++;
      }
      if (i >= fmt.length()) {
        return false;
      }
      char s = fmt.charAt(i++);
      String composite = switch (s) {
        case 'c' -> "%a %b %d %H:%M:%S %Y";
        case 'D', 'x' -> "%m/%d/%y";
        case 'F' -> "%Y-%m-%d";
        case 'R' -> "%H:%M";
        case 'r' -> "%I:%M:%S %p";
        case 'T', 'X' -> "%H:%M:%S";
        default -> null;
      };
      Op op = s == '%' ? new Op(Kind.LITERAL, Field.UNUSED, 0, 0, '%') : isSpace(s) ? Op.of(Kind.SPACE) : switch (s) {
        case 'Y' -> Op.number(Field.YEAR, 0, 9999);
        case 'y' -> Op.number(Field.YEAR_OF_CENTURY, 0, 99);
        case 'C' -> Op.number(Field.CENTURY, 0, 99);
        case 'm' -> Op.number(Field.MONTH, 1, 12);
        case 'd', 'e' -> Op.number(Field.DAY, 1, 31);
        case 'H', 'k' -> Op.number(Field.HOUR, 0, 23);
        case 'I', 'l' -> Op.number(Field.HOUR12, 1, 12);
        case 'M' -> Op.number(Field.MINUTE, 0, 59);
        case 'S' -> Op.number(Field.SECOND, 0, 61);
        case 'j' -> Op.number(Field.UNUSED, 1, 366);
        case 'U', 'W', 'V' -> Op.number(Field.UNUSED, 0, 53);
        case 'w' -> Op.number(Field.UNUSED, 0, 6);
        case 'u' -> Op.number(Field.UNUSED, 1, 7);
        case 'g' -> Op.number(Field.UNUSED, 0, 99);
        case 'f' -> Op.of(Kind.FRACTION);
        case 'p' -> Op.of(Kind.AM_PM);
        case 'b', 'B', 'h' -> Op.of(Kind.MONTH_NAME);
        case 'a', 'A' -> Op.of(Kind.DAY_NAME);
        case 'G' -> Op.of(Kind.ISO_YEAR);
        case 'z' -> Op.of(Kind.ZONE_OFFSET);
        case 'Z' -> Op.of(Kind.ZONE_NAME);
        case 'n', 't' -> Op.of(Kind.SPACE);
        default -> null; // %s inside a longer format included
      };
      if (composite != null) {
        compile(composite, ops);
      } else if (op == null) {
        return false;
      } else {
        ops.add(op);
      }
    }
    return true;
  }

  /** A failed parse; thrown without a stack trace. */
  private static final class Fail extends Exception {
    private static final long serialVersionUID = 1L;
    static final Fail INSTANCE = new Fail();

    private Fail() {
      super(null, null, false, false);
    }
  }

  /** A parse in progress: the cursor over the source and the struct tm it fills. */
  private static final class Tm {
    final String s;
    int i;
    long year; // years since 1900, valid when hasYear
    long mon = 1;
    long mday;
    long hour;
    long min;
    long sec;
    long nsec;
    boolean hasYear;
    boolean splitYear;

    Tm(String s) {
      this.s = s;
    }

    void step(Op op) throws Fail {
      switch (op.kind()) {
        case SPACE -> skipSpace();
        case LITERAL -> {
          expect(i < s.length() && s.charAt(i) == op.ch());
          i++;
        }
        case NUMBER -> set(op.field(), number(op.lo(), op.hi()));
        case FRACTION -> {
          int end = digits(i);
          expect(end > i);
          nsec = nanos(s, i, end);
          i = end;
        }
        case AM_PM -> {
          boolean am = startsWith("AM");
          expect((am || startsWith("PM")) && hour <= 11);
          hour += am ? 0 : 12;
          i += 2;
        }
        case MONTH_NAME -> mon = name(MONTHS) % 12 + 1;
        case DAY_NAME -> name(DAYS);
        case ISO_YEAR -> {
          expect(i < s.length());
          i = digits(i + Character.charCount(s.codePointAt(i)));
        }
        case ZONE_OFFSET -> {
          skipSpace();
          zone();
        }
        case ZONE_NAME -> i += startsWith("GMT") || startsWith("UTC") ? 3 : 0;
      }
    }

    /** conv_num: the first digit, then each next one while value * 10 <= hi. */
    long number(int lo, int hi) throws Fail {
      expect(isDigit(at(i)));
      long v = 0;
      int rulim = hi;
      do {
        v = v * 10 + (s.charAt(i++) - '0');
        rulim /= 10;
      } while (v * 10 <= hi && rulim != 0 && isDigit(at(i)));
      expect(v >= lo && v <= hi);
      return v;
    }

    void set(Field field, long v) {
      switch (field) {
        case YEAR -> {
          year = v - 1900;
          hasYear = true;
        }
        case YEAR_OF_CENTURY -> {
          year = splitYear ? year - year % 100 + v : v <= 68 ? v + 100 : v;
          hasYear = splitYear = true;
        }
        case CENTURY -> {
          year = v * 100 - 1900 + (splitYear ? year % 100 : 0);
          hasYear = splitYear = true;
        }
        case MONTH -> mon = v;
        case DAY -> mday = v;
        case HOUR -> hour = v;
        case HOUR12 -> hour = v == 12 ? 0 : v;
        case MINUTE -> min = v;
        case SECOND -> sec = v;
        default -> { }
      }
    }

    /**
     * %z: GMT, UT, Z, {@code [+-]hh[[:]mm]} (exactly 2 or 4 digits, a colon
     * only after the hours, minutes below 60; a colon with no digit after
     * it is consumed), a North-American zone name or a military letter.
     */
    void zone() throws Fail {
      char c = at(i);
      if (s.startsWith("GMT", i)) {
        i += 3;
      } else if (s.startsWith("UT", i)) {
        i += 2;
      } else if (c == 'Z') {
        i++;
      } else if (c == '+' || c == '-') {
        int k = i + 3; // after the hours
        expect(isDigit(at(i + 1)) && isDigit(at(i + 2)));
        char c0 = at(k);
        char c1 = at(k + 1);
        if (c0 == ':' && c1 >= '0' && c1 <= '5' && isDigit(at(k + 2))) {
          i = k + 3;
        } else if (c0 >= '0' && c0 <= '5' && isDigit(c1)) {
          i = k + 2;
        } else if (c0 == ':' && !isDigit(c1)) {
          i = k + 1;
        } else {
          expect(!isDigit(c0) && c0 != ':');
          i = k;
        }
      } else {
        for (String zone : ZONES) {
          if (startsWith(zone)) {
            i += 3;
            return;
          }
        }
        expect(MILITARY.indexOf(c) >= 0);
        i++;
      }
    }

    /** find_string: the index of the first name the source continues with. */
    int name(String[] names) throws Fail {
      for (int k = 0; k < names.length; k++) {
        if (startsWith(names[k])) {
          i += names[k].length();
          return k;
        }
      }
      throw Fail.INSTANCE;
    }

    /** The source continues with word, ignoring ASCII case only, as java.util.regex's (?i). */
    boolean startsWith(String word) {
      if (i + word.length() > s.length()) {
        return false;
      }
      for (int k = 0; k < word.length(); k++) {
        if (lower(s.charAt(i + k)) != lower(word.charAt(k))) {
          return false;
        }
      }
      return true;
    }

    void skipSpace() {
      while (isSpace(at(i))) {
        i++;
      }
    }

    /** The end of the digit run starting at k. */
    int digits(int k) {
      while (isDigit(at(k))) {
        k++;
      }
      return k;
    }

    /** The char at k, or NUL past the end: neither a digit nor a space nor ':'. */
    char at(int k) {
      return k < s.length() ? s.charAt(k) : '\0';
    }
  }

  private static void expect(boolean ok) throws Fail {
    if (!ok) {
      throw Fail.INSTANCE;
    }
  }

  /** conv_nanosecond: the digits s[from, end), first 9 kept, scaled to ns. */
  private static long nanos(String s, int from, int end) {
    long v = 0;
    for (int k = from; k < from + 9; k++) {
      v = v * 10 + (k < end ? s.charAt(k) - '0' : 0);
    }
    return v;
  }

  /** DeduceYear: now's year, moved by one across a New Year's Eve boundary. */
  private static Long deduceYear(long mon, long mday, Object now) {
    long epochSec;
    if (now instanceof Timestamp ts) {
      epochSec = Math.floorDiv(ts.getTime(), 1000L);
    } else if (now instanceof Instant instant) {
      epochSec = instant.getEpochSecond();
    } else {
      return null;
    }
    LocalDate today = LocalDateTime.ofEpochSecond(epochSec, 0, ZoneOffset.UTC).toLocalDate();
    if (mon == 1 && mday == 1 && today.getMonthValue() == 12 && today.getDayOfMonth() == 31) {
      return today.getYear() + 1L;
    }
    if (mon == 12 && mday == 31 && today.getMonthValue() == 1 && today.getDayOfMonth() == 1) {
      return today.getYear() - 1L;
    }
    return (long) today.getYear();
  }

  /**
   * mktime in UTC: the first of the month, plus the day and time fields as
   * raw offsets, which is how mktime normalizes fields out of range.
   */
  private static Long mktime(long year, Tm t) {
    long first;
    try {
      first = Math.multiplyExact(LocalDate.of(Math.toIntExact(year), (int) t.mon, 1).toEpochDay(), 86400L);
      Math.multiplyExact(first, 1_000_000L); // inside Spark's timestamp range
    } catch (ArithmeticException | DateTimeException e) {
      return null;
    }
    return first + (t.mday - 1) * 86400L + t.hour * 3600L + t.min * 60L + t.sec;
  }

  private static char lower(char c) {
    return c >= 'A' && c <= 'Z' ? (char) (c + 32) : c;
  }

  /** C isspace: space, \t, \n, \v, \f, \r. */
  private static boolean isSpace(char c) {
    return c == ' ' || (c >= '\t' && c <= '\r');
  }

  private static boolean isDigit(char c) {
    return c >= '0' && c <= '9';
  }
}
