package ilogtail.spark.regex;

import java.util.regex.Matcher;
import java.util.regex.Pattern;

import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF2;

/**
 * The regex parsers' one match per event as a Spark Java UDF: {@code
 * ProcessorParseRegexNative.cpp:132-259} runs one match and reads every
 * group from it, and grok tries its ordered {@code Match} list with the
 * first success winning ({@code processor_grok.go:147-192}).
 *
 * <p>{@code (src string, patterns array<string>) -> struct<i int, g
 * array<string>>}. The patterns are tried in order with {@code
 * java.util.regex} {@code find}, the semantics of Spark's {@code rlike} and
 * {@code regexp_extract}. The result is the first pattern that finds a
 * match: its index {@code i} and its groups {@code g}, one per capture group,
 * with NULL for a group that did not take part in the match (where {@code
 * regexp_extract} gives {@code ""}). No match, a NULL source and a NULL list
 * give NULL. The pattern list is compiled once per UDF instance and again
 * only when a row passes a different list.
 *
 * <p>Build the jar beside this file with {@code build.sh}.
 */
public final class RegexMatch implements UDF2<String, scala.collection.Seq<String>, Row> {
  private static final long serialVersionUID = 1L;

  private transient Compiled compiled;

  @Override
  public Row call(String src, scala.collection.Seq<String> patterns) {
    if (src == null || patterns == null) {
      return null;
    }
    Compiled c = compiled;
    if (c == null || !c.source.equals(patterns)) {
      c = compiled = new Compiled(patterns);
    }
    for (int i = 0; i < c.patterns.length; i++) {
      Matcher m = c.patterns[i].matcher(src);
      if (m.find()) {
        String[] groups = new String[m.groupCount()];
        for (int g = 0; g < groups.length; g++) {
          groups[g] = m.group(g + 1);
        }
        return RowFactory.create(i, groups);
      }
    }
    return null;
  }

  /** The number of capture groups of {@code regex}; throws {@code
   * PatternSyntaxException} when it does not compile. */
  public static int groupCount(String regex) {
    return Pattern.compile(regex).matcher("").groupCount();
  }

  private static final class Compiled {
    final scala.collection.Seq<String> source;
    final Pattern[] patterns;

    Compiled(scala.collection.Seq<String> source) {
      this.source = source;
      this.patterns = new Pattern[source.length()];
      for (int i = 0; i < patterns.length; i++) {
        String p = source.apply(i);
        // a NULL pattern never matches
        patterns[i] = Pattern.compile(p == null ? "(?!)" : p);
      }
    }
  }
}
