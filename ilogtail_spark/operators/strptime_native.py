"""processor_parse_timestamp_native: the NetBSD strptime scanner, in the JVM.

The C++ native timestamp processor does not use a JDK-style pattern. It
compiles each format once at ``Init`` and runs the vendored NetBSD
``strptime_ns`` (core/common/Strptime.cpp:83-533), a character scanner
with no regex, through the ``Strptime`` wrapper (core/common/
TimeUtil.cpp:93-160). Its dialect is *flexible-width* (``%m`` eats 1-2
digits, so ``2017-1-11`` parses), *prefix-matching* (text after the
format is ignored) and nanosecond-aware (``%f``). It converts with
``mktime`` under the agent's TZ (UTC in every reference test), so
``%z``/``%Z`` are *consumed but never applied*. The repo's generic
``parse_timestamp`` (JDK ``try_to_timestamp``) models the Go
``processor_strptime`` plugin instead.

Here the scanner is ``jvm/Strptime.java``, a Java UDF in
``session.JVM_JAR``: ``ilogtail_strptime(src, fmt, source_year, now)``
returns ``struct<ok, sec, nsec>``. It compiles each format once per UDF
instance and walks the characters:

* ``conv_num`` is greedy and atomic: it takes a second digit iff
  ``d1*10 <= ulim`` and then fails, without giving it back, when the value
  exceeds ulim (``%m`` on ``19``); ``92`` parses as 9 leaving ``2``.
* month and day names match case-insensitively, full names first, then
  abbreviations, and never retry a shorter name (``find_string``).
* the ``%z`` digit loop takes exactly 2 or 4 digits, a colon only after
  the hours, minutes below 60; composites expand; ``%E``/``%O`` pass
  through; an unknown conversion (``%s`` inside a longer format
  included) always fails.
* ``%f`` keeps its first 9 digits. A whole-format ``%s`` is the strtoll
  law of Strptime.cpp:84-112 (``+5`` parses as sec 5, nsec 5e8; an n of
  0 fails); a digit run past int64 fails where strtoll saturates.
* seconds follow mktime's normalization: Feb 30 → Mar 2, second 61 →
  the next minute. They are computed in UTC, the session zone
  ``get_spark`` pins and the reference's TZ. A year whose first of the
  month lies outside Spark's timestamp range gives a NULL ``sec``.
* a year-less format takes SourceYear: −1 (the default) leaves the year
  unset, a NULL ``sec`` that discards like mktime's garbage; > 0 is the
  year; 0 deduces it from ``now`` (``DeduceYear``, TimeUtil.cpp:93-104).

``tests/strptime_sql_twin.py`` keeps the SQL-text emitter this module
used to be, and ``tests/test_strptime_jvm.py`` holds the UDF to it.

ProcessEvent (core/plugin/processor/ProcessorParseTimestampNative.cpp:
126-248): a missing key and a parse failure KEEP the event untouched; a
parsed ``tv_sec <= 0`` or an event older than
``ilogtail_discard_interval`` (43200 s, LogtailCommonFlags.cpp:50) is
DROPPED; success stamps (tv_sec − SourceTimezone offset, tv_nsec). The
second-level ``timeStrCache`` is a per-file reparse cache, the identity
semantically, so the stateless per-row plan is value-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from ilogtail_spark.common import resolve_key, sql_str
from ilogtail_spark.session import java_udf

DISCARD_INTERVAL_SEC = 43200  # INT32_FLAG(ilogtail_discard_interval)

_UDF = (
    "ilogtail_strptime",
    "ilogtail.spark.time.Strptime",
    StructType([
        StructField("ok", BooleanType()),
        StructField("sec", LongType()),
        StructField("nsec", LongType()),
    ]),
)


def strptime_native_struct(
    src: str,
    fmt: str,
    source_year: int = -1,
    now: str | None = None,
) -> str:
    """``struct(ok, sec, nsec)`` of the SQL expression ``src`` parsed
    with ``fmt``, as SQL text for the active session (``now``: a
    timestamp expression, default ``current_timestamp()``).

    ``sec`` is the raw ``mktime`` value (the naive wall clock read as
    UTC); the caller applies the SourceTimezone subtraction. It is NULL
    when ``ok`` is false, when the format carries no year and none is
    injectable (SourceYear −1), and when the year is out of range.
    """
    fn = java_udf(SparkSession.active(), *_UDF)
    return _udf_call(fn, src, fmt, source_year, now or "current_timestamp()")


def _udf_call(fn: str, src: str, fmt: str, source_year: int, now: str) -> str:
    # only DeduceYear (SourceYear 0) reads `now`; every other call passes
    # NULL, so a folded current_timestamp() literal does not make each
    # query's generated code new to Spark's codegen cache (a Janino
    # compile per stage and query), and no row converts a timestamp
    now = f"CAST({now} AS TIMESTAMP)" if int(source_year) == 0 else "CAST(NULL AS TIMESTAMP)"
    return f"{fn}({src}, {sql_str(fmt)}, {int(source_year)}, {now})"


def _stamp_or_drop(tz_off: int, now: str, discard_old: bool, discard_interval: int) -> str:
    """``explode`` of the zone-adjusted ``(s, n)`` stamp over the parsed
    struct ``_st``: one element for a kept row, none for a dropped one."""
    ok = "coalesce(_st.ok, false)"
    adj = f"(_st.sec - {int(tz_off)}L)"
    # a parsed event is kept iff its time is positive and fresh; a NULL
    # sec (year-less format, year out of range) models mktime's -1 and
    # discards exactly like tv_sec <= 0
    fresh = f"{adj} IS NOT NULL AND {adj} > 0"
    if discard_old:
        fresh += f" AND unix_timestamp(CAST({now} AS TIMESTAMP)) - {adj} <= {int(discard_interval)}"
    return (
        f"explode(CASE WHEN NOT {ok} OR ({fresh}) THEN array(named_struct("
        f"'s', CASE WHEN {ok} THEN {adj} END, 'n', CASE WHEN {ok} THEN _st.nsec END)) END)"
    )


def parse_timestamp_native(
    df: DataFrame,
    source: str,
    fmt: str,
    source_timezone: str | None = None,
    source_year: int = -1,
    now: Column | None = None,
    discard_old: bool = True,
    discard_interval: int = DISCARD_INTERVAL_SEC,
    dest_sec: str = "log_sec",
    dest_nsec: str = "log_nsec",
) -> DataFrame:
    """ProcessEvent row semantics over a flat string column.

    Missing key / parse failure keep the row with NULL outputs; a
    parsed time that is non-positive or (when ``discard_old``) older
    than ``now − discard_interval`` DROPS the row; success stamps
    ``dest_sec``/``dest_nsec`` with the zone-adjusted time.
    """
    from ilogtail_spark.operators.parse import parse_apsara_tz_offset

    tz_off = parse_apsara_tz_offset(source_timezone)
    # SourceKey resolves from flat columns or the attrs KV bag, like
    # the sibling processor_strptime (parse.py _ts_factory); absent
    # everywhere → every row is key-missing and keeps untouched
    if source in df.columns or "attrs" in df.columns:
        src = resolve_key(df, source)
    else:
        src = F.lit(None).cast("string")
    # the source (and a caller's `now`) land in temporary columns the
    # SQL below names
    d = df.withColumn("_sts", src)
    now_sql, tmp = "current_timestamp()", ["_sts", "_st", "_o"]
    if now is not None:
        d = d.withColumn("_stnow", now)
        now_sql = "_stnow"
        tmp.append("_stnow")
    fn = java_udf(df.sparkSession, *_UDF)
    # one projection calls the UDF; the next step reads only its struct.
    # Rows drop through explode(CASE WHEN keep THEN array(stamp) END),
    # not a Filter: PushDownPredicates would substitute the UDF call into
    # the pushed predicate, once per field it reads, and so run it again
    # per row. A Generate is not a predicate, so the UDF runs once per
    # row, while unrelated downstream filters still push to the scan.
    d = d.withColumn("_st", F.expr(_udf_call(fn, "_sts", fmt, source_year, now_sql)))
    d = d.withColumn("_o", F.expr(_stamp_or_drop(tz_off, now_sql, discard_old, discard_interval)))
    return d.withColumns({dest_sec: F.col("_o.s"), dest_nsec: F.col("_o.n")}).drop(*tmp)
