"""ProcessorParseTimestampNativeUnittest replay — the exact NetBSD
strptime engine (operators/strptime_native.py).

Tables transcribed from core/unittest/processor/
ProcessorParseTimestampNativeUnittest.cpp: TestParseLogTime (14 value
rows incl. flexible widths, trailing junk, %s millis, mid-format %f),
TestParseLogTimeSecondCache (the stateless engine must equal the
cached C++ path value-for-value), TestAdjustTimeZone (GMT+00 / GMT+07),
TestCheckTime (the v2 acceptance column over the full specifier set),
and the ProcessEvent-level keep/drop goldens.
"""

import threading

import pytest
from pyspark.sql import functions as F

from ilogtail_spark.common import sql_str
from ilogtail_spark.operators.strptime_native import (
    compile_strptime_native,
    parse_timestamp_native,
    strptime_native_struct,
)

# ---- TestParseLogTime (ProcessorParseTimestampNativeUnittest.cpp:685-701)
VALUE_CASES = [
    ("2017-1-11 15:05:07.012", "%Y-%m-%d %H:%M:%S.%f", 1484147107, 12000000),
    ("[2017-1-11 15:05:07.0123]", "[%Y-%m-%d %H:%M:%S.%f", 1484147107, 12300000),
    ("11 Jan 17 15:05 MST", "%d %b %y %H:%M", 1484147100, 0),
    ("11 Jan 17 15:05 -0700", "%d %b %y %H:%M", 1484147100, 0),
    ("Tuesday, 11-Jan-17 15:05:07.0123 MST", "%A, %d-%b-%y %H:%M:%S.%f",
     1484147107, 12300000),
    ("Tuesday, 11 Jan 2017 15:05:07 MST", "%A, %d %b %Y %H:%M:%S",
     1484147107, 0),
    ("2017-01-11T15:05:07Z08:00", "%Y-%m-%dT%H:%M:%S", 1484147107, 0),
    ("2017-01-11T15:05:07.012999999Z07:00", "%Y-%m-%dT%H:%M:%S.%f",
     1484147107, 12999999),
    ("1484147107", "%s", 1484147107, 0),
    ("1484147107123", "%s", 1484147107, 123000000),
    ("15:05:07.012 2017-1-11", "%H:%M:%S.%f %Y-%m-%d", 1484147107, 12000000),
    ("2017-1-11 15:05:07.012 +0700 (UTC)", "%Y-%m-%d %H:%M:%S.%f %z (%Z)",
     1484147107, 12000000),
    # Compatibility: fraction present but format second-terminated
    ("2017-1-11 15:05:07.012", "%Y-%m-%d %H:%M:%S", 1484147107, 0),
]

# ---- TestCheckTime v2 acceptance (all rows expect success)
ACCEPT_CASES = [
    ("Fri", "%a"), ("Friday", "%A"), ("Jan", "%b"), ("January", "%B"),
    ("19", "%d"), ("Jan", "%h"), ("22", "%H"), ("01", "%I"), ("08", "%m"),
    ("01", "%M"), ("\n", "%n"), ("AM", "%p"), ("11:59:59 AM", "%r"),
    ("23:59", "%R"), ("59", "%S"), (" ", "%t"), ("98", "%y"),
    ("2004", "%Y"), ("20", "%C"), ("31", "%e"), ("365", "%j"), ("2", "%u"),
    ("53", "%U"), ("24", "%V"), ("5", "%w"), ("23", "%W"),
    ("Tue Nov 20 14:12:58 2020", "%c"), ("10/26/23", "%x"),
    ("14:12:58", "%X"), ("1605853978", "%s"), ("123456789", "%f"),
    ("2021-11-25 14:16:46.123456789", "%Y-%m-%d %H:%M:%S.%f"),
    ("2020-11-20 14:12:58", "%Y-%m-%d %H:%M:%S"),
    ("[2017-12-11 15:05:07.012]", "[%Y-%m-%d %H:%M:%S"),
    ("02 Jan 06 15:04 MST", "%d %b %y %H:%M"),
    ("02 Jan 06 15:04 -0700", "%d %b %y %H:%M"),
    ("Monday, 02-Jan-06 15:04:05 MST", "%A, %d-%b-%y %H:%M:%S"),
    ("Mon, 02 Jan 2006 15:04:05 MST", "%A, %d %b %Y %H:%M:%S"),
    ("2006-01-02T15:04:05Z07:00", "%Y-%m-%dT%H:%M:%S"),
    ("2006-01-02T15:04:05.999999999Z07:00", "%Y-%m-%dT%H:%M:%S"),
    ("1637843406", "%s"), ("1637843406123", "%s"), ("11/20/20", "%D"),
    ("2020-11-20", "%F"), ("14:12:58", "%T"), ("+0800", "%z"),
    ("CST", "%Z"), ("%", "%%"),
]

# conv_num rejections the flexible widths must still fail
REJECT_CASES = [
    ("19 foo", "%m"),          # two digits consumed atomically, 19 > 12
    ("39", "%d"),              # 39 > 31, no backtrack to single digit
    ("29:00", "%H"),           # 29 > 23
    ("2017-13-11", "%Y-%m-%d"),
    ("0", "%s"),               # strtoll n == 0 fails
    ("junk", "%Y"),
    ("2017_01", "%Y-%m"),      # literal mismatch
    ("69", "%S"),              # 69 > 61 (leap-second cap)
]


def _eval_structs(spark, cases):
    cols = [
        f"{strptime_native_struct(sql_str(inp), fmt)} AS c{i}"
        for i, (inp, fmt, *_rest) in enumerate(cases)
    ]
    return spark.range(1).selectExpr(*cols).first()


def test_parse_log_time_values(spark):
    row = _eval_structs(spark, VALUE_CASES)
    for i, (inp, fmt, sec, nsec) in enumerate(VALUE_CASES):
        st = row[f"c{i}"]
        assert st["ok"] is True, f"{inp!r} {fmt!r} did not parse"
        assert st["sec"] == sec, f"{inp!r} {fmt!r}: {st['sec']} != {sec}"
        assert st["nsec"] == nsec, f"{inp!r} {fmt!r}: {st['nsec']} != {nsec}"


def test_check_time_acceptance(spark):
    row = _eval_structs(spark, ACCEPT_CASES)
    for i, (inp, fmt) in enumerate(ACCEPT_CASES):
        assert row[f"c{i}"]["ok"] is True, f"{inp!r} {fmt!r} should parse"


def test_conv_num_rejections(spark):
    row = _eval_structs(spark, REJECT_CASES)
    for i, (inp, fmt) in enumerate(REJECT_CASES):
        assert row[f"c{i}"]["ok"] is False, f"{inp!r} {fmt!r} should FAIL"


def test_month_name_does_not_backtrack(spark):
    """find_string matches the full name and never retries the
    abbreviation: '%Bch' on 'March' fails, '%B' on 'March' parses."""
    row = _eval_structs(spark, [("March", "%Bch"), ("March", "%B")])
    assert row["c0"]["ok"] is False
    assert row["c1"]["ok"] is True


def test_flexible_width_leaves_rest(spark):
    # conv_num consumes the 2nd digit only when d1*10 <= ulim: "92" for
    # %m parses month 9 leaving "2" to the next literal
    row = _eval_structs(spark, [("9/26/23", "%m/%d/%y"),
                                ("92623", "%m%d%y")])
    assert row["c0"]["ok"] is True
    # %m eats "9", %d eats "26", %y eats "23"
    assert row["c1"]["ok"] is True
    assert row["c1"]["sec"] == row["c0"]["sec"]


def test_second_cache_families(spark):
    """TestParseLogTimeSecondCache value tables — the stateless plan
    must equal the C++ cached-path outputs for every (i, j)."""
    cases, expected = [], []
    for i in range(5):
        base = f"2012-01-01 15:05:0{i}"
        for j in range(5):
            cases.append((base, "%Y-%m-%d %H:%M:%S"))
            expected.append((1325430300 + i, 0))
            cases.append((f"{base}.{j}", "%Y-%m-%d %H:%M:%S.%f"))
            expected.append((1325430300 + i, j * 100000000))
            cases.append((str(1484147107 + i), "%s"))
            expected.append((1484147107 + i, 0))
            cases.append((str(1484147107 + i) + str(j), "%s"))
            expected.append((1484147107 + i, j * 100000000))
            cases.append((f"15:05:0{i}.{j} 2012-01-01",
                          "%H:%M:%S.%f %Y-%m-%d"))
            expected.append((1325430300 + i, j * 100000000))
    row = _eval_structs(spark, cases)
    for k, ((inp, fmt), (sec, nsec)) in enumerate(zip(cases, expected)):
        st = row[f"c{k}"]
        assert st["ok"] is True and st["sec"] == sec and st["nsec"] == nsec, (
            f"{inp!r} {fmt!r}: {st}"
        )


def test_adjust_time_zone(spark):
    """TestAdjustTimeZone: ParseLogTime subtracts the SourceTimezone
    offset from the fresh-parse seconds (GMT+07 → −25200)."""
    cases = [(f"2012-01-01 15:05:0{i}.{j}", "%Y-%m-%d %H:%M:%S.%f")
             for i in range(5) for j in range(5)]
    row = _eval_structs(spark, cases)
    for k, (inp, _fmt) in enumerate(cases):
        i, j = divmod(k, 5)
        st = row[f"c{k}"]
        assert st["sec"] - 0 == 1325430300 + i          # GMT+00:00
        assert st["sec"] - 25200 == 1325405100 + i       # GMT+07:00
        assert st["nsec"] == j * 100000000


def _events(spark, times):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(times)], "id int, time string"
    )


NOW = "2024-03-01 12:00:00"
NOW_EPOCH = 1709294400  # epoch of NOW under UTC


def test_process_regular_format(spark):
    """TestProcessRegularFormat: fresh event, GMT+08:00 → timestamp =
    parse − 28800, rows kept."""
    df = _events(spark, [NOW, NOW])
    out = parse_timestamp_native(
        df, source="time", fmt="%Y-%m-%d %H:%M:%S",
        source_timezone="GMT+08:00", now=F.lit(NOW).cast("timestamp"),
    ).orderBy("id").collect()
    assert len(out) == 2
    for r in out:
        assert r["log_sec"] == NOW_EPOCH - 28800 and r["log_nsec"] == 0


def test_process_history_discard(spark):
    """TestProcessHistoryDiscard: an event older than
    ilogtail_discard_interval (43200 s) is DROPPED."""
    old = "2024-02-29 04:00:00"  # NOW − 115200 s; minus tz → even older
    df = _events(spark, [old, old])
    out = parse_timestamp_native(
        df, source="time", fmt="%Y-%m-%d %H:%M:%S",
        source_timezone="GMT+08:00", now=F.lit(NOW).cast("timestamp"),
    )
    assert out.count() == 0


def test_process_parse_failed_keeps_row(spark):
    """TestProcessRegularFormatFailed: date-only input against the full
    format fails to parse — the event is kept UNTOUCHED (even though it
    is old)."""
    df = _events(spark, ["2024-02-01", "2024-02-01"])
    out = parse_timestamp_native(
        df, source="time", fmt="%Y-%m-%d %H:%M:%S",
        source_timezone="GMT+08:00", now=F.lit(NOW).cast("timestamp"),
    ).orderBy("id").collect()
    assert len(out) == 2
    assert out[0]["log_sec"] is None and out[0]["time"] == "2024-02-01"


def test_process_no_year_format(spark):
    """TestProcessNoYearFormat: SourceYear injects the year; the
    999999999 fraction survives to timestampNanosecond."""
    df = _events(spark, ["03-01 12:00:00.999999999"])
    out = parse_timestamp_native(
        df, source="time", fmt="%m-%d %H:%M:%S.%f",
        source_timezone="GMT+08:00", source_year=2024,
        now=F.lit(NOW).cast("timestamp"),
    ).collect()
    assert len(out) == 1
    assert out[0]["log_sec"] == NOW_EPOCH - 28800
    assert out[0]["log_nsec"] == 999999999


def test_process_no_year_no_source_year_discards(spark):
    """SourceYear = −1 (plugin default) + year-less format: mktime gets
    the INT_MIN sentinel year → tv_sec ≤ 0 → event discarded."""
    df = _events(spark, ["03-01 12:00:00"])
    out = parse_timestamp_native(
        df, source="time", fmt="%m-%d %H:%M:%S",
        now=F.lit(NOW).cast("timestamp"),
    )
    assert out.count() == 0


def test_process_precise_legacy_row(spark):
    """TestProcessEventPreciseTimestampLegacy (discard flag off):
    2017-1-11 15:05:07.012 GMT+00:00 → (1484147107, 12000000)."""
    df = _events(spark, ["2017-1-11 15:05:07.012"])
    out = parse_timestamp_native(
        df, source="time", fmt="%Y-%m-%d %H:%M:%S.%f",
        source_timezone="GMT+00:00", discard_old=False,
        now=F.lit(NOW).cast("timestamp"),
    ).collect()
    assert len(out) == 1
    assert out[0]["log_sec"] == 1484147107
    assert out[0]["log_nsec"] == 12000000


def test_mktime_normalization(spark):
    """mktime rolls impossible fields over: Feb 30 → Mar 1 (+leap),
    second 61 → next minute. The anchored-first-of-month assembly law
    reproduces that exactly."""
    row = _eval_structs(spark, [
        ("2023-02-30 00:00:00", "%Y-%m-%d %H:%M:%S"),
        ("2023-01-01 00:00:61", "%Y-%m-%d %H:%M:%S"),
    ])
    assert row["c0"]["sec"] == 1677715200  # 2023-03-02T00:00:00Z
    assert row["c1"]["sec"] == 1672531261  # :61 = next minute +1s


def test_century_year_combos(spark):
    row = _eval_structs(spark, [
        ("2017", "%C%y"),   # C=20 then y=17 → 2017
        ("1723-", "%y%C-"), # y=17 then C=23 → 2317
    ])
    c0 = row["c0"]
    assert c0["ok"] is True
    # %C eats "20" (ulim 99 → 2 digits), %y eats "17" → year 2017;
    # tm zero-init leaves mday=0 → mktime(2017,Jan,0) = 2016-12-31
    assert c0["sec"] == 1483142400
    # %y first (17 → 2017 tentative) then %C=23 preserves the two
    # low digits: year 2317
    c1 = row["c1"]
    assert c1["ok"] is True and c1["sec"] is not None


def test_registry_native_name(spark):
    from ilogtail_spark.operators.registry import OPERATORS

    df = _events(spark, ["2017-1-11 15:05:07.012"])
    op = OPERATORS["processor_parse_timestamp_native"](
        SourceKey="time", SourceFormat="%Y-%m-%d %H:%M:%S.%f",
        SourceTimezone="GMT+00:00", discard_old=False)
    out = op(df).collect()
    assert out[0]["log_sec"] == 1484147107 and out[0]["log_nsec"] == 12000000


def test_compile_shapes():
    c = compile_strptime_native("%Y-%m-%d %H:%M:%S.%f")
    assert c.ok and len(c.caps) == 7
    assert compile_strptime_native("%Q").ok is False
    # %s INSIDE a larger format is an unknown conversion (the C switch
    # has no 's' case; only the whole-format strcmp special-cases it)
    assert compile_strptime_native("ts=%s").ok is False


def test_epoch_s_exact_strtoll_law(spark):
    """Review fixes: %s follows the exact Strptime.cpp:84-112 law —
    to_string(strtoll(buf)) length (sign counted, leading zeros
    collapsed) picks the seconds digits, and the fraction reads at
    the RAW buffer offset (whitespace/sign included)."""
    cases = [
        # (input, expect_kept, sec, nsec)
        ("1700000000123456", True, 1700000000, 123456000),
        # leading zeros collapse in to_string(n): the VALUE
        # 1700000000123456 has 16 digits, so sec is its first 10
        # (1700000000); the fraction reads at RAW offset 10 — the
        # run "000123456" (zeros from the input's leading-zero
        # region) → 123456 ns
        ("0001700000000123456", True, 1700000000, 123456),
        ("+5", True, 5, 500000000),       # raw offset 1 re-reads '5'
        (" 1700000000", True, 1700000000, 0),
        ("-5", False, None, None),         # sec<=0 -> row DROPPED
        ("0", True, None, None),           # n==0 parse-fails -> kept
        ("00000", True, None, None),
        ("abc", True, None, None),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, *_e) in enumerate(cases)], "id int, line string"
    )
    out = parse_timestamp_native(df, "line", "%s", discard_old=False)
    got = {r.id: (r.log_sec, r.log_nsec) for r in out.collect()}
    for i, (s, kept, sec, nsec) in enumerate(cases):
        if not kept:
            assert i not in got, s
        else:
            assert got[i] == (sec, nsec), (s, got[i])


def test_z_offset_exact_digit_loop(spark):
    """Review fix: the %z digit loop consumes up to 4 digits (a colon
    only right after the 2nd, uncounted); exactly 2 or 4 digits
    succeed with minutes < 60, a 5th digit is junk, and '+DD:' with
    no digit after the colon succeeds with the colon consumed."""
    cases = [
        ("2024-01-02 03:04:05 +12345", True),    # 4 digits + junk '5'
        ("2024-01-02 03:04:05 +12:345", True),
        ("2024-01-02 03:04:05 +12:zz", True),    # colon consumed, +12
        ("2024-01-02 03:04:05 +12", True),
        ("2024-01-02 03:04:05 +123", False),     # i==3 -> fail
        ("2024-01-02 03:04:05 +12:3", False),
        ("2024-01-02 03:04:05 +1264", False),    # minutes >= 60
        ("2024-01-02 03:04:05 +12:64", False),   # ditto via colon form
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(cases)], "id int, line string"
    )
    out = parse_timestamp_native(
        df, "line", "%Y-%m-%d %H:%M:%S %z", discard_old=False
    )
    got = {r.id: r.log_sec for r in out.collect()}
    base = 1704164645  # 2024-01-02 03:04:05 UTC (offset consumed, not applied)
    for i, (s, parses) in enumerate(cases):
        assert (got[i] == base) == parses, (s, got[i])
        if not parses:
            assert got[i] is None, s


def test_source_key_resolves_from_attrs(spark):
    """Review fix: SourceKey falls back to the attrs KV bag like the
    sibling processor_strptime."""
    df = spark.createDataFrame(
        [(1, {"t": "2024-01-02 03:04:05"}), (2, {"x": "y"})],
        "id int, attrs map<string,string>",
    )
    out = parse_timestamp_native(
        df, "t", "%Y-%m-%d %H:%M:%S", discard_old=False
    )
    got = {r.id: r.log_sec for r in out.collect()}
    assert got[1] == 1704164645
    assert got[2] is None  # key missing in the bag: kept untouched


# formats the tests above use beyond the three case tables
OTHER_FORMATS = [
    "%Bch", "%B", "%m/%d/%y", "%m%d%y", "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%d %H:%M:%S.%f", "%H:%M:%S.%f %Y-%m-%d", "%m-%d %H:%M:%S.%f",
    "%m-%d %H:%M:%S", "%C%y", "%y%C-", "%Q", "ts=%s", "%Y-%m-%d %H:%M:%S %z",
]


def test_sql_str_round_trip(spark):
    """sql_str quotes any text so Spark's parser reads it back
    unchanged: the emitter's regexes, sentinel and replacement strings
    pass through SQL literals."""
    from ilogtail_spark.operators.strptime_native import _SEP, _Z_OFFSET

    fmts = {f for _inp, f, *_rest in VALUE_CASES + ACCEPT_CASES + REJECT_CASES}
    texts = [
        "'", '"', "\\", "\\\\z", "$1", "\n", "\t", "zürich — 東京 ✓",
        "it\\'s", "a\\", _Z_OFFSET, _SEP,
        *sorted({compile_strptime_native(f).pattern for f in fmts | set(OTHER_FORMATS)}),
    ]
    row = spark.range(1).selectExpr(
        *[f"{sql_str(s)} AS c{i}" for i, s in enumerate(texts)]
    ).first()
    assert list(row) == texts


# the distinct (format, SourceTimezone) pairs of q96_strptime_native
Q96_FORMATS = [
    ("%Y-%m-%d %H:%M:%S.%f", "GMT+08:00"),
    ("%d %b %y %H:%M", None),
    ("%s", None),
    ("%Y-%m-%d %I:%M:%S %p", None),
]


def test_plan_build_round_trips(spark, monkeypatch):
    """Building a parse_timestamp_native stage costs a few dozen Py4J
    round trips: each staged projection is one SQL expression, not a
    Column tree built call by call (200–670 round trips per format),
    and get_spark turns off PySpark's per-call origin capture, which
    tripled them."""
    from py4j.clientserver import ClientServerConnection

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    df = spark.range(1).selectExpr("'2024-01-02 03:04:05.6' AS line")
    # only this thread's commands: py4j's finalizer thread sends the
    # deletes of proxies freed earlier whenever it gets to them
    me = threading.get_ident()
    calls = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == me:
            calls.append(command)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    counts = {}
    for fmt, tz in Q96_FORMATS:
        before = len(calls)
        parse_timestamp_native(df, "line", fmt, source_timezone=tz, discard_old=False)
        counts[fmt] = len(calls) - before
    assert all(0 < n <= 60 for n in counts.values()), counts
