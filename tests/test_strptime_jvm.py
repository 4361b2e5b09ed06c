"""Differential wall: ``jvm/Strptime.java`` against its SQL-text twin.

``tests/strptime_sql_twin.py`` is the regex-and-SQL strptime emitter
the package used before the scanner moved into the JVM. Both are run
over the same seeded inputs and compared field by field (``ok``,
``sec``, ``nsec``):

* every format of ``test_strptime_native.py`` plus composites,
  modifiers and repeated fields;
* the fixture rows of those tests, q96-shaped lines, seeded random
  strings, and mutations of valid stamps (truncations, digit swaps,
  width changes, case flips, junk tails, unicode, whitespace) and NULL.

At the operator level ``parse_timestamp_native`` is compared with the
twin's under SourceYear −1/0/>0, zones, ``discard_old``, a literal and
a per-row ``now``, and the key held in a column, in ``attrs`` or
missing. Each test builds one plan and collects it once.
"""

import datetime as dt
import random

from pyspark.sql import functions as F

from ilogtail_spark.operators.strptime_native import (
    parse_timestamp_native,
    strptime_native_struct,
)
from tests import strptime_sql_twin as twin
from tests.test_strptime_native import (
    ACCEPT_CASES,
    OTHER_FORMATS,
    Q96_FORMATS,
    REJECT_CASES,
    VALUE_CASES,
)

CASES = VALUE_CASES + ACCEPT_CASES + REJECT_CASES
EXTRA_FORMATS = [
    "%G-%V", "%j %Y", "%EY-%Om-%Od", "%", "%E", "%Ez", "%y%y", "%C%C", "%I %p %H",
    "%H %p", "%e/%k/%l", "%n%t%Y", "%Z%z", "%a%A", "%h %b", "%u %w %U %W %g",
    "%Y%m%d%H%M%S", "%%%Y", "%D %T", "%F %R %r", "%X %x", "%y %C", "%Y %f %f",
    "%z%z %Y", "%c", "%m-%d", "%b %d %H:%M:%S", "%p", "%I:%M %p %p",
]
FORMATS = sorted(
    {f for _inp, f, *_rest in CASES} | set(OTHER_FORMATS) | {f for f, _tz in Q96_FORMATS}
    | set(EXTRA_FORMATS)
)

UNICODE = ["é", "東", "😀", " ", " ", "�", "İ", "ſ", "K", "٠"]
SPACES = [" ", "\t", "\n", "\x0b", "\x0c", "\r", "  "]
JUNK = ["x", " ", "Z", "+0800", ":", "12", "\n", "😀", "-", ".5", "PM"]
FRAGMENTS = [
    "-", "/", ":", ".", " ", "T", ",", "[", "]", "(", ")", "%", "+", "Z",
    "Jan", "JAN", "january", "Mar", "March", "Marc", "May", "Jun", "June", "Sep",
    "Sept", "Dec", "ſep", "Mon", "Monday", "sun", "THU", "AM", "pm", "Pm",
    "GMT", "UT", "UTC", "utc", "EST", "pdt", "A", "J", "+08:00", "-0700", "+12:",
    "+1", "-12:3", *UNICODE, *SPACES,
]


def _digits(rng):
    return "".join(rng.choice("0123456789") for _ in range(rng.randint(1, 5)))


def _random_strings(rng, n):
    out = []
    for _ in range(n):
        parts = [_digits(rng) if rng.random() < 0.45 else rng.choice(FRAGMENTS)
                 for _ in range(rng.randint(1, 9))]
        out.append("".join(parts))
    return out


def _mutations(s, rng):
    """Truncation, digit swap, narrower and wider digit runs, a changed
    digit, case flip, junk tail, unicode insert, leading whitespace."""
    out = [s[:rng.randrange(len(s) + 1)], s.swapcase(), s + rng.choice(JUNK),
           rng.choice(SPACES) + s]
    i = rng.randrange(len(s) + 1)
    out.append(s[:i] + rng.choice(UNICODE) + s[i:])
    digits = [k for k, c in enumerate(s) if c.isdigit()]
    if len(digits) >= 2:
        a, b = rng.sample(digits, 2)
        chars = list(s)
        chars[a], chars[b] = chars[b], chars[a]
        out.append("".join(chars))
    if digits:
        k = rng.choice(digits)
        out.append(s[:k] + s[k + 1:])
        k = rng.choice(digits)
        out.append(s[:k] + rng.choice("0123456789") + s[k:])
        k = rng.choice(digits)
        out.append(s[:k] + rng.choice("0123456789") + s[k + 1:])
    return out


def _q96_lines(rng, n):
    """The shapes q96 builds: an unpadded wall clock with 6-digit
    micros, 'd MMM yy H:mm MST', epoch millis, and a 12-hour clock."""
    out = []
    for _ in range(n):
        t = dt.datetime(2000, 1, 1) + dt.timedelta(seconds=rng.randrange(40 * 365 * 86400),
                                                   microseconds=rng.randrange(10**6))
        ms = int((t - dt.datetime(1970, 1, 1)).total_seconds() * 1000)
        out += [
            f"{t.year}-{t.month}-{t.day} {t.hour}:{t.minute}:{t.second}.{t.microsecond:06d}",
            f"{t.day} {t.strftime('%b')} {t:%y} {t.hour}:{t:%M} MST",
            str(ms),
            t.strftime("%Y-%m-%d ") + f"{(t.hour % 12) or 12}:{t:%M:%S} {t:%p}",
        ]
    return out


def _inputs(seed=11):
    rng = random.Random(seed)
    stamps = [inp for inp, *_rest in CASES] + _q96_lines(rng, 25) + [
        "1700000000123456", "0001700000000123456", "+5", "-5", " 1700000000",
        "0", "00000", "9223372036854775808", "-9223372036854775808",
        "2024-01-02 03:04:05 +12:34", "2023-02-30 00:00:00", "2023-01-01 00:00:61",
        "0000-01-01 00:00:00", "9999-12-31 23:59:59", "March", "92623", "Tue Nov 20 14:12:58 2020",
    ]
    out = list(stamps)
    for s in stamps:
        out += _mutations(s, rng)
    out += _random_strings(rng, 300)
    return sorted(set(out)) + [None]


def test_udf_equals_sql_twin(spark):
    """Every (input, format) pair: the Java UDF's struct equals the SQL
    twin's, ``ok``, ``sec`` and ``nsec``."""
    inputs = _inputs()
    df = spark.createDataFrame(list(enumerate(inputs)), "id int, src string")
    both = twin.struct_columns(df, "src", FORMATS).selectExpr(
        "*", *[f"{strptime_native_struct('src', f)} AS u{i}" for i, f in enumerate(FORMATS)]
    )
    rows = both.collect()
    assert len(rows) == len(inputs)
    bad = [
        (r["src"], f, tuple(r[f"t{i}"]), tuple(r[f"u{i}"]))
        for r in rows for i, f in enumerate(FORMATS)
        if tuple(r[f"t{i}"]) != tuple(r[f"u{i}"])
    ]
    assert not bad, f"{len(bad)} differences, (input, format, twin, jvm): {bad[:20]}"
    parsed = sum(bool(r[f"u{i}"]["ok"]) for r in rows for i in range(len(FORMATS)))
    # the wall is not vacuous: many pairs parse, far more fail
    assert 500 < parsed < len(rows) * len(FORMATS) // 4, parsed


NOW = dt.datetime(2024, 12, 31, 12, 0, 0)
OP_FORMATS = [
    "%Y-%m-%d %H:%M:%S.%f", "%m-%d %H:%M:%S", "%s", "%d %b %y %H:%M",
    "%Y-%m-%d %I:%M:%S %p", "%Q", "%Y-%m-%d %H:%M:%S %z",
]
# (SourceYear, SourceTimezone, discard_old, now, where the key is)
SETTINGS = [
    (-1, None, False, None, "column"),
    (0, "GMT+08:00", True, "column", "column"),
    (2024, "GMT-03:30", True, "literal", "attrs"),
    (0, None, True, "literal", "missing"),
    (-1, "GMT+00:00", True, None, "column"),
    (2023, "GMT+14:00", False, "column", "attrs"),
]


def _op_cases():
    """(setting, format) index pairs: every setting with the year-less
    format, where SourceYear matters, and two others in turn, so each
    format meets two settings."""
    others = [j for j, f in enumerate(OP_FORMATS) if f != "%m-%d %H:%M:%S"]
    year_less = OP_FORMATS.index("%m-%d %H:%M:%S")
    return [(k, j) for k in range(len(SETTINGS))
            for j in (year_less, others[k % len(others)], others[(k + 3) % len(others)])]


def _stamps_near(now, rng):
    """Stamps of every OP_FORMATS shape around ``now``: inside and
    outside the discard interval, across New Year, plus mutations."""
    out = []
    for delta in (-200000, -43300, -43100, -3600, 0, 7200, 86400 * 3):
        t = now + dt.timedelta(seconds=delta, microseconds=rng.randrange(10**6))
        out += [
            t.strftime("%Y-%m-%d %H:%M:%S.%f"), t.strftime("%m-%d %H:%M:%S"),
            str(int((t - dt.datetime(1970, 1, 1)).total_seconds())),
            t.strftime("%d %b %y %H:%M"), t.strftime("%Y-%m-%d %I:%M:%S %p"),
            t.strftime("%Y-%m-%d %H:%M:%S +0800"),
        ]
    out += ["01-01 00:00:00", "12-31 23:59:59", "01-01 00:00:00.5", "bad line", ""]
    return out + [m for s in out[:20] for m in _mutations(s, rng)]


def test_operator_equals_sql_twin(spark):
    """``parse_timestamp_native`` keeps, drops and stamps the same rows
    as the twin's staged plan, under every setting."""
    rng = random.Random(5)
    lines = _stamps_near(NOW, rng) + [None]
    nows = [NOW, dt.datetime(2025, 1, 1, 0, 0, 0), dt.datetime(2024, 1, 1, 6, 0, 0), None]
    rows = [(i, s, {"t": s}, nows[i % len(nows)]) for i, s in enumerate(lines)]
    df = spark.createDataFrame(rows, "id int, line string, attrs map<string,string>, nowc timestamp")
    nows = {None: None, "column": F.col("nowc"), "literal": F.lit("2025-01-01 00:00:00").cast("timestamp")}
    parts = []
    cases = _op_cases()
    for k, j in cases:
        year, zone, discard, now, key = SETTINGS[k]
        fmt = OP_FORMATS[j]
        frame, source = {
            "column": (df, "line"), "attrs": (df.drop("line"), "t"), "missing": (df.drop("attrs"), "line2"),
        }[key]
        for name, op in (("twin", twin.parse_timestamp_native), ("jvm", parse_timestamp_native)):
            out = op(frame, source, fmt, source_timezone=zone, source_year=year,
                     now=nows[now], discard_old=discard)
            parts.append(out.select(F.lit(f"{k}/{j}").alias("case"), F.lit(name).alias("impl"),
                                    "id", "log_sec", "log_nsec"))
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    got = {}
    for r in union.collect():
        got.setdefault((r["case"], r["impl"]), []).append((r["id"], r["log_sec"], r["log_nsec"]))
    kept = stamped = 0
    for k, j in cases:
        t = sorted(got.get((f"{k}/{j}", "twin"), []))
        u = sorted(got.get((f"{k}/{j}", "jvm"), []))
        assert t == u, (SETTINGS[k], OP_FORMATS[j], sorted(set(t) ^ set(u))[:10])
        kept += len(u)
        stamped += sum(sec is not None for _id, sec, _n in u)
    # rows are both dropped and kept, and many are stamped
    assert stamped > 100 and kept < len(cases) * len(lines), (stamped, kept)
