"""processor_filter_regex_native EXACT semantics — replay of
core/unittest/processor/ProcessorFilterNativeUnittest.cpp.

Key dialect facts pinned here: every regex leaf is a FULL match
(boost::regex_match — TestLogFilterRule's ".*value1" accepts the
suffix match "abcdeavalue1" but REJECTS the prefix "value1xxxxx",
which a partial matcher would keep); and/or take exactly two operands;
DiscardingNonUTF8 blank-fills single invalid bytes with the reference
walker's one-byte-at-a-time re-judging (surrogate 3-byte sequences are
VALID — the upstream <=0xffff check is commented out).
"""

import random

import pytest
from pyspark.sql import functions as F

from ilogtail_spark.operators.filters import (
    compile_condition_exp,
    filter_native,
    none_utf8_blank,
)
from ilogtail_spark.operators.registry import OPERATORS


def _rows(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


# --- TestLogFilterRule (Unittest.cpp:184-276): Include map, full match


def test_log_filter_rule_include_full_match(spark):
    df = _rows(
        spark,
        [("value1xxxxx", "value2xxxxx"), ("abcdeavalue1", "value2xxxxx")],
        "key1 string, key2 string",
    )
    out = filter_native(
        df, include={"key1": ".*value1", "key2": "value2.*"}
    ).collect()
    # ".*value1" FULL-matches only the value ENDING in value1
    assert [(r.key1, r.key2) for r in out] == [("abcdeavalue1", "value2xxxxx")]


def test_log_filter_rule_missing_key_fails(spark):
    df = _rows(spark, [("abcvalue1", None)], "key1 string, key2 string")
    out = filter_native(df, include={"key1": ".*value1", "key2": "value2.*"})
    assert out.count() == 0


# --- TestBaseFilter cases 1-2 (Unittest.cpp:277-519): ConditionExp


def _leaf(k, e):
    return {"key": k, "exp": e, "type": "regex"}


def test_base_filter_and_tree(spark):
    cond = {"operator": "and",
            "operands": [_leaf("key1", ".*value1"), _leaf("key2", "value2.*")]}
    df = _rows(
        spark,
        [("value1xxxxx", "value2xxxxx"), ("abcdeavalue1", "value2xxxxx"),
         ("abcvalue1", None)],
        "key1 string, key2 string",
    )
    out = filter_native(df, condition_exp=cond).collect()
    assert [(r.key1, r.key2) for r in out] == [("abcdeavalue1", "value2xxxxx")]


def test_base_filter_nested_not_or(spark):
    ip = r"((2[0-4]\d|25[0-5]|[01]?\d\d?)\.){3}(2[0-4]\d|25[0-5]|[01]?\d\d?)"
    cond = {
        "operator": "and",
        "operands": [
            {"operator": "and",
             "operands": [_leaf("a", r"\d+"),
                          {"operator": "not",
                           "operands": [_leaf("d", r"20\d{1,2}-\d{1,2}-\d{1,2}")]}]},
            {"operator": "or",
             "operands": [_leaf("b", r"\S+"), _leaf("c", ip)]},
        ],
    }
    df = _rows(
        spark,
        [("100", "xxx", "192.168.1.1", "2008-08-08"),
         ("100", "xxx", "888.168.1.1", "1999-1-1"),
         ("aaa", "xxx", "8.8.8.8", "2222-22-22")],
        "a string, b string, c string, d string",
    )
    out = filter_native(df, condition_exp=cond).collect()
    # only the row whose d does NOT full-match 20\d{1,2}-... survives
    assert [(r.a, r.d) for r in out] == [("100", "1999-1-1")]


# --- ConditionExp validation (TestBaseFilter cases 3-9 + OnFailedInit)


def test_condition_exp_validation():
    ok = [
        {"operator": "and",
         "operands": [_leaf("a", "regex1"), _leaf("b", "regex2")]},
        _leaf("a", "xxx"),
        {"operator": "not", "operands": [_leaf("a", "regex1")]},
        # operator+operands alongside stray key/exp/type: operator wins
        {"operator": "and",
         "operands": [_leaf("b", "regex2"), _leaf("c", "regex3")],
         "type": "regex", "key": "c", "exp": "regex3"},
    ]
    for node in ok:
        compile_condition_exp(node)
    bad = [
        # leaf missing exp inside an or
        {"operator": "and",
         "operands": [_leaf("a", "regex1"),
                      {"operator": "or",
                       "operands": [{"type": "regex", "key": "b"},
                                    _leaf("c", "regex3")]}]},
        # binary with a single operand
        {"operator": "and",
         "operands": [_leaf("a", "regex1"),
                      {"operator": "or", "operands": [_leaf("b", "regex2")]}]},
        # operands without operator
        {"operator": "and",
         "operands": [_leaf("a", "regex1"),
                      {"operands": [_leaf("b", "regex2"), _leaf("c", "regex3")]}]},
    ]
    for node in bad:
        with pytest.raises(ValueError):
            compile_condition_exp(node)


def test_registry_modes_and_priority(spark):
    df = _rows(spark, [("abcdeavalue1", "zzz")], "key1 string, key2 string")
    # FilterKey/FilterRegex mode, full match
    fn = OPERATORS["processor_filter_regex_native"](
        FilterKey=["key1"], FilterRegex=[".*value1"]
    )
    assert fn(df).count() == 1
    fn = OPERATORS["processor_filter_regex_native"](
        FilterKey=["key1"], FilterRegex=["value1"]
    )
    assert fn(df).count() == 0  # partial hit is NOT enough
    # ConditionExp takes priority over Include
    fn = OPERATORS["processor_filter_regex_native"](
        ConditionExp=_leaf("key2", "zzz"), Include={"key1": "nomatch"}
    )
    assert fn(df).count() == 1
    # no rule configured: pass-through (+ the string "true" for the
    # bool flag keeps the default false, OnSuccessfulInit case 3)
    fn = OPERATORS["processor_filter_regex_native"](DiscardingNonUTF8="true")
    assert fn(df).count() == 1


# --- DiscardingNonUTF8 blank-fill (TestFilterNoneUtf8) ---------------


def _ref_blank(b: bytes) -> bytes:
    """Python port of the reference walker
    (ProcessorFilterNative.cpp:297-375) used as the test oracle."""
    out = bytearray(b)
    n = len(b)

    def cont(j):
        return j < n and (b[j] & 0xC0) == 0x80

    i = 0
    while i < n:
        c = b[i]
        if c & 0x80 == 0:
            i += 1
        elif (c & 0xE0) == 0xC0:
            if not cont(i + 1):
                out[i] = 0x20
                i += 1
                continue
            u = ((c & 0x1F) << 6) | (b[i + 1] & 0x3F)
            if not (0x80 <= u <= 0x7FF):
                out[i] = 0x20
                i += 1
                continue
            i += 2
        elif (c & 0xF0) == 0xE0:
            if not (cont(i + 1) and cont(i + 2)):
                out[i] = 0x20
                i += 1
                continue
            u = ((c & 0x0F) << 12) | ((b[i + 1] & 0x3F) << 6) | (b[i + 2] & 0x3F)
            if u < 0x800:  # NO upper bound: surrogates pass upstream
                out[i] = 0x20
                i += 1
                continue
            i += 3
        elif (c & 0xF8) == 0xF0:
            if not (cont(i + 1) and cont(i + 2) and cont(i + 3)):
                out[i] = 0x20
                i += 1
                continue
            u = (((c & 0x07) << 18) | ((b[i + 1] & 0x3F) << 12)
                 | ((b[i + 2] & 0x3F) << 6) | (b[i + 3] & 0x3F))
            if not (0x10000 <= u <= 0x10FFFF):
                out[i] = 0x20
                i += 1
                continue
            i += 4
        else:
            out[i] = 0x20
            i += 1
    return bytes(out)


_EDGE_CASES = [
    b"plain ascii stays",
    b"",
    "héllo wörld €".encode("utf-8"),          # valid 2- and 3-byte
    b"\x80",                                   # lone continuation
    b"\xc3",                                   # truncated 2-byte at end
    b"\xc3A",                                  # 2-byte with ASCII cont: lead only
    b"\xc0\xaf",                               # overlong 2-byte: BOTH blanked
    b"\xe0\x80\x80",                           # overlong 3-byte
    b"\xed\xa0\x80",                           # surrogate: VALID upstream
    b"\xf0\x8f\x80\x80",                       # overlong 4-byte
    b"\xf4\x90\x80\x80",                       # > U+10FFFF
    b"\xf5\x80\x80\x80",                       # lead f5 invalid
    b"ok\xfftail stays valid",                 # invalid then clean tail
    "𝄞 clef".encode("utf-8"),                  # valid 4-byte
    b"a\xc3\xa9\xffz\xe2\x82",                 # mix + truncated 3-byte at end
]


def test_none_utf8_blank_edges(spark):
    rows = [(i, v) for i, v in enumerate(_EDGE_CASES)]
    df = spark.createDataFrame(rows, "id int, raw binary")
    got = {
        r.id: bytes(r.c)
        for r in df.select("id", none_utf8_blank(F.col("raw")).alias("c")).collect()
    }
    for i, v in enumerate(_EDGE_CASES):
        assert got[i] == _ref_blank(v), (i, v, got[i], _ref_blank(v))


def test_none_utf8_blank_random_property(spark):
    """Seeded replay of TestFilterNoneUtf8's distribution: random mixes
    of valid 1-4-byte sequences and corrupted variants, Spark output
    byte-equal to the reference walker."""
    rng = random.Random(0x1107)
    pieces = []
    for _ in range(400):
        kind = rng.randrange(8)
        if kind == 0:
            pieces.append(bytes([rng.randrange(0x80)]))
        elif kind == 1:
            pieces.append(bytes([0x80 | rng.randrange(0x40)]))  # lone cont
        elif kind == 2:
            pieces.append(chr(rng.randrange(0x80, 0x800)).encode())
        elif kind == 3:
            pieces.append(bytes([0xC0 | rng.randrange(0x20),
                                 rng.randrange(0x100)]))
        elif kind == 4:
            pieces.append(chr(rng.randrange(0x800, 0xD800)).encode())
        elif kind == 5:
            pieces.append(bytes([0xE0 | rng.randrange(0x10),
                                 rng.randrange(0x100), rng.randrange(0x100)]))
        elif kind == 6:
            pieces.append(chr(rng.randrange(0x10000, 0x110000)).encode())
        else:
            pieces.append(bytes([0xF0 | rng.randrange(0x08),
                                 rng.randrange(0x100), rng.randrange(0x100),
                                 rng.randrange(0x100)]))
    docs = []
    idx = 0
    while pieces:
        take = min(len(pieces), rng.randrange(1, 30))
        docs.append((idx, b"".join(pieces[:take])))
        pieces = pieces[take:]
        idx += 1
    df = spark.createDataFrame(docs, "id int, raw binary")
    got = {
        r.id: bytes(r.c)
        for r in df.select("id", none_utf8_blank(F.col("raw")).alias("c")).collect()
    }
    for i, v in docs:
        assert got[i] == _ref_blank(v), (i, v.hex(), got[i].hex())


def test_filter_native_applies_blank_to_kept_binary(spark):
    df = spark.createDataFrame(
        [("keepme", b"ok\xffx"), ("dropme", b"zz")], "k string, raw binary"
    )
    out = filter_native(
        df, include={"k": "keepme"}, discard_non_utf8=True
    ).collect()
    assert len(out) == 1 and bytes(out[0].raw) == b"ok x"


# --- processor_timestamp_filter_native exact semantics ---------------
# (ProcessorTimestampFilterNativeUnittest: WithSourceKey/WithBounds/
#  WithDifferentPrecisions/WithInvalidTimestamp/WithMissingSourceKey/
#  WithEventTimestamp + SecondPrecisionOptimization)


def test_ts_filter_source_key_bounds_inclusive(spark):
    from ilogtail_spark.operators.filters import timestamp_filter_native

    df = spark.createDataFrame(
        [("999999999",), ("1000000000",), ("1500000000",), ("2000000000",),
         ("2000000001",)],
        "ts_str string",
    )
    out = timestamp_filter_native(
        df, source_key="ts_str", precision="second",
        lower_bound=1000000000, upper_bound=2000000000,
    )
    kept = sorted(r.ts_str for r in out.collect())
    # bounds are INCLUSIVE; < lower and > upper discard
    assert kept == ["1000000000", "1500000000", "2000000000"]


def test_ts_filter_invalid_and_missing_keep(spark):
    from ilogtail_spark.operators.filters import timestamp_filter_native

    df = spark.createDataFrame(
        [("abc",), ("",), (None,), ("123abc",)], "ts_str string"
    )
    out = timestamp_filter_native(
        df, source_key="ts_str", precision="second",
        lower_bound=1000000000, upper_bound=2000000000,
    )
    # parse failures KEEP the event (ProcessEvent returns true)
    assert out.count() == 4
    # a key missing from the schema entirely also keeps everything
    df2 = spark.createDataFrame([(1,), (2,)], "id int")
    assert timestamp_filter_native(
        df2, source_key="nope", lower_bound=1, upper_bound=2
    ).count() == 2


def test_ts_filter_source_key_in_attrs(spark):
    """A SourceKey an earlier stage landed in the attrs KV bag is parsed
    and bounds-checked like a column; a row without it keeps."""
    from ilogtail_spark.operators.filters import timestamp_filter_native

    df = spark.createDataFrame(
        [(1, {"t": "1500000000"}), (2, {"t": "2500000000"}), (3, {})],
        "id int, attrs map<string,string>",
    )
    out = timestamp_filter_native(
        df, source_key="t", lower_bound=1000000000, upper_bound=2000000000
    )
    assert sorted(r.id for r in out.collect()) == [1, 3]


def test_ts_filter_only_from_chars_integers_parse(spark):
    """std::from_chars reads only [-]digits: a blank, a '+' or a trailing
    newline is a parse failure, so the row keeps even out of bounds."""
    from ilogtail_spark.operators.filters import timestamp_filter_native

    df = spark.createDataFrame(
        [(" 123",), ("+123",), ("123 ",), ("123\n",), ("-5",), ("123",)],
        "v string",
    )
    out = timestamp_filter_native(
        df, source_key="v", lower_bound=1000, upper_bound=2000
    )
    assert sorted(r.v for r in out.collect()) == [" 123", "+123", "123\n", "123 "]


def test_ts_filter_precisions(spark):
    from ilogtail_spark.operators.filters import timestamp_filter_native

    # millisecond: value and bounds are ms, compared at ns internally
    df = spark.createDataFrame(
        [("1500000000000",), ("2500000000000",)], "v string"
    )
    out = timestamp_filter_native(
        df, source_key="v", precision="millisecond",
        lower_bound=1000000000000, upper_bound=2000000000000,
    )
    assert [r.v for r in out.collect()] == ["1500000000000"]
    # nanosecond: raw ns
    df = spark.createDataFrame(
        [("1500000000000000000",), ("999",)], "v string"
    )
    out = timestamp_filter_native(
        df, source_key="v", precision="nanosecond",
        lower_bound=1000000000000000000, upper_bound=2000000000000000000,
    )
    assert [r.v for r in out.collect()] == ["1500000000000000000"]
    # invalid precision string falls back to second
    out = timestamp_filter_native(
        spark.createDataFrame([("15",)], "v string"),
        source_key="v", precision="bogus", lower_bound=10, upper_bound=20,
    )
    assert out.count() == 1


def test_ts_filter_event_time_and_defaults(spark):
    from ilogtail_spark.operators.filters import timestamp_filter_native

    df = spark.createDataFrame(
        [(1, "2001-09-09 01:46:40"), (2, "2033-05-18 03:33:20")],
        "id int, t string",
    ).selectExpr("id", "cast(t as timestamp) as ts")
    # event-time mode, second precision: epochs 1000000000 / 2000000000
    out = timestamp_filter_native(
        df, lower_bound=1000000000, upper_bound=1999999999
    )
    assert [r.id for r in out.collect()] == [1]
    # UpperBound absent/<=0 -> +inf; LowerBound default 0
    assert timestamp_filter_native(df).count() == 2
    assert timestamp_filter_native(df, upper_bound=0).count() == 2
    # nanosecond event-time comparison folds the nsec column in
    df2 = df.withColumn("nsec", F.expr("id * 500000000"))
    out = timestamp_filter_native(
        df2, precision="nanosecond", nsec_col="nsec",
        lower_bound=1000000000500000001, upper_bound=3000000000000000000,
    )
    assert [r.id for r in out.collect()] == [2]


def test_ts_filter_native_registry_modes(spark):
    df = spark.createDataFrame([("1500000000",)], "ts_str string")
    fn = OPERATORS["processor_timestamp_filter_native"](
        SourceKey="ts_str", TimestampPrecision="second",
        LowerBound=1000000000, UpperBound=2000000000,
    )
    assert fn(df).count() == 1
    fn = OPERATORS["processor_timestamp_filter_native"](
        SourceKey="ts_str", LowerBound=1600000000,
    )
    assert fn(df).count() == 0


def test_ts_filter_null_nsec_keeps(spark):
    """Review fix: a NULL nsec column must coalesce to 0
    (GetEventTimestamp's has_value() ? value : 0), not NULL-poison the
    bounds comparison into a drop."""
    from ilogtail_spark.operators.filters import timestamp_filter_native

    df = spark.createDataFrame(
        [(1, "2001-09-09 01:46:40", None), (2, "2001-09-09 01:46:40", 5)],
        "id int, t string, nsec long",
    ).selectExpr("id", "cast(t as timestamp) as ts", "nsec")
    out = timestamp_filter_native(
        df, precision="nanosecond", nsec_col="nsec",
        lower_bound=1000000000000000000, upper_bound=2000000000000000000,
    )
    assert sorted(r.id for r in out.collect()) == [1, 2]


def test_filter_native_string_expr_backcompat(spark):
    """Review fix: a SQL-predicate string ConditionExp keeps working
    through the convenience path (the pre-rework factory contract)."""
    df = spark.createDataFrame([("user",), ("tool",)], "role string")
    fn = OPERATORS["processor_filter_regex_native"](
        ConditionExp="role = 'user'"
    )
    assert [r.role for r in fn(df).collect()] == ["user"]
