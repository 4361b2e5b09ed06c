"""Golden per-operator parser tests — inline rows → transform → exact
expected output, mirroring the reference's C++/Go unit-test shape
(ProcessorParseRegexNativeUnittest.cpp, regex_test.go)."""

import pytest
from pyspark.sql import functions as F

from ilogtail_spark.functions.grok import GrokError, compile_grok, grok_parse
from ilogtail_spark.operators.parse import (
    PARSE_OK_KEY,
    RAW_LOG_KEY,
    ParserOptions,
    parse_delimiter,
    parse_json,
    parse_first_match,
    parse_kv,
    parse_regex,
    parse_timestamp,
)

PAT = r"(\w+) status=(\d+)"
FIELDS = ["name", "code"]


def _df(spark, texts):
    return spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id int, text string")


def test_regex_success_and_failure(spark):
    df = _df(spark, ["alpha status=200", "no match here"])
    out = parse_regex(df, PAT, FIELDS).orderBy("id").collect()
    assert out[0]["name"] == "alpha" and out[0]["code"] == "200"
    assert out[0][PARSE_OK_KEY] is True and out[0][RAW_LOG_KEY] is None
    assert out[1]["name"] is None
    assert out[1][PARSE_OK_KEY] is False
    # failure contract: raw log preserved (CommonParserOptions.h:27-39)
    assert out[1][RAW_LOG_KEY] == "no match here"


def test_regex_discard_unmatch(spark):
    df = _df(spark, ["alpha status=200", "junk"])
    out = parse_regex(df, PAT, FIELDS, options=ParserOptions(discard_unmatch=True))
    assert out.count() == 1


def test_regex_keep_source(spark):
    df = _df(spark, ["alpha status=200"])
    out = parse_regex(df, PAT, FIELDS, options=ParserOptions(keep_source=True)).first()
    assert out["text"] == "alpha status=200"
    # default: source nulled on success
    out2 = parse_regex(df, PAT, FIELDS).first()
    assert out2["text"] is None


def test_regex_types(spark):
    df = _df(spark, ["alpha status=200"])
    out = parse_regex(df, PAT, FIELDS, types={"code": "int"}).first()
    assert out["code"] == 200


def test_parse_json(spark):
    df = _df(spark, ['{"a": "1", "b": "x"}', "not json"])
    out = parse_json(df, expand=["a"], types={"a": "int"}).orderBy("id").collect()
    assert out[0]["attrs"] == {"a": "1", "b": "x"} and out[0]["a"] == 1
    assert out[1][PARSE_OK_KEY] is False and out[1][RAW_LOG_KEY] == "not json"


def test_parse_delimiter_plain(spark):
    df = _df(spark, ["a,b,c", "x,y"])
    out = (
        parse_delimiter(df, ["f1", "f2", "f3"], sep=",", quote=None)
        .orderBy("id")
        .collect()
    )
    assert (out[0]["f1"], out[0]["f2"], out[0]["f3"]) == ("a", "b", "c")
    assert out[1][PARSE_OK_KEY] is False  # short row fails by default


def test_parse_delimiter_quoted(spark):
    df = _df(spark, ['a,"b,with,commas",c'])
    out = parse_delimiter(df, ["f1", "f2", "f3"], sep=",", quote='"').first()
    assert out["f2"] == "b,with,commas"


def test_parse_kv(spark):
    # SPL parse-kv test shape (SplUnittest.cpp:565-630)
    df = _df(spark, ["k1=v1&k2=v2&k3=v3"])
    out = parse_kv(df, pair_sep="&", kv_sep="=", expand=["k1", "k3"]).first()
    assert out["attrs"] == {"k1": "v1", "k2": "v2", "k3": "v3"}
    assert out["k1"] == "v1" and out["k3"] == "v3"


def test_parse_timestamp(spark):
    df = spark.createDataFrame([("2024-03-01 10:20:30",)], "t string")
    out = parse_timestamp(df, "t", "yyyy-MM-dd HH:mm:ss", dest="ts").first()
    assert out["ts"].isoformat() == "2024-03-01T10:20:30"


def test_parse_timestamp_tz(spark):
    df = spark.createDataFrame([("2024-03-01 10:20:30",)], "t string")
    out = parse_timestamp(
        df, "t", "yyyy-MM-dd HH:mm:ss", dest="ts", source_tz="Asia/Shanghai"
    ).first()
    assert out["ts"].isoformat() == "2024-03-01T02:20:30"  # UTC+8 shifted


def test_regex_trailing_literal_required(spark):
    """Pattern ending in a literal: the literal must exist after the
    capture or the parse fails."""
    df = _df(spark, ["user=alice x", "user=bob", "user=carol y"])
    out = parse_regex(df, r"user=(\w+) x", ["u"]).orderBy("id").collect()
    assert [r[PARSE_OK_KEY] for r in out] == [True, False, False]
    assert [r["u"] for r in out] == ["alice", None, None]


def test_regex_backtracks_into_capture_class(spark):
    """An anchor whose first char the preceding capture can consume:
    the match backtracks, and a match may start at a later occurrence
    of the first anchor (regex ``find``, not first-occurrence carving)."""
    df = _df(spark, ["a=x_y_b", "n=1277x", "tool=a tool=b status=1"])
    out = parse_first_match(
        df,
        [(r"a=(\w+)_b", ["v"], {}), (r"n=(\d+)7x", ["v"], {}),
         (r"tool=(\w+) status=(\d+)", ["v", "s"], {})],
    ).orderBy("id").collect()
    assert [r["v"] for r in out] == ["x_y", "127", "b"]
    assert out[2]["s"] == "1" and all(r[PARSE_OK_KEY] for r in out)


def test_regex_duplicate_keys_last_participating_wins(spark):
    """regex.go:121-127 appends only participating groups: among
    duplicate Keys the last participating group wins, even when it
    captured the empty string; a skipped branch does not count. A
    single Key whose group did not take part reads ``""``."""
    df = _df(spark, ["x=5;y=", "x=;y=7", "x=5", "y=", "q"])
    out = parse_regex(
        df, r"x=(\d*);y=(\d*)|x=(\d+)|y=(\d*)|(q)", ["v", "v", "v", "v", "w"]
    ).orderBy("id").collect()
    assert [r["v"] for r in out] == ["", "7", "5", "", ""]
    assert [r["w"] for r in out] == ["", "", "", "", "q"]


def test_regex_bad_pattern_fails_at_plan_build(spark):
    """A pattern that does not compile raises a ValueError naming it
    while the plan is built, before any Spark job runs."""
    from ilogtail_spark.operators.registry import OPERATORS

    df = _df(spark, ["a=1"])
    fn = OPERATORS["processor_parse_regex_native"](Regex="a=(\\d+", Keys=["a"])
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    with pytest.raises(ValueError, match=r"invalid regex 'a=\("):
        fn(df)
    with pytest.raises(ValueError, match="Unclosed group"):
        grok_parse(df, ["%{INT:a}", "b=(%{INT:b}"])
    assert len(tracker.getJobIdsForGroup(None) or []) == before


def test_regex_fewer_groups_than_keys_fails_every_row(spark):
    """Go fails every row when the pattern has fewer groups than Keys
    (regex.go:115-120). The count is java.util.regex's own, so Java-only
    syntax (a POSIX class, a possessive quantifier) is counted too."""
    df = _df(spark, ["ab=12"])
    for pat in (r"(\p{Alpha}++)=(\d+)", r"(\w+)=(\d+)"):
        row = parse_regex(df, pat, ["k", "v", "extra"]).first()
        assert row[PARSE_OK_KEY] is False and row[RAW_LOG_KEY] == "ab=12"
        assert (row["k"], row["v"], row["extra"]) == (None, None, None)
    assert parse_regex(df, r"(\p{Alpha}++)=(\d+)", ["k", "v"]).first()["k"] == "ab"


# --- grok ---------------------------------------------------------------

def test_grok_compile():
    # file-grok.yaml:30-37 fixture pattern
    regex, fields, types = compile_grok(
        "%{IP:client} %{WORD:method} %{URIPATHPARAM:request} "
        "%{NUMBER:bytes:int} %{NUMBER:duration:float}"
    )
    assert fields == ["client", "method", "request", "bytes", "duration"]
    assert types == {"bytes": "int", "duration": "double"}
    import re

    m = re.match(regex, "10.0.0.0 GET /index.html 15824 0.043")
    assert m and m.group(1) == "10.0.0.0" and m.group(4) == "15824"


def test_grok_unknown_pattern():
    with pytest.raises(GrokError):
        compile_grok("%{NOPE:x}")


def test_grok_parse_df(spark):
    df = _df(spark, ["10.0.0.0 GET /index.html 15824 0.043", "garbage"])
    out = (
        grok_parse(df, "%{IP:client} %{WORD:method} %{URIPATHPARAM:request} %{NUMBER:bytes:int} %{NUMBER:duration}")
        .orderBy("id")
        .collect()
    )
    assert out[0]["client"] == "10.0.0.0" and out[0]["bytes"] == 15824
    assert out[1][PARSE_OK_KEY] is False


def test_container_log_docker_and_cri(spark):
    from ilogtail_spark.operators.parse import PARSE_OK_KEY, parse_container_log

    docker = spark.createDataFrame(
        [("a", '{"log":"hello\\n","stream":"stderr","time":"2024-01-01T00:00:00Z"}'),
         ("b", "not json")],
        ["id", "text"],
    )
    out = {r["id"]: r for r in parse_container_log(docker, fmt="docker").collect()}
    assert out["a"]["content"] == "hello\n" and out["a"]["_source_"] == "stderr"
    assert out["a"][PARSE_OK_KEY] and not out["b"][PARSE_OK_KEY]
    assert out["b"]["__raw_log__"] == "not json"

    cri = spark.createDataFrame(
        [("a", "2024-01-01T00:00:00.000Z stdout F hello world"),
         ("b", "2024-01-01T00:00:00.000Z stdout P partial line"),
         ("c", "garbage")],
        ["id", "text"],
    )
    out = {r["id"]: r for r in parse_container_log(cri, fmt="cri").collect()}
    assert out["a"]["content"] == "hello world" and not out["a"]["_partial"]
    assert out["b"]["_partial"] is True
    assert not out["c"][PARSE_OK_KEY]


def test_grok_multi_pattern_first_wins(spark):
    """processor_grok.go:147-192: ordered Match list, first success
    wins; output schema is the union of all patterns' fields."""
    df = _df(spark, ["code=42 extra", "user alice logged", "nothing"])
    out = (
        grok_parse(
            df,
            ["code=%{INT:code:int}", "user %{WORD:who} logged"],
        )
        .orderBy("id")
        .collect()
    )
    assert out[0]["code"] == 42 and out[0]["who"] is None
    assert out[1]["code"] is None and out[1]["who"] == "alice"
    assert out[1][PARSE_OK_KEY] is True
    assert out[2][PARSE_OK_KEY] is False and out[2][RAW_LOG_KEY] == "nothing"


def test_grok_multi_pattern_overlapping_fields(spark):
    # same alias in both patterns: the winning pattern's value is used
    df = _df(spark, ["a=1", "b=2"])
    out = (
        grok_parse(df, ["a=%{INT:v}", "b=%{INT:v}"]).orderBy("id").collect()
    )
    assert out[0]["v"] == "1" and out[1]["v"] == "2"


def test_split_key_value_quotes_and_policies(spark):
    """key_value_splitter.go:97-160: quote-aware pairs, empty-key and
    no-separator prefixes with per-row counters."""
    from ilogtail_spark.operators.parse import split_key_value

    line = 'a:1\tb:"x\ty"\tnosep\t:emptyval\tanother'
    df = _df(spark, [line])
    out = split_key_value(
        df, pair_sep="\t", kv_sep=":", quote='"',
        options=ParserOptions(keep_source=True),
    ).first()
    assert out["attrs"] == {
        "a": "1",
        "b": "x\ty",
        "no_separator_key_0": "nosep",
        "empty_key_0": "emptyval",
        "no_separator_key_1": "another",
    }

    dropped = split_key_value(
        df, pair_sep="\t", kv_sep=":", quote='"', discard_no_sep=True,
        options=ParserOptions(keep_source=True),
    ).first()
    assert dropped["attrs"] == {"a": "1", "b": "x\ty", "empty_key_0": "emptyval"}


def test_parse_delimiter_quote_overflow_and_short(spark):
    """overflow/allow_shortened now honored on the quote path; an
    empty-quoted last field is NOT a short row."""
    from ilogtail_spark.operators.parse import parse_delimiter

    df = _df(spark, ['a,"b,1",c,ex1,ex2', 'a,b', 'x,y,""'])
    out = (
        parse_delimiter(df, ["f1", "f2", "f3"], sep=",", quote='"')
        .orderBy("id")
        .collect()
    )
    assert out[0]["f2"] == "b,1" and out[0][PARSE_OK_KEY]
    assert out[0]["__column3__"] == "ex1" and out[0]["__column4__"] == "ex2"
    assert not out[1][PARSE_OK_KEY]  # short row fails
    assert out[2][PARSE_OK_KEY] and out[2]["f3"] == ""  # empty-quoted ok


def test_parse_prom_metric(spark):
    from ilogtail_spark.operators.parse import parse_prom_metric

    lines = [
        'http_requests_total{method="post",code="200"} 1027 1395066363000',
        "bare_metric 42.5",
        'esc{msg="a\\"b\\\\c"} 1',
        "# HELP http_requests_total The total...",
        "not a metric line",
    ]
    df = _df(spark, lines)
    out = parse_prom_metric(df).orderBy("id").collect()
    assert out[0]["__name__"] == "http_requests_total"
    assert dict(out[0]["labels"]) == {"method": "post", "code": "200"}
    assert out[0]["__value__"] == 1027.0 and out[0]["__ts_ms__"] == 1395066363000
    assert out[1]["__name__"] == "bare_metric" and out[1]["__value__"] == 42.5
    assert out[1]["__ts_ms__"] is None and dict(out[1]["labels"]) == {}
    assert dict(out[2]["labels"]) == {"msg": 'a"b\\c'}
    assert not out[3][PARSE_OK_KEY] and not out[4][PARSE_OK_KEY]


def test_grok_mixed_type_field_stays_string(spark):
    """A field typed in one pattern but not another must not be
    force-cast when the untyped pattern wins (was silently NULLing)."""
    df = _df(spark, ["w=abc", "n=42"])
    out = (
        grok_parse(df, ["w=%{WORD:v}", "n=%{INT:v:int}"]).orderBy("id").collect()
    )
    assert out[0]["v"] == "abc"  # untyped winner: value survives
    assert out[1]["v"] == "42"   # typed pattern still matches, stays string


def test_kv_factory_prefix_config_routes_full_splitter(spark):
    from ilogtail_spark.operators.registry import OPERATORS

    df = _df(spark, ["a:1\tstandalone"])
    fn = OPERATORS["processor_split_key_value"](
        SourceKey="text", Delimiter="\t", Separator=":",
        NoSeparatorKeyPrefix="bad_", KeepSource=True,
    )
    out = fn(df).first()
    assert out["attrs"] == {"a": "1", "bad_0": "standalone"}


def test_kv_factory_splits_on_the_literal_delimiter(spark):
    """The registry always builds the full splitter: a regex
    metacharacter Delimiter is literal, and a pair without the
    separator lands under ``no_separator_key_<i>`` whether or not
    Quote or a prefix key is configured."""
    from ilogtail_spark.operators.registry import OPERATORS

    df = _df(spark, ["a=1|standalone"])
    for extra in ({}, {"Quote": '"'}):
        fn = OPERATORS["processor_split_key_value"](
            SourceKey="text", Delimiter="|", Separator="=", KeepSource=True, **extra
        )
        assert fn(df).first()["attrs"] == {"a": "1", "no_separator_key_0": "standalone"}


def test_parse_delimiter_keep_overflow_raw_remainder(spark):
    from ilogtail_spark.operators.parse import parse_delimiter

    df = _df(spark, ['"x","y,1","z","w"'])
    out = parse_delimiter(
        df, ["f1", "f2"], sep=",", quote='"', overflow="keep",
    ).first()
    assert out["f1"] == "x"
    assert out["f2"] == '"y,1","z","w"'  # glued remainder stays raw


def test_kv_duplicate_keys_last_wins(spark):
    """Duplicate keys must not throw under the default EXCEPTION map
    dedup policy — last occurrence wins (the reference appends
    duplicates without error, key_value_splitter.go:97-160)."""
    from ilogtail_spark.operators.parse import split_key_value

    df = _df(spark, ["a=1&a=2&b=3"])
    out = parse_kv(df, pair_sep="&", kv_sep="=").first()
    assert out["attrs"] == {"a": "2", "b": "3"}

    df2 = _df(spark, ["a:1\ta:2\tb:3"])
    out2 = split_key_value(
        df2, pair_sep="\t", kv_sep=":", options=ParserOptions(keep_source=True)
    ).first()
    assert out2["attrs"] == {"a": "2", "b": "3"}


def test_quote_split_doubled_quotes_and_unbalanced_tail(spark):
    """Linear quote_split: quote-doubling keeps parity; an unbalanced
    quote glues only the TAIL from the quote onward (the old lookahead
    collapsed the whole line)."""
    from ilogtail_spark.operators.parse import quote_split

    df = spark.createDataFrame(
        [('a,"b""c,d",e',), ("x,y,\"unclosed,tail",)], "t string"
    )
    out = df.select(quote_split(F.col("t"), ",", '"').alias("p")).collect()
    assert out[0]["p"] == ["a", '"b""c,d"', "e"]
    # seps before the unbalanced quote still split; tail glued
    assert out[1]["p"] == ["x", "y", '"unclosed,tail']


def test_parse_prom_exposition_full_grammar(spark):
    """TYPE/HELP metadata lines, histogram family folding, and
    broadcast type attachment (the scrape TextParser itself skips all
    '#' lines — TextParser.cpp:50-67, Utils.cpp:102-113 — this is the
    full exposition grammar on top)."""
    from ilogtail_spark.operators.parse import parse_prom_exposition

    lines = [
        "# HELP http_latency Request latency.",
        "# TYPE http_latency histogram",
        'http_latency_bucket{le="0.1"} 3',
        'http_latency_bucket{le="+Inf"} 7',
        "http_latency_sum 12.5",
        "http_latency_count 7",
        "# TYPE turns_total counter",
        "turns_total 42",
        "garbage line",
    ]
    df = _df(spark, lines)
    out = parse_prom_exposition(df).orderBy("id").collect()
    kinds = [r["__line_kind__"] for r in out]
    assert kinds == ["help", "type", "sample", "sample", "sample",
                     "sample", "type", "sample", "invalid"]
    assert out[1]["__name__"] == "http_latency"
    assert out[1]["__meta_text__"] == "histogram"
    assert out[2]["__series__"] == "bucket" and out[2]["__le__"] == "0.1"
    assert out[2]["__family__"] == "http_latency"
    assert out[2]["__type__"] == "histogram"  # attached from TYPE line
    assert out[4]["__series__"] == "sum" and out[4]["__type__"] == "histogram"
    assert out[7]["__series__"] == "sample" and out[7]["__type__"] == "counter"
    assert out[8]["__type__"] is None


def test_quote_split_preserves_embedded_nul_bytes(spark):
    """Pre-existing NUL bytes in a field are payload, not sentinel —
    the escape scheme must hand them back verbatim instead of
    rewriting them into separators."""
    from ilogtail_spark.operators.parse import quote_split

    df = spark.createDataFrame([('a,"b\x00c",d\x00e',)], "t string")
    out = df.select(quote_split(F.col("t"), ",", '"').alias("p")).collect()
    assert out[0]["p"] == ["a", '"b\x00c"', "d\x00e"]


def test_prom_exposition_verbatim_type_wins_over_family(spark):
    """A TYPE line declaring a metric's VERBATIM name beats the
    suffix-stripped family lookup: a counter legitimately named
    *_count keeps its own declaration even when the family also has
    one; plain family members still fall back to the family TYPE."""
    from ilogtail_spark.operators.parse import parse_prom_exposition

    lines = [
        "# TYPE requests histogram",
        "# TYPE requests_count counter",
        "requests_count 5",
        "requests_bucket{le=\"1\"} 2",
    ]
    df = spark.createDataFrame([(l,) for l in lines], "text string")
    rows = {
        r["__name__"]: r
        for r in parse_prom_exposition(df).collect()
        if r["__line_kind__"] == "sample"
    }
    assert rows["requests_count"]["__type__"] == "counter"
    assert rows["requests_bucket"]["__type__"] == "histogram"


def test_prom_exposition_keep_source_if_fail_guard(spark):
    from ilogtail_spark.operators.parse import ParserOptions, parse_prom_exposition
    import pytest as _pytest

    df = spark.createDataFrame([("# TYPE a counter",)], "text string")
    with _pytest.raises(ValueError, match="keep_source_if_fail"):
        parse_prom_exposition(
            df, options=ParserOptions(keep_source_if_fail=False)
        )


def test_container_log_containerd_edge_table(spark):
    """ProcessorParseContainerLogNativeUnittest::TestContainerdLog
    cases 1-5 replayed verbatim (.cpp:176-252 semantics): the P/F
    token is a FLAG only when immediately followed by the delimiter;
    flag-less rests are all content; a missing second delimiter or
    bad stream token fails the line."""
    from ilogtail_spark.operators.parse import PARSE_OK_KEY, parse_container_log

    T = "2024-01-05T23:28:06.818486411+08:00"
    rows = [
        ("c1", f"{T} stdout P "),       # flag P, empty content, partial
        ("c2", f"{T} stdout P"),        # 'P' alone IS the content
        ("c3", f"{T} stdout "),         # empty flag-less content
        ("c4", f"{T} stdout"),          # no 2nd delimiter -> fail
        ("c5", f"{T}stdout"),           # no 1st... one token -> fail
        ("c6", f"{T} stdout PP 1"),     # 'PP 1' is content (.cpp:237)
        ("c7", f"{T} stdout hello world"),  # flag-less content
        ("c8", f"{T} stdout F done"),   # full flag, not partial
        ("c9", f"{T} nonsense F x"),    # bad stream token -> fail
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    out = {r["id"]: r for r in parse_container_log(df, fmt="cri").collect()}
    assert out["c1"][PARSE_OK_KEY] and out["c1"]["content"] == "" \
        and out["c1"]["_partial"] is True
    assert out["c2"][PARSE_OK_KEY] and out["c2"]["content"] == "P" \
        and out["c2"]["_partial"] is False
    assert out["c3"][PARSE_OK_KEY] and out["c3"]["content"] == "" \
        and out["c3"]["_partial"] is False
    for bad in ("c4", "c5", "c9"):
        assert not out[bad][PARSE_OK_KEY], bad
        assert out[bad]["__raw_log__"] is not None
    assert out["c6"]["content"] == "PP 1" and out["c6"]["_partial"] is False
    assert out["c7"]["content"] == "hello world"
    assert out["c8"]["content"] == "done" and out["c8"]["_partial"] is False
    # every passing row carries time + source
    assert out["c1"]["_time_"] == T and out["c1"]["_source_"] == "stdout"


def test_container_log_docker_requires_all_three_keys(spark):
    """TestParseDockerLog: log/stream/time are ALL required — a line
    missing any of them (or truncated/cut JSON) fails; escapes and
    unicode in log survive from_json."""
    from ilogtail_spark.operators.parse import PARSE_OK_KEY, parse_container_log

    rows = [
        ("ok", '{"log":"Hello, World!","stream":"stdout","time":"2021-12-01T00:00:00.000Z"}'),
        ("trunc", '{"log":"Hello, World!","stream":"stdout","time":"2021-12-01T00:00:00.000Z'),
        ("empty", ""),
        ("no_stream_time", '{"log":"Hello, World!"}'),
        ("no_time", '{"log":"Hello, World!","stream":"stdout"}'),
        ("no_stream", '{"log":"Hello, World!","time":"2021-12-01T00:00:00.000Z"}'),
        ("esc", '{"log":"a \\" b \\n c","stream":"stdout","time":"2021-12-01T00:00:00.000Z"}'),
        ("cut", 'og":"Hello, world","stream":"stdout","time":"2021-12-01T00:00:00.000Z"}'),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    out = {r["id"]: r for r in parse_container_log(df, fmt="docker").collect()}
    assert out["ok"][PARSE_OK_KEY]
    for bad in ("trunc", "empty", "no_stream_time", "no_time", "no_stream", "cut"):
        assert not out[bad][PARSE_OK_KEY], bad
    assert out["esc"][PARSE_OK_KEY] and out["esc"]["content"] == 'a " b \n c'


def test_container_log_ignoring_streams(spark):
    """TestIgnoringStdoutStderr (.cpp:215-226): the ignored stream's
    rows are DROPPED, not failed."""
    from ilogtail_spark.operators.parse import parse_container_log

    T = "2024-01-05T23:28:06.818486411+08:00"
    df = spark.createDataFrame(
        [("a", f"{T} stdout x"), ("b", f"{T} stderr y"), ("c", "garbage")],
        ["id", "text"],
    )
    out = parse_container_log(df, fmt="cri", ignoring_stderr=True).collect()
    ids = sorted(r["id"] for r in out)
    assert ids == ["a", "c"]  # stderr dropped, failure kept as raw
    out2 = parse_container_log(df, fmt="cri", ignoring_stdout=True,
                               ignoring_stderr=True).collect()
    assert sorted(r["id"] for r in out2) == ["c"]


# ---------------------------------------------------------------------------
# apsara exact semantics — ProcessorParseApsaraNativeUnittest replay
# ---------------------------------------------------------------------------

_AP_FILE = "build/debug64/ilogtail/core/ilogtail.cpp"
_AP_TS1 = "2013-03-13 18:05:09.493309"
_AP_TS2 = "2013-03-13 18:14:57.365716"
_MT1, _SEC1 = "1363169109493309", 1363169109
_MT2, _SEC2 = "1363169697365716", 1363169697

# (input line, expected FULL fields map or None=row dropped, expected sec)
# — ProcessorParseApsaraNativeUnittest::TestApsaraLogLineParser's 31
# cases (Unittest.cpp:155-430), config Timezone=GMT+08:00,
# KeepingSourceWhenParseSucceed/Fail=false. The C++ test asserts listed
# keys only; the maps below are the FULL expected contents (derived
# from ProcessorParseApsaraNative.cpp semantics), a stronger pin.
_APSARA_CASES = [
    (f"[{_AP_TS1}]\t[WARNING]\t[13000]\t[{_AP_FILE}:1753]",
     {"__LEVEL__": "WARNING", "__THREAD__": "13000", "__FILE__": _AP_FILE,
      "__LINE__": "1753", "microtime": _MT1}, _SEC1),  # 1
    (f"[{_AP_TS1}]\t[WARNING]\t[13000]\t[{_AP_FILE}:1753]\t",
     {"__LEVEL__": "WARNING", "__THREAD__": "13000", "__FILE__": _AP_FILE,
      "__LINE__": "1753", "microtime": _MT1}, _SEC1),  # 2
    (f"[{_AP_TS1}]\t[WARNING]\t[13000]\t[{_AP_FILE}:1754]\tsomestring",
     {"__LEVEL__": "WARNING", "__THREAD__": "13000", "__FILE__": _AP_FILE,
      "__LINE__": "1754", "microtime": _MT1}, _SEC1),  # 3
    (f"[{_AP_TS1}]\t[WARNING]\t[13000]\t[{_AP_FILE}:1755]\t"
     "RealRecycle#Command:rm -rf /apsara/tubo/.fuxi_tubo_trash/*",
     {"__LEVEL__": "WARNING", "__THREAD__": "13000", "__FILE__": _AP_FILE,
      "__LINE__": "1755",
      "RealRecycle#Command": "rm -rf /apsara/tubo/.fuxi_tubo_trash/*",
      "microtime": _MT1}, _SEC1),  # 4
    (f"[{_AP_TS2}]\t[ERROR]\t[12835]\t[{_AP_FILE}:1945]\t"
     'ParseWhiteListOK:{\n"sys/pangu/ChunkServerRole": "",\n'
     '"sys/pangu/PanguMasterRole": ""}',
     {"__LEVEL__": "ERROR", "__THREAD__": "12835", "__FILE__": _AP_FILE,
      "__LINE__": "1945",
      "ParseWhiteListOK": '{\n"sys/pangu/ChunkServerRole": "",\n'
                          '"sys/pangu/PanguMasterRole": ""}',
      "microtime": _MT2}, _SEC2),  # 5
    (f"[{_AP_TS2}]\t[12835]\t[ERROR]\t[{_AP_FILE}:1945]",
     {"__THREAD__": "12835", "__LEVEL__": "ERROR", "__FILE__": _AP_FILE,
      "__LINE__": "1945", "microtime": _MT2}, _SEC2),  # 6
    (f"[{_AP_TS2}]\t[{_AP_FILE}:1945]\t[12835]\t[ERROR]",
     {"__FILE__": _AP_FILE, "__LINE__": "1945", "__THREAD__": "12835",
      "__LEVEL__": "ERROR", "microtime": _MT2}, _SEC2),  # 7
    (f"[{_AP_TS2}]\t[{_AP_FILE}:1945]\t[ERROR]",
     {"__FILE__": _AP_FILE, "__LINE__": "1945", "__LEVEL__": "ERROR",
      "microtime": _MT2}, _SEC2),  # 8
    (f"[{_AP_TS2}]\t[{_AP_FILE}:1945]\t[12835]\t[ERROR]\t[5432187]",
     {"__FILE__": _AP_FILE, "__LINE__": "1945", "__THREAD__": "12835",
      "__LEVEL__": "ERROR", "microtime": _MT2}, _SEC2),  # 9
    (f"[{_AP_TS2}]\t[{_AP_FILE}:1945]\t[12835]\t[ERROR]\t[5432187]\tcount:55",
     {"__FILE__": _AP_FILE, "__LINE__": "1945", "__THREAD__": "12835",
      "__LEVEL__": "ERROR", "count": "55", "microtime": _MT2}, _SEC2),  # 10
    (f"[{_AP_TS2}]\t[trace_id:787]\t[ERROR]",
     {"__LEVEL__": "ERROR", "microtime": _MT2}, _SEC2),  # 11 (trace_id LOST)
    (f"[{_AP_TS2}]\t[trace_id:787]\t[ERROR]\t",
     {"__LEVEL__": "ERROR", "microtime": _MT2}, _SEC2),  # 12
    (f"[{_AP_TS2}]\t[trace_id:787]\t[ERROR]\n",
     {"__LEVEL__": "ERROR", "microtime": _MT2}, _SEC2),  # 13
    (f"[{_AP_TS2}]\t[trace_id:787]\t[ERROR]\tother\tcount:45",
     {"__LEVEL__": "ERROR", "count": "45", "microtime": _MT2}, _SEC2),  # 14
    (f"[{_AP_TS2}]\t[trace_id:787]\t[ERROR]\tother:\tcount:45",
     {"__LEVEL__": "ERROR", "other": "", "count": "45",
      "microtime": _MT2}, _SEC2),  # 15
    (f"[{_AP_TS2}]\t[trace_id:787]\t[ERROR]\tcount:45",
     {"__LEVEL__": "ERROR", "count": "45", "microtime": _MT2}, _SEC2),  # 16
    (f"[{_AP_TS2}]\t[trace_id:787]\t[ERROR]\tcount:45\tnum:88\tjob:ss",
     {"__LEVEL__": "ERROR", "count": "45", "num": "88", "job": "ss",
      "microtime": _MT2}, _SEC2),  # 17
    (f"[{_AP_TS2}]\t[trace_id:787]\t[ERROR]\t[corrupt\tcount:45\tnum:88\tjob:ss",
     {"__LEVEL__": "ERROR", "count": "45", "num": "88", "job": "ss",
      "microtime": _MT2}, _SEC2),  # 18
    (f"[{_AP_TS2}]\t[trace_id:787]\t[ERROR]\t[corruptcount:45\tnum:88\tjob:ss",
     {"__LEVEL__": "ERROR", "[corruptcount": "45", "num": "88", "job": "ss",
      "microtime": _MT2}, _SEC2),  # 19
    (f"[{_AP_TS2}]\t[trace_id:787]\t[ERROR]\t[corrupt]count:45\tnum:88\tjob:ss",
     {"__LEVEL__": "ERROR", "[corrupt]count": "45", "num": "88", "job": "ss",
      "microtime": _MT2}, _SEC2),  # 20
    (f"[{_AP_TS2}]\t[build/debug64]\t[ERROR]\tcount:45\tnum:88\tjob:ss",
     {"__FILE__": "build/debug64", "__LEVEL__": "ERROR", "count": "45",
      "num": "88", "job": "ss", "microtime": _MT2}, _SEC2),  # 21
    (f"[{_AP_TS2}]\t[build/debug64:]\t[ERROR]\tcount:45\tnum:88\tjob:ss",
     {"__FILE__": "build/debug64", "__LINE__": "", "__LEVEL__": "ERROR",
      "count": "45", "num": "88", "job": "ss", "microtime": _MT2}, _SEC2),  # 22
    (f"[{_AP_TS2}]\t[build/debug64:]\t[ERROR]\tcount:45\t:88\tjob:ss",
     {"__FILE__": "build/debug64", "__LINE__": "", "__LEVEL__": "ERROR",
      "count": "45", "": "88", "job": "ss", "microtime": _MT2}, _SEC2),  # 23
    (f"[{_AP_TS2}]", {"microtime": _MT2}, _SEC2),  # 24
    (f"[{_AP_TS2}]\t", {"microtime": _MT2}, _SEC2),  # 25
    (f"[{_AP_TS2}]\n", {"microtime": _MT2}, _SEC2),  # 26
    (f"[{_AP_TS2}]\t\t\t", {"microtime": _MT2}, _SEC2),  # 27
    ("", {}, None),  # 28 — empty: kept untouched, no parse attempted
    (f"[{_AP_TS1}]\t[WARNING]\t[13000]\t[13003]\t[ERROR]\t[{_AP_FILE}:1753]",
     {"__LEVEL__": "WARNING", "__THREAD__": "13000", "__FILE__": _AP_FILE,
      "__LINE__": "1753", "microtime": _MT1}, _SEC1),  # 29
    (f"[{_AP_TS1}]\t[WARNING]\t[13000]\t[13003]\t[ERROR]\t[tubo.cpp:1753]",
     {"__LEVEL__": "WARNING", "__THREAD__": "13000", "__FILE__": "tubo.cpp",
      "__LINE__": "1753", "microtime": _MT1}, _SEC1),  # 30
    (f"[{_AP_TS1[:-1]}", None, None),  # 31 — no ']': dropped
]


def test_apsara_unit_table(spark):
    """TestApsaraLogLineParser (ProcessorParseApsaraNativeUnittest.cpp:
    155-430) — all 31 cases, full-map equality."""
    from ilogtail_spark.operators.parse import parse_apsara

    df = spark.createDataFrame(
        [(i + 1, line) for i, (line, _, _) in enumerate(_APSARA_CASES)],
        "idx int, content string",
    )
    opts = ParserOptions(keep_source=False, keep_source_if_fail=False)
    out = parse_apsara(
        df, source="content", options=opts, timezone="GMT+08:00"
    )
    rows = {r["idx"]: r for r in out.collect()}
    for i, (line, want, want_sec) in enumerate(_APSARA_CASES, start=1):
        if want is None:
            assert i not in rows, f"case {i}: should be dropped"
            continue
        assert i in rows, f"case {i}: row missing"
        r = rows[i]
        if line == "":  # case 28: untouched, source survives
            assert r["fields"] is None and r["content"] == ""
            assert r[PARSE_OK_KEY] is False
            continue
        assert r["fields"] == want, f"case {i}: {r['fields']} != {want}"
        assert r["apsara_sec"] == want_sec, f"case {i}: sec"
        assert r[PARSE_OK_KEY] is True
        # KeepingSourceWhenParseSucceed=false and never overwritten
        assert r["content"] is None and r[RAW_LOG_KEY] is None


def test_apsara_epoch_leg_and_source_overwrite(spark):
    """The %s epoch leg (Strptime.cpp:83-112: first 10 digits =
    seconds, digits 11+ = fraction, the run must end at ']') plus
    sourceKeyOverwritten + AddLog first-wins."""
    from ilogtail_spark.operators.parse import parse_apsara

    line = "[1378882630]\t[INFO]\tcontent:dup\tmicrotime:0\tcount:1\tcount:2"
    cases = [
        (1, line),
        (2, "[1378882630123]\t[INFO]"),        # epoch millis: fraction folds in
        (3, "[1378882630.123]\t[INFO]"),       # strtoll stops at '.': FAIL
        (4, "[1378882630"),                    # no ']': FAIL
        (5, "[2013-03-13 18:05:09]\tcount:7"), # no fraction, no tz config
    ]
    df = spark.createDataFrame(cases, "idx int, content string")
    opts = ParserOptions(keep_source=False, keep_source_if_fail=False)
    out = parse_apsara(df, source="content", options=opts)
    rows = {r["idx"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 5}
    # first-wins: KV microtime:0 beats the synthetic; count:1 beats 2;
    # KV 'content' never lands in the map but keeps the source column
    assert rows[1]["fields"] == {
        "__LEVEL__": "INFO", "microtime": "0", "count": "1"
    }
    assert rows[1]["content"] == line and rows[1]["apsara_sec"] == 1378882630
    assert rows[2]["fields"] == {
        "__LEVEL__": "INFO", "microtime": "1378882630123000"
    }
    assert rows[2]["apsara_sec"] == 1378882630
    # datetime leg without Timezone: naive == UTC under pinned session
    assert rows[5]["fields"] == {"count": "7", "microtime": "1363197909000000"}
