"""End-to-end pipeline test vs a pure-Python row-by-row oracle —
the reference's e2e verify DSL shape (test/engine/verify/count.go,
log_field.go, log_order.go): per-sink routed-row set equality,
per-sink aggregate counts, per-turn text equality under stable
(conv_id, turn_idx) ordering, and metrics counters."""

import os
import re

import pytest
from pyspark.sql import functions as F

from ilogtail_spark.plans.metrics import StageMetrics
from ilogtail_spark.plans.pipeline import (
    PARSE_OK_KEY,
    enrich_stage,
    parse_stage,
    route_stage,
    sink_aggregates,
    standard_sinks,
)
from ilogtail_spark.sinks.writer import write_per_sink
from ilogtail_spark.sources.transcripts import (
    GROK_PATTERN,
    ROLE_LOOKUP,
    TOOL_LOOKUP,
    derive_transcripts,
)

RX = re.compile(GROK_PATTERN)
ROLE_D = dict(ROLE_LOOKUP)
TOOL_D = dict(TOOL_LOOKUP)


def python_oracle(rows):
    """Pure-Python reimplementation of parse→enrich→route."""
    routed = []
    for r in rows:
        m = RX.search(r["text"])
        ok = m is not None
        err = m.group(6) if ok else None
        tool_call = m.group(1) if ok else None
        role_class = ROLE_D.get(r["role"], "Unknown")
        sinks = []
        if ok and err != "-":
            sinks.append("sink_errors")
        if r["role"] == "tool" or (ok and tool_call != "none"):
            sinks.append("sink_tools")
        if not ok:
            sinks.append("sink_parse_fail")
        conditional = list(sinks)
        sinks.append("sink_all")
        if not conditional:
            sinks.append("default")
        for s in sinks:
            routed.append(
                {
                    "sink": s,
                    "conv_id": r["conv_id"],
                    "turn_idx": r["turn_idx"],
                    "text": r["text"],
                    "parse_ok": ok,
                    "role_class": role_class,
                }
            )
    return routed


def test_e2e_routed_set_equality(spark, sf_dir, tmp_path):
    base = derive_transcripts(spark, sf_dir)
    input_rows = [r.asDict() for r in base.collect()]
    expected = python_oracle(input_rows)

    routed = route_stage(enrich_stage(parse_stage(base), spark))
    got = routed.select("__sink__", "conv_id", "turn_idx", "text", PARSE_OK_KEY, "role_class").collect()

    exp_set = {(e["sink"], e["conv_id"], e["turn_idx"], e["text"], e["parse_ok"], e["role_class"]) for e in expected}
    got_set = {(g["__sink__"], g["conv_id"], g["turn_idx"], g["text"], g[PARSE_OK_KEY], g["role_class"]) for g in got}
    assert exp_set == got_set
    assert len(got) == len(expected)  # multiset equality (no dup copies)

    # per-sink aggregate counts
    agg = {r["__sink__"]: (r["n_turns"], r["n_parse_fail"]) for r in sink_aggregates(routed).collect()}
    for sink in {e["sink"] for e in expected}:
        exp_n = sum(1 for e in expected if e["sink"] == sink)
        exp_f = sum(1 for e in expected if e["sink"] == sink and not e["parse_ok"])
        assert agg[sink] == (exp_n, exp_f), sink


def test_e2e_write_and_order(spark, sf_dir, tmp_path):
    routed = route_stage(enrich_stage(parse_stage(derive_transcripts(spark, sf_dir)), spark))

    # every sink in one write: all routed rows land, one directory per sink
    out1 = str(tmp_path / "all_sinks")
    paths_all = write_per_sink(routed, out1, standard_sinks())
    assert sum(spark.read.parquet(p).count() for p in paths_all.values()) == routed.count()
    assert len(paths_all) == routed.select("__sink__").distinct().count()

    # a subset of sinks, with stable (conv_id, turn_idx) order
    out2 = str(tmp_path / "per_sink")
    paths = write_per_sink(routed, out2, ["sink_errors", "sink_all"])
    errors = spark.read.parquet(paths["sink_errors"])
    assert errors.count() == routed.filter(F.col("__sink__") == "sink_errors").count()

    # per-turn text equality under stable ordering vs source
    src = derive_transcripts(spark, sf_dir).orderBy("conv_id", "turn_idx").collect()
    got = spark.read.parquet(paths["sink_all"]).orderBy("conv_id", "turn_idx").collect()
    assert len(src) == len(got)
    for a, b in zip(src, got):
        assert (a["conv_id"], a["turn_idx"], a["text"]) == (b["conv_id"], b["turn_idx"], b["text"])


def test_transcripts_cache_unwritable_warns(spark, sf_dir, tmp_path, monkeypatch):
    """A transcripts cache that cannot be written is a recorded
    fallback: the call warns with the error and serves the lazy plan's
    rows."""
    blocker = tmp_path / "a_file"
    blocker.write_text("")
    monkeypatch.setenv("ILOGTAIL_SPARK_CACHE", str(blocker / "cache"))
    with pytest.warns(RuntimeWarning, match="falling back to the lazy"):
        df = derive_transcripts(spark, sf_dir)
    lazy = derive_transcripts(spark, sf_dir, materialize=False)
    assert df.count() == lazy.count() > 0
    assert df.exceptAll(lazy).count() == 0 and lazy.exceptAll(df).count() == 0


def test_metrics_observation(spark, sf_dir):
    m = StageMetrics()
    df = parse_stage(derive_transcripts(spark, sf_dir))
    df = m.observe_stage(df, "parse")
    total = df.count()
    collected = m.collect()
    assert collected[0]["stage"] == "parse"
    assert collected[0]["in_events_total"] == total
    fails = df.filter(~F.col(PARSE_OK_KEY)).count()
    assert collected[0]["out_failed_events_total"] == fails


def test_reference_example_yaml_runs_unchanged(spark):
    """The reference's SHIPPED example config
    (example_config/data_pipelines/nginx-regex.yaml) loads and parses
    its own documented sample line to its documented output — inputs
    are ignored (we supply the scan), flusher configs come back
    verbatim for the sink layer."""
    from ilogtail_spark.plans.pipeline import pipeline_from_yaml

    yaml_text = r"""
enable: true
inputs:
  - Type: input_file
    FilePaths:
      - /home/test-log/*.log
processors:
  - Type: processor_regex
    SourceKey: content
    Regex: '([\d\.:]+) - (\S+) \[(\S+) \S+\] \"(\S+) (\S+) ([^\\"]+)\" (\d+) (\d+) \"([^\\"]*)\" \"([^\\"]*)\" \"([^\\"]*)\"'
    Keys:
      - remote_addr
      - remote_user
      - time_local
      - method
      - url
      - protocol
      - status
      - body_bytes_sent
      - http_referer
      - http_user_agent
      - http_x_forwarded_for
flushers:
  - Type: flusher_sls
    Endpoint: cn-xxx.log.aliyuncs.com
    ProjectName: test_project
    LogstoreName: test_logstore
  - Type: flusher_stdout
    OnlyStdout: true
"""
    transform, flushers = pipeline_from_yaml(yaml_text)
    # the comment block's documented in/out pair (nginx-regex.yaml:17-19)
    line = ('::1 - - [18/Jul/2022:07:28:01 +0000] "GET /hello/ilogtail '
            'HTTP/1.1" 404 153 "-" "curl/7.74.0" "-"')
    df = spark.createDataFrame([(line,)], "content string")
    row = transform(df).collect()[0]
    assert row["remote_addr"] == "::1"
    assert row["time_local"] == "18/Jul/2022:07:28:01"
    assert row["method"] == "GET" and row["url"] == "/hello/ilogtail"
    assert row["status"] == "404" and row["body_bytes_sent"] == "153"
    assert row["http_user_agent"] == "curl/7.74.0"
    assert [f["Type"] for f in flushers] == ["flusher_sls", "flusher_stdout"]


def test_yaml_config_disabled_is_identity(spark):
    from ilogtail_spark.plans.pipeline import pipeline_from_yaml

    transform, _ = pipeline_from_yaml("enable: false\nprocessors:\n  - Type: nope\n")
    df = spark.createDataFrame([(1,)], "x int")
    assert transform(df) is df


def test_yaml_config_missing_file_names_path():
    import pytest

    from ilogtail_spark.plans.pipeline import pipeline_from_yaml

    with pytest.raises(FileNotFoundError, match="no/such/config.yaml"):
        pipeline_from_yaml("/no/such/config.yaml")


def test_yaml_config_not_a_mapping():
    import pytest

    from ilogtail_spark.plans.pipeline import pipeline_from_yaml

    with pytest.raises(ValueError, match="mapping"):
        pipeline_from_yaml("- Type: processor_regex\n- Type: processor_json\n")


REF_EXAMPLES = "/root/reference/example_config/data_pipelines"

needs_reference = pytest.mark.skipif(
    not os.path.isdir(REF_EXAMPLES), reason=f"needs {REF_EXAMPLES}: reference tree absent"
)


def _run_example(spark, name, line):
    """Load a SHIPPED reference config verbatim and run its documented
    sample line through the registry-composed chain."""
    import os

    from ilogtail_spark.plans.pipeline import pipeline_from_yaml

    transform, _ = pipeline_from_yaml(os.path.join(REF_EXAMPLES, name))
    df = spark.createDataFrame(
        [("c1", i, part) for i, part in enumerate(line if isinstance(line, list) else [line])],
        "conv_id string, turn_idx int, content string",
    )
    return transform(df).orderBy("turn_idx").collect()


@needs_reference
def test_example_file_delimiter(spark):
    # documented pair, file-delimiter.yaml:16-17
    rows = _run_example(spark, "file-delimiter.yaml", "123\t2022-08-08\tbuy\t10000")
    r = rows[0]
    assert (r["uid"], r["time"], r["method"], r["value"]) == (
        "123", "2022-08-08", "buy", "10000")


@needs_reference
def test_example_file_json(spark):
    # documented pair, file-json.yaml:16-17: {"key1":"value1","key2":2}
    # -> {"key1":"value1","key2":"2"} (ExpandConnector "" neutralizes
    # the Go level-1 connector prefix; KeepSource false)
    rows = _run_example(spark, "file-json.yaml", '{"key1":"value1","key2":2}')
    attrs = dict(rows[0]["attrs"])
    assert attrs == {"key1": "value1", "key2": "2"}


@needs_reference
def test_example_file_grok(spark):
    # documented pair, file-grok.yaml:16-17
    rows = _run_example(
        spark, "file-grok.yaml", "10.0.0.0 GET /index.html 15824 0.043")
    r = rows[0]
    assert (r["client"], r["method"], r["request"], r["bytes"], r["duration"]) == (
        "10.0.0.0", "GET", "/index.html", "15824", "0.043")


@needs_reference
def test_example_multiline_java_stack(spark):
    # documented pair, multiline_java_stack_trace-split_log_regex.yaml:16-22
    # — the file reader hands one read BLOCK (\n-joined lines) to
    # split_log_regex, which splits before fully-matching lines
    lines = [
        "2022-08-09 14:47:17  [ main:1 ] - [ ERROR ] com.aliyun.NullPointerTest.main(NullPointerTest.java:13) Param Error",
        "java.lang.NullPointerException",
        "\tat com.aliyun.NullPointerTest.main(NullPointerTest.java:11)",
    ]
    rows = _run_example(
        spark, "multiline_java_stack_trace-split_log_regex.yaml",
        "\n".join(lines))
    assert len(rows) == 1
    assert rows[0]["content"] == "\n".join(lines)


def test_split_log_regex_exact_go(spark):
    """split_log_regex.go:52-100 closed form: split before FULLY
    matching lines; unmatched head run merges; nothing matching →
    one log; PreserveOthers=false keeps only the split column."""
    from ilogtail_spark.operators.split import split_log_regex

    block = "head1\nhead2\nSTART a\ncont a\nSTART b"
    df = spark.createDataFrame([("x", block)], "other string, content string")
    out = split_log_regex(df, "content", r"START.*", preserve_others=True)
    got = [r["content"] for r in out.collect()]
    assert got == ["head1\nhead2", "START a\ncont a", "START b"]
    assert all(r["other"] == "x" for r in out.collect())
    # partial-only match is NOT a boundary (fullMatch, go:52-55)
    out2 = split_log_regex(df, "content", r"START", preserve_others=False)
    assert [r["content"] for r in out2.collect()] == [block]
    assert out2.columns == ["content"]


def test_json_go_key_building(spark):
    """processor_json.go:134-201 key quirks: default connector '_' IS
    prepended to level-1 keys; IgnoreFirstConnector suppresses it;
    UseSourceKeyAsPrefix + Prefix compose; nested level-2 joins with
    the connector; depth 1 keeps nested objects raw."""
    from ilogtail_spark.plans.pipeline import build_pipeline

    df = spark.createDataFrame(
        [('{"a":"1","n":{"b":"2"}}',)], "content string")

    def attrs(**params):
        t = build_pipeline([{"type": "processor_json",
                             "SourceKey": "content", **params}])
        return dict(t(df).collect()[0]["attrs"])

    # Go defaults: ExpandDepth 0 (unlimited), connector '_' before the
    # first-level key too
    assert attrs(ExpandDepth=0) == {"_a": "1", "_n_b": "2"}
    assert attrs(ExpandDepth=0, IgnoreFirstConnector=True) == {
        "a": "1", "n_b": "2"}
    assert attrs(ExpandDepth=1, ExpandConnector="") == {
        "a": "1", "n": '{"b":"2"}'}
    assert attrs(ExpandDepth=0, ExpandConnector="",
                 UseSourceKeyAsPrefix=True, Prefix="p.") == {
        "p.contenta": "1", "p.contentnb": "2"}
    # duplicate flattened keys fold last-wins, never throw
    df2 = spark.createDataFrame([('{"a_b":"x","a":{"b":"y"}}',)],
                                "content string")
    t = build_pipeline([{"type": "processor_json", "SourceKey": "content",
                         "ExpandDepth": 0, "IgnoreFirstConnector": True}])
    assert dict(t(df2).collect()[0]["attrs"]) == {"a_b": "y"}


def test_split_log_regex_go_unittest_fixtures(spark):
    """Replay split_log_regex_test.go:79-130 (TestMultiLine): chunk
    boundaries at fully-matching lines, empty lines merge as embedded
    newlines, a trailing \\n stays WITH its chunk (the Go scanner's
    [lastLineIndex:lastCheckIndex-1] carve), single-line blocks pass
    through matched or not."""
    from ilogtail_spark.operators.split import split_log_regex

    def run(block):
        df = spark.createDataFrame([(block,)], "content string")
        return [r["content"]
                for r in split_log_regex(df, "content", r"\[.*").collect()]

    assert run("[2017-12-12 00:00:00] 你好\nhello\n\n[2017xxxxxx]yyyy\n [zzzz\n[") == [
        "[2017-12-12 00:00:00] 你好\nhello\n",
        "[2017xxxxxx]yyyy\n [zzzz",
        "[",
    ]
    assert run("[2017-12-12 00:00:00] xxxxxx") == ["[2017-12-12 00:00:00] xxxxxx"]
    assert run("[2017-12-12 00:00:00] xxxxxx\n") == ["[2017-12-12 00:00:00] xxxxxx\n"]
    assert run("xxxxxx") == ["xxxxxx"]
