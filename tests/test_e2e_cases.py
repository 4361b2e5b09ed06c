"""Replay the reference's e2e Gherkin scenarios verbatim.

The reference's third test tier (SURVEY.md §5) runs
test/e2e/test_cases/*/case.feature through docker-compose: a Given
step installs a collection config, a trigger container produces the
input, and Then-steps dispatch to the verify DSL
(test/engine/steps.go:102-111 → test/engine/verify/*.go).

Here the SAME feature files are parsed from the reference tree, their
embedded YAML configs load through ``pipeline_from_yaml`` unchanged,
the trigger container's documented output is synthesized as the input
DataFrame (run.sh / Dockerfile CMD are quoted per case below), and
the Then-steps dispatch through the steps.go regex table onto
``tests/verify.py`` — LogCountAtLeast / LogField /
LogFieldKV / TagKV / LogContext / LogOrder.

Cases replayed (chosen as the ones whose inputs are fully determined
by the case directory, not an external service):

* input_mock_log (case.feature:1-31) — metric_mock ticks.
* aggregator_context (case.feature:1-35) — two file streams through
  processor_split_char + aggregator_context; pack-lineage check.
* input_container_stdio_multiline (case.feature:1-40) — stdout
  multiline merge + container tag regexes.
"""

import os
import re

import pytest
import yaml
from pyspark.sql import functions as F

from ilogtail_spark.plans.pipeline import pipeline_from_yaml
from tests import verify

CASES = "/root/reference/test/e2e/test_cases"

needs_reference = pytest.mark.skipif(
    not os.path.isdir(CASES), reason=f"needs {CASES}: reference tree absent"
)


# --------------------------------------------------------------------------
# feature-file parsing + steps.go dispatch
# --------------------------------------------------------------------------

def parse_feature(path: str) -> list[tuple[str, str]]:
    """Minimal Gherkin walk: [(step_text, docstring)] in order.
    Docstrings are the triple-quoted blocks following a step."""
    import textwrap

    steps: list[tuple[str, str]] = []
    doc_lines: list[str] | None = None
    with open(path) as f:
        for raw in f:
            line = raw.rstrip("\n").rstrip()
            s = line.strip()
            if s == '"""':
                if doc_lines is None:
                    doc_lines = []
                else:
                    # YAML docstrings are indentation-sensitive: keep
                    # relative indent, drop the Gherkin block indent
                    steps[-1] = (
                        steps[-1][0],
                        textwrap.dedent("\n".join(doc_lines)),
                    )
                    doc_lines = None
                continue
            if doc_lines is not None:
                doc_lines.append(line)
                continue
            m = re.match(r"^(Given|When|Then|And)\s+(.*)$", s)
            if m:
                steps.append((m.group(2), ""))
    return steps


def scenario_config(steps) -> str:
    """The YAML collection config from the 'local config as below'
    Given step."""
    for text, doc in steps:
        if "local config as below" in text:
            return doc
    raise AssertionError("feature has no config step")


# the Then-step regex table, verbatim from test/engine/steps.go:102-111
THEN_STEPS = [
    (
        re.compile(r"^there is at least \{(\d+)\} logs$"),
        lambda df, m, doc: verify.log_count_at_least(df, int(m.group(1))),
    ),
    (
        re.compile(r"^the log fields match kv$"),
        lambda df, m, doc: verify.log_field_kv(df, yaml.safe_load(doc)),
    ),
    (
        re.compile(r"^the log tags match kv$"),
        lambda df, m, doc: verify.log_tag_kv(df, yaml.safe_load(doc)),
    ),
    (
        re.compile(r"^the log fields match as below$"),
        lambda df, m, doc: verify.log_fields_match(df, yaml.safe_load(doc)),
    ),
    (
        re.compile(r"^the context of log is valid$"),
        lambda df, m, doc: verify.log_context_valid(df, order_col="_ord"),
    ),
    (
        re.compile(r"^the log labels match as below$"),
        lambda df, m, doc: verify.log_labels_match(df, yaml.safe_load(doc)),
    ),
    (
        re.compile(r"^the kafka partitions at least \{(\d+)\}$"),
        lambda df, m, doc: verify.kafka_partitions_at_least(df, int(m.group(1))),
    ),
    (
        re.compile(r"^the kafka partitions consistent by field \{(\w+)\}$"),
        lambda df, m, doc: verify.kafka_partitions_consistent_by_field(
            df, m.group(1)),
    ),
]


def parse_scenarios(path: str) -> list[tuple[str, list[tuple[str, str]]]]:
    """Scenario-aware walk for multi-scenario features: [(scenario
    name, steps)] — parse_feature flattens, which is only safe for
    single-scenario files."""
    bounds: list[tuple[str, int]] = []
    with open(path) as f:
        text = f.read()
    all_steps = parse_feature(path)
    # align scenario starts with step indices by re-walking
    names = re.findall(r"^\s*Scenario:\s*(.*)$", text, re.M)
    if len(names) <= 1:
        return [(names[0] if names else "", all_steps)]
    # split on each scenario's first Given (every scenario starts with
    # 'Given {docker-compose} environment' in the reference corpus)
    out, cur, name_iter = [], [], iter(names)
    cur_name = next(name_iter)
    for step in all_steps:
        if step[0].startswith("{docker-compose} environment") and cur:
            out.append((cur_name, cur))
            cur_name = next(name_iter)
            cur = []
        cur.append(step)
    out.append((cur_name, cur))
    assert len(out) == len(names), (len(out), len(names))
    return out

# --------------------------------------------------------------------------
# full adjudication of test/e2e/test_cases/* (r4 verdict item 4): every
# case is explicitly replayed / covered-by-representative (same pipeline,
# only transport parameters differ) / transport-bound (needs a live
# external service or daemon; out of scope per the north star) /
# substrate-replaced (the behavior is owned by Spark's source layer).
# test_adjudication_is_complete pins this table against the reference
# tree, so a new upstream case fails loudly instead of silently skipping.
# --------------------------------------------------------------------------

ADJUDICATION = {
    "aggregator_context": ("replayed", "test_case_aggregator_context"),
    "flusher_clickhouse": ("transport-bound", "ClickHouse sink I/O; serializer leg covered by q67"),
    "flusher_doris": ("transport-bound", "Doris sink I/O"),
    "flusher_elasticsearch": ("transport-bound", "ES sink I/O; jsonline serializer covered by q67"),
    "flusher_http": ("transport-bound", "HTTP sink I/O; influx serializer covered by q67"),
    "flusher_kafka_native_0.10.x": ("covered-by-representative", "same pipeline as 1.x.x; broker wire version is transport"),
    "flusher_kafka_native_1.x.x": ("replayed", "test_case_flusher_kafka_native"),
    "flusher_kafka_native_2.x.x": ("covered-by-representative", "same pipeline as 1.x.x"),
    "flusher_kafka_native_3.x.x": ("covered-by-representative", "same pipeline as 1.x.x"),
    "flusher_kafka_native_compression": ("covered-by-representative", "same pipeline as 1.x.x; compression is transport"),
    "flusher_kafka_native_dynamic_topic": ("replayed", "test_case_kafka_dynamic_topic"),
    "flusher_kafka_native_headers": ("covered-by-representative", "same pipeline as 1.x.x; kafka record headers are transport"),
    "flusher_kafka_native_kerberos": ("transport-bound", "Kerberos auth handshake"),
    "flusher_kafka_native_sasl_plain": ("transport-bound", "SASL auth handshake"),
    "flusher_kafka_native_tls": ("transport-bound", "TLS handshake"),
    "flusher_loki": ("transport-bound", "Loki sink I/O"),
    "input_canal": ("replayed", "test_case_input_canal"),
    "input_canal_binfile_mode": ("covered-by-representative", "feature file identical to input_canal (starts the same compose)"),
    "input_container_stdio": ("replayed", "test_case_input_container_stdio"),
    "input_container_stdio_multiline": ("replayed", "test_case_input_container_stdio_multiline"),
    "input_docker_event": ("transport-bound", "docker daemon event stream"),
    "input_docker_rawstdout": ("replayed", "test_case_docker_stdout_family"),
    "input_docker_rawstdout_multiline": ("replayed", "test_case_docker_stdout_family (feature starts the rawstdout compose: single 'hello')"),
    "input_docker_static_file": ("replayed", "test_case_input_docker_static_file"),
    "input_docker_stdout": ("replayed", "test_case_docker_stdout_family"),
    "input_docker_stdout_multiline": ("replayed", "test_case_docker_stdout_multiline"),
    "input_http": ("replayed", "test_case_input_http"),
    "input_http_server": ("replayed", "test_case_input_http_server"),
    "input_mock_log": ("replayed", "test_case_input_mock_log"),
    "input_mock_metric": ("replayed", "test_case_input_mock_metric"),
    "input_mssql": ("substrate-replaced", "SQL-query input IS Spark's JDBC table read; paging/checkpoint is collector runtime"),
    "input_mysql": ("substrate-replaced", "SQL-query input IS Spark's JDBC table read"),
    "input_pgsql": ("substrate-replaced", "SQL-query input IS Spark's JDBC table read"),
    "input_prometheus": ("transport-bound", "self-scrape content nondeterministic; exposition parse covered by q55"),
    "input_static_file": ("replayed", "test_case_input_static_file"),
    "reader_deleted": ("substrate-replaced", "file-watcher lifecycle owned by Spark source discovery"),
    "reader_flush_timeout": ("substrate-replaced", "multiline timeout flush covered by streaming twin (streaming/job.py)"),
    "reader_log_rotate": ("substrate-replaced", "rotation tracking owned by Spark source discovery/checkpointing"),
    "reader_new_line_after_timeout": ("substrate-replaced", "reader flush lifecycle; Spark source layer"),
}


@needs_reference
def test_adjudication_is_complete():
    import os

    dirs = sorted(
        d for d in os.listdir(CASES)
        if os.path.isdir(os.path.join(CASES, d))
    )
    assert dirs == sorted(ADJUDICATION), (
        "reference e2e case set changed — adjudicate the delta: "
        f"{sorted(set(dirs) ^ set(ADJUDICATION))}"
    )
    counts = {}
    for cls, _ in ADJUDICATION.values():
        counts[cls] = counts.get(cls, 0) + 1
    assert counts == {
        "replayed": 16,
        "covered-by-representative": 6,
        "transport-bound": 10,
        "substrate-replaced": 7,
    }, counts


def run_then_steps(df, steps) -> int:
    ran = 0
    for text, doc in steps:
        for rx, fn in THEN_STEPS:
            m = rx.match(text)
            if m:
                fn(df, m, doc)
                ran += 1
                break
    return ran


def contents_map(*pairs):
    """map<string,string> literal column from (key, Column|str) pairs."""
    cols = []
    for k, v in pairs:
        cols.append(F.lit(k))
        cols.append(v if not isinstance(v, str) else F.lit(v))
    return F.create_map(*cols)


# --------------------------------------------------------------------------
# input_mock_log
# --------------------------------------------------------------------------

@needs_reference
def test_case_input_mock_log(spark):
    """input_mock_log/case.feature: metric_mock with Tags {tag1,tag2}
    and Fields {content,time}; ≥15 logs; fields tag1/tag2/content/time
    present.  metric_mock's log pattern merges Tags INTO the contents
    (input_mock.go:57-67: AddData(r.Tags, fields), fields also carry
    Index) — one tick per IntervalMs; 20 ticks stands in for the 20 s
    the docker-compose case runs."""
    steps = parse_feature(f"{CASES}/input_mock_log/case.feature")
    cfg = yaml.safe_load(scenario_config(steps))
    mock = cfg["inputs"][0]
    assert mock["Type"] == "metric_mock"

    ticks = spark.range(1, 21).select(
        F.col("id").alias("_ord"),
        contents_map(
            ("Index", F.col("id").cast("string")),
            *[(k, str(v)) for k, v in mock["Fields"].items()],
            *[(k, str(v)) for k, v in mock["Tags"].items()],
        ).alias("contents"),
    )
    transform, flushers = pipeline_from_yaml(scenario_config(steps))
    out = transform(ticks)
    assert run_then_steps(out, steps) == 2


# --------------------------------------------------------------------------
# aggregator_context
# --------------------------------------------------------------------------

@needs_reference
def test_case_aggregator_context(spark):
    """aggregator_context/case.feature: two trigger containers each
    write 100 lines '<i>|This is file file<n>' (run.sh:17-20) to their
    own file; the config splits on '|' into (no, content) and
    aggregator_context preserves per-source order; verify ≥200 logs
    and LogContext — per pack prefix the pack seq runs 1.. in hex and
    'no' runs 1.. across packs with constant content."""
    steps = parse_feature(f"{CASES}/aggregator_context/case.feature")
    config = scenario_config(steps)

    rows = [
        (f"/root/test/example_{n}.log", i, f"{i}|This is file file{n}")
        for n in (1, 2)
        for i in range(1, 101)
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, content string")
    transform, _ = pipeline_from_yaml(config)
    out = transform(df)

    # the flush tier the config's aggregator feeds (aggregator_base
    # MaxLogCount packs, pack id per util.go:371-384); arrival order =
    # the file line number the split preserved
    from ilogtail_spark.operators.agg import context_pack_id

    out = context_pack_id(out, ("conv_id",), "turn_idx", max_events=10)
    out = out.withColumn("_ord", F.col("turn_idx")).withColumn(
        "contents", contents_map(("no", F.col("no")), ("content", F.col("content")))
    )
    assert run_then_steps(out, steps) == 2


def test_case_aggregator_context_detects_breakage(spark):
    """The replay actually verifies: a shuffled 'no' sequence or a
    skipped pack seq must fail LogContext."""
    from ilogtail_spark.operators.agg import context_pack_id

    df = spark.createDataFrame(
        [("s", i, str(i if i != 5 else 99), "c") for i in range(1, 11)],
        "conv_id string, turn_idx int, no string, content string",
    )
    out = context_pack_id(df, ("conv_id",), "turn_idx", max_events=4)
    out = out.withColumn("_ord", F.col("turn_idx")).withColumn(
        "contents", contents_map(("no", F.col("no")), ("content", F.col("content")))
    )
    with pytest.raises(AssertionError, match="log sequence"):
        verify.log_context_valid(out, order_col="_ord")

    # pack seq hole: skip seq 2
    broken = context_pack_id(
        spark.createDataFrame(
            [("s", i, str(i), "c") for i in range(1, 9)],
            "conv_id string, turn_idx int, no string, content string",
        ),
        ("conv_id",),
        "turn_idx",
        max_events=4,
    ).withColumn(
        "__pack_id__",
        F.regexp_replace("__pack_id__", "-2$", "-3"),
    )
    broken = broken.withColumn("_ord", F.col("turn_idx")).withColumn(
        "contents", contents_map(("no", F.col("no")), ("content", F.col("content")))
    )
    with pytest.raises(AssertionError, match="pack sequence"):
        verify.log_context_valid(broken, order_col="_ord")


# --------------------------------------------------------------------------
# input_container_stdio_multiline
# --------------------------------------------------------------------------

@needs_reference
def test_case_input_container_stdio_multiline(spark):
    """input_container_stdio_multiline/case.feature: the trigger
    container echoes 'today\\nhello' to stdout (Dockerfile CMD); the
    config's input carries Multiline.StartPattern 'today', so the two
    stdout lines merge into ONE log with content 'today\\nhello';
    container discovery stamps _image_name_/_container_name_/
    _container_ip_ group tags and the stdio reader adds _time_ and
    _source_ fields.  Tag/field values are synthesized exactly as the
    case's docker-compose environment names them."""
    steps = parse_feature(f"{CASES}/input_container_stdio_multiline/case.feature")
    cfg = yaml.safe_load(scenario_config(steps))
    inp = cfg["inputs"][0]
    assert inp["Type"] == "input_container_stdio"
    start = inp["Multiline"]["StartPattern"]

    # the stdio reader's per-line records (docker json-log shape)
    lines = spark.createDataFrame(
        [("c1", 1, "today", "2024-05-06T07:08:09.123456789Z", "stdout"),
         ("c1", 2, "hello", "2024-05-06T07:08:09.123456790Z", "stdout")],
        "conv_id string, turn_idx int, content string, _time_ string, _source_ string",
    )
    from ilogtail_spark.operators.split import split_multiline

    merged = split_multiline(
        lines.drop("_time_", "_source_"), "content", "turn_idx", ["conv_id"],
        start_pattern=start,
    )
    # the stdio reader stamps the FIRST line's time + stream on the
    # merged event (docker json-log record fields)
    out = merged.withColumn(
        "contents",
        contents_map(
            ("content", F.col("content")),
            ("_time_", "2024-05-06T07:08:09.123456789Z"),
            ("_source_", "stdout"),
        ),
    ).withColumn(
        "tags",
        contents_map(
            ("_image_name_", "input_container_stdio_multiline-container:latest"),
            ("_container_name_", "input_container_stdio_multiline-container-1"),
            ("_container_ip_", "172.18.0.2"),
        ),
    )
    # all three Then steps: count>=1, tags kv, fields kv (content must
    # be the MERGED '^today\nhello$' — an unmerged replay fails here)
    assert run_then_steps(out, steps) == 3


# --------------------------------------------------------------------------
# LogOrder (log_order.go) — semantics pinned directly
# --------------------------------------------------------------------------

def _order_df(spark, rows):
    return spark.createDataFrame(
        [("g", i, t, {"logNo": str(no)} if no is not None else {})
         for i, (t, no) in enumerate(rows)],
        "__pack_id__ string, _ord int, time int, contents map<string,string>",
    )


def test_log_order_valid_and_broken(spark):
    # strictly increasing time with logNo 1,2,3,4 — ok
    verify.log_order_valid(
        _order_df(spark, [(10, 1), (11, 2), (12, 3), (13, 4)]), "_ord"
    )
    # time tie: row is skipped entirely (go:66-74) — 3 then tie then 5
    # would FAIL (5 != 3+1 against the tracked number)…
    with pytest.raises(AssertionError, match="log order"):
        verify.log_order_valid(
            _order_df(spark, [(10, 3), (10, 9), (11, 5)]), "_ord"
        )
    # …but a tie whose successor resumes tracked+1 passes: 3, tie(9), 4
    verify.log_order_valid(
        _order_df(spark, [(10, 3), (10, 9), (11, 4)]), "_ord"
    )
    # missing logNo on a checked row is skipped (go:80-91)
    verify.log_order_valid(
        _order_df(spark, [(10, 1), (11, None), (12, 2)]), "_ord"
    )
    # a jump on increasing time fails
    with pytest.raises(AssertionError, match="log order"):
        verify.log_order_valid(
            _order_df(spark, [(10, 1), (11, 2), (12, 7)]), "_ord"
        )


def test_log_field_verifiers_negative(spark):
    df = spark.createDataFrame(
        [({"a": "x1"},), ({"b": "y"},)], "contents map<string,string>"
    )
    with pytest.raises(AssertionError, match="field a"):
        verify.log_fields_match(df, ["a"])
    with pytest.raises(AssertionError, match="KV a"):
        verify.log_field_kv(df, {"a": r"^x\d$"})  # second log lacks 'a'
    verify.log_field_kv(df.limit(1), {"a": r"^x\d$"})


def test_log_context_pack_seq_is_arrival_order(spark):
    """Packs arriving out of order (seq 2's rows before seq 1's) must
    fail pack_seq even though the seq SET is contiguous — the Go
    verifier walks arrival order (log_context.go:111-136)."""
    rows = [
        # arrival order: pack -2 first, then pack -1 (no runs 1..4 to
        # keep log_seq/content checks clean)
        ("P-2", 1, "1", "c"),
        ("P-2", 2, "2", "c"),
        ("P-1", 3, "3", "c"),
        ("P-1", 4, "4", "c"),
    ]
    df = spark.createDataFrame(
        rows, "__pack_id__ string, _ord int, no string, content string"
    ).withColumn(
        "contents", contents_map(("no", F.col("no")), ("content", F.col("content")))
    )
    with pytest.raises(AssertionError, match="pack sequence"):
        verify.log_context_valid(df, order_col="_ord")


# --------------------------------------------------------------------------
# round-5 tranche: docker stdout family
# --------------------------------------------------------------------------

def _docker_meta(case):
    """Container-discovery values shaped exactly as the compose
    environment names them (matching the features' anchored regexes)."""
    return {
        "_image_name_": f"{case}-container:latest",
        "_container_name_": f"{case}-container-1",
        "_container_ip_": "172.18.0.2",
    }


_DOCKER_TIME = "2024-05-06T07:08:09.123456789Z"


@needs_reference
def test_case_docker_stdout_family(spark):
    """input_docker_stdout + input_docker_rawstdout (+ the
    rawstdout_multiline feature, which starts the RAWSTDOUT compose —
    a single 'hello' echo — per its own When step): service_docker_
    stdout merges container meta INTO the per-log contents
    (helper/docker json-log record), one log for the CMD's one line."""
    for case in ("input_docker_stdout", "input_docker_rawstdout",
                 "input_docker_rawstdout_multiline"):
        compose = ("input_docker_rawstdout"
                   if "rawstdout" in case else case)
        steps = parse_feature(f"{CASES}/{case}/case.feature")
        cfg = yaml.safe_load(scenario_config(steps))
        assert cfg["inputs"][0]["Type"] in (
            "service_docker_stdout", "service_docker_stdout_raw")
        df = spark.createDataFrame(
            [("c1", 1, "hello")], "conv_id string, turn_idx int, content string"
        ).withColumn(
            "contents",
            contents_map(
                ("content", F.col("content")),
                ("_time_", _DOCKER_TIME),
                ("_source_", "stdout"),
                *_docker_meta(compose).items(),
            ),
        )
        assert run_then_steps(df, steps) == 2, case


@needs_reference
def test_case_docker_stdout_multiline(spark):
    """input_docker_stdout_multiline: BeginLineRegex 'today' on the
    CMD's 'today\\nhello' echo — the two json-log lines must merge to
    ONE log whose content matches '^today\\nhello$' (an unmerged
    replay fails the kv step)."""
    steps = parse_feature(
        f"{CASES}/input_docker_stdout_multiline/case.feature")
    cfg = yaml.safe_load(scenario_config(steps))
    start = cfg["inputs"][0]["BeginLineRegex"]

    from ilogtail_spark.operators.split import split_multiline

    lines = spark.createDataFrame(
        [("c1", 1, "today"), ("c1", 2, "hello")],
        "conv_id string, turn_idx int, content string",
    )
    merged = split_multiline(
        lines, "content", "turn_idx", ["conv_id"], start_pattern=start
    )
    out = merged.withColumn(
        "contents",
        contents_map(
            ("content", F.col("content")),
            ("_time_", _DOCKER_TIME),
            ("_source_", "stdout"),
            *_docker_meta("input_docker_stdout_multiline").items(),
        ),
    )
    assert run_then_steps(out, steps) == 2
    assert out.count() == 1  # merged, not two logs


@needs_reference
def test_case_input_container_stdio(spark):
    """input_container_stdio: the v2 stdio input keeps container meta
    as GROUP TAGS (not contents) — tags kv + fields kv both run."""
    steps = parse_feature(f"{CASES}/input_container_stdio/case.feature")
    cfg = yaml.safe_load(scenario_config(steps))
    assert cfg["inputs"][0]["Type"] == "input_container_stdio"
    assert cfg["inputs"][0]["IgnoringStderr"] is True
    df = spark.createDataFrame([("c1", 1, "hello")],
                               "conv_id string, turn_idx int, content string")
    out = df.withColumn(
        "contents",
        contents_map(("content", F.col("content")),
                     ("_time_", _DOCKER_TIME), ("_source_", "stdout")),
    ).withColumn(
        "tags", contents_map(*_docker_meta("input_container_stdio").items())
    )
    assert run_then_steps(out, steps) == 3


# --------------------------------------------------------------------------
# static-file inputs — REAL fixture + Spark-native recursive glob
# --------------------------------------------------------------------------

@needs_reference
def test_case_input_static_file(spark, tmp_path):
    """input_static_file: the case's own 5000-line a.log fixture read
    through Spark's file source with recursiveFileLookup +
    pathGlobFilter — the Spark-native leg of FilePaths
    '/root/test/**/a*.log' + MaxDirSearchDepth. The compose mount
    (./a.log → /root/test/1/2/3/axxxx.log) is replayed as the path
    mapping on input_file_name()."""
    import shutil

    steps = parse_feature(f"{CASES}/input_static_file/case.feature")
    cfg = yaml.safe_load(scenario_config(steps))
    assert cfg["inputs"][0]["Type"] == "input_static_file_onetime"

    root = tmp_path / "mnt"
    (root / "1" / "2" / "3").mkdir(parents=True)
    shutil.copy(f"{CASES}/input_static_file/a.log",
                root / "1" / "2" / "3" / "axxxx.log")
    # decoy that must NOT match a*.log
    (root / "1" / "b.log").write_text("nope\n")
    df = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "a*.log")
        .text(str(root))
    )
    mounted = F.regexp_replace(
        F.input_file_name(), "^file:.*/mnt", "/root/test"
    )
    out = df.withColumn(
        "contents",
        contents_map(("content", F.col("value")),
                     ("__tag__:__path__", mounted)),
    )
    assert run_then_steps(out, steps) == 2
    assert out.count() == 5000  # the decoy was pruned by the glob


@needs_reference
def test_case_input_docker_static_file(spark):
    """input_docker_static_file: run.sh writes lines '<i+4>=====' for
    i in 1..1000 into the container path; input_file with container
    discovery stamps __path__ as a group TAG."""
    steps = parse_feature(f"{CASES}/input_docker_static_file/case.feature")
    cfg = yaml.safe_load(scenario_config(steps))
    assert cfg["inputs"][0]["EnableContainerDiscovery"] is True
    df = spark.range(1, 1001).select(
        F.concat((F.col("id") + 4).cast("string"), F.lit("=====")).alias("line")
    )
    out = df.withColumn(
        "contents", contents_map(("content", F.col("line")))
    ).withColumn(
        "tags",
        contents_map(("__path__", "/root/test/a/b/c/d/axxxxxxx.log")),
    )
    assert run_then_steps(out, steps) == 3


# --------------------------------------------------------------------------
# kafka flusher pipelines (transport stubbed: the resolved topic IS the
# sink address our router computes; the broker handshake is out of scope)
# --------------------------------------------------------------------------

@needs_reference
def test_case_flusher_kafka_native(spark):
    """flusher_kafka_native_1.x.x (representative of the version
    matrix): run.sh writes 1000 lines '<i+4>=====' to the mounted
    file; the flusher publishes to the STATIC topic; the subscriber
    checks topic + content kv."""
    from ilogtail_spark.operators.route import dynamic_sink_name

    steps = parse_feature(f"{CASES}/flusher_kafka_native_1.x.x/case.feature")
    transform, flushers = pipeline_from_yaml(scenario_config(steps))
    kafka = [f for f in flushers if f["Type"] == "flusher_kafka_native"][0]
    df = spark.range(1, 1001).select(
        F.concat((F.col("id") + 4).cast("string"), F.lit("=====")).alias("content")
    )
    out = dynamic_sink_name(transform(df), kafka["Topic"], sink_col="topic")
    out = out.withColumn(
        "contents",
        contents_map(("content", F.col("content")), ("topic", F.col("topic"))),
    )
    assert run_then_steps(out, steps) == 2


@needs_reference
def test_case_kafka_dynamic_topic(spark):
    """flusher_kafka_native_dynamic_topic — ALL FOUR scenarios: topic
    from a content field (%{content.service}), from a group tag
    (%{tag.__hostname__}), from a config env var
    (${ALIYUN_LOGTAIL_USER_DEFINED_ID}), and the hash partitioner
    (PartitionerType=hash, HashKeys=[content.msg]) with the
    kafka_partition.go verifiers. run.sh emits 30 JSON lines
    {'env':'prod','service':'serviceA','msg':'hello-<i>'}."""
    from ilogtail_spark.common import md5_hash64
    from ilogtail_spark.operators.route import dynamic_sink_name

    scenarios = parse_scenarios(
        f"{CASES}/flusher_kafka_native_dynamic_topic/case.feature")
    assert len(scenarios) == 4
    df = spark.createDataFrame(
        [(f'{{"env":"prod","service":"serviceA","msg":"hello-{i}"}}',)
         for i in range(1, 31)],
        "content string",
    )
    expect_topic = {
        "TestFlusherKafkaNative_DynamicTopic": "app-serviceA",
        "TestFlusherKafkaNative_DynamicTopic_Tag": "app-loongcollector",
        "TestFlusherKafkaNative_DynamicTopic_EnvVar": "app-1111",
        "TestFlusherKafkaNative_HashPartition_Basic": "app-hash",
    }
    for name, steps in scenarios:
        transform, flushers = pipeline_from_yaml(scenario_config(steps))
        kafka = [f for f in flushers
                 if f["Type"] == "flusher_kafka_native"][0]
        # config-loader env substitution (the compose sets
        # ALIYUN_LOGTAIL_USER_DEFINED_ID=1111 on the collector)
        topic_tmpl = kafka["Topic"].replace(
            "${ALIYUN_LOGTAIL_USER_DEFINED_ID}", "1111")
        parsed = transform(df)  # json -> 'attrs' contents map
        # group tag the collector stamps (its compose hostname)
        parsed = parsed.withColumn("__hostname__", F.lit("loongcollector"))
        out = dynamic_sink_name(
            parsed, topic_tmpl, sink_col="topic", contents_col="attrs"
        )
        # the flushed log carries the json-expanded fields too
        pairs = [
            ("content", F.col("content")),
            ("topic", F.col("topic")),
            ("msg", F.element_at(F.col("attrs"), F.lit("msg"))),
            ("service", F.element_at(F.col("attrs"), F.lit("service"))),
        ]
        expect_ran = 2
        if kafka.get("PartitionerType") == "hash":
            # sarama hash partitioner semantics the verifier checks:
            # same HashKeys value -> same partition, spread >= 2
            assert kafka["HashKeys"] == ["content.msg"]
            part = F.pmod(
                md5_hash64(F.element_at(F.col("attrs"), F.lit("msg"))),
                F.lit(12),
            ).cast("string")
            pairs.append(("partition", part))
            expect_ran = 4  # + partitions-at-least + consistent-by
        out = out.withColumn("contents", contents_map(*pairs))
        assert run_then_steps(out, steps) == expect_ran, name
        topics = [r[0] for r in out.select("topic").distinct().collect()]
        assert topics == [expect_topic[name]], name


# --------------------------------------------------------------------------
# input_mock_metric — OpenPrometheusPattern leg + LogLabel verifier
# --------------------------------------------------------------------------

@needs_reference
def test_case_input_mock_metric(spark):
    """input_mock_metric: metric_mock with OpenPrometheusPattern emits
    helper.NewMetricLog rows (input_mock.go:57-59 →
    log_helper.go:270-289): __name__=metrics_mock, 19-digit
    __time_nano__, __labels__ = Tags+Fields appended then sorted,
    __value__ = float64(Index). 20 ticks stand in for the compose's
    runtime; all THREE Then steps run (fields list + labels list)."""
    steps = parse_feature(f"{CASES}/input_mock_metric/case.feature")
    cfg = yaml.safe_load(scenario_config(steps))
    mock = cfg["inputs"][0]
    assert mock["OpenPrometheusPattern"] is True

    label_pairs = sorted(
        list(mock["Tags"].items())
        + [(k, str(v)) for k, v in mock["Fields"].items()]
    )
    labels = "|".join(f"{k}#$#{v}" for k, v in label_pairs)
    ticks = spark.range(1, 21).select(
        F.col("id").alias("_ord"),
        contents_map(
            ("__name__", F.lit("metrics_mock")),
            ("__time_nano__",
             (F.lit(1700000000000000000) + F.col("id")).cast("string")),
            ("__labels__", F.lit(labels)),
            ("__value__", F.col("id").cast("string")),
        ).alias("contents"),
    )
    assert run_then_steps(ticks, steps) == 3


def test_log_labels_match_detects_breakage(spark):
    """The new verifier actually bites: wrong label count, malformed
    pair, and a missing expected key must each fail."""
    def mk(lbl):
        return spark.createDataFrame([(lbl,)], "l string").select(
            contents_map(("__labels__", F.col("l"))).alias("contents")
        )

    verify.log_labels_match(mk("a#$#1|b#$#2"), ["a", "b"])
    with pytest.raises(AssertionError, match="label num"):
        verify.log_labels_match(mk("a#$#1"), ["a", "b"])
    with pytest.raises(AssertionError, match="key#\\$#value"):
        verify.log_labels_match(mk("a#$#1|borked"), ["a", "b"])
    with pytest.raises(AssertionError, match="not found"):
        verify.log_labels_match(mk("a#$#1|c#$#3"), ["a", "b"])


# --------------------------------------------------------------------------
# http probe + http server (influx body decode)
# --------------------------------------------------------------------------

@needs_reference
def test_case_input_http(spark):
    """input_http: metric_http's probe record (input_http.go →
    helper fields _method_/_address_/_result_/_http_response_code_/
    _response_time_ms_ + content body) through the config's
    processor_anchor chain (NoAnchorError tolerates the non-JSON
    body). All three Then steps (count + fields list + kv) run."""
    steps = parse_feature(f"{CASES}/input_http/case.feature")
    transform, _ = pipeline_from_yaml(scenario_config(steps))
    df = spark.createDataFrame(
        [(i, "<html>baidu</html>", "GET", "http://www.baidu.com",
          "success", "200", str(30 + i)) for i in range(1, 5)],
        "i long, content string, _method_ string, _address_ string, "
        "_result_ string, _http_response_code_ string, _response_time_ms_ string",
    )
    out = transform(df)
    out = out.withColumn(
        "contents",
        contents_map(
            ("_method_", F.col("_method_")),
            ("_address_", F.col("_address_")),
            ("_result_", F.col("_result_")),
            ("_http_response_code_", F.col("_http_response_code_")),
            ("_response_time_ms_", F.col("_response_time_ms_")),
        ),
    )
    assert run_then_steps(out, steps) == 3


@needs_reference
def test_case_input_http_server(spark):
    """input_http_server: the When step POSTs the influx line
    'weather,city=hz value=32' to ?db=mydb; service_http_server
    Format=influxdb decodes it (operators/influx.py) with
    FieldsExtend, then the config's processor chain runs. The kv step
    pins the exact decoded contents incl. __tag__:db."""
    from ilogtail_spark.operators import OPERATORS

    steps = parse_feature(f"{CASES}/input_http_server/case.feature")
    cfg = yaml.safe_load(scenario_config(steps))
    inp = dict(cfg["inputs"][0])
    assert inp.pop("Type") == "service_http_server"
    body = next(doc for text, doc in steps if "generate" in text).strip()
    assert body == "weather,city=hz value=32"
    # db=mydb comes from the When step's URL query; the decoder clock
    # stands in for time.Now() on the stamp-less body
    decode = OPERATORS["service_http_server"](
        **inp, Db="mydb", DefaultNowNs=1700000000000000000)
    df = spark.createDataFrame([(body,) for _ in range(10)],
                               "content string")
    out = decode(df)
    # the config's processor_anchor reads the 'content' key, which the
    # decoded metric logs do not carry — NULL column stands in for the
    # absent key (anchor's NoAnchorError path)
    transform, _ = pipeline_from_yaml(scenario_config(steps))
    out = transform(out.withColumn("content", F.lit(None).cast("string")))
    out = out.withColumn(
        "contents",
        contents_map(
            ("__tag__:db", F.col("`__tag__:db`")),
            ("__name__", F.col("__name__")),
            ("__value__", F.col("__value__")),
            ("__labels__", F.col("__labels__")),
            ("__type__", F.col("__type__")),
            ("__time_nano__", F.col("__time_nano__")),
        ),
    )
    assert run_then_steps(out, steps) == 2


# --------------------------------------------------------------------------
# input_canal — binlog row events (operators/cdc.py)
# --------------------------------------------------------------------------

@needs_reference
def test_case_input_canal(spark):
    """input_canal (+ the binfile-mode feature, which is verbatim
    identical): the When step fires 10 inserts through the client;
    service_canal emits one row_insert event per insert with the meta
    fields of input_canal.go:215,391-406. The Then step checks the
    meta-field list; cdc_replay over the same stream must land 10
    rows of final state."""
    from ilogtail_spark.operators.cdc import cdc_replay

    steps = parse_feature(f"{CASES}/input_canal/case.feature")
    cfg = yaml.safe_load(scenario_config(steps))
    assert cfg["inputs"][0]["Type"] == "service_canal"

    rows = [
        (i, "mysql", "specialalarmtest", "row_insert",
         f"7d2f332e-{i:04d}", "mysql-bin.000001", str(4096 + 217 * i),
         "mysql-host", f"alarm-{i}")
        for i in range(1, 11)
    ]
    df = spark.createDataFrame(
        rows,
        "_id_ long, _db_ string, _table_ string, _event_ string, "
        "_gtid_ string, _filename_ string, _offset_ string, _host_ string, "
        "name string",
    )
    out = df.withColumn(
        "contents",
        contents_map(*[(c, F.col(c).cast("string")) for c in
                       ("_db_", "_gtid_", "_event_", "_filename_",
                        "_host_", "_offset_")]),
    )
    assert run_then_steps(out, steps) == 2
    assert cdc_replay(df, ["_id_"], "_offset_").count() == 10
