"""The multicast writer and the CLI's routed output: one uncached write
of the fan-out, published as one parquet directory per sink, sorted by
(conv_id, turn_idx) within every file; the CLI's aggregates are read
back from those directories."""

import glob
import os
from collections import Counter

import pyarrow.parquet as pq

from ilogtail_spark.plans.pipeline import (
    enrich_stage,
    parse_stage,
    route_stage,
    sink_aggregates,
    standard_sinks,
    tool_histogram,
)
from ilogtail_spark.sinks.writer import read_per_sink, write_per_sink
from ilogtail_spark.sources.transcripts import derive_transcripts


def _flagship(spark, df):
    return route_stage(enrich_stage(parse_stage(df), spark))


def _routed(spark, sf_dir):
    return _flagship(spark, derive_transcripts(spark, sf_dir))


def _expected_counts(spark, sf_dir):
    return {
        r["__sink__"]: r["count"]
        for r in _routed(spark, sf_dir).groupBy("__sink__").count().collect()
    }


def _written(routed_dir):
    """{sink: rows} of a routed output, and whether every part file is
    sorted by (conv_id, turn_idx)."""
    counts, sorted_ok = {}, True
    for sink in os.listdir(routed_dir):
        path = os.path.join(routed_dir, sink)
        if not os.path.isdir(path):
            continue
        counts[sink] = pq.read_table(path).num_rows
        for part in glob.glob(os.path.join(path, "*.parquet")):
            t = pq.read_table(part, columns=["conv_id", "turn_idx"])
            keys = list(zip(t["conv_id"].to_pylist(), t["turn_idx"].to_pylist()))
            sorted_ok &= keys == sorted(keys)
    return counts, sorted_ok


def test_write_per_sink_keeps_callers_cache(spark, sf_dir, tmp_path):
    routed = _routed(spark, sf_dir).persist()
    try:
        before = routed.storageLevel
        routed.count()
        paths = write_per_sink(routed, str(tmp_path / "routed"), standard_sinks())
        assert routed.storageLevel == before
        assert set(paths) == set(_expected_counts(spark, sf_dir))
        for path in paths.values():
            assert "__sink__" not in pq.read_schema(
                glob.glob(os.path.join(path, "*.parquet"))[0]
            ).names
    finally:
        routed.unpersist()


def test_cli_routed_rows_match_route_stage(spark, sf_dir, tmp_path):
    import run_pipeline

    out = str(tmp_path / "out")
    run_pipeline.main(["--input", sf_dir, "--output", out])
    counts, sorted_ok = _written(os.path.join(out, "routed"))
    assert counts == _expected_counts(spark, sf_dir)
    assert sorted_ok


def test_cli_second_run_overwrites(spark, sf_dir, tmp_path):
    import run_pipeline

    out = str(tmp_path / "out")
    run_pipeline.main(["--input", sf_dir, "--output", out])
    first = _written(os.path.join(out, "routed"))
    run_pipeline.main(["--input", sf_dir, "--output", out])
    assert _written(os.path.join(out, "routed")) == first
    assert not glob.glob(os.path.join(out, "routed", "**", "__sink__=*"), recursive=True)


def _sink_keys(df):
    return Counter(
        tuple(r) for r in df.select("__sink__", "conv_id", "turn_idx").collect()
    )


def test_read_per_sink_restores_the_routed_rows(spark, sf_dir, tmp_path):
    routed = _routed(spark, sf_dir)
    schema = routed.drop("__sink__").schema
    paths = write_per_sink(routed, str(tmp_path / "routed"), standard_sinks())
    written = read_per_sink(spark, paths, schema)
    assert _sink_keys(written) == _sink_keys(routed)
    empty = read_per_sink(spark, {}, schema)
    assert empty.columns == written.columns
    assert empty.count() == 0


def _table(path):
    """A written table's rows (sorted) and its schema; the schema's
    metadata carries the Spark schema, nullability included."""
    t = pq.read_table(path)
    rows = sorted(t.to_pylist(), key=lambda r: [(v is None, str(v)) for v in r.values()])
    return rows, t.schema


def _assert_cli_aggregates(spark, input_df, out, tmp_path):
    routed = _flagship(spark, input_df)
    for name, agg in (("sink_aggregates", sink_aggregates), ("tool_histogram", tool_histogram)):
        want = str(tmp_path / f"want_{name}")
        agg(routed).write.parquet(want)
        got_rows, got_schema = _table(os.path.join(out, name))
        want_rows, want_schema = _table(want)
        assert got_rows == want_rows, name
        assert got_schema.equals(want_schema, check_metadata=True), name


def test_cli_writes_the_fan_out_uncached(spark, sf_dir, tmp_path, monkeypatch):
    """The default path computes the fan-out once, in the write, with no
    cache; its aggregates, read back from the sink directories, equal
    the aggregates of the routed frame."""
    import run_pipeline

    def refuse(self, *a, **k):
        raise AssertionError("the CLI's default path must not cache")

    frame = type(spark.range(1))
    monkeypatch.setattr(frame, "persist", refuse)
    monkeypatch.setattr(frame, "cache", refuse)
    out = str(tmp_path / "out")
    run_pipeline.main(["--input", sf_dir, "--output", out])
    _assert_cli_aggregates(spark, derive_transcripts(spark, sf_dir), out, tmp_path)


def test_cli_zero_rows_writes_empty_aggregates(spark, sf_dir, tmp_path):
    import run_pipeline

    empty = str(tmp_path / "empty")
    derive_transcripts(spark, sf_dir).limit(0).write.parquet(empty)
    out = str(tmp_path / "out")
    run_pipeline.main(["--input", empty, "--output", out])
    assert _written(os.path.join(out, "routed")) == ({}, True)
    for name in ("sink_aggregates", "tool_histogram"):
        assert pq.read_table(os.path.join(out, name)).num_rows == 0
    _assert_cli_aggregates(spark, spark.read.parquet(empty), out, tmp_path)


def test_cli_metrics_table_is_one_part_file(spark, sf_dir, tmp_path, capsys):
    """The metrics table is written by one task as one part file, with
    the rows, schema and Spark metadata of the uncoalesced table."""
    import json

    import pyarrow as pa
    import run_pipeline

    from ilogtail_spark.plans.metrics import METRICS_SCHEMA

    out = str(tmp_path / "out")
    run_pipeline.main(["--input", sf_dir, "--output", out])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    metrics_dir = os.path.join(out, "metrics")
    assert len(glob.glob(os.path.join(metrics_dir, "part-*.parquet"))) == 1
    want = str(tmp_path / "want_metrics")
    spark.createDataFrame(pa.Table.from_pylist(report["metrics"], schema=METRICS_SCHEMA)).write.parquet(want)
    got_rows, got_schema = _table(metrics_dir)
    want_rows, want_schema = _table(want)
    assert got_rows == want_rows and len(got_rows) == 2
    assert got_schema.equals(want_schema, check_metadata=True)


def _keys_by_sink(table):
    """{sink: [(conv_id, turn_idx), ...]} in file order."""
    keys = {}
    for sink, conv, turn in zip(
        table["__sink__"].to_pylist(), table["conv_id"].to_pylist(), table["turn_idx"].to_pylist()
    ):
        keys.setdefault(sink, []).append((conv, turn))
    return keys


def test_cli_resume_matches_the_default_path(spark, sf_dir, tmp_path):
    """``--resume`` writes each bucket's files in (conv_id, turn_idx)
    order within every sink, the same routed rows as the default path,
    and the same aggregates. The resumed run is a child process, so its
    stderr shows that Spark read no path it calls hidden (the bucketed
    input copy once was ``routed/_bucketed``)."""
    import subprocess
    import sys

    import run_pipeline

    default, resumed = str(tmp_path / "default"), str(tmp_path / "resumed")
    run_pipeline.main(["--input", sf_dir, "--output", default])
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g"}
    env.pop("PYSPARK_GATEWAY_PORT", None)
    proc = subprocess.run(
        [sys.executable, "run_pipeline.py", "--input", sf_dir, "--output", resumed, "--resume", "--num-buckets", "3"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "All paths were ignored" not in proc.stderr, proc.stderr[-4000:]
    assert os.path.exists(os.path.join(resumed, "routed", "_bucketed", "input", "_SUCCESS"))

    parts = glob.glob(os.path.join(resumed, "routed", "bucket=*", "*.parquet"))
    assert parts
    resumed_keys = Counter()
    for part in parts:
        by_sink = _keys_by_sink(pq.read_table(part, columns=["__sink__", "conv_id", "turn_idx"]))
        for sink, keys in by_sink.items():
            assert keys == sorted(keys), (part, sink)
            resumed_keys.update((sink, *k) for k in keys)

    routed_dir = os.path.join(default, "routed")
    assert _written(routed_dir)[1]
    default_keys = Counter()
    for sink in os.listdir(routed_dir):
        if not os.path.isdir(os.path.join(routed_dir, sink)):
            continue
        t = pq.read_table(os.path.join(routed_dir, sink), columns=["conv_id", "turn_idx"])
        default_keys.update(zip([sink] * t.num_rows, t["conv_id"].to_pylist(), t["turn_idx"].to_pylist()))
    assert resumed_keys == default_keys

    for name in ("sink_aggregates", "tool_histogram"):
        assert _table(os.path.join(resumed, name))[0] == _table(os.path.join(default, name))[0], name
