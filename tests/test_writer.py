"""The multicast writer and the CLI's routed output: one write of the
cached fan-out, published as one parquet directory per sink, sorted
by (conv_id, turn_idx) within every file."""

import glob
import os

import pyarrow.parquet as pq

from ilogtail_spark.plans.pipeline import (
    enrich_stage,
    parse_stage,
    route_stage,
    standard_sinks,
)
from ilogtail_spark.sinks.writer import write_per_sink
from ilogtail_spark.sources.transcripts import derive_transcripts


def _routed(spark, sf_dir):
    return route_stage(enrich_stage(parse_stage(derive_transcripts(spark, sf_dir)), spark))


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
