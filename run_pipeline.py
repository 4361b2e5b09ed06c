#!/usr/bin/env python
"""spark-submit entry point for the transcript pipeline.

Ships exactly as the north rule requires::

    ./submit.sh --input /root/testdata/sf0.01 --output /tmp/out
    # == spark-submit --py-files ilogtail_spark.zip run_pipeline.py ...

Runs parse → enrich → route on the transcripts table, writes per-sink
routed rows (stable (conv_id, turn_idx) order within files), per-sink
aggregates, the per-tool hourly histogram, and a lineage/parse-rate
metrics table. ``--resume`` processes conv_id hash buckets through the
commit log so a killed run restarts without reprocessing or
duplicating rows (CheckPointManager / RangeCheckpoint semantics,
core/file_server/checkpoint/CheckPointManager.h:40-85).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sf dir with events.parquet, or a transcripts parquet path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--replicate", type=int, default=1)
    ap.add_argument("--resume", action="store_true", help="bucket-wise checkpointed run (idempotent restart)")
    ap.add_argument("--num-buckets", type=int, default=8)
    ap.add_argument("--engine", choices=["dissect", "native", "pandas"], default="dissect",
                    help="parse path: structural dissect (scales best), JVM regexp_extract, or vectorized pandas UDF")
    ap.add_argument("--config", default=None,
                    help="reference-style YAML collection config: its processor+aggregator chain REPLACES the built-in parse/enrich stages (inputs ignored, external flushers skipped)")
    args = ap.parse_args(argv)

    # under spark-submit the session (master, deploy conf) comes from
    # the launcher; get_spark only fills in engine-level SQL conf
    from ilogtail_spark.plans.checkpoint import run_with_checkpoint
    from ilogtail_spark.plans.metrics import StageMetrics
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
    from ilogtail_spark.session import get_spark

    spark = get_spark("ilogtail-transcript-pipeline")

    if os.path.exists(os.path.join(args.input, "events.parquet")):
        df = derive_transcripts(spark, args.input, replicate=args.replicate)
    else:
        df = spark.read.parquet(args.input)

    metrics = StageMetrics()
    bucket_seq = iter(range(1_000_000))

    yaml_transform = None
    if args.config:
        from pyspark.sql import functions as F

        from ilogtail_spark.plans.pipeline import pipeline_from_yaml

        yaml_transform, _flushers = pipeline_from_yaml(args.config)

    def pipe(d):
        # unique per-invocation stage names: in --resume mode pipe()
        # runs once per bucket and each Observation must be distinct
        # or only the last bucket's counters survive
        tag = f"b{next(bucket_seq)}" if args.resume else "all"
        d = metrics.observe_stage(d, f"input[{tag}]")
        if yaml_transform is not None:
            # reference configs address the raw line under the default
            # content key (plugin.go DefaultContentKey "content"); the
            # transcript scan calls it `text`
            if "content" not in d.columns and "text" in d.columns:
                d = d.withColumn("content", F.col("text"))
            d = yaml_transform(d)
            d = metrics.observe_stage(d, f"config[{tag}]")
            if "__sink__" not in d.columns:
                d = d.withColumn("__sink__", F.lit("default"))
            return d
        d = parse_stage(d, engine=args.engine)
        d = metrics.observe_stage(d, f"parse[{tag}]")
        d = enrich_stage(d, spark)
        return route_stage(d)

    if args.resume:
        result = run_with_checkpoint(
            df,
            os.path.join(args.output, "routed"),
            pipe,
            num_buckets=args.num_buckets,
        )
        routed = spark.read.parquet(
            os.path.join(args.output, "routed", "bucket=*")
        )
        routed_summary = result
    elif yaml_transform is None:
        # the fan-out is computed once, by the write; the aggregates
        # read the published sink directories back
        routed = pipe(df)
        paths = write_per_sink(routed, os.path.join(args.output, "routed"), standard_sinks())
        routed = read_per_sink(spark, paths, routed.drop("__sink__").schema)
        routed_summary = {"sinks": sorted(paths)}
    else:
        # a config's routers name their own sinks, found in a pass over
        # the cached fan-out before the write
        routed = pipe(df).persist()
        sinks = [r["__sink__"] for r in routed.select("__sink__").distinct().collect()]
        paths = write_per_sink(routed, os.path.join(args.output, "routed"), sinks)
        routed.unpersist()
        routed_summary = {"sinks": sorted(paths)}

    if yaml_transform is None:
        # the built-in pipeline's summary tables assume its parsed
        # columns; a YAML config defines its own output shape
        sink_aggregates(routed).write.mode("overwrite").parquet(
            os.path.join(args.output, "sink_aggregates")
        )
        tool_histogram(routed).write.mode("overwrite").parquet(
            os.path.join(args.output, "tool_histogram")
        )
    metrics.to_df(spark).write.mode("overwrite").parquet(
        os.path.join(args.output, "metrics")
    )

    print(json.dumps({
        "routed": routed_summary,
        "metrics": metrics.collect(),
    }))


if __name__ == "__main__":
    main()
