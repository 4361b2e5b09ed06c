"""Lineage / parse-rate metrics.

The reference counts per-plugin in/out/discarded/failed events
(core/monitor/metric_constants/PluginMetrics.cpp:27-122, e.g.
out_failed_events_total / discarded_events_total). Spark equivalent:
``DataFrame.observe`` — metrics ride the existing job, costing zero
extra passes, and surface through a QueryExecutionListener or (for
batch) the collected observation object.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ilogtail_spark.operators.parse import PARSE_OK_KEY

METRICS_SCHEMA = pa.schema(
    [
        ("stage", pa.string()),
        ("in_events_total", pa.int64()),
        ("out_failed_events_total", pa.int64()),
    ]
)


class StageMetrics:
    """Accumulates named Observations per pipeline stage, then emits a
    metrics table mirroring PluginMetrics counter names."""

    def __init__(self) -> None:
        self.observations: dict[str, Observation] = {}

    def observe_stage(self, df: DataFrame, stage: str) -> DataFrame:
        obs = Observation(stage)
        self.observations[stage] = obs
        metrics = [F.count(F.lit(1)).alias("in_events_total")]
        if PARSE_OK_KEY in df.columns:
            metrics.append(
                F.sum(F.when(~F.col(PARSE_OK_KEY), 1).otherwise(0)).alias(
                    "out_failed_events_total"
                )
            )
        return df.observe(obs, *metrics)

    def collect(self) -> list[dict]:
        rows = []
        for stage, obs in self.observations.items():
            row = {"stage": stage}
            row.update(obs.get)
            rows.append(row)
        return rows

    def to_df(self, spark) -> DataFrame:
        """The metrics table as a JVM-local relation: an Arrow table
        becomes a ``LocalRelation``, so writing it runs no Python
        worker (a row list would become a Python RDD). One partition,
        so it is written as one part file by one task."""
        return spark.createDataFrame(
            pa.Table.from_pylist(self.collect(), schema=METRICS_SCHEMA)
        ).coalesce(1)
