"""Multicast sink writer.

The reference's flusher layer: router fans event groups out to N
flushers, each with its own batching/serialization
(core/collection_pipeline/route/Router.cpp:51-85, Batcher.h:131-171).

Spark re-expression: the routed frame (already exploded per sink by
``route_multicast``) is written in ONE pass with ``partitionBy(sink)``,
so every sink's rows come from a single scan of the fan-out. Each
hive-style ``<sink_col>=<sink>`` directory is then published as
``<out_dir>/<sink>`` with a Hadoop ``FileSystem.rename`` (a metadata
move, no data copied). The writer does not cache its input: a caller
that reads the fan-out more than once persists it and owns that cache.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_per_sink(
    routed: DataFrame,
    out_dir: str,
    sinks: list[str],
    sink_col: str = "__sink__",
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> dict[str, str]:
    """Write the rows of each of ``sinks`` to ``out_dir/<sink>`` as
    parquet without ``sink_col``, replacing ``out_dir``. Rows are
    sortWithinPartitions(conv_id, turn_idx) — the reference's
    aggregator_context per-source ordering guarantee
    (aggregator_context.go:38-57). Returns ``{sink: path}`` for the
    sinks that had rows; a sink with none gets no directory."""
    # leading with sink_col satisfies the partitioned writer's required
    # ordering, so it adds no sort of its own that could reorder rows
    (
        routed.filter(F.col(sink_col).isin(sinks))
        .sortWithinPartitions(sink_col, *order_cols)
        .write.mode("overwrite")
        .partitionBy(sink_col)
        .parquet(out_dir)
    )
    jvm = routed.sparkSession._jvm  # noqa: SLF001
    fs_path = jvm.org.apache.hadoop.fs.Path
    root = fs_path(out_dir)
    fs = root.getFileSystem(routed.sparkSession._jsc.hadoopConfiguration())  # noqa: SLF001
    escape = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    paths = {}
    for sink in sinks:
        src = fs_path(root, f"{sink_col}={escape(sink)}")
        if not fs.exists(src):
            continue
        dst = fs_path(root, sink)
        if not fs.rename(src, dst):
            raise OSError(f"could not publish {src.toString()} as {dst.toString()}")
        paths[sink] = os.path.join(out_dir, sink)
    return paths
