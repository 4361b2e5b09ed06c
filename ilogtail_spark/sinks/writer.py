"""Multicast sink writer.

The reference's flusher layer: router fans event groups out to N
flushers, each with its own batching/serialization
(core/collection_pipeline/route/Router.cpp:51-85, Batcher.h:131-171).

Spark re-expression: the routed frame (already exploded per sink by
``route_multicast``) is written in ONE pass with ``partitionBy(sink)``,
so every sink's rows come from a single scan of the fan-out. Each
hive-style ``<sink_col>=<sink>`` directory is then published as
``<out_dir>/<sink>`` with a Hadoop ``FileSystem.rename`` (a metadata
move, no data copied). The writer does not cache its input. A caller
that needs more from the fan-out than the write reads the published
directories back with ``read_per_sink`` instead of caching it, so the
fan-out is computed once, by the write.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ilogtail_spark.operators.transform import dict_map


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


def read_per_sink(
    spark: SparkSession, paths: dict[str, str], schema: StructType
) -> DataFrame:
    """Read what ``write_per_sink`` published, ``{sink: path}``, as one
    frame of ``schema`` plus ``__sink__``. One parquet scan covers every
    directory, and the explicit schema spares a schema-inference job.
    Each row's sink comes from its file's directory name, looked up in a
    literal map (the path is a URI, so the map's keys are URI-encoded
    too). ``{}`` gives an empty frame of the same schema."""
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    dirs = {
        hadoop_path(path).toUri().toString().rsplit("/", 1)[-1]: sink
        for sink, path in paths.items()
    }
    df = spark.read.schema(schema).parquet(*paths.values())
    if not dirs:
        return df.withColumn("__sink__", F.lit(None).cast("string"))
    # the parent directory's name, by two substring_index calls: a regex
    # on every row's path costs about half again as much CPU
    name = F.substring_index(F.substring_index(F.col("_metadata.file_path"), "/", -2), "/", 1)
    return dict_map(
        df.withColumn("__sink__", name), dirs, "__sink__", "__sink__",
        handle_missing=False, mode="overwrite",
    )
