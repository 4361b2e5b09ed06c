"""Parquet table readers for the driver-generated testdata.

On a production deployment these would be Iceberg catalog reads
(`spark.read.table`) with partition pruning on the table's hidden
partitioning; the sandbox image has no Iceberg jars, so we read the
parquet files directly — the DataFrame plans downstream are
identical either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# schema of each parquet table read in this process, keyed by its
# files' signature: a table rewritten in place gets a new key
_SCHEMAS: dict[str, StructType] = {}


def files_signature(path: str) -> str | None:
    """The absolute path plus ``name:st_mtime_ns:st_size`` of each entry
    directly under it (of the file itself when ``path`` is a file);
    None when it cannot be stat'ed. Spark writes new part files under
    new names, so any rewrite changes the signature."""
    path = os.path.abspath(path)
    parts = [path]
    try:
        names = sorted(os.listdir(path)) if os.path.isdir(path) else [path]
        for name in names:
            st = os.stat(os.path.join(path, name))
            parts.append(f"{name}:{st.st_mtime_ns}:{st.st_size}")
    except OSError:
        return None
    return "|".join(parts)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``. Only the first read of a given
    signature infers the schema (a one-task Spark job); later reads pass
    the remembered schema and run no job while the plan is built."""
    sig = files_signature(path)
    schema = _SCHEMAS.get(sig) if sig else None
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if sig:
        _SCHEMAS[sig] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in TABLE_NAMES}
