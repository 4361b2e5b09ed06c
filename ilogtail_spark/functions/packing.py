"""GPT-style sequence packing for training-data pipelines.

Concatenate each stream's documents in a deterministic order and cut
every ``budget`` tokens: each document learns which training sequence
its first token lands in, its offset there, and whether it straddles a
cut. (This is the concatenate-and-chunk packing of the GPT/LLaMA
training recipes — documents may straddle sequence boundaries.)

Scale design (100 TB): the cut positions are a running token total per
stream, and stream keys (a language, a corpus split) are LOW
cardinality — a plain ``Window.partitionBy(stream)`` would funnel the
whole corpus through one task per stream. Classic two-phase
distributed scan instead:

  1. shard each stream by ORDER-KEY RANGE (shard id rises with the
     order key, so concatenation order is preserved);
  2. windowed prefix sum WITHIN (stream, shard) — thousands of
     balanced tasks;
  3. per-shard token totals (a tiny aggregate: one row per shard)
     get their own exclusive prefix sum over the shard axis and ride
     a BROADCAST join back as each shard's global starting offset.

Pick ``shard_span`` so the shard-totals set stays broadcastable
(corpus_rows / shard_span rows)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_sequences(
    df: DataFrame,
    budget: int,
    tokens_col: str,
    stream_col: str,
    order_col: str,
    shard_span: int = 4096,
) -> DataFrame:
    """Annotate each row with (seq_id, seq_offset, straddles) under
    fixed ``budget``-token sequences per stream. ``order_col`` must be
    unique within a stream (it defines concatenation order);
    ``tokens_col`` is the row's token length."""
    if budget <= 0:
        raise ValueError("pack_sequences: budget must be positive")
    # exact integer FLOOR division (decimal, not double: double-divide
    # loses precision above 2^53, and cast('long') truncates toward
    # zero so negative keys would collapse shards -x and +x into shard
    # 0, breaking the "shard id rises with the order key" invariant
    # that preserves concatenation order)
    shard = (
        F.floor(F.col(order_col).cast("decimal(38,0)") / F.lit(shard_span))
        .cast("long")
        .alias("_shard")
    )
    x = df.withColumn("_shard", shard)
    w_in = (
        Window.partitionBy(stream_col, "_shard")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    x = x.withColumn("_cum_in", F.sum(tokens_col).over(w_in))
    totals = x.groupBy(stream_col, "_shard").agg(
        F.sum(tokens_col).alias("_shard_tokens")
    )
    w_sh = (
        Window.partitionBy(stream_col)
        .orderBy("_shard")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = totals.select(
        F.col(stream_col).alias("_off_stream"),
        F.col("_shard").alias("_off_shard"),
        (F.sum("_shard_tokens").over(w_sh) - F.col("_shard_tokens")).alias(
            "_shard_offset"
        ),
    )
    # eqNullSafe: a NULL stream (or order) key is still a stream — the
    # aggregate keeps the NULL group, and a null-unequal inner join
    # would silently drop every such row
    x = x.join(
        F.broadcast(offsets),
        x[stream_col].eqNullSafe(offsets["_off_stream"])
        & x["_shard"].eqNullSafe(offsets["_off_shard"]),
    ).drop("_off_stream", "_off_shard")
    start = F.col("_shard_offset") + F.col("_cum_in") - F.col(tokens_col)
    end = F.col("_shard_offset") + F.col("_cum_in")
    x = x.withColumn("_start", start).withColumn("_end", end)
    seq_id = F.expr(f"_start DIV {int(budget)}")
    return (
        x.withColumn("seq_id", seq_id)
        .withColumn("seq_offset", F.pmod(F.col("_start"), F.lit(budget)))
        .withColumn(
            "straddles",
            (F.col(tokens_col) > 0)
            & (F.expr(f"(_end - 1) DIV {int(budget)}") > seq_id),
        )
        .drop("_shard", "_cum_in", "_shard_offset", "_start", "_end")
    )
