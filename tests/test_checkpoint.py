"""Resume-without-duplicates test — CheckPointManager / RangeCheckpoint
semantics (checkpoint.proto:31-36: committed flag; kill → rerun →
no reprocessing of committed ranges)."""

import pytest

from ilogtail_spark.plans.checkpoint import CommitLog, run_with_checkpoint
from ilogtail_spark.plans.pipeline import parse_stage
from ilogtail_spark.sources.transcripts import derive_transcripts


def test_kill_and_resume_no_duplicates(spark, sf_dir, tmp_path):
    out = str(tmp_path / "ckpt")
    df = derive_transcripts(spark, sf_dir)
    expected = df.count()

    # first run dies after 3 of 6 buckets
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_with_checkpoint(df, out, parse_stage, num_buckets=6, fail_after=3)
    log = CommitLog(out + "/_commits")
    assert len(log.committed_buckets()) == 3

    # resume: only the remaining buckets run
    res = run_with_checkpoint(df, out, parse_stage, num_buckets=6)
    assert sorted(res["skipped"]) == sorted(log.committed_buckets() - set(res["processed"]))
    assert len(res["processed"]) == 3

    # all rows present exactly once
    back = spark.read.parquet(out + "/bucket=*")
    assert back.count() == expected
    assert back.select("conv_id", "turn_idx").distinct().count() == expected

    # idempotent third run: nothing to do
    res2 = run_with_checkpoint(df, out, parse_stage, num_buckets=6)
    assert res2["processed"] == []
    assert len(res2["skipped"]) == 6
    assert spark.read.parquet(out + "/bucket=*").count() == expected


def test_bucketed_input_is_partition_pruned(spark, tmp_path):
    """The input is written once partitioned by bucket; each
    per-bucket read must prune to its own directory instead of
    re-scanning everything (was num_buckets full scans)."""
    import os

    from pyspark.sql import functions as F

    from ilogtail_spark.plans.checkpoint import run_with_checkpoint

    df = spark.range(0, 1000).withColumn("conv_id", F.concat(F.lit("c"), (F.col("id") % 57).cast("string")))
    out_dir = str(tmp_path / "out")
    run_with_checkpoint(df, out_dir, lambda d: d, num_buckets=4)
    bdir = os.path.join(out_dir, "_bucketed", "input")
    assert os.path.exists(os.path.join(bdir, "_SUCCESS"))
    assert sorted(
        d for d in os.listdir(bdir) if d.startswith("_bucket=")
    ) == [f"_bucket={i}" for i in range(4)]

    pruned = spark.read.parquet(bdir).filter(F.col("_bucket") == 2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_bucket" in plan.split("PartitionFilters")[1][:200]

    # all rows land exactly once across bucket outputs
    total = sum(
        spark.read.parquet(os.path.join(out_dir, f"bucket={b}")).count()
        for b in range(4)
    )
    assert total == 1000


def test_old_layout_bucketed_copy_is_rewritten(spark, tmp_path):
    """A bucketed copy in the older layout (``_bucketed/_bucket=<b>/``,
    a read path Spark calls hidden) is never reused by a resumed run:
    the run rewrites ``_bucketed/`` whole, from the input it is given."""
    import os

    from pyspark.sql import functions as F

    df = spark.range(0, 200).withColumn("conv_id", F.concat(F.lit("c"), (F.col("id") % 17).cast("string")))
    out_dir = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_with_checkpoint(df, out_dir, lambda d: d, num_buckets=4, fail_after=1)
    # replace the copy with a stale one in the old layout
    hidden = os.path.join(out_dir, "_bucketed")
    stale = df.filter(F.col("id") < 0).withColumn("_bucket", F.lit(0).cast("int"))
    stale.write.mode("overwrite").partitionBy("_bucket").parquet(hidden)
    assert os.path.exists(os.path.join(hidden, "_SUCCESS"))

    res = run_with_checkpoint(df, out_dir, lambda d: d, num_buckets=4)
    assert len(res["processed"]) == 3 and len(res["skipped"]) == 1
    assert sorted(os.listdir(hidden)) == ["input"]
    total = sum(spark.read.parquet(os.path.join(out_dir, f"bucket={b}")).count() for b in range(4))
    assert total == 200
