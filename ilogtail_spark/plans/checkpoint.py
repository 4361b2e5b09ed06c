"""Checkpoint / resume for the batch pipeline.

Reference semantics: per-source range checkpoints with committed
flags so a killed agent resumes without re-sending
(core/file_server/checkpoint/CheckPointManager.h:40-85,
core/protobuf/sls/checkpoint.proto:31-36 — sequence_id, read_offset,
read_length, committed; exactly-once queues
ExactlyOnceQueueManager.h:41).

Spark re-expression: the input is split into ``num_buckets`` hash
buckets of conv_id (stable across runs — xxhash64, not partition
ids). Each bucket is processed and written independently; a commit
record (bucket, run output path, row count) lands in the commit log
ONLY after the bucket's write succeeds. A re-run skips committed
buckets — idempotent restart, no duplicate routed rows. On Iceberg
the per-bucket write would be one atomic snapshot commit; on the
parquet substrate we get the same effect because a bucket directory
is written with mode=overwrite and the commit record is written
after.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucket_of(col, num_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(num_buckets))


class CommitLog:
    """File-per-commit log — commit visibility is atomic at file
    granularity (os.replace), mirroring the reference's
    committed-flag checkpoint records."""

    def __init__(self, dir_path: str) -> None:
        self.dir = dir_path
        os.makedirs(dir_path, exist_ok=True)

    def committed_buckets(self) -> set[int]:
        out = set()
        for name in os.listdir(self.dir):
            if name.startswith("bucket-") and name.endswith(".json"):
                out.add(int(name[len("bucket-") : -len(".json")]))
        return out

    def commit(self, bucket: int, meta: dict) -> None:
        tmp = os.path.join(self.dir, f".bucket-{bucket}.json.tmp")
        final = os.path.join(self.dir, f"bucket-{bucket}.json")
        with open(tmp, "w") as f:
            json.dump({"bucket": bucket, **meta}, f)
        os.replace(tmp, final)

    def read(self, bucket: int) -> dict:
        with open(os.path.join(self.dir, f"bucket-{bucket}.json")) as f:
            return json.load(f)


def run_with_checkpoint(
    df: DataFrame,
    out_dir: str,
    pipeline: Callable[[DataFrame], DataFrame],
    key_col: str = "conv_id",
    num_buckets: int = 8,
    commit_dir: str | None = None,
    fail_after: int | None = None,
) -> dict:
    """Process bucket-by-bucket with commit-after-write.

    ONE pass writes the input partitioned by bucket
    (`_bucketed/input/_bucket=<b>/`), then every per-bucket read is
    PARTITION-PRUNED — total input I/O is one scan + one write + one
    pruned read per bucket, instead of ``num_buckets`` full scans with
    a hash filter. The bucketed copy is reused by a resumed run (it
    carries its own _SUCCESS marker), so a killed job re-reads only
    uncommitted bucket directories — the parquet rendering of Iceberg
    bucket-partition pruning. `_bucketed/` hides the copy from readers
    of ``out_dir``; the path read is its non-hidden `input` leaf, since
    Spark ignores a read path whose name starts with `_` (with a
    warning). A copy in the older layout (`_bucketed/_bucket=<b>/`) is
    never reused: the run rewrites `_bucketed/` whole.

    fail_after: test hook — raise after N successful bucket commits
    (simulates a mid-run kill for the resume test).

    Returns {"processed": [...], "skipped": [...]}. Buckets already in
    the commit log are never reprocessed; their outputs are untouched.
    """
    commit_dir = commit_dir or os.path.join(out_dir, "_commits")
    log = CommitLog(commit_dir)
    done = log.committed_buckets()
    hidden = os.path.join(out_dir, "_bucketed")
    bdir = os.path.join(hidden, "input")
    # the bucketed copy belongs to ONE logical run: reuse it only when
    # actually resuming (commits exist); a fresh run always rewrites it
    # from the passed df, so a changed input or a cleared commit log
    # can never silently replay stale data
    if not (done and os.path.exists(os.path.join(bdir, "_SUCCESS"))):
        shutil.rmtree(hidden, ignore_errors=True)
        (
            df.withColumn("_bucket", bucket_of(F.col(key_col), num_buckets))
            .repartition(num_buckets, F.col("_bucket"))
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(bdir)
        )
    bucketed = df.sparkSession.read.parquet(bdir)

    processed, skipped = [], []
    for b in range(num_buckets):
        if b in done:
            skipped.append(b)
            continue
        if fail_after is not None and len(processed) >= fail_after:
            raise RuntimeError(f"simulated kill after {fail_after} buckets")
        part = bucketed.filter(F.col("_bucket") == b).drop("_bucket")
        out = pipeline(part)
        path = os.path.join(out_dir, f"bucket={b}")
        out.write.mode("overwrite").parquet(path)
        n = out.sparkSession.read.parquet(path).count()
        log.commit(b, {"path": path, "rows": n})
        processed.append(b)
    return {"processed": processed, "skipped": skipped}
