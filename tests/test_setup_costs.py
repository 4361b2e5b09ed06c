"""Fixed per-query costs that produce no rows stay out of the hot path.

* A plan build reads a parquet input (the transcripts cache, a
  ``load_table`` table) with its remembered schema, so it runs no
  schema-inference job.
* ``ilogtail_spark.pyworker.install`` keeps a PySpark Python worker from
  re-reading unchanged zip archives before every task.
"""

from __future__ import annotations

import contextlib
import os
import subprocess
import sys
import textwrap
import uuid

import pytest

import __spark_entry__ as entry
from ilogtail_spark.sources.tables import load_table
from ilogtail_spark.sources.transcripts import derive_transcripts

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the queries of perfbench's operator_suite workload
SUITE_QUERIES = (
    "q05_route_counts", "q21_dedup_exact", "q58_spl_let_fanout",
    "q76_sls_pb", "q96_strptime_native", "q98_filter_native",
)


@contextlib.contextmanager
def _jobs(spark):
    """Collects the ids of the Spark jobs run inside the block."""
    sc = spark.sparkContext
    group = f"setup-costs-{uuid.uuid4().hex}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc._jsc.clearJobGroup()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_second_transcripts_read_runs_no_job(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setenv("ILOGTAIL_SPARK_CACHE", str(tmp_path / "cache"))
    with _jobs(spark) as first_jobs:
        first = derive_transcripts(spark, sf_dir)
    with _jobs(spark) as second_jobs:
        second = derive_transcripts(spark, sf_dir)
    assert first_jobs, "the first call writes the cache and infers its schema"
    assert second_jobs == []
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_suite_query_builds_run_no_job(spark, sf_dir):
    """Once each input has been read in the process, building a query
    runs no Spark job."""
    queries = entry.queries()
    for name in SUITE_QUERIES:
        queries[name](spark, sf_dir)
    for name in SUITE_QUERIES:
        with _jobs(spark) as jobs:
            queries[name](spark, sf_dir)
        assert jobs == [], f"building {name} ran Spark jobs {jobs}"


def test_rewritten_table_schema_is_read_again(spark, tmp_path):
    spark.range(3).write.parquet(str(tmp_path / "t.parquet"))
    assert load_table(spark, str(tmp_path), "t").columns == ["id"]
    spark.range(3).selectExpr("id", "id * 2 AS twice").write.mode("overwrite").parquet(
        str(tmp_path / "t.parquet"))
    got = load_table(spark, str(tmp_path), "t")
    assert got.columns == ["id", "twice"]
    assert sorted(r.twice for r in got.collect()) == [0, 2, 4]


def _python(code: str, *args: str) -> str:
    env = {**os.environ, "PYTHONPATH": REPO}
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code), *args],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    return out.stdout.strip()


def test_spark_driver_zipimporter_untouched():
    """Only a process that has imported ``pyspark.worker`` is patched."""
    probe = """
        import zipimport
        {pre}
        import ilogtail_spark
        print(hasattr(zipimport.zipimporter.invalidate_caches, "reread"))
    """
    assert _python(probe.format(pre="")) == "False"
    want = str(sys.version_info < (3, 13))
    assert _python(probe.format(pre="import pyspark.worker")) == want


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="CPython 3.13+ invalidates zip caches lazily; install() is a no-op")
def test_pyworker_rereads_only_a_changed_zip(tmp_path):
    code = """
        import importlib, sys, zipfile, zipimport

        archive = sys.argv[1]

        def write(mods):
            with zipfile.ZipFile(archive, "w") as z:
                for m in mods:
                    z.writestr(f"{m}.py", f"NAME = {m!r}\\n")

        write(["zmod_a"])
        sys.path.insert(0, archive)
        import zmod_a

        from ilogtail_spark import pyworker
        pyworker.install()
        pyworker.install()  # idempotent

        reads = []
        read_directory = zipimport._read_directory
        def counting(path):
            reads.append(path)
            return read_directory(path)
        zipimport._read_directory = counting

        importlib.invalidate_caches()  # what the importer last read is not yet known
        first = reads.count(archive)
        for _ in range(5):
            importlib.invalidate_caches()
        unchanged = reads.count(archive) - first

        write(["zmod_a", "zmod_b"])
        importlib.invalidate_caches()
        rewritten = reads.count(archive) - first - unchanged
        import zmod_b
        print(first, unchanged, rewritten, zmod_b.NAME)
    """
    out = _python(code, str(tmp_path / "mods.zip"))
    assert out == "1 0 1 zmod_b"
