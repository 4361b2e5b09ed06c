"""ilogtail_spark — a PySpark-native log-pipeline engine.

A from-scratch reimplementation of the *capabilities* of
shunjiazhu/ilogtail (LoongCollector) — parse → enrich → route →
aggregate pipelines over tables of multi-turn agent transcripts —
expressed as idiomatic Spark DataFrame plans (Catalyst-optimised,
whole-stage-codegen'd), NOT a port of the reference's C++/Go
execution machinery.

Layout:
  sources/    table readers + the deterministic transcripts derivation
  operators/  parse / transform / filter / split / aggregate / route
  functions/  grok library, text stats, dedup, similarity
  plans/      config-driven pipeline assembly, metrics, checkpoints
  streaming/  Structured Streaming variant (foreachBatch)
  sinks/      multicast writer (parquet substrate; Iceberg if jars present)
"""

import sys as _sys

__version__ = "0.1.0"

# inside a PySpark Python worker (the Spark driver process never imports pyspark.worker)
if "pyspark.worker" in _sys.modules:
    from ilogtail_spark import pyworker

    pyworker.install()
