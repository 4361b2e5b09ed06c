"""The flagship transcript pipeline: parse → enrich → route → aggregate.

This is the Spark re-expression of a reference collection config
(inputs → processors → aggregators → flushers + router,
core/config/CollectionConfig.h:35-41) for the BASELINE.json north
star. Every stage is a pure DataFrame transform; the whole
pre-shuffle section (parse + enrich + route) fuses into ONE
whole-stage-codegen map stage — enrichment is a literal-map lookup,
no join.

One plan serves every caller: ``flagship`` turns a scan into the
routed fan-out (the CLI, its ``--resume`` buckets, streaming's
foreachBatch, ``transcript_pipeline`` and bench), and
``write_flagship`` is the CLI's tail (routed write, read-back,
aggregates, metrics table).

Also provides the generic config-driven assembler: a list of
{"type": <reference plugin name>, ...config} dicts composed through
the operator registry, mirroring YAML pipeline configs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ilogtail_spark.operators import OPERATORS
from ilogtail_spark.operators.parse import (
    PARSE_OK_KEY,
    RAW_LOG_KEY,
    ParserOptions,
    parse_regex,
)
from ilogtail_spark.operators.route import Route, route_multicast
from ilogtail_spark.operators.transform import dict_map
from ilogtail_spark.plans.metrics import StageMetrics
from ilogtail_spark.sinks.writer import read_per_sink, write_per_sink
from ilogtail_spark.sources.transcripts import (
    GROK_FIELDS,
    GROK_PATTERN,
    ROLE_LOOKUP,
    TOOL_LOOKUP,
    derive_transcripts,
)

PARSE_TYPES = {"status": "int", "latency_ms": "int"}


def pipeline_from_yaml(src: str):
    """Load a reference-style YAML collection config (the shape the
    reference ships in example_config/data_pipelines/*.yaml —
    ``enable`` + ``inputs``/``processors``/``aggregators``/``flushers``
    arrays whose entries carry ``Type`` plus plugin params,
    core/config/CollectionConfig.h:35-41) and compose its processor +
    aggregator chain through the operator registry.

    Returns ``(transform, flusher_configs)``: ``transform`` is the
    df→df chain (identity when ``enable: false``); flusher entries are
    returned verbatim for the caller's sink layer — ``inputs`` are
    intentionally ignored (the caller supplies the scan; sources are
    tables per the north star) and external-service flushers stay out
    of scope.

    ``src`` is YAML text, or a path to a .yaml file. A one-line
    ``src`` ending in ``.yaml``/``.yml`` that does not exist raises
    ``FileNotFoundError``; a document that is not a mapping raises
    ``ValueError``.
    """
    import os

    import yaml

    if "\n" not in src:
        if os.path.exists(src):
            with open(src) as f:
                src = f.read()
        elif src.endswith((".yaml", ".yml")):
            raise FileNotFoundError(f"pipeline config not found: {src}")
    cfg = yaml.safe_load(src) or {}
    if not isinstance(cfg, dict):
        raise ValueError(
            f"pipeline config must be a YAML mapping, got {type(cfg).__name__}"
        )
    if not cfg.get("enable", True):
        return (lambda df: df), list(cfg.get("flushers") or [])
    steps = []
    for step in list(cfg.get("processors") or []) + list(
        cfg.get("aggregators") or []
    ):
        step = dict(step)
        # YAML configs use Go-style 'Type'; build_pipeline takes 'type'
        name = step.pop("Type", None) or step.pop("type")
        steps.append({"type": name, **step})
    return build_pipeline(steps), list(cfg.get("flushers") or [])


def build_pipeline(config: list[dict]):
    """Compose a chain of registered operators from a config list —
    the reference's plugin-array-is-the-plan model (no optimizer
    needed: Catalyst rewrites the composed plan anyway)."""
    transforms = []
    for step in config:
        step = dict(step)
        name = step.pop("type")
        transforms.append(OPERATORS[name](**step))

    def run(df: DataFrame) -> DataFrame:
        for t in transforms:
            df = t(df)
        return df

    return run


def parse_stage(df: DataFrame, engine: str = "native") -> DataFrame:
    """Grok/regex dissection of each turn's text: tool invocations,
    status, latency tokens, method/url, error codes. CommonParserOptions
    failure contract (__raw_log__ + __parse_ok__).

    The one engine is ``parse_regex``: one JVM match per row. The
    benchmark's parse ladder still names it ``"dissect"`` and
    ``"native"``; both are accepted and any other name raises."""
    if engine not in ("dissect", "native"):
        raise ValueError(f"unknown parse engine {engine!r}; there is one regex engine")
    opts = ParserOptions(keep_source=True, keep_source_if_fail=True)
    return parse_regex(
        df, GROK_PATTERN, GROK_FIELDS, source="text", types=PARSE_TYPES, options=opts
    )


def enrich_stage(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Dictmap enrichment by role and tool (processor_dict_map
    semantics, HandleMissing → 'Unknown'): two literal-map lookups in
    one projection. ``spark`` is unused; callers pass their session."""
    df = dict_map(df, dict(ROLE_LOOKUP), "role", "role_class")
    return dict_map(df, dict(TOOL_LOOKUP), "tool", "tool_family")


def standard_routes() -> list[Route]:
    """FIXTURES.md §3 routing table (Condition.h tag-equality semantics
    + unconditional always-match copy)."""
    return [
        Route("sink_errors", F.col(PARSE_OK_KEY) & (F.col("err") != "-")),
        Route(
            "sink_tools",
            (F.col("role") == "tool")
            | (F.col(PARSE_OK_KEY) & (F.col("tool_call") != "none")),
        ),
        Route("sink_parse_fail", ~F.col(PARSE_OK_KEY)),
        Route("sink_all", None),  # unconditional multicast copy
    ]


def standard_sinks() -> list[str]:
    """Every sink ``route_stage`` can emit: the routing table's sinks
    plus the default one."""
    return [r.sink for r in standard_routes()] + ["default"]


def route_stage(df: DataFrame) -> DataFrame:
    return route_multicast(df, standard_routes(), default_sink="default")


def flagship(
    df: DataFrame, metrics: StageMetrics | None = None, tag: str = "all"
) -> DataFrame:
    """Scan → routed fan-out (one row per (turn, sink)): parse → enrich
    → route. With ``metrics``, the scan is observed as ``input[<tag>]``
    and the parse as ``parse[<tag>]``; the counters fill in when the
    frame's first action runs."""
    if metrics is not None:
        df = metrics.observe_stage(df, f"input[{tag}]")
    df = parse_stage(df)
    if metrics is not None:
        df = metrics.observe_stage(df, f"parse[{tag}]")
    return route_stage(enrich_stage(df, df.sparkSession))


def transcript_pipeline(
    spark: SparkSession, sf_dir: str, replicate: int = 1
) -> DataFrame:
    """The flagship over the transcripts table of ``sf_dir``."""
    return flagship(derive_transcripts(spark, sf_dir, replicate=replicate))


def write_flagship(routed: DataFrame, out_dir: str, metrics: StageMetrics) -> dict:
    """The flagship's tail. The routed fan-out is computed once, by its
    write to ``out_dir/routed/<sink>`` (nothing is cached); the
    aggregates read the written sinks back. Then ``write_summaries``.
    Returns ``{"sinks": [...]}``, the sinks that had rows."""
    spark = routed.sparkSession
    paths = write_per_sink(routed, os.path.join(out_dir, "routed"), standard_sinks())
    written = read_per_sink(spark, paths, routed.drop("__sink__").schema)
    write_summaries(spark, out_dir, metrics, written)
    return {"sinks": sorted(paths)}


def write_summaries(
    spark: SparkSession,
    out_dir: str,
    metrics: StageMetrics,
    routed: DataFrame | None = None,
) -> None:
    """``sink_aggregates`` and ``tool_histogram`` of ``routed`` when it
    is given (they assume the flagship's parsed columns), then the
    metrics table, each to its directory under ``out_dir``."""
    if routed is not None:
        sink_aggregates(routed).write.mode("overwrite").parquet(
            os.path.join(out_dir, "sink_aggregates")
        )
        tool_histogram(routed).write.mode("overwrite").parquet(
            os.path.join(out_dir, "tool_histogram")
        )
    metrics.to_df(spark).write.mode("overwrite").parquet(
        os.path.join(out_dir, "metrics")
    )


def sink_aggregates(routed: DataFrame) -> DataFrame:
    """Per-sink turn counts + parse-failure counts — the reference's
    per-flusher out_failed_events_total counters
    (PluginMetrics.cpp:118-122)."""
    return routed.groupBy("__sink__").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.when(~F.col(PARSE_OK_KEY), 1).otherwise(0)).alias("n_parse_fail"),
    )


def tool_histogram(routed: DataFrame) -> DataFrame:
    """Per-sink per-tool event histogram over hourly ts buckets."""
    return routed.filter(F.col(PARSE_OK_KEY)).groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
        "__sink__",
        "tool_call",
    ).agg(F.count(F.lit(1)).alias("n_events"))


__all__ = [
    "build_pipeline",
    "parse_stage",
    "enrich_stage",
    "route_stage",
    "standard_routes",
    "standard_sinks",
    "flagship",
    "transcript_pipeline",
    "write_flagship",
    "write_summaries",
    "sink_aggregates",
    "tool_histogram",
    "PARSE_OK_KEY",
    "RAW_LOG_KEY",
]
