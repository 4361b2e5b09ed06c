"""The flagship transcript pipeline: parse → enrich → route → aggregate.

This is the Spark re-expression of a reference collection config
(inputs → processors → aggregators → flushers + router,
core/config/CollectionConfig.h:35-41) for the BASELINE.json north
star. Every stage is a pure DataFrame transform; the whole
pre-shuffle section (parse + enrich + route) fuses into ONE
whole-stage-codegen map stage — enrichment is a literal-map lookup,
no join.

Also provides the generic config-driven assembler: a list of
{"type": <reference plugin name>, ...config} dicts composed through
the operator registry, mirroring YAML pipeline configs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ilogtail_spark.operators import OPERATORS
from ilogtail_spark.operators.parse import (
    PARSE_OK_KEY,
    RAW_LOG_KEY,
    ParserOptions,
    parse_dissect,
    parse_regex,
    parse_regex_pandas,
)
from ilogtail_spark.operators.route import Route, route_multicast
from ilogtail_spark.operators.transform import dict_map
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


def parse_stage(df: DataFrame, engine: str = "dissect") -> DataFrame:
    """Grok/regex dissection of each turn's text: tool invocations,
    status, latency tokens, method/url, error codes. CommonParserOptions
    failure contract (__raw_log__ + __parse_ok__).

    engine: "dissect" (default — the grok pattern compiles to a
    single-pass structural plan, oracle-identical to the regex and the
    only parse path that scales past ~8 threads on this substrate),
    "native" (JVM regexp_extract), or "pandas" (Arrow batch UDF)."""
    opts = ParserOptions(keep_source=True, keep_source_if_fail=True)
    fn = {
        "dissect": parse_dissect,
        "native": parse_regex,
        "pandas": parse_regex_pandas,
    }[engine]
    return fn(
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


def transcript_pipeline(
    spark: SparkSession, sf_dir: str, engine: str = "native", replicate: int = 1
) -> DataFrame:
    """Full parse → enrich → route plan (one row per (turn, sink))."""
    df = derive_transcripts(spark, sf_dir, replicate=replicate)
    df = parse_stage(df, engine=engine)
    df = enrich_stage(df, spark)
    return route_stage(df)


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
    "transcript_pipeline",
    "sink_aggregates",
    "tool_histogram",
    "PARSE_OK_KEY",
    "RAW_LOG_KEY",
]
