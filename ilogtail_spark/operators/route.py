"""Routing — per-sink dispatch with multicast copy semantics.

Reference: C++ Router (core/collection_pipeline/route/Router.cpp:26-85,
Condition.h:28-72): each flusher may carry a Match condition
(tag equality / event-type equality); every matching flusher gets a
COPY of the group, unconditional flushers always match; plus the Go
regex logstore router (aggregator_router.go:97-111) which is
first-match-exclusive.

Spark design: a single pass computes, per row, the ARRAY of matching
sink names, then ``explode`` fans the row out. That is multicast with
copy semantics at zero extra scans. At 100 TB the explode variant is
one shuffle-free narrow stage; the multicast writer in sinks/writer.py
then writes it once, partitioned by sink, so each sink's files are
contiguous.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class Route:
    """One flusher's Match condition (Condition.h:28-72).

    condition: a Catalyst boolean Column, or None ⇒ unconditional
    (always-match copy, Router.cpp:62-84).
    discarding_tag: columns to null out on the routed copy
    (DiscardingTag semantics).
    """

    sink: str
    condition: Column | None = None
    discarding_tag: list[str] = field(default_factory=list)


def route_multicast(
    df: DataFrame,
    routes: list[Route],
    default_sink: str | None = "default",
    sink_col: str = "__sink__",
) -> DataFrame:
    """Fan rows out to every matching route (+ default when no
    CONDITIONAL route matched, mirroring the reference's default
    aggregator unless DropDisMatch)."""
    conditional = [r for r in routes if r.condition is not None]
    always = [F.lit(r.sink) for r in routes if r.condition is None]

    # each condition is evaluated once, into a column holding the array
    # of matching conditional sinks; its size picks the default copy
    matched_col = "__matched_sinks__"
    matched = F.col(matched_col)
    out = df.withColumn(matched_col, F.filter(
        F.array(*[F.when(r.condition, F.lit(r.sink)) for r in conditional]),
        lambda x: x.isNotNull(),
    ))
    sinks = matched
    if default_sink is not None:
        sinks = F.when(F.size(matched) > 0, matched).otherwise(
            F.array(F.lit(default_sink))
        )
    if always:
        sinks = F.concat(sinks, F.array(*always))
    out = out.withColumn(sink_col, F.explode(sinks)).drop(matched_col)
    for r in routes:
        if r.discarding_tag:
            for tag in r.discarding_tag:
                out = out.withColumn(
                    tag, F.when(F.col(sink_col) != r.sink, F.col(tag))
                )
    return out


def logstore_router(
    df: DataFrame,
    source: str,
    rules: list[tuple[str, str]],
    default_sink: str | None = "default",
    drop_dismatch: bool = False,
    sink_col: str = "__sink__",
) -> DataFrame:
    """aggregator_logstore_router (aggregator_router.go:43-59,97-111):
    FULL-match value of ``source`` against each regex in order;
    first match wins (exclusive); no match → default unless
    DropDisMatch."""
    expr = None
    for pat, sink in rules:
        cond = F.col(source).isNotNull() & F.col(source).rlike(f"^(?:{pat})$")
        expr = F.when(cond, F.lit(sink)) if expr is None else expr.when(cond, F.lit(sink))
    expr = expr.otherwise(F.lit(default_sink)) if expr is not None else F.lit(default_sink)
    out = df.withColumn(sink_col, expr)
    if drop_dismatch:
        out = out.filter(F.col(sink_col).isNotNull() & (F.col(sink_col) != default_sink))
    return out


def dynamic_sink_name(
    df: DataFrame,
    template: str,
    sink_col: str = "__sink__",
    contents_col: str | None = None,
) -> DataFrame:
    """Dynamic sink addressing: expand ``%{field}`` and ``%{+yyyyMMdd}``
    patterns into the sink name (flusher_kafka_v2.go:232-326,
    pkg/fmtstr/format_topic.go:18). Date patterns format the row's
    ``ts``; field patterns splice the column value.

    fmtstr scopes: ``tag.x`` reads group tags, ``content.x`` reads the
    log contents bag — both are flat columns in table-land by default;
    pass ``contents_col`` (a ``map<string,string>`` column) to read
    field tokens from a contents map instead, the flusher's own view."""
    import re

    def field(token: str) -> Column:
        is_tag = token.startswith("tag.")
        name = token.removeprefix("tag.").removeprefix("content.")
        # tag scope always reads the flat (group-level) column; only
        # content-scope tokens route through the contents map
        if contents_col is not None and not is_tag:
            return F.element_at(F.col(contents_col), F.lit(name))
        return F.col(name).cast("string")

    parts: list[Column] = []
    pos = 0
    for m in re.finditer(r"%\{(\+?[^}]+)\}", template):
        if m.start() > pos:
            parts.append(F.lit(template[pos : m.start()]))
        token = m.group(1)
        if token.startswith("+"):
            java_fmt = token[1:]
            parts.append(F.date_format(F.col("ts"), java_fmt))
        else:
            parts.append(F.coalesce(field(token), F.lit("null")))
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    return df.withColumn(sink_col, F.concat(*parts) if parts else F.lit(template))


from ilogtail_spark.operators.registry import register  # noqa: E402


@register("aggregator_logstore_router")
def _router_factory(**cfg):
    return lambda df: logstore_router(
        df,
        source=cfg.get("SourceKey", cfg.get("source")),
        rules=list(zip(
            cfg.get("RouterRegex", cfg.get("patterns", [])),
            cfg.get("RouterLogstore", cfg.get("sinks", [])),
        )),
        drop_dismatch=cfg.get("DropDisMatch", cfg.get("drop_dismatch", False)),
    )
