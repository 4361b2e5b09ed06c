"""The traced run and its per-layer figures.

``traced_run`` runs the CLI workload's prefix ladder, then untraced and
traced requests alternately, so that both see the same state of JIT
warm-up. ``per_layer`` turns the spans, the Spark counters attached to
them and the request outputs into the per-layer metrics. A layer a
workload does not exercise reports 0 and is named under
``not_exercised``.
"""

from __future__ import annotations

import time

from trace import dur, leaves, median, spark_totals
from workloads import OperatorSuite


def traced_run(wl, tracer, seconds: float, log: dict, measure):
    """Pairs of one untraced and one traced request until ``seconds``
    have passed (at least one pair), after the ladder. Returns (ladder
    figures, untraced requests, traced requests)."""
    ladder = {}
    if not isinstance(wl, OperatorSuite):
        tracer.enabled = True
        log["attempted"] += 1
        ladder = wl.ladder()
        bad = wl.ladder_checks(ladder)
        log["failed"] += bool(bad)
        log["errors"].extend(bad)
    plain, traced = [], []
    t_end = time.perf_counter() + seconds
    while not traced or time.perf_counter() < t_end:
        tracer.enabled = False
        plain += measure(wl, 0, log, 1)
        tracer.enabled = True
        traced += measure(wl, 0, log, 1)
    return ladder, plain, traced


def _span_medians(runs: list[list[dict]], names: list[str]) -> dict[str, float]:
    return {
        n: median([sum(dur(s) for s in run if s["name"] == n) for run in runs])
        for n in names
    }


def _shuffle(runs: list[list[dict]], names: tuple[str, ...]) -> float:
    return median([
        sum(s["spark"].get("shuffle_write_bytes", 0) for s in run if s["name"] in names)
        for run in runs
    ])


def per_layer(wl, tracer, ladder: dict, plain: list, traced: list, log: dict) -> dict:
    out = {"not_exercised": [], **ladder}
    base = median([r["wall"] for r in plain])
    # CPU of the JVM's JIT compiler per request, which cpu_s leaves out
    out["jvm.jit_cpu_s"] = median([r["jit"] for r in plain])
    out["trace.overhead_s"] = median([r["wall"] for r in traced]) - base
    suite = isinstance(wl, OperatorSuite)
    runs = tracer.runs("suite" if suite else "cli")
    if suite:
        sp = _span_medians(runs, ["q.plan", "q.exec"])
        out.update({
            "suite.plan_s": sp["q.plan"],
            "suite.exec_s": sp["q.exec"],
            "suite.plan_chars_max": max(max(r["plan"].values()) for r in traced),
        })
        out["not_exercised"] += [
            "scan.*", "parse.*", "enrich.*", "route.*", "cache.*", "agg.*",
            "write.*", "cli.*", "metrics.*",
        ]
    else:
        sp = _span_medians(
            runs, ["cli.sink_discovery", "write", "cli.aggregates", "agg.sink",
                   "agg.hist", "cli.metrics"],
        )
        sink_all = [r["aggs"]["sink_all"] for r in traced]
        out.update({
            # the sink discovery is the first action on the persisted
            # routed frame, so it is what fills the cache
            "cache.s": sp["cli.sink_discovery"],
            "cache.mb": median([r["cache_mb"] for r in traced]),
            "write.s": sp["write"],
            "write.files": median([r["write_files"] for r in traced]),
            "write.bytes": median([r["write_bytes"] for r in traced]),
            "cli.sink_discovery_s": sp["cli.sink_discovery"],
            "cli.aggregates_s": sp["cli.aggregates"],
            "cli.metrics_s": sp["cli.metrics"],
            "agg.sink_s": sp["agg.sink"],
            "agg.hist_s": sp["agg.hist"],
            "agg.shuffle_bytes": _shuffle(runs, ("agg.sink", "agg.hist")),
            "metrics.in_events": traced[-1]["stage_in"]["input[all]"],
            "parse.ok_ratio": median([1 - fail / n for n, fail in sink_all]),
            "route.fanout": median([
                sum(n for n, _ in r["aggs"].values()) / r["aggs"]["sink_all"][0]
                for r in traced
            ]),
        })
        if out["metrics.in_events"] != out["scan.rows"]:
            log["failed"] += 1
            log["errors"].append(
                f"metrics.in_events {out['metrics.in_events']} != scan.rows {out['scan.rows']}"
            )
        out["not_exercised"] += ["suite.*"]
    per_run = [spark_totals(run, tracer.counters.cores) for run in runs]
    out.update({f"spark.{k}": median([p[k] for p in per_run]) for k in per_run[0]})
    out["suite.jobs"] = out["spark.jobs"] if suite else 0
    # share of the untraced request time covered by the action-level spans
    out["trace.coverage"] = median([sum(dur(s) for s in leaves(r)) for r in runs]) / base
    return out
