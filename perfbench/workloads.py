"""The benchmark's workloads.

Each workload drives the program only through its public functions,
with their shipped defaults, as one client sending one request at a
time (a closed loop):

* ``submit_parquet`` — the shipped CLI, ``run_pipeline.main``, over a
  seeded transcripts table, writing real parquet: parse (dissect),
  enrich, route, persist, sink discovery, per-sink writes, aggregates
  and the metrics table;
* ``operator_suite`` — a fixed set of ``__spark_entry__.queries()`` at
  the committed seed-42 sf0.01 tables, each forced with a noop write.

A workload offers ``setup`` (inputs, materialisation, warm-up;
returns the checks it made), ``request`` (one timed request) and
``check`` (the mismatches of one request, empty when correct).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import statistics
import time

from gen import SINKS, Labels, generate

SUBMIT_TURNS = 50_000
SETUP_REPEATS = 3

# One query per long-tail operator family (spl, pb, dedup,
# strptime_native, filters) plus q05, which routes through
# transcript_pipeline() and so its default native parse engine. A warm
# pass takes ~5 s on 4 cores, which keeps a run inside its time budget.
SUITE_QUERIES = (
    "q05_route_counts", "q21_dedup_exact", "q58_spl_let_fanout",
    "q76_sls_pb", "q96_strptime_native", "q98_filter_native",
)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def plan_chars(df) -> int:
    return len(df._jdf.queryExecution().optimizedPlan().toString())


def quantile(xs: list[float], q: float) -> float:
    """Inclusive-method quantile, the same for every sample count."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


class Context:
    """What every workload shares: the session, the tracer, the seed
    and the scratch directory."""

    def __init__(self, spark, tracer, seed: int, work: str) -> None:
        from trace import CpuClock

        self.spark = spark
        self.cpu = CpuClock(spark)
        self.tracer = tracer
        self.seed = seed
        self.work = work

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)


def _read(path: str):
    """A written parquet directory, read with pyarrow so that checking
    an output runs no Spark job (``_SUCCESS`` is skipped)."""
    import pyarrow.parquet as pq

    return pq.read_table(path)


def _hist_rows(path: str) -> dict:
    """tool_histogram rows keyed by (epoch hour, sink, tool)."""
    import pyarrow.compute as pc

    t = _read(path)
    hours = pc.divide(t["bucket"].cast("int64"), 3600 * 10**9).to_pylist()
    return {
        (h, s, tool): n for h, s, tool, n in zip(
            hours, t["__sink__"].to_pylist(), t["tool_call"].to_pylist(),
            t["n_events"].to_pylist(),
        )
    }


def _agg_rows(path: str) -> dict:
    t = _read(path).to_pydict()
    return {s: (n, f) for s, n, f in zip(t["__sink__"], t["n_turns"], t["n_parse_fail"])}


class SubmitParquet:
    """``run_pipeline.main`` with its defaults over ``SUBMIT_TURNS``
    seeded turns."""

    turns = SUBMIT_TURNS
    engine = "dissect"  # run_pipeline.py's --engine default
    # One checked request pays the cold start. The next still runs ~15%
    # slower than later ones; the median of the measured requests
    # absorbs it, and a second warm-up would cost a loaded host 8 s a run.
    warmup = 1

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.input = os.path.join(ctx.work, "input")
        self.out = os.path.join(ctx.work, "out")
        self.labels: Labels | None = None
        self.cache_mb = 0.0

    def setup(self) -> tuple[int, list[str]]:
        """Generate and materialise the seeded input several times (the
        same seed gives the same table), keep the times in
        ``setup_reps``, then run checked warm-up requests."""
        self.setup_reps = []
        for _ in range(SETUP_REPEATS):
            c0, t0 = self.ctx.cpu(), time.perf_counter()
            shutil.rmtree(self.input, ignore_errors=True)
            self.labels = generate(self.ctx.seed, self.turns, self.input)
            rows = self.ctx.spark.read.parquet(self.input).count()
            self.setup_reps.append((time.perf_counter() - t0, self.ctx.cpu() - c0))
            if rows != self.turns:
                raise RuntimeError(f"materialised {rows} rows, wanted {self.turns}")
        bad = []
        for _ in range(self.warmup):
            bad += self.check(self.request())
        return self.warmup, bad

    def request(self) -> dict:
        import run_pipeline

        shutil.rmtree(self.out, ignore_errors=True)
        (c0, j0), t0 = self.ctx.cpu.read(), time.perf_counter()
        if self.ctx.tracer.enabled:
            report = self._traced_main()
        else:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                run_pipeline.main(["--input", self.input, "--output", self.out])
            report = json.loads(buf.getvalue().strip().splitlines()[-1])
        wall = time.perf_counter() - t0
        c1, j1 = self.ctx.cpu.read()
        # main() leaves its routed frame persisted; a process runs it once
        self.ctx.spark.catalog.clearCache()
        out = {"wall": wall, "cpu": c1 - c0, "jit": j1 - j0, "report": report}
        if self.ctx.tracer.enabled:
            out["cache_mb"] = self.cache_mb
            out["write_files"], out["write_bytes"] = self._write_layout()
        return out

    def _traced_main(self) -> dict:
        """``run_pipeline.main``'s default path, step by step in its
        order, with a span around each step."""
        from ilogtail_spark.plans.metrics import StageMetrics
        from ilogtail_spark.plans.pipeline import (
            enrich_stage, parse_stage, route_stage, sink_aggregates, tool_histogram,
        )
        from ilogtail_spark.session import get_spark
        from ilogtail_spark.sinks.writer import write_per_sink

        tr = self.ctx.tracer
        with tr.span("cli"):
            with tr.span("cli.plan"):
                spark = get_spark("ilogtail-transcript-pipeline")
                metrics = StageMetrics()
                d = metrics.observe_stage(spark.read.parquet(self.input), "input[all]")
                d = parse_stage(d, engine=self.engine)
                d = metrics.observe_stage(d, "parse[all]")
                routed = route_stage(enrich_stage(d, spark)).persist()
            with tr.span("cli.sink_discovery"):
                sinks = [r["__sink__"] for r in routed.select("__sink__").distinct().collect()]
            self.cache_mb = tr.counters.cached_mb()
            with tr.span("write"):
                paths = write_per_sink(routed, os.path.join(self.out, "routed"), sinks)
            with tr.span("cli.aggregates"):
                with tr.span("agg.sink"):
                    sink_aggregates(routed).write.mode("overwrite").parquet(
                        os.path.join(self.out, "sink_aggregates"))
                with tr.span("agg.hist"):
                    tool_histogram(routed).write.mode("overwrite").parquet(
                        os.path.join(self.out, "tool_histogram"))
            with tr.span("cli.metrics"):
                metrics.to_df(spark).write.mode("overwrite").parquet(
                    os.path.join(self.out, "metrics"))
                return {"routed": {"sinks": sorted(paths)}, "metrics": metrics.collect()}

    def _write_layout(self) -> tuple[int, int]:
        files = size = 0
        for dirpath, _, names in os.walk(os.path.join(self.out, "routed")):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
        return files, size

    def check(self, out: dict) -> list[str]:
        """Per-sink routed rows, ``sink_aggregates`` and
        ``tool_histogram`` as written, against the generator's labels,
        and the plans.metrics conservation."""
        lab = self.labels
        sink_rows = {
            s: _read(os.path.join(self.out, "routed", s)).num_rows
            for s in out["report"]["routed"]["sinks"]
        }
        aggs = _agg_rows(os.path.join(self.out, "sink_aggregates"))
        hist = _hist_rows(os.path.join(self.out, "tool_histogram"))
        out["aggs"] = aggs
        bad = []
        if sink_rows != lab.sink_counts:
            bad.append(f"routed rows {sink_rows} != {lab.sink_counts}")
        want = {s: (lab.sink_counts[s], lab.sink_fail[s]) for s in SINKS}
        if aggs != want:
            bad.append(f"sink_aggregates {aggs} != {want}")
        if hist != lab.histogram:
            diff = set(hist.items()) ^ set(lab.histogram.items())
            bad.append(f"tool_histogram differs in {len(diff)} cells")
        got = {
            r["stage"]: (r.get("in_events_total"), r.get("out_failed_events_total"))
            for r in out["report"]["metrics"]
        }
        want_m = {
            "input[all]": (lab.n, None),
            "parse[all]": (lab.n, lab.parse_fail),
        }
        if got != want_m:
            bad.append(f"stage metrics {got} != {want_m}")
        out["stage_in"] = {s: v[0] for s, v in got.items()}
        return bad

    def ladder(self) -> dict:
        """Prefix ladder: scan; +parse; +enrich; +route, each forced to
        noop (fastest of three: the first pays the prefix's codegen).
        Parse, enrich and route fuse into one codegen stage, so self
        times are differences of prefixes. The parse rung also runs the
        native engine, the default of ``transcript_pipeline``."""
        from ilogtail_spark.plans.pipeline import enrich_stage, parse_stage, route_stage

        spark = self.ctx.spark
        scan = spark.read.parquet(self.input)
        parsed = parse_stage(scan, engine=self.engine)
        enriched = enrich_stage(parsed, spark)
        prefixes = {
            "scan": scan, "parse": parsed,
            "parse_native": parse_stage(scan, engine="native"),
            "enrich": enriched, "route": route_stage(enriched),
        }
        cum = {}
        for name, df in prefixes.items():
            reps = []
            for _ in range(3):
                with self.ctx.span(f"ladder.{name}") as rec:
                    noop(df)
                reps.append(rec["end"] - rec["start"])
            cum[name] = min(reps)
        with self.ctx.span("ladder.unknown"):
            unknown = enriched.filter(
                "role_class = 'Unknown' OR tool_family = 'Unknown'"
            ).count()
        return {
            "scan.self_s": cum["scan"],
            "parse.self_s": cum["parse"] - cum["scan"],
            "parse.native_self_s": cum["parse_native"] - cum["scan"],
            "enrich.self_s": cum["enrich"] - cum["parse"],
            "route.self_s": cum["route"] - cum["enrich"],
            "scan.rows": scan.count(),
            "scan.partitions": scan.rdd.getNumPartitions(),
            "parse.plan_chars": plan_chars(parsed),
            "route.plan_chars": plan_chars(prefixes["route"]),
            "enrich.unknown_rows": unknown,
        }

    def ladder_checks(self, lay: dict) -> list[str]:
        if lay["enrich.unknown_rows"] != self.labels.unknown_rows:
            return [f"unknown rows {lay['enrich.unknown_rows']} != {self.labels.unknown_rows}"]
        return []


class OperatorSuite:
    """``SUITE_QUERIES`` at the committed seed-42 sf0.01 tables. The
    inputs are fixed, so this workload ignores the seed."""


    def __init__(self, ctx: Context) -> None:
        import __spark_entry__ as entry

        self.ctx = ctx
        self.sf = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
        all_queries = entry.queries()
        self.queries = {q: all_queries[q] for q in SUITE_QUERIES}
        self.oracles = entry.oracle_sql()

    def setup(self) -> tuple[int, list[str]]:
        """Materialise the derived transcripts several times (timed in
        ``setup_reps``), then check every query against its oracle, which
        is the warm-up: the per-query medians of the measured passes
        absorb the slower first pass."""
        from ilogtail_spark.sources.transcripts import derive_transcripts

        self.setup_reps = []
        cache = os.environ["ILOGTAIL_SPARK_CACHE"]
        for _ in range(SETUP_REPEATS):
            c0, t0 = self.ctx.cpu(), time.perf_counter()
            shutil.rmtree(cache, ignore_errors=True)
            self.turns = derive_transcripts(self.ctx.spark, self.sf).count()
            self.setup_reps.append((time.perf_counter() - t0, self.ctx.cpu() - c0))
        return len(self.queries), self._oracle_check()

    def _oracle_check(self) -> list[str]:
        """Every suite query against its DuckDB twin, once per process
        and outside the timed loop."""
        from tests.parity import compare, duck_connect

        con = duck_connect(self.sf)
        try:
            bad = []
            for name, fn in self.queries.items():
                ok, msg = compare(fn(self.ctx.spark, self.sf), con, self.oracles[name])
                if not ok:
                    bad.append(f"{name}: {msg}")
            return bad
        finally:
            con.close()

    def request(self) -> dict:
        spark, tr = self.ctx.spark, self.ctx.tracer
        per_query, query_cpu, plan = {}, {}, {}
        (c0, j0), t0 = self.ctx.cpu.read(), time.perf_counter()
        with tr.span("suite"):
            for name, fn in self.queries.items():
                qc, q0 = self.ctx.cpu(), time.perf_counter()
                if tr.enabled:
                    with tr.span("q.plan", query=name):
                        df = fn(spark, self.sf)
                        plan[name] = plan_chars(df)
                    with tr.span("q.exec", query=name):
                        noop(df)
                else:
                    noop(fn(spark, self.sf))
                per_query[name] = time.perf_counter() - q0
                query_cpu[name] = self.ctx.cpu() - qc
        wall = time.perf_counter() - t0
        c1, j1 = self.ctx.cpu.read()
        return {
            "wall": wall, "cpu": c1 - c0, "jit": j1 - j0,
            "per_query": per_query, "query_cpu": query_cpu, "plan": plan,
        }

    def check(self, out: dict) -> list[str]:
        """Outputs were checked against the oracle in ``setup``; a noop
        write has none to check."""
        return []


WORKLOADS = {
    "submit_parquet": SubmitParquet,
    "operator_suite": OperatorSuite,
}
