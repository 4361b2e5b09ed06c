#!/usr/bin/env python3
"""Layered benchmark of the transcript pipeline.

Run from the root of a checkout::

    python3 perfbench/run.py --workload submit_parquet --seed 1 --seconds 10 --trace 0

One process running Spark on ``local[$(nproc)]`` sends one request at a time
(a closed loop) until ``--seconds`` have passed and three requests
completed, checks every output, and prints one ``name value unit`` line
per metric, then the result as one JSON line. ``--trace 0`` reports the
end-to-end metrics, whose times are CPU seconds (``trace.CpuClock``)
scaled to a reference host speed (``trace.calibrate``); the unscaled
and the wall-clock figures are printed as ``info`` lines and kept in
the artifact.
``--trace 1`` alternates untraced and traced requests and reports the
per-layer metrics. The full record — every request, every query, the
spans and the host — goes to
``.perfbench_work/artifacts/<workload>-seed<seed>-trace<t>.json``.

Everything the run writes (inputs, Spark's local dirs, the
transcripts cache, outputs) stays under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
MAX_RAISED = 3
# A request is one CLI run or one suite pass (3-13 s on 4 cores, as the
# shared host is quiet or loaded); three per run, after the warm-up,
# keep a run between 30 s and about a minute, so that a full evaluation
# of 48 runs fits in an hour.
MIN_REQUESTS = 3
# CPU seconds of one ``trace.calibrate()`` on a quiet 4-core host. The
# end-to-end CPU times are reported at that host speed: multiplied by
# this over the run's median calibration. On a 4-core VM of a shared
# host, a CLI request took 6.8-7.8 CPU seconds while other guests left
# the host quiet and 15.2-16.7 while they loaded it; the calibration
# moved from 1.04-1.12 s to 2.23-2.57 s between the same periods.
REF_CALIBRATION_S = 1.2

END_TO_END = {"setup_s": "s", "cpu_s": "s"}
PER_LAYER = {
    "scan.self_s": "s", "scan.rows": "count", "scan.partitions": "count",
    "parse.self_s": "s", "parse.native_self_s": "s", "parse.ok_ratio": "ratio",
    "parse.plan_chars": "chars",
    "enrich.self_s": "s", "enrich.unknown_rows": "count",
    "route.self_s": "s", "route.fanout": "ratio", "route.plan_chars": "chars",
    "cache.s": "s", "cache.mb": "MB", "agg.sink_s": "s", "agg.hist_s": "s",
    "agg.shuffle_bytes": "bytes",
    "write.s": "s", "write.bytes": "bytes", "write.files": "count",
    "cli.sink_discovery_s": "s", "cli.aggregates_s": "s", "cli.metrics_s": "s",
    "metrics.in_events": "count",
    "suite.plan_s": "s", "suite.exec_s": "s", "suite.plan_chars_max": "chars",
    "suite.jobs": "count",
    "spark.jobs": "count", "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.idle_core_ratio": "ratio", "spark.task_skew": "ratio",
    "jvm.jit_cpu_s": "s", "jvm.peak_rss_mb": "MB",
    "trace.overhead_s": "s", "trace.coverage": "ratio", "failed_ratio": "ratio",
}


def prepare_env(cores: int) -> None:
    """Point every scratch location of the program, Spark and the JVM
    at ``WORK``, emptied first so nothing is served from an earlier
    run, and let Python workers import the program."""
    for sub in ("cache", "local", "tmp", "input", "out"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
        os.makedirs(os.path.join(WORK, sub))
    os.environ["ILOGTAIL_SPARK_CACHE"] = os.path.join(WORK, "cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def host_facts(spark, cores: int) -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": cores,
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "python": platform.python_version(),
        "spark.driver.memory": spark.sparkContext.getConf().get("spark.driver.memory", "default"),
        "master": spark.sparkContext.master,
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(wl, seconds: float, log: dict, minimum: int, between=None) -> list[dict]:
    """Closed loop: requests until ``seconds`` have passed and at
    least ``minimum`` completed; ``between`` runs after each request,
    with the check, outside its timing. A request that raises or fails
    its check is counted as attempted and failed; after ``MAX_RAISED``
    raising requests the run gives up."""
    done, raised = [], 0
    t_end = time.perf_counter() + seconds
    while len(done) < minimum or time.perf_counter() < t_end:
        log["attempted"] += 1
        try:
            out = wl.request()
            bad = wl.check(out)
        except Exception:  # a failed request is a result, not a crash
            log["failed"] += 1
            log["errors"].append(traceback.format_exc(limit=4)[-600:])
            raised += 1
            if raised >= MAX_RAISED:
                raise RuntimeError(f"{raised} requests raised; last: {log['errors'][-1]}")
            continue
        if bad:
            log["failed"] += 1
            log["errors"].extend(bad)
        done.append(out)
        if between is not None:
            between()
    return done


def end_to_end(wl, reqs: list[dict], setup: dict, calib: float) -> tuple[dict, dict]:
    """The end-to-end metrics, with times in CPU seconds at the
    reference host speed, and the raw and wall figures, which are
    printed and kept but are not metrics: a second benchmark running
    beside this one slowed a suite pass by 30-50% in wall time and by
    under 10% in CPU time."""
    from trace import median
    from workloads import OperatorSuite, quantile

    if isinstance(wl, OperatorSuite):
        # a pass is the sum of the per-query medians over the passes
        cpu = sum(median([r["query_cpu"][q] for r in reqs]) for q in wl.queries)
        lat = [median([r["per_query"][q] for r in reqs]) for q in wl.queries]
        wall = sum(lat)
    else:
        cpu = median([r["cpu"] for r in reqs])
        lat = [r["wall"] for r in reqs]
        wall = median(lat)
    scale = REF_CALIBRATION_S / calib
    metrics = {"setup_s": setup["cpu"] * scale, "cpu_s": cpu * scale}
    info = {
        "calibration_cpu_s": calib,
        "setup_cpu_s": setup["cpu"],
        "cpu_s": cpu,
        "setup_wall_s": setup["wall"],
        "wall_s": wall,
        "turns_per_s": wl.turns / wall,
        "query_p50_s": quantile(lat, 0.5),
        "query_p90_s": quantile(lat, 0.9),
    }
    return metrics, info


def run(spark, args, cores: int, session: dict) -> tuple[dict, dict, dict]:
    """Set up, measure and check one workload; returns (metrics as
    name -> (value, unit), the attempted/failed log, the artifact)."""
    from layers import per_layer, traced_run
    from trace import Tracer, calibrate, jvm_peak_rss_mb, median
    from workloads import WORKLOADS, Context

    log = {"attempted": 0, "failed": 0, "errors": []}
    tracer = Tracer(spark, cores, enabled=False)
    ctx = Context(spark, tracer, args.seed, WORK)
    wl = WORKLOADS[args.workload](ctx)
    c0, t0 = ctx.cpu(), time.perf_counter()
    checked, bad = wl.setup()
    total = {"wall": time.perf_counter() - t0, "cpu": ctx.cpu() - c0}
    # session start + a typical input set-up (the median of several)
    # + the warm-up, in wall and in CPU seconds
    setup = {
        k: session[k] + median([r[i] for r in wl.setup_reps])
        + total[k] - sum(r[i] for r in wl.setup_reps)
        for i, k in enumerate(("wall", "cpu"))
    }
    log["attempted"] += checked
    log["failed"] += len(bad)
    log["errors"].extend(bad)

    t0 = time.perf_counter()
    not_exercised, info = [], {}
    if args.trace:
        ladder, plain, traced = traced_run(wl, tracer, args.seconds, log, measure)
        layers = per_layer(wl, tracer, ladder, plain, traced, log)
        layers["failed_ratio"] = log["failed"] / log["attempted"]
        layers["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
        not_exercised = layers.pop("not_exercised")
        metrics = {k: (layers.get(k, 0), u) for k, u in PER_LAYER.items()}
        reqs = plain + traced
    else:
        calib = []
        reqs = measure(wl, args.seconds, log, MIN_REQUESTS, lambda: calib.append(calibrate()))
        e2e, info = end_to_end(wl, reqs, setup, median(calib))
        metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}

    artifact = {
        "args": vars(args),
        "host": host_facts(spark, cores),
        "session": session,
        "setup": setup,
        "setup_total": total,
        "setup_reps_wall_cpu_s": wl.setup_reps,
        "measure_s": time.perf_counter() - t0,
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "wall_figures": info,
        "requests": [
            {k: v for k, v in r.items() if k in ("wall", "cpu", "jit", "per_query", "query_cpu", "plan")}
            for r in reqs
        ],
        "log": log,
        "not_exercised": not_exercised,
        "spans": tracer.spans,
        "status_store_errors": tracer.counters.errors,
    }
    return metrics, log, artifact


def report(args, metrics: dict, log: dict, artifact: dict) -> None:
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    path = os.path.join(
        WORK, "artifacts", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    for name, (value, unit) in metrics.items():
        print(f"{name} {value if isinstance(value, str) else f'{value:.6g}'} {unit}")
    for name, value in artifact["wall_figures"].items():
        print(f"info {name} {value:.6g}")
    if artifact["status_store_errors"]:
        print(f"status_store unavailable {len(artifact['status_store_errors'])} times, see artifact")
    print(f"artifact {os.path.relpath(path, ROOT)}")
    numeric = {k: v for k, v in metrics.items() if not isinstance(v[0], str)}
    if args.trace:
        # forty-odd per-layer values: six significant digits keep the
        # line inside a 2 KB tail
        numeric = {
            k: (v if isinstance(v, int) else float(f"{v:.6g}"), u)
            for k, (v, u) in numeric.items()
        }
    print(json.dumps({
        "correct": log["failed"] == 0 and len(numeric) == len(metrics),
        "attempted": log["attempted"],
        "failed": log["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in numeric.items()},
    }, separators=(",", ":")))


def main(argv=None) -> int:
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cores = len(os.sched_getaffinity(0))
    prepare_env(cores)
    # the program must be importable from this checkout; without it
    # the benchmark fails here, before printing any result
    import run_pipeline  # noqa: F401
    from ilogtail_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session = {"wall": time.perf_counter() - t0}
    try:
        from trace import CpuClock

        # CPU of this process so far (imports included) and of the JVM,
        # which the session started
        session["cpu"] = CpuClock(spark)()
        metrics, log, artifact = run(spark, args, cores, session)
    finally:
        stop_spark(spark)
    report(args, metrics, log, artifact)
    return 0


if __name__ == "__main__":
    sys.exit(main())
