#!/usr/bin/env python
"""Benchmark harness (driver contract + scaling-efficiency evidence).

Default mode — driver contract:
    python bench.py
runs every implemented query from ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default: the host's core count). The
full result, per-query table included, goes to ``bench_full.json``;
the last stdout line is one compact JSON object::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "throughput_turns_per_sec": N, "full": "<path of bench_full.json>",
     ...any "*_error" keys}

Execution is forced with a ``noop``-format write (full plan runs on
executors, nothing funnels to the driver), mirroring the reference's
flusher_blackhole benchmark sink
(core/plugin/flusher/blackhole/FlusherBlackHole.cpp:23,
test/benchmark/.../performance_file_to_blackhole_loongcollectorspl/case.feature:1-13).

Scaling mode — BASELINE.json north-rule evidence:
    python bench.py --scaling [--replicate 100]
runs the IDENTICAL flagship job (the CLI's: parse→enrich→route, the
routed write, aggregates read back from it) over the same (replicated)
input at local[N] then local[4N] cores (``--n-low``, default a quarter
of the host's cores) — the single-host stand-in for N vs 4N executors
— and prints throughput at both plus scaling efficiency =
(T_N/T_4N)/4.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _force(df) -> None:
    """Execute the full plan executor-side: a noop write materializes
    every row, with no collect to the driver."""
    df.write.format("noop").mode("overwrite").save()


def run_queries(sf_dir: str, cores: int) -> tuple[dict, dict]:
    from ilogtail_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark("bench", cores=cores)
    qs = entry.queries()
    timings: dict[str, float] = {}
    # warm the JVM + parquet footers once so q01 isn't charged for JIT
    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    first_pass: dict[str, float] = {}
    # shared host with ~4x tail noise (BASELINE.md): every query runs
    # twice and the MIN is reported — uniformly, so no per-query
    # sampling asymmetry biases round-over-round comparisons. Both
    # passes are recorded ("queries" = best, "queries_first" = pass 1).
    for name, fn in qs.items():
        t0 = time.perf_counter()
        _force(fn(spark, sf_dir))
        e1 = time.perf_counter() - t0
        t1 = time.perf_counter()
        _force(fn(spark, sf_dir))
        e2 = time.perf_counter() - t1
        first_pass[name] = round(e1, 4)
        timings[name] = round(min(e1, e2), 4)
    return timings, first_pass


def flagship_throughput(spark, sf_dir: str, replicate: int) -> tuple[float, int]:
    """Wall time and turn count of the CLI's flagship run: the routed
    fan-out written once, uncached, then the aggregates and metrics
    table from the written sinks. Its outputs go to a temporary
    directory, removed afterwards (about 330 bytes per turn)."""
    import shutil
    import tempfile

    from ilogtail_spark.plans.metrics import StageMetrics
    from ilogtail_spark.plans.pipeline import flagship, write_flagship
    from ilogtail_spark.sources.transcripts import derive_transcripts

    scan = derive_transcripts(spark, sf_dir, replicate=replicate)
    n_turns = scan.count()
    out = tempfile.mkdtemp(prefix="bench-flagship-")
    try:
        t0 = time.perf_counter()
        metrics = StageMetrics()
        write_flagship(flagship(scan, metrics), out, metrics)
        return time.perf_counter() - t0, n_turns
    finally:
        shutil.rmtree(out, ignore_errors=True)


def scaling_mode(sf_dir: str, replicate: int, n_low: int, runs: int) -> None:
    """N vs 4N cores on the identical job/input. Reports the MEDIAN of
    ``runs`` measured passes per core count: this sandbox is a shared
    host with 4× run-to-run tail variance, and a single pass measures
    the neighbours as much as the job."""
    import statistics

    from pyspark.sql import SparkSession

    from ilogtail_spark.session import get_spark

    results = {}
    for cores in (n_low, 4 * n_low):
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        spark = get_spark(f"bench-scaling-{cores}", cores=cores)
        # warm-up (JIT + codegen), then measured passes
        flagship_throughput(spark, sf_dir, replicate=max(1, replicate // 10))
        secs, n = [], 0
        for _ in range(max(1, runs)):
            s, n = flagship_throughput(spark, sf_dir, replicate=replicate)
            secs.append(s)
        med = statistics.median(secs)
        results[cores] = {
            "sec_median": round(med, 2),
            "sec_all": [round(s, 2) for s in secs],
            "turns": n,
            "turns_per_sec": round(n / med, 1),
        }
        spark.stop()
    speedup = results[4 * n_low]["turns_per_sec"] / results[n_low]["turns_per_sec"]
    eff = speedup / 4.0
    print(json.dumps({
        "mode": "scaling", "replicate": replicate, "sf_dir": sf_dir,
        f"local{n_low}": results[n_low],
        f"local{4 * n_low}": results[4 * n_low],
        "speedup_N_to_4N": round(speedup, 3),
        "scaling_efficiency": round(eff, 3),
        "rule": "throughput scaling efficiency >=0.8 from N to 4N cores",
        "pass": eff >= 0.8,
    }))


# --------------------------------------------------------------------------
# SplBenchmark-shaped microbench (core/unittest/spl/SplBenchmark.cpp:67-80,
# 255, 456-462): the reference's three SPL processing workloads — the
# 20-group ingress-nginx regex, the 50-key container JSON parse, and the
# 41-column CSV split — replayed VERBATIM (same SPL scripts, same payload
# lines, fixture data quoted from the benchmark file) through our
# plans/spl.py engine, reported in MB/s so the comparison with the
# reference's published parse throughput (README.md:66, 68 MB/s
# single-thread regex) is direct rather than inferred from turns/sec.
# Bytes accounting matches the reference: (len(line)+7) * rows / sec.
# --------------------------------------------------------------------------

_MICRO_REGEX_SPL = (
    "* |parse-regexp content, '^(\\S+)\\s-\\s\\[([^]]+)]\\s-\\s(\\S+)\\s\\[(\\S+)"
    "\\s\\S+\\s\"(\\w+)\\s(\\S+)\\s([^\"]+)\"\\s(\\d+)\\s(\\d+)\\s\"([^\"]*)\"\\s"
    "\"([^\"]*)\"\\s(\\S+)\\s(\\S+)+\\s\\[([^]]*)]\\s(\\S+)\\s(\\S+)\\s(\\S+)\\s"
    "(\\S+)\\s(\\S+)\\s*(\\S*).*' as "
    "client_ip,x_forward_for,remote_user,time,method,url,version,status,"
    "body_bytes_sent,http_referer,http_user_agent,request_length,request_time,"
    "proxy_upstream_name,upstream_addr,upstream_response_length,"
    "upstream_response_time,upstream_status,req_id,host"
)
_MICRO_REGEX_LINE = (
    '106.14.76.139 - [106.14.76.139] - - [08/Nov/2023:13:12:52 +0800] '
    '"POST /api/v1/trade/queryLast HTTP/1.1" 200 34 "-" "okhttp/3.14.9" '
    '1313 0.003 [sas-devops-202210191027-svc-80] 10.33.95.216:7001 34 0.003 '
    '200 d82accba8c35ad7de27a3a64926a03d0 stosas-test.sto.cn'
)
_MICRO_POSTDATA = (
    "gpid=393ed90f-9de0-4343-80bc-a61881cfbde7&language=ja-JP&gaid=393ed90f-"
    "9de0-4343-80bc-a61881cfbde7&country=JP&userAgent=Dalvik%2F2.1.0+%28Linux"
    "%3B+U%3B+Android+9%3B+TONE+e20+Build%2FPPR1.180610.011%29&advertiser="
    "global&channelId=googlePlay&installTime=1694994381280&jgPid=&phoneModel="
    "TONE+e20&Isdblink=0&ratio=720x1520&gameId=191&netType=MOBILE&phoneTablet="
    "Phone&deepLinkURL=&timeStamp=1700010260521&phoneBrand=TONE&apps="
    "1694994408269-2661115393006544017&packageVersion=146&androidid="
    "81444cf49a3f0f014d30b3e0571d894e&userMode=2&sdkVersionName=3.2.6_beta_"
    "1b09b7&isTrackEnabled=1&devicePlate=android&timeZone=JST&mac=&isVpnOn=0&"
    "appLanguage=ja-JP&imei=&ueAndroidId=e3010c3cc52667ae&isFirst=0&sign="
    "5fd790e62c8e791388d913e808504c03&thirdPlatForm=mac&packageName=com.global"
    ".ztmslg&publishPlatForm=googlePlay&osVersion=9&customUserId=b7c47cec-"
    "2c1f-4b5f-8a86-1f27884da5f0&loginId=393ed90f-9de0-4343-80bc-a61881cfbde7&"
    "sdkVersion=326&ptCode=global&gameCode=ztmslg&att=1&battery=68"
)
_MICRO_JSON_FIELDS = [
    ("_time_", "2023-11-15T01:04:21.80553511Z"), ("_source_", "stdout"),
    ("_pod_name_", "gpassport-37games-deployment-6d68b45779-rgfcz"),
    ("_namespace_", "go-app"),
    ("_pod_uid_", "22d6acfa-d55e-4be0-bb3f-ca91584a4f49"),
    ("_container_ip_", "10.101.31.136"),
    ("_image_name_", "686337631058.dkr.ecr.ap-southeast-1.amazonaws.com/"
     "gpassport-37games:master-ceb4bb745aa101731616baad3c2920a3a0b11dbf"),
    ("_container_name_", "gpassport-37games"),
    ("traceId", "44507629d8ebd96a6ff7810618d020ee"),
    ("logType", "http_access_log"), ("level", "INFO"),
    ("request", "/direct_login"), ("clientip", "218.225.227.156"),
    ("x_true_client_ip", "218.225.227.156"),
    ("real_ip_remote", "10.101.128.113"),
    ("xforward", "218.225.227.156, 70.132.19.70"), ("xforwardProto", "https"),
    ("method", "POST"), ("status", "200"), ("agent", "okhttp/3.12.13"),
    ("cost", "0.020"), ("bytes", "1409"),
    ("host", "http://gpassport.superfastgame.com"),
    ("remove_host", "http://gpassport.superfastgame.com"), ("referer", "-"),
    ("httpversion", "HTTP/1.1"), ("postData", _MICRO_POSTDATA),
    ("cookieData", "-"), ("content_length", "986"),
    ("@timestamp", "2023-11-15T09:04:21+08:00"),
    ("__pack_meta__", "1|MTY5MzU5Njg0MTIwODU1NjgwOQ==|437|426"),
    ("__topic__", ""), ("__source__", "10.101.29.105"),
    ("__tag__:__pack_id__", "5BCAE694BB74A062-38D81B"),
    ("__tag__:_node_name_", "ip-10-101-29-105.ap-southeast-1.compute.internal"),
    ("__tag__:_node_ip_", "10.101.29.105"),
    ("__tag__:__hostname__", "ip-10-101-29-105.ap-southeast-1.compute.internal"),
    ("__tag__:__client_ip__", "54.251.11.83"),
    ("__tag__:__receive_time__", "1700010262"),
]
_MICRO_CSV_SPL = (
    "* | parse-csv content as _time_,_source_,_pod_name_,_namespace_,"
    "_pod_uid_,_container_ip_,_image_name_,_container_name_,traceId,logType,"
    "level,request,clientip,x_true_client_ip,real_ip_remote,xforward,"
    'xforwardProto,method,status,agent,cost,bytes,host,remove_host,referer,'
    'httpversion,postData,cookieData,content_length,"@timestamp",'
    "__pack_meta__,__topic__,__source__,__tag__:__pack_id__,"
    "__tag__:_node_name_,__tag__:_node_ip_,__tag__:__hostname__,"
    "__tag__:__client_ip__,__tag__:__receive_time__,__time__,other"
)


def _micro_workloads():
    import json as _json

    json_line = _json.dumps(dict(_MICRO_JSON_FIELDS), separators=(",", ":"))
    csv_line = ",".join(v for _, v in _MICRO_JSON_FIELDS) + ",1700010261"
    return {
        "regex_nginx_20group": (_MICRO_REGEX_SPL, _MICRO_REGEX_LINE),
        "json_parse": ("* | parse-json content", json_line),
        "csv_split_41col": (_MICRO_CSV_SPL, csv_line),
    }


def spl_micro_mode(cores: int, target_mb: int) -> None:
    from pyspark.sql import functions as F

    from ilogtail_spark.plans.spl import spl_transform
    from ilogtail_spark.session import get_spark

    spark = get_spark("bench-spl-micro", cores=cores)
    out: dict[str, dict] = {}
    for name, (spl, line) in _micro_workloads().items():
        transform = spl_transform(spl)
        per_row = len(line) + 7  # the reference's (data.size()+7) accounting
        rows = max(1, target_mb * 1_000_000 // per_row)

        def make_input(n_rows: int, partitions: int):
            # repeat('x', id%1) = '' but references the row id, so
            # Catalyst cannot constant-fold the parse onto ONE literal
            # — every row is materialized and parsed, like the
            # reference's per-event loop
            return spark.range(0, n_rows, 1, partitions).select(
                F.concat(
                    F.lit(line),
                    F.expr("repeat('x', cast(id % 1 as int))"),
                ).alias("content")
            )

        def run(n_rows: int, partitions: int) -> float:
            # min-of-3: single passes on this shared host carry ~4x
            # tail noise and a cold pass pays codegen compile
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                _force(transform(make_input(n_rows, partitions)))
                best = min(best, time.perf_counter() - t0)
            return best

        run(max(1, rows // 20), cores)  # warm-up: codegen compile
        sec_par = run(rows, cores)
        # single-task run = the reference's single-thread number: one
        # input partition, a narrow plan, so the whole parse runs in
        # one core's task; sized to stay seconds-long so job-launch
        # overhead doesn't dominate the MB/s
        rows_1 = max(1, rows // 4)
        sec_one = run(rows_1, 1)
        out[name] = {
            "line_bytes": len(line),
            "mb_per_sec_1core": round(rows_1 * per_row / sec_one / 1e6, 1),
            f"mb_per_sec_{cores}core": round(rows * per_row / sec_par / 1e6, 1),
            "rows": rows,
        }
    print(json.dumps({
        "mode": "spl-micro", "cores": cores, "target_mb": target_mb,
        "workloads": out,
        "reference": "SplBenchmark.cpp workloads; README.md:66 cites 68 MB/s "
                     "single-thread regex parse",
    }))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--spl-micro", action="store_true")
    ap.add_argument("--target-mb", type=int, default=192,
                    help="bytes to push through each --spl-micro workload")
    ap.add_argument("--replicate", type=int, default=100)
    ap.add_argument("--n-low", type=int, default=max(1, (os.cpu_count() or 1) // 4),
                    help="N for the N-vs-4N pair (default: a quarter of the host's cores)")
    ap.add_argument("--runs", type=int, default=3,
                    help="measured passes per core count; median reported")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    if args.scaling:
        scaling_mode(sf_dir, args.replicate, args.n_low, args.runs)
        return
    if args.spl_micro:
        spl_micro_mode(cores, args.target_mb)
        return

    from ilogtail_spark.session import get_spark

    timings, first_pass = run_queries(sf_dir, cores)
    spark = get_spark("bench", cores=cores)
    pipe_sec, n_turns = flagship_throughput(spark, sf_dir, replicate=1)
    timings["flagship_pipeline"] = round(pipe_sec, 4)
    total = round(sum(timings.values()), 4)
    result = {
        "metric": "end-to-end parse→enrich→route→aggregate + operator suite wall time (min-of-2 per query)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_first_pass": first_pass,
        "sf": sf,
        "cores": cores,
        "flagship_turns": n_turns,
        "throughput_turns_per_sec": round(n_turns / pipe_sec, 1),
    }
    # sf0.1 bench also reports sustained throughput at 20M turns —
    # the replicate=1 run is overhead-dominated at 100k rows
    if abs(sf - 0.1) < 1e-9:
        try:
            big_sec, big_n = flagship_throughput(spark, sf_dir, replicate=200)
            result["throughput_turns_per_sec_at_20M"] = round(big_n / big_sec, 1)
            result["flagship_20M_sec"] = round(big_sec, 2)
        except Exception as exc:
            result["flagship_20M_error"] = repr(exc)
    # the FULL result, per-query table included, goes next to the repo;
    # stdout ends with one short line, because a reader that keeps only
    # the tail of stdout cannot parse a line cut off at its start
    full = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_full.json")
    summary = {k: result[k] for k in ("metric", "value", "unit", "throughput_turns_per_sec")}
    try:
        with open(full, "w") as fh:
            json.dump(result, fh, indent=1, sort_keys=True)
            fh.write("\n")
        summary["full"] = full
    except OSError as exc:
        summary["full_error"] = repr(exc)
    summary.update({k: v for k, v in result.items() if k.endswith("_error")})
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
