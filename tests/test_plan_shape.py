"""Plan-shape assertions — the 100 TB posture checks.

These inspect `.explain` output rather than results: predicate
pushdown reaches the parquet scan, the flagship pre-aggregation path
is shuffle-free, enrichment is a literal-map lookup (no join), the
CLI path scans no Python RDD, and the dissect parse path contains no
java.util.regex expression.
"""

import os
import subprocess
import sys

from pyspark.sql import functions as F

from ilogtail_spark.plans.pipeline import (
    enrich_stage,
    parse_stage,
    route_stage,
    transcript_pipeline,
)
from ilogtail_spark.sources.tables import load_table
from ilogtail_spark.sources.transcripts import derive_transcripts


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    plan = _plan(df.select("event_id"))
    assert "PushedFilters" in plan or "pushedFilters" in plan.lower()
    # column pruning: ts not read for this projection
    assert "ts" not in plan.split("ReadSchema")[-1].split("\n")[0]


def test_flagship_pre_agg_is_shuffle_free(spark, sf_dir):
    routed = transcript_pipeline(spark, sf_dir)
    plan = _plan(routed)
    # broadcast exchanges are fine; no shuffle (Exchange hashpartitioning /
    # rangepartitioning) may appear between scan and route
    for line in plan.split("\n"):
        if "Exchange" in line and "Broadcast" not in line:
            assert "REPARTITION" in line, f"unexpected shuffle: {line.strip()}"


def test_enrich_has_no_join(spark, sf_dir):
    df = enrich_stage(parse_stage(derive_transcripts(spark, sf_dir)), spark)
    plan = _plan(df)
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_cli_plans_scan_no_python_rdd(spark, sf_dir):
    """A Python-RDD relation (``createDataFrame(<list>)``) shows up as
    an ``ExistingRDD`` scan and forks Python workers for every action;
    neither the routed CLI plan nor the metrics table may contain one."""
    from ilogtail_spark.plans.metrics import StageMetrics

    metrics = StageMetrics()
    df = metrics.observe_stage(derive_transcripts(spark, sf_dir), "input")
    df = metrics.observe_stage(parse_stage(df), "parse")
    routed = route_stage(enrich_stage(df, spark))
    assert "ExistingRDD" not in _plan(routed)

    routed.count()
    table = metrics.to_df(spark)
    assert "ExistingRDD" not in _plan(table)
    assert table.schema.simpleString() == (
        "struct<stage:string,in_events_total:bigint,out_failed_events_total:bigint>"
    )
    assert sorted(tuple(r) for r in table.collect()) == sorted(
        (r["stage"], r["in_events_total"], r.get("out_failed_events_total"))
        for r in metrics.collect()
    )
    empty = StageMetrics().to_df(spark)
    assert empty.schema == table.schema and empty.count() == 0


def test_dissect_path_has_no_jvm_regex(spark, sf_dir):
    df = parse_stage(derive_transcripts(spark, sf_dir), engine="dissect")
    plan = _plan(df)
    for token in ("regexp_extract", "RLike", "rlike"):
        assert token not in plan, f"java.util.regex op {token} in dissect plan"


def test_dissect_plan_stays_small_under_filter_pushdown(spark, sf_dir):
    from ilogtail_spark.operators.parse import PARSE_OK_KEY

    df = parse_stage(derive_transcripts(spark, sf_dir)).filter(F.col(PARSE_OK_KEY))
    plan = _plan(df.groupBy("tool_call", "status").count())
    # regression guard: the naive rest-chaining formulation exploded to
    # a ~170 KB plan once filter pushdown substituted the chain
    assert len(plan) < 60_000, f"plan blew up to {len(plan)} chars"


def test_desensitize_md5_region_is_pure_jvm(spark):
    """The md5-region rebuild must stay expression-only — no Python
    UDF stage (BatchEvalPython/ArrowEvalPython) in the plan."""
    from ilogtail_spark.operators.transform import desensitize

    df = spark.createDataFrame([("a=1 b=2",)], "text string")
    plan = _plan(desensitize(df, "text", method="md5", regex_begin="=", regex_content=r"\d+"))
    assert "EvalPython" not in plan


def test_rate_limit_two_phase_exchanges(spark):
    """Salted rate_limit: exactly two hash-partitioned exchanges —
    phase 1 on (key, salt), phase 2 on (key) — and the first one
    carries the salt so a hot key spreads."""
    from ilogtail_spark.operators.filters import rate_limit

    df = spark.range(0, 1000).withColumn("key", (F.col("id") % 3).cast("string"))
    plan = _plan(rate_limit(df, ["key"], 5, order_col="id", salt_n=16))
    exchanges = [
        line for line in plan.split("\n")
        if "Exchange hashpartitioning" in line
    ]
    assert len(exchanges) == 2, plan
    assert "pmod" in exchanges[-1] or "pmod" in plan  # salt in phase-1 keys


def test_ngram_cap_blacklist_is_broadcast_anti_join(spark):
    from ilogtail_spark.functions.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    plan = _plan(ngram_jaccard_pairs(df, threshold=0.1, max_doc_freq=50))
    assert "LeftAnti" in plan and "BroadcastExchange" in plan


def test_asof_join_broadcast_has_no_window(spark, sf_dir):
    """De-skew guard: the default as_of_join strategy must not window
    (or shuffle) the left side — a low-cardinality key (q51 joins on
    `tool`, single-digit distinct) would funnel all rows through a
    handful of window tasks."""
    from ilogtail_spark.operators.transform import as_of_join
    from ilogtail_spark.sources.transcripts import derive_transcripts

    df = derive_transcripts(spark, sf_dir)
    upd = (
        df.filter(F.col("turn_idx") % 97 == 0)
        .groupBy("tool", F.date_trunc("hour", "ts").alias("uts"))
        .agg(F.max("turn_idx").alias("version"))
    )
    out = as_of_join(df, upd, ["tool"], "ts", "uts", ["version"])
    plan = _plan(out)
    assert "Window" not in plan, "as_of_join broadcast path must not window"
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_ivf_assign_is_narrow(spark, sf_dir):
    """IVF cell assignment must be a per-row argmax over the broadcast
    centroid array — no Window, no non-broadcast Exchange of the
    corpus (the final per-query top-k window is allowed; it ranks the
    tiny candidate set)."""
    from ilogtail_spark.functions.similarity import ivf_topk
    from ilogtail_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)
    plan = _plan(out)
    # exactly one Window exec node (final query-side top-k), none for
    # assignment (WindowGroupLimit pushdown nodes don't count)
    import re

    assert len(re.findall(r"\bWindow \[", plan)) <= 1, plan
    # the corpus must never shuffle on its own id for assignment
    assert "hashpartitioning(neighbor_id" not in plan, plan


def test_otel_decode_is_narrow(spark):
    """Both OTLP decoders must be pure narrow plans — from_json +
    generator chains, no Exchange of any kind: decode parallelism is
    exactly the scan's."""
    from ilogtail_spark.operators.otel import otel_metric_parse, otel_trace_parse

    df = spark.range(4).select(
        F.col("id"), F.lit('{"resourceSpans":[]}').alias("otel")
    )
    for op in (otel_trace_parse, otel_metric_parse):
        plan = _plan(op(df, "otel", keep=["id"]))
        assert "Exchange" not in plan, plan
        assert "Generate" in plan


def test_split_log_regex_is_narrow(spark):
    """q72's operator: a per-row array computation — NO Exchange of
    any kind in the split itself (boundaries + chunks are
    materialized projections, not re-inlined per element)."""
    from ilogtail_spark.operators.split import split_log_regex

    df = spark.createDataFrame([("a", "x\ny")], "id string, content string")
    out = split_log_regex(df, "content", r"y", preserve_others=True)
    plan = _plan(out)
    assert "Exchange" not in plan
    # the boundary scan must appear ONCE, not once per chunk element
    # (the expression-blowup regression that cost 351 s at sf0.1)
    assert plan.count("_slr_bounds") <= 4


def test_lsh_dim_param_skips_driver_probe(spark):
    """With an explicit dim, lsh_sign_bucket (and every q27/q28/q50/q75
    caller passing it) must submit ZERO Spark jobs while building the
    plan — the `.first()` dimensionality probe is fallback-only."""
    from ilogtail_spark.functions.similarity import lsh_sign_bucket

    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    out = lsh_sign_bucket(df, num_planes=4, dim=3)  # plan only, no action
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "dim param must not submit a probe job"
    assert out.schema["bucket"].dataType.simpleString() == "bigint"


def test_neardup_bucket_space_scales_with_knobs(spark):
    """100 TB guard for embedding_neardup_pairs: the per-band bucket
    space is 2^num_planes and bands are independent signatures — the
    candidate self-join key count must GROW with the num_planes knob
    (the round-3 verdict's n²/256 fixed-granularity trap)."""
    import random

    from ilogtail_spark.functions.similarity import lsh_sign_bucket

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    n4 = lsh_sign_bucket(df, num_planes=4, dim=16).select("bucket").distinct().count()
    n10 = lsh_sign_bucket(df, num_planes=10, dim=16).select("bucket").distinct().count()
    assert n4 <= 16 and n10 > n4 * 4, (n4, n10)
    # independent bands: plane_offset selects a DIFFERENT signature
    b0 = lsh_sign_bucket(df, num_planes=6, dim=16, plane_offset=0)
    b1 = lsh_sign_bucket(df, num_planes=6, dim=16, plane_offset=6)
    diff = (
        b0.alias("a").join(b1.alias("b"), "vec_id")
        .filter(F.col("a.bucket") != F.col("b.bucket")).count()
    )
    assert diff > 0, "bands must hash with independent plane sets"


def test_neardup_banded_join_is_bucket_equi_join(spark):
    """The banded near-dup candidate join must be an equi-join on
    (band_idx, bucket) — no cartesian/broadcast-nested-loop stage."""
    from ilogtail_spark.functions.similarity import embedding_neardup_pairs

    df = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    plan = _plan(embedding_neardup_pairs(df, num_planes=4, bands=2, dim=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_otel_pb_decode_is_narrow(spark):
    """Format=protobuf prepends ONE Arrow-batched UDF hop to the json
    plan — still zero Exchange: decode parallelism is the scan's."""
    from ilogtail_spark.operators.otel import otel_metric_parse, otel_trace_parse

    df = spark.range(2).select(F.col("id"), F.lit(b"\x00").cast("binary").alias("pb"))
    for op in (otel_trace_parse, otel_metric_parse):
        plan = _plan(op(df, "pb", keep=["id"], wire="protobuf"))
        assert "Exchange" not in plan, plan
        assert "ArrowEvalPython" in plan  # the pb->protojson hop, batched


# plan nodes that run Python code in a forked worker
_PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas", "PythonUDF")


def _formatted(df) -> str:
    """The executed plan with every node's expressions, aggregate
    results included (``explain("formatted")``)."""
    return df.sparkSession._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_sls_pb_decode_is_narrow(spark):
    """One projection: ``inline`` of the JVM decode UDF, called once per
    payload, with no Exchange, no Filter and no Python node."""
    from ilogtail_spark.operators.pb import sls_pb_decode

    df = spark.range(2).select(F.col("id"), F.lit(b"\x00").cast("binary").alias("pb"))
    for drop_invalid in (True, False):
        plan = _formatted(sls_pb_decode(df, "pb", keep=["id"], drop_invalid=drop_invalid))
        assert "Exchange" not in plan and "Filter" not in plan, plan
        assert not [n for n in _PYTHON_NODES if n in plan], plan
        assert plan.count("inline(ilogtail_sls_pb_decode") == 1, plan


def test_q76_codec_runs_in_the_jvm(spark, sf_dir):
    """q76 (encode then decode) calls each JVM codec UDF once and has no
    Python node; the pass itself, in a fresh JVM, forks no Python
    worker: the JVM has no child process afterwards, and has one after
    a Python RDD action, the control."""
    import __spark_entry__ as entry

    plan = _formatted(entry.queries()["q76_sls_pb"](spark, sf_dir))
    assert plan.count("ilogtail_sls_pb_encode(") == 1, plan
    assert plan.count("ilogtail_sls_pb_decode(") == 1, plan
    assert not [n for n in _PYTHON_NODES if n in plan], plan

    code = f"""
import __spark_entry__ as entry
from ilogtail_spark.session import get_spark

spark = get_spark("q76-forks", cores=2)
the_jvm = spark._jvm.java.lang.ProcessHandle.current()
rows = entry.queries()["q76_sls_pb"](spark, {sf_dir!r}).count()
after_q76 = the_jvm.descendants().count()
spark.sparkContext.parallelize([1]).map(lambda x: x).count()
print(rows, after_q76, the_jvm.descendants().count())
spark.stop()
"""
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g"}
    env.pop("PYSPARK_GATEWAY_PORT", None)
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    rows, after_q76, after_control = map(int, proc.stdout.split()[-3:])
    assert rows > 0 and after_q76 == 0 and after_control > 0, proc.stdout


def test_repetition_stats_is_narrow(spark):
    """q74: all three repetition signals are linear per-row folds —
    zero Exchange, no window, no join."""
    from ilogtail_spark.functions.textstats import repetition_stats

    df = spark.createDataFrame([("d1", "a b a b a")], "doc_id string, text string")
    out = repetition_stats(df, "text")
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "Window" not in plan and "Join" not in plan


def test_strptime_native_plan_stays_small(spark, sf_dir):
    """q96 regression guard: parse_timestamp_native drops rows via a
    Generate (explode) barrier, NOT a Filter — PushDownPredicates had
    substituted the staged regex/assembly tree through every projection
    into a 3.2 MB predicate (26 s at sf0.01 for a 5-variant union)."""
    import __spark_entry__ as e

    df = e.queries()["q96_strptime_native"](spark, sf_dir)
    plan = _plan(df)
    assert len(plan) < 200_000, f"plan blew up to {len(plan)} chars"
    assert "Generate explode" in plan, plan[:2000]


def test_apsara_plan_stays_small(spark, sf_dir):
    """q38 guard, like q96's: the exact Apsara rewrite's plan stays
    small (about 15 k chars at sf0.001)."""
    import __spark_entry__ as e

    df = e.queries()["q38_apsara_parse"](spark, sf_dir)
    plan = _plan(df)
    assert len(plan) < 60_000, f"plan blew up to {len(plan)} chars"
