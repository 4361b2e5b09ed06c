"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship parse→enrich→route→aggregate pipeline on
sf0.001. ``queries()`` — one entry per implemented operator
(SURVEY.md §2); ``oracle_sql()`` — DuckDB twins over the same parquet
views. Transcripts are derived deterministically from ``events`` in
BOTH engines (ilogtail_spark/sources/transcripts.py), so every
pipeline query is value-hash comparable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ilogtail_spark.operators.agg import salted_agg, window_histogram
from ilogtail_spark.operators.filters import rate_limit
from ilogtail_spark.operators.parse import (
    PARSE_OK_KEY,
    ParserOptions,
    parse_delimiter,
    parse_kv,
    parse_timestamp,
)
from ilogtail_spark.operators.transform import desensitize, md5_field
from ilogtail_spark.plans.pipeline import (
    enrich_stage,
    parse_stage,
    sink_aggregates,
    tool_histogram,
    transcript_pipeline,
)
from ilogtail_spark.sources.tables import load_table
from ilogtail_spark.sources.transcripts import (
    ROLE_LOOKUP_SQL,
    TOOL_LOOKUP_SQL,
    TRANSCRIPTS_CTE,
    derive_transcripts,
)

SF0001 = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# shared DuckDB oracle CTE fragments
# ---------------------------------------------------------------------------

_PAT = r'tool=(\w+) status=(\d+) latency_ms=(\d+) "(\w+) ([^"\s]+)" err=(\S+)'

PARSED_CTE = (
    TRANSCRIPTS_CTE
    + f""",
parsed AS (
  SELECT
    conv_id, turn_idx, role, text, tool, ts,
    regexp_matches(text, '{_PAT}') AS parse_ok,
    CASE WHEN regexp_matches(text, '{_PAT}') THEN regexp_extract(text, '{_PAT}', 1) END AS tool_call,
    CASE WHEN regexp_matches(text, '{_PAT}') THEN CAST(regexp_extract(text, '{_PAT}', 2) AS INTEGER) END AS status,
    CASE WHEN regexp_matches(text, '{_PAT}') THEN CAST(regexp_extract(text, '{_PAT}', 3) AS INTEGER) END AS latency_ms,
    CASE WHEN regexp_matches(text, '{_PAT}') THEN regexp_extract(text, '{_PAT}', 4) END AS method,
    CASE WHEN regexp_matches(text, '{_PAT}') THEN regexp_extract(text, '{_PAT}', 5) END AS url,
    CASE WHEN regexp_matches(text, '{_PAT}') THEN regexp_extract(text, '{_PAT}', 6) END AS err,
    CASE WHEN NOT regexp_matches(text, '{_PAT}') THEN text END AS raw_log
  FROM transcripts
)
"""
)

ENRICHED_CTE = (
    PARSED_CTE
    + f""",
enriched AS (
  SELECT p.*,
         COALESCE(role_lookup.role_class, 'Unknown') AS role_class,
         COALESCE(tool_lookup.tool_family, 'Unknown') AS tool_family
  FROM parsed p
  LEFT JOIN {ROLE_LOOKUP_SQL} ON p.role = role_lookup.role
  LEFT JOIN {TOOL_LOOKUP_SQL} ON p.tool = tool_lookup.tool
)
"""
)

# multicast routing (Router.cpp copy semantics): conditional sinks get a
# copy per match, sink_all is unconditional, default only when no
# conditional sink matched.
_C_ERR = "(parse_ok AND err <> '-')"
_C_TOOLS = "(role = 'tool' OR (parse_ok AND tool_call <> 'none'))"
_C_FAIL = "(NOT parse_ok)"
ROUTED_CTE = (
    ENRICHED_CTE
    + f""",
routed AS (
  SELECT e.*, 'sink_errors' AS sink FROM enriched e WHERE {_C_ERR}
  UNION ALL SELECT e.*, 'sink_tools' AS sink FROM enriched e WHERE {_C_TOOLS}
  UNION ALL SELECT e.*, 'sink_parse_fail' AS sink FROM enriched e WHERE {_C_FAIL}
  UNION ALL SELECT e.*, 'sink_all' AS sink FROM enriched e
  UNION ALL SELECT e.*, 'default' AS sink FROM enriched e
            WHERE NOT {_C_ERR} AND NOT {_C_TOOLS} AND NOT {_C_FAIL}
)
"""
)


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full pipeline on sf0.001 → per-sink aggregates."""
    routed = transcript_pipeline(spark, SF0001)
    return sink_aggregates(routed).orderBy("__sink__")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_transcripts(spark: SparkSession, sf: str) -> DataFrame:
    return derive_transcripts(spark, sf)


def _q_parse(spark: SparkSession, sf: str) -> DataFrame:
    df = parse_stage(derive_transcripts(spark, sf))
    return df.select(
        "conv_id",
        "turn_idx",
        F.col(PARSE_OK_KEY).alias("parse_ok"),
        "tool_call",
        "status",
        "latency_ms",
        "method",
        "url",
        "err",
        F.col("__raw_log__").alias("raw_log"),
    )


def _q_parse_fail_by_role(spark: SparkSession, sf: str) -> DataFrame:
    df = parse_stage(derive_transcripts(spark, sf))
    return df.groupBy("role").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(~F.col(PARSE_OK_KEY), 1).otherwise(0)).alias("n_fail"),
    )


def _q_enrich(spark: SparkSession, sf: str) -> DataFrame:
    df = enrich_stage(parse_stage(derive_transcripts(spark, sf)), spark)
    return df.select(
        "conv_id", "turn_idx", "role", "role_class", "tool", "tool_family"
    )


def _q_route_counts(spark: SparkSession, sf: str) -> DataFrame:
    routed = transcript_pipeline(spark, sf)
    return routed.groupBy(F.col("__sink__").alias("sink")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )


def _q_routed_errors(spark: SparkSession, sf: str) -> DataFrame:
    routed = transcript_pipeline(spark, sf)
    return routed.filter(F.col("__sink__") == "sink_errors").select(
        "conv_id", "turn_idx", "text", "status", "err"
    )


def _q_sink_aggregates(spark: SparkSession, sf: str) -> DataFrame:
    routed = transcript_pipeline(spark, sf)
    return sink_aggregates(routed).withColumnRenamed("__sink__", "sink")


def _q_tool_histogram(spark: SparkSession, sf: str) -> DataFrame:
    routed = transcript_pipeline(spark, sf)
    return tool_histogram(routed).withColumnRenamed("__sink__", "sink")


def _q_salted_agg(spark: SparkSession, sf: str) -> DataFrame:
    df = parse_stage(derive_transcripts(spark, sf))
    return salted_agg(
        df,
        ["conv_id"],
        {
            "n_turns": ("count", "*"),
            "n_parsed": ("count_nonnull", "tool_call"),
            "max_latency": ("max", "latency_ms"),
        },
        salt_n=16,
    )


def _q_topk_convs(spark: SparkSession, sf: str) -> DataFrame:
    df = derive_transcripts(spark, sf)
    counts = df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns"))
    return counts.orderBy(F.col("n_turns").desc(), F.col("conv_id")).limit(10)


def _q_spl_chain(spark: SparkSession, sf: str) -> DataFrame:
    """Driven from actual SPL TEXT through the front-end
    (ProcessorSPL.cpp:113-154, plans/spl.py): the piped string
    compiles to parse-regexp (dissect fast path) → where → extend →
    project, identical output to the hand-written chain."""
    from ilogtail_spark.plans.spl import spl_transform
    from ilogtail_spark.sources.transcripts import GROK_PATTERN

    spl = (
        f"* | parse-regexp text, 'invoke {GROK_PATTERN}' as "
        "tool_call, status, latency_ms, method, url, err\n"
        "| where role = 'assistant' and __parse_ok__\n"
        "| extend status = cast(status as int), "
        "latency_ms = cast(latency_ms as int)\n"
        "| extend lat_bucket = case when latency_ms < 100 then 'fast' "
        "when latency_ms < 1000 then 'medium' else 'slow' end\n"
        # Presto scalar surface (SplUnittest.cpp:657-660): date_parse
        # (MySQL format tokens) + to_unixtime (double epoch seconds)
        "| extend day = date_parse(cast(cast(ts as date) as varchar), "
        "'%Y-%m-%d'), epoch_s = to_unixtime(cast(ts as timestamp))\n"
        "| project conv_id, turn_idx, status, latency_ms, lat_bucket, "
        "day, epoch_s"
    )
    return spl_transform(spl)(derive_transcripts(spark, sf))


def _q_json_parse(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    parsed = ev.withColumn(
        "k_val", F.get_json_object(F.col("props"), "$.k").cast("int")
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k_val").alias("sum_k"),
        F.max("k_val").alias("max_k"),
    )


def _q_kv_parse(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events").withColumn(
        "kvline",
        F.concat(
            F.lit("user="),
            F.col("user_id").cast("string"),
            F.lit("&type="),
            F.col("event_type"),
            F.lit("&id="),
            F.col("event_id").cast("string"),
        ),
    )
    out = parse_kv(
        ev,
        source="kvline",
        pair_sep="&",
        kv_sep="=",
        expand=["user", "type", "id"],
        options=ParserOptions(keep_source=True),
    )
    return out.select(
        F.col("event_id"),
        F.col("user").cast("long").alias("kv_user"),
        F.col("type").alias("kv_type"),
        F.col("id").cast("long").alias("kv_id"),
    )


def _q_csv_parse(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem").withColumn(
        "csvline",
        F.concat_ws(
            ",",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
            F.col("l_returnflag"),
            F.col("l_linestatus"),
        ),
    )
    out = parse_delimiter(
        li,
        ["c_orderkey", "c_linenumber", "c_returnflag", "c_linestatus"],
        source="csvline",
        sep=",",
        quote=None,
        options=ParserOptions(keep_source=True),
    )
    return out.select(
        F.col("c_orderkey").cast("long").alias("orderkey"),
        F.col("c_linenumber").cast("int").alias("linenumber"),
        F.col("c_returnflag").alias("returnflag"),
        F.col("c_linestatus").alias("linestatus"),
    )


def _q_strptime(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events").withColumn(
        "ts_str", F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss")
    )
    out = parse_timestamp(ev, "ts_str", "yyyy-MM-dd HH:mm:ss", dest="parsed_ts")
    return out.select("event_id", "ts_str", "parsed_ts")


def _q_desensitize(spark: SparkSession, sf: str) -> DataFrame:
    df = derive_transcripts(spark, sf)
    out = desensitize(
        df,
        "text",
        method="const",
        replacement="***",
        regex_begin=r"latency_ms=",
        regex_content=r"\d+",
    )
    out = md5_field(out, "text", "text_md5")
    return out.select("conv_id", "turn_idx", F.col("text").alias("masked"), "text_md5")


def _q_rate_limit(spark: SparkSession, sf: str) -> DataFrame:
    df = derive_transcripts(spark, sf)
    return rate_limit(df, ["conv_id"], 3, order_col="turn_idx").select(
        "conv_id", "turn_idx", "role"
    )


def _q_hourly_histogram(spark: SparkSession, sf: str) -> DataFrame:
    df = derive_transcripts(spark, sf)
    return window_histogram(df, ts_col="ts", granularity="hour", keys=["tool"])


def _q_grok(spark: SparkSession, sf: str) -> DataFrame:
    """processor_grok ordered Match list (processor_grok.go:147-192):
    first success wins — pattern 1 parses invoke lines, pattern 2
    catches prose turns; malformed rows fail both."""
    from ilogtail_spark.functions.grok import grok_parse

    df = derive_transcripts(spark, sf)
    out = grok_parse(
        df,
        [
            'invoke tool=%{WORD:g_tool} status=%{INT:g_status:int} '
            'latency_ms=%{INT:g_lat:int} "%{WORD:g_method} %{NOTSPACE:g_url}" '
            "err=%{NOTSPACE:g_err}",
            "the assistant considered %{NOTSPACE:g_topic} and replied "
            "with plain prose turn %{INT:g_turn:int}",
        ],
    )
    return out.select(
        "conv_id",
        "turn_idx",
        F.col(PARSE_OK_KEY).alias("parse_ok"),
        "g_tool",
        "g_status",
        "g_lat",
        "g_method",
        "g_url",
        "g_err",
        "g_topic",
        "g_turn",
    )


def _q_logstore_router(spark: SparkSession, sf: str) -> DataFrame:
    from ilogtail_spark.operators.route import logstore_router

    df = parse_stage(derive_transcripts(spark, sf))
    routed = logstore_router(
        df,
        "url",
        [(r"/api/v1/.*", "store_v1"), (r"/api/v2/.*", "store_v2")],
        default_sink="store_other",
    )
    return routed.groupBy(F.col("__sink__").alias("sink")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )


def _q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    from ilogtail_spark.functions.dedup import exact_dedup

    return exact_dedup(load_table(spark, sf, "documents"))


def _q_minhash_signature(spark: SparkSession, sf: str) -> DataFrame:
    from ilogtail_spark.functions.dedup import minhash_signature, spread, word_shingles

    docs = spread(load_table(spark, sf, "documents"))
    # materialize the shingle array once: inlining it into all 8
    # array_min(transform(...)) expressions re-evaluates the shingle
    # build per hash (6× slower measured at sf0.1)
    sh = docs.select("doc_id", word_shingles(F.col("text")).alias("_sh"))
    sig = sh.select(
        "doc_id", minhash_signature(F.col("_sh"), num_hashes=8).alias("_sig")
    )
    return sig.select(
        "doc_id", *[F.col("_sig")[i].alias(f"m{i}") for i in range(8)]
    )


def _q_ngram_jaccard_top(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 near-dup pairs by exact n-gram Jaccard. The 0.3
    threshold prunes the candidate set BEFORE the global top-k sort —
    at 100× the colliding-pair set is the bottleneck, and every
    planted near-dup scores ≥0.9 so the top-20 is unchanged (the
    round-2 1e-9 threshold retained every colliding pair)."""
    from ilogtail_spark.functions.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.3)
    return pairs.orderBy(
        F.col("jaccard").desc(), F.col("id_a"), F.col("id_b")
    ).limit(20)


def _q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    from ilogtail_spark.functions.dedup import simhash64

    return simhash64(load_table(spark, sf, "documents"))


def _q_doc_stats(spark: SparkSession, sf: str) -> DataFrame:
    from ilogtail_spark.functions.textstats import doc_stats

    out = doc_stats(load_table(spark, sf, "documents"))
    return out.select(
        "doc_id",
        "n_tokens",
        "n_tokens_bpe",
        F.round(F.col("punct_ratio"), 6).alias("punct_ratio"),
        F.round(F.col("quality"), 6).alias("quality"),
        "lang_guess",
        "fp64",
    )


def _q_ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    from ilogtail_spark.functions.similarity import brute_force_topk

    emb = load_table(spark, sf, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


def _q_ann_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed ANN top-k. Approximate w.r.t. brute force, but
    fully DETERMINISTIC: hyperplanes are md5-derived and the bucket
    fold is left-associative double math, so the DuckDB oracle
    replicates it exactly (inlined plane constants, same sum order)."""
    from ilogtail_spark.functions.similarity import ann_lsh_topk

    emb = load_table(spark, sf, "embeddings")
    # dim passed explicitly (TESTDATA.md: 64) — no driver probe job
    return ann_lsh_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, num_planes=6, dim=_EMB_DIM
    )


def _q_embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup pairs over the corpus augmented with planted
    near-duplicates (vec_id<20 scaled by 1.5, ids +100000) — cosine of
    a vector with its scaled copy is 1.0, so the check is non-vacuous:
    >= 20 pairs exist at every SF."""
    from ilogtail_spark.functions.similarity import embedding_neardup_pairs

    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: (x.cast("double") * 1.5).cast("float")
        ).alias("embedding"),
    )
    aug = emb.unionByName(copies)
    # banded (MinHash-LSH shape): 2 independent 6-plane signatures,
    # union of band collisions, exact cosine verify on the deduped
    # candidate set — bucket space per band scales with num_planes
    return embedding_neardup_pairs(
        aug, threshold=0.99, num_planes=6, bands=2, dim=_EMB_DIM
    )


def _q_multimodal(spark: SparkSession, sf: str) -> DataFrame:
    from ilogtail_spark.functions.multimodal import (
        attach_binary_payload,
        extract_features,
    )

    docs = attach_binary_payload(load_table(spark, sf, "documents"))
    return extract_features(docs)


def _q_fields_with_condition(spark: SparkSession, sf: str) -> DataFrame:
    from ilogtail_spark.operators.filters import fields_with_condition

    df = parse_stage(derive_transcripts(spark, sf)).filter(F.col(PARSE_OK_KEY))
    df = df.withColumn("status_s", F.col("status").cast("string"))
    out = fields_with_condition(
        df,
        [
            {
                # reference ConditionCase shape: LogicalOperator joins
                # several FieldConditions under one RelationOperator
                # (processor_fields_with_condition.go:66-74)
                "when": {
                    "logical_op": "and",
                    "op": "regexp",
                    "fields": {"status_s": "^5\\d\\d$", "err": "^E\\d+$"},
                },
                "add": {"severity": "server_error"},
            },
            {
                "when": {"field": "status_s", "op": "startwith", "value": "4"},
                "add": {"severity": "client_error"},
            },
            {
                "when": {"field": "status_s", "op": "regexp", "value": "^2\\d\\d$"},
                "add": {"severity": "ok"},
            },
        ],
    )
    return out.groupBy("severity").agg(F.count(F.lit(1)).alias("n_rows"))


def _q_multiline_merge(spark: SparkSession, sf: str) -> DataFrame:
    """processor_split_multiline_log_string_native, Start-only mode
    (ProcessorSplitMultilineLogStringNative.cpp:159-309): regroup
    turns into blocks starting at 'invoke tool=' lines; lines before
    the first start follow UnmatchedContentTreatment=SINGLE_LINE
    (each its own event). Merge groups are capped at max_merge_lines
    so no task materializes an unbounded conversation."""
    from ilogtail_spark.operators.split import split_regex

    df = derive_transcripts(spark, sf)
    return split_regex(
        df,
        source="text",
        start_pattern=r"^invoke tool=",
        order_col="turn_idx",
        group_cols=["conv_id"],
        unmatched="single_line",
    ).select("conv_id", "turn_idx", "text")


def _q_anchor(spark: SparkSession, sf: str) -> DataFrame:
    """processor_anchor (anchor.go:33-62): substring between Start and
    Stop anchors."""
    from ilogtail_spark.operators.transform import anchor

    df = derive_transcripts(spark, sf)
    out = anchor(df, source="text", start="status=", stop=" latency_ms", dest="status_str")
    return out.groupBy("status_str").agg(F.count(F.lit(1)).alias("n_rows"))


def _q_gotime(spark: SparkSession, sf: str) -> DataFrame:
    """processor_gotime (processor_gotime.go:34-53): Go-layout time
    parse + re-format src→dest."""
    from ilogtail_spark.operators.transform import gotime

    df = derive_transcripts(spark, sf).withColumn(
        "ts_str", F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    )
    out = gotime(
        df,
        source="ts_str",
        source_layout="2006-01-02 15:04:05",
        dest="hour_str",
        dest_layout="2006/01/02 15",
    )
    return out.groupBy("hour_str").agg(F.count(F.lit(1)).alias("n_rows"))


def _q_metric_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """processor_log_to_sls_metric (processor_log_to_sls_metric.go:
    32-42,376): pivot parsed fields into metric events via stack()."""
    from ilogtail_spark.operators.transform import log_to_metric

    df = parse_stage(derive_transcripts(spark, sf)).filter(F.col(PARSE_OK_KEY))
    out = log_to_metric(
        df,
        label_keys=["conv_id", "turn_idx", "tool_call"],
        value_keys=["status", "latency_ms"],
        time_col="ts",
    )
    return out.select(
        "conv_id", "turn_idx", "tool_call", "ts",
        F.col("__name__").alias("metric_name"),
        F.col("__value__").alias("metric_value"),
    )


def _q_geoip_range(spark: SparkSession, sf: str) -> DataFrame:
    """processor_geoip (processor_geoip.go:35-53): IP → location via
    a broadcast range join on a MaxMind-style range table."""
    from ilogtail_spark.operators.transform import geoip_enrich

    df = derive_transcripts(spark, sf).withColumn(
        "client_ip",
        F.concat(F.lit("10."), (F.col("turn_idx") % 200).cast("string"), F.lit(".7.9")),
    )
    base = 10 * 16777216
    ranges = spark.createDataFrame(
        [
            (base + (k << 16), base + (k << 16) + 65535, f"C{k // 50}")
            for k in range(200)
        ],
        ["ip_start", "ip_end", "country"],
    )
    out = geoip_enrich(df, ranges, "client_ip")
    return out.groupBy("geo_country").agg(F.count(F.lit(1)).alias("n_rows"))


def _q_time_filter(spark: SparkSession, sf: str) -> DataFrame:
    """processor_timestamp_filter_native
    (ProcessorTimestampFilterNative.cpp:151-173): drop events outside
    a time window — the batch analogue of watermark late-data drop."""
    from ilogtail_spark.operators.filters import filter_timestamp

    df = derive_transcripts(spark, sf)
    out = filter_timestamp(df, begin="2024-01-08 00:00:00", end="2024-01-24 00:00:00")
    return out.groupBy("role").agg(F.count(F.lit(1)).alias("n_rows"))


def _q_apsara_parse(spark: SparkSession, sf: str) -> DataFrame:
    """processor_parse_apsara_native — EXACT ProcessEvent semantics
    (ProcessorParseApsaraNative.cpp:117-248), six input variants per
    turn_idx%6 covering both time legs (epoch %s / datetime+fraction
    with Timezone GMT+08:00), order-independent bracket classification,
    the corrupt-bracket → KV handoff, trace_id loss, time-only lines,
    and AddLog first-wins (a KV named ``microtime`` beats the synthetic
    one)."""
    from ilogtail_spark.operators.parse import parse_apsara

    ep = F.floor(F.unix_timestamp(F.col("ts").cast("timestamp"))).cast("long")
    tid = F.col("turn_idx").cast("string")
    frac6 = F.lpad((F.col("turn_idx") % 1000000).cast("string"), 6, "0")
    v = F.col("turn_idx") % 6
    line = (
        F.when(v == 0, F.concat(
            F.lit("["), ep.cast("string"), F.lit("]\t[INFO]\t["), tid,
            F.lit("]\t[pipe.cpp:42]\trole:"), F.col("role"),
            F.lit("\tconv:"), F.col("conv_id")))
        .when(v == 1, F.concat(
            F.lit("[2024-01-15 10:30:45."), frac6, F.lit("]\t[WARN]\t["), tid,
            F.lit("]\t[svc/main.go:128]\trole:"), F.col("role")))
        .when(v == 2, F.concat(
            F.lit("["), ep.cast("string"), F.lit("]\t[pipe.cpp:42]\t["), tid,
            F.lit("]\t[ERROR]\trole:"), F.col("role")))
        .when(v == 3, F.concat(
            F.lit("["), ep.cast("string"), F.lit("]\t[trace_id:"), tid,
            F.lit("]\t[ERROR]\t[corrupt\tcount:"), tid, F.lit("\tjob:ss")))
        .when(v == 4, F.concat(F.lit("["), ep.cast("string"), F.lit("]\t\t\t")))
        .otherwise(F.concat(
            F.lit("["), ep.cast("string"),
            F.lit("]\t[INFO]\tmicrotime:7\tcount:1\tcount:2")))
    )
    df = derive_transcripts(spark, sf).withColumn("apsara_raw", line)
    out = parse_apsara(df, source="apsara_raw", timezone="GMT+08:00")
    fx = F.col("fields")
    return out.select(
        "conv_id",
        "turn_idx",
        F.try_element_at(fx, F.lit("microtime")).alias("microtime"),
        F.try_element_at(fx, F.lit("__LEVEL__")).alias("level"),
        F.try_element_at(fx, F.lit("__THREAD__")).alias("thread"),
        F.try_element_at(fx, F.lit("__FILE__")).alias("file_"),
        F.try_element_at(fx, F.lit("__LINE__")).alias("line_"),
        F.try_element_at(fx, F.lit("role")).alias("role_v"),
        F.try_element_at(fx, F.lit("count")).alias("count_v"),
        F.try_element_at(fx, F.lit("job")).alias("job_v"),
        F.col("apsara_sec"),
    )


def _q_split_explode(spark: SparkSession, sf: str) -> DataFrame:
    """processor_split_string_native (ProcessorSplitLogStringNative.cpp:
    74-101): merge turns into multiline blocks (q31) then split back —
    the round trip reproduces the original (conv_id, text) multiset."""
    from ilogtail_spark.operators.split import split_regex, split_string

    df = derive_transcripts(spark, sf)
    merged = split_regex(
        df, source="text", start_pattern=r"^invoke tool=",
        order_col="turn_idx", group_cols=["conv_id"],
    )
    lines = split_string(merged, source="text", sep="\n")
    return lines.select("conv_id", F.col("text").alias("line"))


def _q_config_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """Config-driven assembly through the registry — the reference's
    YAML plugin-array-is-the-plan model (CollectionConfig.h:35-41):
    dissect parse → inline dictmap enrich → full-match include filter
    → md5 lineage column, all by plugin name."""
    from ilogtail_spark.plans.pipeline import build_pipeline
    from ilogtail_spark.sources.transcripts import GROK_FIELDS, GROK_PATTERN

    chain = build_pipeline([
        {
            "type": "processor_parse_dissect",
            "Regex": GROK_PATTERN,
            "Keys": GROK_FIELDS,
            "SourceKey": "text",
            "types": {"status": "int", "latency_ms": "int"},
            "KeepSource": True,
        },
        {
            "type": "processor_dict_map",
            "MapDict": {"bash": "shell", "read": "fs", "write": "fs"},
            "SourceKey": "tool_call",
            "DestKey": "tool_class",
        },
        {"type": "processor_filter_regex", "Include": {"err": r"E\d+"}},
        {"type": "processor_md5", "SourceKey": "conv_id", "DestKey": "conv_md5"},
    ])
    out = chain(derive_transcripts(spark, sf))
    return out.select(
        "conv_id", "turn_idx", "tool_call", "tool_class", "status", "err", "conv_md5"
    )


def _q_filter_tree(spark: SparkSession, sf: str) -> DataFrame:
    """processor_filter_regex_native expression-tree mode
    (ProcessorFilterNative.h:28-121): nested NOT/AND/OR over field
    regexes — Catalyst gets the whole boolean tree as one predicate."""
    from ilogtail_spark.operators.filters import filter_expression

    df = parse_stage(derive_transcripts(spark, sf)).filter(F.col(PARSE_OK_KEY))
    out = filter_expression(
        df,
        {
            "and": [
                {"or": [{"key": "method", "regex": "GET"}, {"key": "method", "regex": "POST"}]},
                {"not": {"key": "err", "regex": "-"}},
                {"key": "url", "regex": "/api/v[12]/.*"},
            ]
        },
    )
    return out.groupBy("method", "err").agg(F.count(F.lit(1)).alias("n_rows"))


def _q_dynamic_sink(spark: SparkSession, sf: str) -> DataFrame:
    """Dynamic sink addressing (flusher_kafka_v2.go:232-326,
    pkg/fmtstr/format_topic.go:18): %{field} and %{+yyyyMMdd} expand
    into the per-row sink name."""
    from ilogtail_spark.operators.route import dynamic_sink_name

    df = derive_transcripts(spark, sf)
    out = dynamic_sink_name(df, "logs-%{role}-%{+yyyyMMdd}")
    return out.groupBy(F.col("__sink__").alias("sink")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )


def _q_container_log(spark: SparkSession, sf: str) -> DataFrame:
    """processor_parse_container_log_native
    (ProcessorParseContainerLogNative.cpp:32): docker json-file line →
    content/_source_/_time_ (roundtrip through to_json keeps the
    oracle a plain projection)."""
    from ilogtail_spark.operators.parse import parse_container_log

    df = derive_transcripts(spark, sf).withColumn(
        "raw",
        F.to_json(
            F.struct(
                F.col("text").alias("log"),
                F.lit("stdout").alias("stream"),
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("time"),
            )
        ),
    )
    out = parse_container_log(df, source="raw", fmt="docker")
    return out.select(
        "conv_id", "turn_idx", "content",
        F.col("_source_").alias("source_"), F.col("_time_").alias("time_"),
    )


def _q_multiline_end(spark: SparkSession, sf: str) -> DataFrame:
    """Start+End multiline mode with UnmatchedContentTreatment=DISCARD
    (ProcessorSplitMultilineLogStringNative.cpp:159-309,
    MultilineOptions.h:31-53): events span from a malformed 'status=XX'
    line through the next err=E* line; everything outside a terminated
    span is discarded."""
    from ilogtail_spark.operators.split import split_multiline

    df = derive_transcripts(spark, sf)
    return split_multiline(
        df,
        source="text",
        order_col="turn_idx",
        group_cols=["conv_id"],
        start_pattern=r"^invoke tool= status=XX",
        end_pattern=r"err=E\d+",
        unmatched="discard",
    ).select("conv_id", "turn_idx", "text")


def _q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization per conversation (30-min timeout
    sessions) — lag + prefix-sum closed form, mirrored in SQL."""
    from ilogtail_spark.operators.agg import sessionize

    df = derive_transcripts(spark, sf)
    return sessionize(df, ["conv_id"], ts_col="ts", gap_seconds=1800)


def _q_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-tool latency p50/p95/p99 — exact interpolated percentiles
    (Spark percentile ≡ DuckDB quantile_cont); at 100 TB swap in
    approx_percentile (t-digest) with the same call shape."""
    df = parse_stage(derive_transcripts(spark, sf)).filter(F.col(PARSE_OK_KEY))
    return df.groupBy("tool_call").agg(
        F.round(F.expr("percentile(latency_ms, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(latency_ms, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(latency_ms, 0.99)"), 6).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


def _q_prom_parse(spark: SparkSession, sf: str) -> DataFrame:
    """Full Prometheus exposition grammar
    (parse_prom_exposition over the TextParser.cpp sample parser):
    '# TYPE'/'# HELP' metadata lines classify instead of failing,
    histogram series fold into family/series/le, and samples pick up
    their family's declared type via the broadcast metadata join."""
    from ilogtail_spark.operators.parse import parse_prom_exposition

    df = derive_transcripts(spark, sf)
    m = F.col("turn_idx") % 5
    ts_ms = F.unix_millis(F.col("ts").cast("timestamp")).cast("string")
    line = (
        F.when(m == 0, F.lit("# TYPE conv_latency histogram"))
        .when(m == 1, F.lit("# HELP conv_latency Latency histogram."))
        .when(
            m == 2,
            F.concat(
                F.lit('conv_latency_bucket{le="0.5",tool="'), F.col("tool"),
                F.lit('"} '), F.col("turn_idx").cast("string"),
                F.lit(" "), ts_ms,
            ),
        )
        .when(
            m == 3,
            F.concat(F.lit("conv_latency_count "), F.col("turn_idx").cast("string")),
        )
        .otherwise(F.concat(F.lit("!bad "), F.col("text")))
    )
    out = parse_prom_exposition(df.withColumn("prom", line), source="prom")
    return out.select(
        "conv_id",
        "turn_idx",
        F.col("__line_kind__").alias("line_kind"),
        F.col(PARSE_OK_KEY).alias("parse_ok"),
        F.col("__name__").alias("metric_name"),
        F.col("__family__").alias("family"),
        F.col("__series__").alias("series"),
        F.col("__le__").alias("le"),
        F.col("__value__").alias("metric_value"),
        F.col("__type__").alias("mtype"),
        F.col("__ts_ms__").alias("ts_ms"),
    )


def _q_hypertable_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical minute→hour→day rollup: coarser levels
    re-aggregate finer partials (associative re-agg); the oracle
    computes each level directly from raw rows, so the parity check
    proves partial re-aggregation loses nothing."""
    from ilogtail_spark.operators.agg import hypertable_rollup

    df = parse_stage(derive_transcripts(spark, sf)).filter(F.col(PARSE_OK_KEY))
    return hypertable_rollup(
        df, ts_col="ts", keys=["tool_call"], value_col="latency_ms"
    )


def _q_prom_relabel(spark: SparkSession, sf: str) -> DataFrame:
    """processor_prom_relabel_metric_native
    (ProcessorPromRelabelMetricNative.h:27-75): external-label merge
    with exported_ conflict handling, then keep / replace / hashmod /
    labeldrop relabel rules over the labels map."""
    from ilogtail_spark.operators.prom import merge_external_labels, prom_relabel

    df = parse_stage(derive_transcripts(spark, sf)).filter(F.col(PARSE_OK_KEY))
    metrics = df.select(
        "conv_id",
        "turn_idx",
        F.lit("latency_ms").alias("metric_name"),
        F.col("latency_ms").cast("double").alias("metric_value"),
        F.create_map(
            F.lit("tool"), F.col("tool_call"),
            F.lit("role"), F.col("role"),
            F.lit("conv"), F.col("conv_id"),
        ).alias("labels"),
    )
    out = merge_external_labels(
        metrics, {"cluster": "prod", "role": "scraper"}, honor_labels=False
    )
    out = prom_relabel(
        out,
        [
            {"action": "keep", "source_labels": ["tool"], "regex": "ba.*|re.*"},
            {
                "action": "replace",
                "source_labels": ["tool"],
                "regex": "(ba.*)",
                "target_label": "tool_grp",
                "replacement": "grp_$1",
            },
            {
                "action": "hashmod",
                "source_labels": ["conv"],
                "target_label": "shard",
                "modulus": 8,
            },
            {"action": "labeldrop", "regex": "conv"},
        ],
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "metric_name",
        "metric_value",
        F.element_at("labels", "tool").alias("l_tool"),
        F.element_at("labels", "tool_grp").alias("l_tool_grp"),
        F.element_at("labels", "shard").alias("l_shard"),
        F.element_at("labels", "cluster").alias("l_cluster"),
        F.element_at("labels", "exported_role").alias("l_exported_role"),
        F.element_at("labels", "role").alias("l_role"),
        F.element_at("labels", "conv").alias("l_conv"),
    )


def _q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (custom temporal operator): every turn picks up the
    tool's latest config version active at its event time. Spark
    executes it join-free (union + per-key running last); the oracle
    is DuckDB's native ASOF LEFT JOIN — two independent
    constructions, same semantics."""
    from ilogtail_spark.operators.transform import as_of_join

    df = derive_transcripts(spark, sf)
    upd = (
        df.filter(F.col("turn_idx") % 97 == 0)
        .groupBy("tool", F.date_trunc("hour", "ts").alias("uts"))
        .agg(F.max("turn_idx").alias("version"))
    )
    out = as_of_join(
        df, upd, keys=["tool"], left_ts="ts", right_ts="uts",
        right_cols=["version"],
    )
    return out.select("conv_id", "turn_idx", "tool", "version")


def _q_rolling_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Rabin-Karp-style polynomial rolling hash over the word
    sequence — order-sensitive document fingerprint, one aggregate
    fold per row in both engines."""
    from ilogtail_spark.functions.textstats import rolling_fingerprint

    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id", rolling_fingerprint(F.col("text")).alias("fp_roll")
    )


def _q_ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN (deterministic coarse quantizer, n_probe=4): the
    cell-join scale path complementary to LSH — oracle replicates the
    quantizer and probes exactly."""
    from ilogtail_spark.functions.similarity import ivf_topk

    emb = load_table(spark, sf, "embeddings")
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, n_centroids=16, n_probe=4
    )


def _q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-duplicate connected components (training-data dedup
    clusters): exact n-gram pair graph → min-label propagation; the
    DuckDB twin computes the same components with a recursive CTE."""
    from ilogtail_spark.functions.dedup import dedup_clusters

    return dedup_clusters(load_table(spark, sf, "documents"), jaccard_threshold=0.5)


def _q_transform_chain(spark: SparkSession, sf: str) -> DataFrame:
    """Registry chain over the small scalar transforms that round 1
    covered only with goldens: add_fields → rename → appender →
    packjson → base64 → md5 (processor_add_fields.go:26,
    processor_rename.go:26, processor_appender.go:31,
    processor_packjson.go:26, processor_base64_encoding.go:25,
    processor_md5.go:26)."""
    from ilogtail_spark.plans.pipeline import build_pipeline

    chain = build_pipeline(
        [
            {"type": "processor_add_fields", "Fields": {"env": "prod"}},
            {
                "type": "processor_rename",
                "SourceKeys": ["tool"],
                "DestKeys": ["tool_name"],
            },
            {"type": "processor_appender", "Fields": {"env": "-east"}},
            {
                "type": "processor_packjson",
                "SourceKeys": ["role", "tool_name"],
                "DestKey": "packed",
            },
            {"type": "processor_base64_encoding", "SourceKey": "packed"},
            {"type": "processor_md5", "SourceKey": "packed", "DestKey": "packed_md5"},
        ]
    )
    out = chain(derive_transcripts(spark, sf))
    return out.select("conv_id", "turn_idx", "env", "tool_name", "packed", "packed_md5")


def _q_split_char_quoted(spark: SparkSession, sf: str) -> DataFrame:
    """processor_split_char with QuoteFlag (split_char.go:34-184):
    quoted values embed the separator; remainder beyond SplitKeys
    lands raw in _split_preserve_ (PreserveOthers)."""
    from ilogtail_spark.operators.split import split_char

    li = load_table(spark, sf, "lineitem").withColumn(
        "line",
        F.concat(
            F.col("l_orderkey").cast("string"), F.lit(',"'),
            F.col("l_returnflag"), F.lit(","), F.col("l_linestatus"),
            F.lit('",'), F.col("l_linenumber").cast("string"),
            F.lit(",extra1,extra2"),
        ),
    )
    out = split_char(
        li, "line", ",", ["k", "flagstat", "n"],
        quote='"', preserve_others=True, keep_source=True,
    )
    return out.select(
        F.col("k").cast("long").alias("orderkey"),
        "flagstat",
        F.col("n").cast("int").alias("linenumber"),
        F.col("_split_preserve_").alias("preserve"),
    )


def _q_dictmap_csv(spark: SparkSession, sf: str) -> DataFrame:
    """processor_dict_map DictFilePath mode
    (processor_dict_map.go:96-135): the lookup loads from a 2-column
    CSV through the registry (MaxDictSize + hash-crash checks), then
    compiles to the usual literal-map lookup."""
    import os
    import tempfile

    from ilogtail_spark.plans.pipeline import build_pipeline
    from ilogtail_spark.sources.transcripts import GROK_FIELDS, GROK_PATTERN

    path = os.path.join(tempfile.gettempdir(), "ilogtail_spark_dict_q46.csv")
    with open(path, "w") as fh:
        fh.write("bash,shell\nread,fs\nwrite,fs\nsearch,net\n")
    chain = build_pipeline(
        [
            {
                "type": "processor_parse_dissect",
                "Regex": GROK_PATTERN,
                "Keys": GROK_FIELDS,
                "SourceKey": "text",
                "KeepSource": True,
            },
            {
                "type": "processor_dict_map",
                "DictFilePath": path,
                "MaxDictSize": 100,
                "SourceKey": "tool_call",
                "DestKey": "tool_family",
            },
        ]
    )
    out = chain(derive_transcripts(spark, sf))
    return out.filter(F.col(PARSE_OK_KEY)).groupBy("tool_family").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


def _q_desensitize_md5(spark: SparkSession, sf: str) -> DataFrame:
    """processor_desensitize Method=md5 Match=regex
    (processor_desensitize.go:146-184): EVERY '=<digits>' region gets
    its content replaced by the md5 of the matched digits — two
    occurrences per parseable line exercises the multi-match rebuild."""
    df = derive_transcripts(spark, sf)
    out = desensitize(
        df, "text", method="md5", regex_begin=r"=", regex_content=r"\d+"
    )
    return out.select("conv_id", "turn_idx", F.col("text").alias("masked"))


def _q_encrypt_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """processor_encrypt (processor_encrypt.go:57-69): AES-CBC encrypt
    then decrypt — the roundtrip output equals the original text, so
    the oracle is the plain transcripts projection."""
    from ilogtail_spark.operators.transform import decrypt_fields, encrypt_fields

    df = derive_transcripts(spark, sf).select("conv_id", "turn_idx", "text")
    enc = encrypt_fields(df, ["text"], secret="0123456789abcdef")
    return decrypt_fields(enc, ["text"], secret="0123456789abcdef")


def _q_spl_let_fanout(spark: SparkSession, sf: str) -> DataFrame:
    """ProcessorSPL multi-output (.let fan-out, ProcessorSPL.cpp:113-154
    / SplUnittest.cpp:562-650): the registry entry emits EVERY output
    branch as one __sink__-tagged union — round 2 returned only the
    first branch."""
    from ilogtail_spark.operators.registry import OPERATORS

    fn = OPERATORS["processor_spl"](
        Script=(
            ".let long_turns = * | where role = 'assistant' "
            "| extend txt_len = cast(length(text) as bigint) "
            "| project conv_id, turn_idx, txt_len;"
            ".let tool_turns = * | where tool != 'none' "
            "| project conv_id, turn_idx, tool;"
            "$long_turns; $tool_turns"
        )
    )
    return fn(derive_transcripts(spark, sf))


def _q_multiline_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """S+E multiline with OVERLAPPING patterns — a ##MARK## line
    matches Start AND End, so it opens a span when out and closes one
    when in (ProcessorSplitMultilineLogStringNative.cpp:159-309; the
    round-2 deviation, now exact). Markers inject by turn position:
    %7∈{0,2}→MARK (both), 3→START, {5,6}→END; the oracle replays the
    same 2-state DFA closed form in SQL."""
    from ilogtail_spark.operators.split import split_multiline

    df = derive_transcripts(spark, sf)
    m = F.col("turn_idx") % 7
    line = (
        F.when(m.isin(0, 2), F.concat(F.lit("##MARK## "), F.col("text")))
        .when(m == 3, F.concat(F.lit("##START## "), F.col("text")))
        .when(m.isin(5, 6), F.concat(F.lit("##END## "), F.col("text")))
        .otherwise(F.col("text"))
    )
    out = split_multiline(
        df.withColumn("line", line).select("conv_id", "turn_idx", "line"),
        source="line",
        order_col="turn_idx",
        group_cols=["conv_id"],
        start_pattern=r"^##(MARK|START)##",
        end_pattern=r"^##(MARK|END)##",
    )
    return out.select("conv_id", "turn_idx", F.col("line").alias("text"))


def _q_split_log_regex(spark: SparkSession, sf: str) -> DataFrame:
    """processor_split_log_regex, exact Go semantics
    (split_log_regex.go:52-100): each conversation's \\n-joined block
    (the file reader's read-block shape) splits before every line
    FULLY matching the boundary regex; unmatched runs — prose turns,
    malformed invokes, the head — concatenate onto the current log.
    The operator is a narrow per-row array computation (zero
    shuffle); only the block-building groupBy shuffles, bounded by
    conversation length."""
    from ilogtail_spark.operators.split import split_log_regex

    df = derive_transcripts(spark, sf)
    blocks = df.groupBy("conv_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("turn_idx").alias("o"), F.col("text").alias("v")
                        )
                    )
                ),
                lambda s: s["v"],
            ),
            "\n",
        ).alias("content")
    )
    out = split_log_regex(
        blocks,
        "content",
        r"invoke tool=\S+ status=\d+ latency_ms=\d+ .*",
        preserve_others=True,
    )
    return out.select(
        "conv_id",
        F.col("content").alias("chunk"),
        F.size(F.split(F.col("content"), "\n", -1)).alias("chunk_lines"),
    )


def _q_yaml_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's YAML collection-config surface end-to-end
    (core/config/CollectionConfig.h:35-41; example_config/
    data_pipelines/*.yaml shape): a Type-keyed processor array —
    regex parse → full-match include filter → constant enrich — loads
    verbatim through pipeline_from_yaml and composes via the
    registry; flusher entries come back for the sink layer."""
    from ilogtail_spark.plans.pipeline import pipeline_from_yaml

    yaml_text = r"""
enable: true
inputs:
  - Type: input_file
    FilePaths: ["/home/test-log/*.log"]
processors:
  - Type: processor_regex
    SourceKey: text
    Regex: 'tool=(\w+) status=(\d+) latency_ms=(\d+) "(\w+) ([^"\s]+)" err=(\S+)'
    Keys: [tool_call, status, latency_ms, method, url, err]
  - Type: processor_filter_regex
    Include:
      status: '[45]\d\d'
  - Type: processor_add_fields
    Fields:
      env: prod
flushers:
  - Type: flusher_stdout
    OnlyStdout: true
"""
    transform, flushers = pipeline_from_yaml(yaml_text)
    assert [f["Type"] for f in flushers] == ["flusher_stdout"]
    out = transform(derive_transcripts(spark, sf))
    return out.select(
        "conv_id", "turn_idx", "tool_call", "status", "latency_ms",
        "method", "url", "err", "env",
    )


def _q_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style within-document repetition quality signals (Rae
    et al. 2021 §A1.1): duplicate-word fraction, top-word fraction,
    characters covered by the most frequent bigram — each a linear
    per-row JVM fold (array_sort + longest-equal-run), zero shuffle;
    the repetition FILTER is then an ordinary pushed-down predicate."""
    from ilogtail_spark.functions.textstats import repetition_stats

    docs = load_table(spark, sf, "documents")
    out = repetition_stats(docs, "text")
    return out.select(
        "doc_id",
        "dup_word_frac",
        "top_word_frac",
        "top_bigram_char_frac",
        (
            (F.col("dup_word_frac") <= 0.6) & (F.col("top_word_frac") <= 0.3)
            & (F.col("top_bigram_char_frac") <= 0.2)
        ).alias("keep"),
    )


def _q_ann_recall(spark: SparkSession, sf: str) -> DataFrame:
    """ANN index-quality evaluation — recall@10 of the IVF index
    against exact brute force, per query: the measurement loop a
    training-data pipeline runs before trusting an approximate index
    at corpus scale. Both sides are deterministic (q26/q50), so the
    recall itself has an EXACT oracle. The eval join touches only the
    two top-k result sets (k × queries rows) — negligible next to
    the index scans themselves."""
    from ilogtail_spark.functions.similarity import brute_force_topk, ivf_topk

    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    truth = brute_force_topk(emb, q, k=10).select("query_id", "neighbor_id")
    approx = ivf_topk(emb, q, k=10, n_centroids=16, n_probe=4).select(
        "query_id", "neighbor_id", F.lit(1).alias("_hit")
    )
    joined = truth.join(approx, ["query_id", "neighbor_id"], "left")
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.count("_hit").alias("n_hits"),
        (F.count("_hit") / F.count(F.lit(1))).alias("recall"),
    )


def _q_geoip_config(spark: SparkSession, sf: str) -> DataFrame:
    """processor_geoip + processor_cloud_meta through the config-driven
    registry (processor_geoip.go:35-53 with a CSV range table standing
    in for the mmdb; cloud_meta.go:33-80 with the platformmeta mock
    manager values): broadcast range join + constant metadata columns."""
    import os
    import tempfile

    from ilogtail_spark.plans.pipeline import build_pipeline

    path = os.path.join(tempfile.gettempdir(), "ilogtail_spark_geoip_q60.csv")
    base = 10 * 16777216
    with open(path, "w") as fh:
        fh.write("ip_start,ip_end,country,city\n")
        for k in range(200):
            fh.write(
                f"{base + (k << 16)},{base + (k << 16) + 65535},"
                f"C{k // 50},city{k // 20}\n"
            )
    chain = build_pipeline(
        [
            {
                "type": "processor_cloud_meta",
                "Metadata": ["__cloud_region__", "__cloud_instance_id__"],
                "RenameMetadata": {"__cloud_region__": "cloud_region"},
            },
            {"type": "processor_geoip", "DBPath": path, "SourceKey": "client_ip"},
        ]
    )
    df = derive_transcripts(spark, sf).withColumn(
        "client_ip",
        F.concat(F.lit("10."), (F.col("turn_idx") % 200).cast("string"), F.lit(".7.9")),
    )
    out = chain(df)
    return out.groupBy(
        "client_ip_country", "client_ip_city", "cloud_region", "__cloud_instance_id__"
    ).agg(F.count(F.lit(1)).alias("n_rows"))


def _q_string_replace(spark: SparkSession, sf: str) -> DataFrame:
    """processor_string_replace, all three methods
    (processor_string_replace.go:41-56,143): regex (global), const,
    and unquote."""
    from ilogtail_spark.operators.transform import string_replace

    df = derive_transcripts(spark, sf).withColumn(
        "qtool", F.concat(F.lit('"'), F.col("tool"), F.lit('"'))
    )
    out = string_replace(
        df, "text", r"latency_ms=\d+", "latency_ms=***", dest="masked"
    )
    out = string_replace(out, "masked", "status=", "code=", method="const")
    out = string_replace(out, "qtool", "", "", dest="tool_unq", method="unquote")
    return out.select("conv_id", "turn_idx", "masked", "tool_unq")


def _q_group_info_filter(spark: SparkSession, sf: str) -> DataFrame:
    """extension_group_info_filter (group_info_filter.go:29-42,78+):
    tag + meta regex conditions with Reverse inversion."""
    from ilogtail_spark.operators.filters import group_info_filter
    from ilogtail_spark.operators.transform import tag_native

    df = tag_native(derive_transcripts(spark, sf), {"env": "prod"})
    out = group_info_filter(
        df,
        tags={"env": "^pr"},
        metas={
            "role": "^(user|assistant)$",
            "tool": {"pattern": "^(bash|read)", "reverse": True},
        },
    )
    return out.select("conv_id", "turn_idx", "role", "tool")


def _q_metadata_group(spark: SparkSession, sf: str) -> DataFrame:
    """aggregator_metadata_group (aggregator_metadata_group.go:28-36,
    62-110): deterministic __pack_id__ chunking — md5(keys) + event
    chunk + running-byte chunk, both caps exercised."""
    from ilogtail_spark.operators.agg import metadata_group

    df = derive_transcripts(spark, sf)
    out = metadata_group(
        df, ["conv_id"], max_events=50, max_bytes=5000,
        size_col="text", order_col="turn_idx",
    )
    return out.select("conv_id", "turn_idx", "__pack_id__")


def _q_filter_key_regex(spark: SparkSession, sf: str) -> DataFrame:
    """processor_filter_key_regex (processor_filter_key_regex.go:28-36,
    117): keep rows whose dynamic attrs map HAS all include keys —
    presence, not value, is the predicate."""
    from ilogtail_spark.operators.filters import filter_key_regex

    ev = load_table(spark, sf, "events").withColumn(
        "kvline",
        F.concat(
            F.lit("user="), F.col("user_id").cast("string"),
            F.lit("&type="), F.col("event_type"),
            F.when(F.col("event_id") % 3 == 0, F.lit("&extra=1")).otherwise(
                F.lit("")
            ),
        ),
    )
    parsed = parse_kv(
        ev, source="kvline", pair_sep="&", kv_sep="=",
        options=ParserOptions(keep_source=True),
    )
    out = filter_key_regex(parsed, include_keys=["extra"], attrs_col="attrs")
    return out.select("event_id", "event_type")


def _avs(s=None, i=None, d=None, b=None):
    """OTLP AnyValue struct with exactly one arm set (to_json omits the
    null arms, so the built JSON matches real OTLP payloads)."""
    return F.struct(
        (F.lit(None).cast("string") if s is None else s).alias("stringValue"),
        (F.lit(None).cast("string") if i is None else i.cast("string")).alias(
            "intValue"
        ),
        (F.lit(None).cast("double") if d is None else d.cast("double")).alias(
            "doubleValue"
        ),
        (F.lit(None).cast("boolean") if b is None else b).alias("boolValue"),
    )


def _kv(key, value):
    return F.struct(F.lit(key).alias("key"), value.alias("value"))


def _otel_trace_fixture(spark: SparkSession, sf: str) -> DataFrame:
    """OTLP/JSON trace document per turn (resource attrs with
    host.name/service.name shortcuts + typed extras, one scope, one
    span with typed attributes, conditional events/links, status) in
    column ``otel`` — shared by the json (q65) and protobuf (q77)
    decode legs."""
    df = derive_transcripts(spark, sf)
    t = F.col("turn_idx")
    ts_ns = F.unix_micros(F.col("ts").cast("timestamp")) * 1000
    lat_ns = (t % 1000 + 1) * 1000000
    trace_id = F.md5(F.col("conv_id"))
    span_id = F.substring(
        F.md5(F.concat(F.col("conv_id"), F.lit(":"), t.cast("string"))), 1, 16
    )
    parent_id = F.when(t == 0, F.lit("")).otherwise(
        F.substring(
            F.md5(F.concat(F.col("conv_id"), F.lit(":"), (t - 1).cast("string"))),
            1, 16,
        )
    )
    link_id = F.substring(
        F.md5(F.concat(F.col("conv_id"), F.lit(":link"))), 1, 16
    )
    span = F.struct(
        trace_id.alias("traceId"),
        span_id.alias("spanId"),
        parent_id.alias("parentSpanId"),
        F.concat(F.lit("op:"), F.col("tool")).alias("name"),
        (t % 6).alias("kind"),
        ts_ns.cast("string").alias("startTimeUnixNano"),
        (ts_ns + lat_ns).cast("string").alias("endTimeUnixNano"),
        F.array(
            _kv("flag", _avs(b=t % 2 == 0)),
            _kv("ratio", _avs(d=(t % 4) * 0.25)),
            _kv("role", _avs(s=F.col("role"))),
            _kv("turn", _avs(i=t)),
        ).alias("attributes"),
        F.when(
            t % 3 == 0,
            F.array(F.struct(
                (ts_ns + 500).cast("string").alias("timeUnixNano"),
                F.lit("ev").alias("name"),
                F.array(
                    _kv("k", _avs(s=F.concat(F.lit("x"), t.cast("string"))))
                ).alias("attributes"),
            )),
        ).alias("events"),
        F.when(
            t % 5 == 0,
            F.array(F.struct(
                trace_id.alias("traceId"),
                link_id.alias("spanId"),
                F.expr(
                    "cast(array() as array<struct<key:string,"
                    "value:struct<stringValue:string>>>)"
                ).alias("attributes"),
            )),
        ).alias("links"),
        F.when(t % 4 == 0, F.lit("k=v")).otherwise(F.lit("")).alias("traceState"),
        F.struct(
            (t % 3).alias("code"),
            F.when(t % 3 == 2, F.lit("boom")).otherwise(F.lit("")).alias(
                "message"
            ),
        ).alias("status"),
    )
    doc = F.to_json(F.struct(
        F.array(F.struct(
            F.struct(F.array(
                _kv("host.name", _avs(s=F.concat(F.lit("h-"),
                                                 (t % 4).cast("string")))),
                _kv("service.name", _avs(s=F.col("tool"))),
                _kv("region", _avs(s=F.col("role"))),
                _kv("zone.id", _avs(i=t % 8)),
            ).alias("attributes")).alias("resource"),
            F.array(F.struct(
                F.struct(
                    F.lit("ilogtail.test").alias("name"),
                    F.lit("1.0").alias("version"),
                ).alias("scope"),
                F.array(span).alias("spans"),
            )).alias("scopeSpans"),
        )).alias("resourceSpans"),
    ))
    return df.withColumn("otel", doc)


def _q_otel_trace(spark: SparkSession, sf: str) -> DataFrame:
    """processor_otel_trace, Format=json
    (processor_otel_trace.go:68-115 → otlp_trace_parser.go:112-216):
    decode the fixture document back to the reference's 18-field span
    row."""
    from ilogtail_spark.operators.otel import otel_trace_parse

    return otel_trace_parse(
        _otel_trace_fixture(spark, sf), "otel", keep=["conv_id", "turn_idx"]
    )


def _q_otel_trace_pb(spark: SparkSession, sf: str) -> DataFrame:
    """processor_otel_trace, Format=protobuf
    (processor_otel_trace.go:50,68-115): the SAME fixture spans travel
    as binary TracesData wire bytes (fixture-side protojson→pb encode,
    pb.py descriptor encoder) and decode through the Format=protobuf
    leg — varint walk → protojson → identical from_json plan.  The
    oracle is q65's verbatim: both wire forms must produce the
    identical 18-field span rows."""
    from ilogtail_spark.operators.otel import otel_trace_parse
    from ilogtail_spark.operators.pb import otlp_json_to_pb_udf

    fx = _otel_trace_fixture(spark, sf)
    fx = fx.withColumn("otel_pb", otlp_json_to_pb_udf("trace")(F.col("otel")))
    return otel_trace_parse(
        fx, "otel_pb", keep=["conv_id", "turn_idx"], wire="protobuf"
    )


def _otel_metric_fixture(spark: SparkSession, sf: str) -> DataFrame:
    """Per turn one OTLP metric document whose type cycles through
    gauge / sum / histogram / summary / exponentialHistogram — all
    five fan-outs, suffix schemes, cumulative le buckets, quantile
    labels, exponential bucket field names and exemplar rows.  Shared
    by the json (q66) and protobuf (q78) decode legs."""
    df = derive_transcripts(spark, sf)
    t = F.col("turn_idx")
    ts_ns = F.unix_micros(F.col("ts").cast("timestamp")) * 1000
    resource = F.struct(F.array(
        _kv("app", _avs(s=F.col("tool"))),
        _kv("host.name", _avs(s=F.concat(F.lit("h-"), (t % 4).cast("string")))),
    ).alias("attributes"))
    dp_attrs = F.array(
        _kv("path", _avs(s=F.concat(F.lit("/p/"), (t % 8).cast("string"))))
    )
    exemplars = F.when(
        t % 2 == 0,
        F.array(F.struct(
            (ts_ns + 1).cast("string").alias("timeUnixNano"),
            (t.cast("double") * 0.125).alias("asDouble"),
            F.substring(F.md5(F.col("conv_id")), 1, 16).alias("traceId"),
            F.lit("").alias("spanId"),
            F.array(_kv("x", _avs(i=F.lit(1)))).alias("filteredAttributes"),
        )),
    )

    def metric(body, field):
        return F.to_json(F.struct(F.array(F.struct(
            resource.alias("resource"),
            F.array(F.struct(
                F.array(F.struct(
                    F.lit("lat").alias("name"), body.alias(field),
                )).alias("metrics"),
            )).alias("scopeMetrics"),
        )).alias("resourceMetrics")))

    gauge = metric(F.struct(F.array(F.struct(
        dp_attrs.alias("attributes"),
        ts_ns.cast("string").alias("timeUnixNano"),
        ((t % 7).cast("double") * 0.5).alias("asDouble"),
        exemplars.alias("exemplars"),
    )).alias("dataPoints")), "gauge")
    msum = metric(F.struct(
        F.array(F.struct(
            dp_attrs.alias("attributes"),
            ts_ns.cast("string").alias("timeUnixNano"),
            t.cast("string").alias("asInt"),
        )).alias("dataPoints"),
        (t % 2 == 0).alias("isMonotonic"),
    ), "sum")
    hist = metric(F.struct(F.array(F.struct(
        dp_attrs.alias("attributes"),
        ts_ns.cast("string").alias("timeUnixNano"),
        (t % 3 + 3).cast("string").alias("count"),
        (t % 5).cast("double").alias("sum"),
        F.lit(0.0).alias("min"),
        F.lit(3.0).alias("max"),
        F.array(
            (t % 3).cast("string"), F.lit("1"), F.lit("0"), F.lit("2")
        ).alias("bucketCounts"),
        F.array(F.lit(1.0), F.lit(10.0), F.lit(100.0)).alias("explicitBounds"),
    )).alias("dataPoints")), "histogram")
    summ = metric(F.struct(F.array(F.struct(
        dp_attrs.alias("attributes"),
        ts_ns.cast("string").alias("timeUnixNano"),
        (t % 4).cast("string").alias("count"),
        (t.cast("double") * 0.5).alias("sum"),
        F.array(
            F.struct(F.lit(0.5).alias("quantile"),
                     ((t % 9).cast("double") * 1.5).alias("value")),
            F.struct(F.lit(0.99).alias("quantile"),
                     ((t % 9).cast("double") * 2.0).alias("value")),
        ).alias("quantileValues"),
    )).alias("dataPoints")), "summary")
    ehist = metric(F.struct(F.array(F.struct(
        dp_attrs.alias("attributes"),
        ts_ns.cast("string").alias("timeUnixNano"),
        F.lit("5").alias("count"),
        (t % 3).cast("double").alias("sum"),
        F.lit(0.0).alias("min"),
        F.lit(2.0).alias("max"),
        (t % 2).cast("string").alias("zeroCount"),
        F.lit(0).alias("scale"),
        F.struct(
            F.lit(-1).alias("offset"),
            F.array((t % 2 + 1).cast("string"), F.lit("2")).alias(
                "bucketCounts"
            ),
        ).alias("positive"),
        F.struct(
            F.lit(0).alias("offset"),
            F.array(F.lit("1")).alias("bucketCounts"),
        ).alias("negative"),
    )).alias("dataPoints")), "exponentialHistogram")
    doc = (
        F.when(t % 5 == 0, gauge)
        .when(t % 5 == 1, msum)
        .when(t % 5 == 2, hist)
        .when(t % 5 == 3, summ)
        .otherwise(ehist)
    )
    return df.withColumn("otel", doc)


def _q_otel_metric(spark: SparkSession, sf: str) -> DataFrame:
    """processor_otel_metric, Format=json
    (processor_otel_metric.go:66-100 → otlp_metric_parser.go:48-298)."""
    from ilogtail_spark.operators.otel import otel_metric_parse

    return otel_metric_parse(
        _otel_metric_fixture(spark, sf), "otel", keep=["conv_id", "turn_idx"]
    )


def _q_otel_metric_pb(spark: SparkSession, sf: str) -> DataFrame:
    """processor_otel_metric, Format=protobuf: the SAME fixture
    documents as binary MetricsData wire bytes through the pb leg —
    packed uint64 bucket counts, packed doubles, zigzag sint32
    scale/offset, fixed64 times all exercised.  Oracle = q66's
    verbatim."""
    from ilogtail_spark.operators.otel import otel_metric_parse
    from ilogtail_spark.operators.pb import otlp_json_to_pb_udf

    fx = _otel_metric_fixture(spark, sf)
    fx = fx.withColumn("otel_pb", otlp_json_to_pb_udf("metric")(F.col("otel")))
    return otel_metric_parse(
        fx, "otel_pb", keep=["conv_id", "turn_idx"], wire="protobuf"
    )


def _q_serializers(spark: SparkSession, sf: str) -> DataFrame:
    """Sink converter protocols (pkg/protocol/converter):
    custom_single (contents/tags/time JSON envelope), jsonline/flatten
    (merged sorted-key object), and influxdb line protocol over SLS
    metric rows — one serialized string per row per protocol, newline
    joining left to the writer like the reference's flusher split."""
    from ilogtail_spark.sinks.serialize import (
        serialize_influx,
        serialize_jsonline,
        serialize_single,
    )

    df = parse_stage(derive_transcripts(spark, sf)).filter(F.col(PARSE_OK_KEY))
    base = df.withColumn(
        "__path__", F.concat(F.lit("/var/log/conv/"), F.col("conv_id"))
    )
    cols = ["role", "tool", "text", "__path__"]
    out = serialize_single(
        base, cols, time_col="ts", tags={"env": "prod"},
        source="10.0.0.1", topic="transcripts", dest="line_single",
    )
    out = serialize_jsonline(
        out, cols, time_col="ts", tags={"env": "prod"},
        source="10.0.0.1", topic="transcripts", dest="line_flatten",
    )
    out = out.withColumn("__name__", F.lit("latency_ms")).withColumn(
        "__labels__",
        F.concat(F.lit("conv#$#"), F.col("conv_id"),
                 F.lit("|tool#$#"), F.col("tool_call")),
    ).withColumn(
        "__value__", F.col("latency_ms").cast("double")
    ).withColumn(
        "__time_nano__", F.unix_micros(F.col("ts").cast("timestamp")) * 1000
    )
    out = serialize_influx(out, dest="line_influx")
    from ilogtail_spark.sinks.serialize import serialize_otlp_logs

    out = out.withColumn("content", F.col("text")).withColumn(
        "level", F.when(F.col("role") == "assistant", "INFO").otherwise("DEBUG")
    )
    out = serialize_otlp_logs(
        out, ["content", "level", "tool", "__path__"], time_col="ts",
        tags={"env": "prod"}, source="10.0.0.1", topic="transcripts",
        dest="line_otlp",
    )
    return out.select(
        "conv_id", "turn_idx", "line_single", "line_flatten", "line_influx",
        "line_otlp",
    )


def _q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Train/test decontamination (the GPT-3/LLaMA n-gram-overlap
    procedure): benchmark = every 101st doc, corpus = the rest; a
    corpus doc is contaminated iff it shares any word 3-gram with a
    benchmark doc. Benchmark gram hashes ride a broadcast join — the
    corpus never shuffles by gram."""
    from ilogtail_spark.functions.dedup import decontaminate

    docs = load_table(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 101 == 0)
    corpus = docs.filter(F.col("doc_id") % 101 != 0)
    out = decontaminate(corpus, bench, k=3)
    return out.orderBy("doc_id")


def _q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic hash-based stratified sampling for corpus
    curation: keep 50% of 'en' docs, 10% of everything else, purely as
    a function of md5(doc_id) — reproducible across runs/engines/
    cluster sizes, zero shuffle (the filter fuses into the scan).
    Result = per-stratum totals + sampled counts + id spot-checks."""
    from ilogtail_spark.functions.sampling import keep_row

    docs = load_table(spark, sf, "documents")
    keep = keep_row({"en": 0.5}, stratum_col="lang", id_col="doc_id", default_rate=0.1)
    # ONE scan, one aggregate: keep is a flag, not a filter — totals
    # and sampled counts come from the same pass (and NULL strata
    # can't fall through a join's null-unequal keys)
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum(keep.cast("long")), F.lit(0)).alias("n_sampled"),
            F.min(F.when(keep, F.col("doc_id"))).alias("min_sampled_id"),
            F.max(F.when(keep, F.col("doc_id"))).alias("max_sampled_id"),
        )
        .orderBy("lang", "source")
    )


def _q_sequence_packing(spark: SparkSession, sf: str) -> DataFrame:
    """GPT-style sequence packing: concatenate each language's docs in
    doc_id order, cut every 256 tokens. Two-phase sharded prefix sum —
    no corpus-wide window on the low-cardinality stream key. Result =
    per-sequence doc/token/straddle counts (small, hashable)."""
    from ilogtail_spark.functions.packing import pack_sequences
    from ilogtail_spark.functions.textstats import token_count

    docs = load_table(spark, sf, "documents").withColumn(
        "n_tok", token_count(F.col("text")).cast("long")
    )
    packed = pack_sequences(
        docs, budget=256, tokens_col="n_tok", stream_col="lang",
        order_col="doc_id", shard_span=512,
    )
    return (
        packed.groupBy("lang", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum(F.col("straddles").cast("long")).alias("n_straddles"),
            F.min("seq_offset").alias("first_offset"),
        )
        .orderBy("lang", "seq_id")
    )


def _q_curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end training-data curation: language/length filter →
    exact dedup (md5 canonical) → decontaminate vs the benchmark
    split → deterministic stratified sample → GPT-style packing →
    per-sequence stats. The composite is the point: every stage is
    the scale-safe form (hash groupBy, broadcast benchmark grams,
    narrow hash sample, sharded prefix sum) chained without ever
    collecting to the driver."""
    from ilogtail_spark.functions.dedup import decontaminate, exact_dedup
    from ilogtail_spark.functions.packing import pack_sequences
    from ilogtail_spark.functions.sampling import stratified_sample
    from ilogtail_spark.functions.textstats import token_count

    docs = load_table(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 101 == 0)
    # the fixture has no exact duplicates — plant deterministic copies
    # (same convention as q28's planted near-dups) so the dedup stage
    # provably removes rows
    copies = docs.filter(
        (F.col("doc_id") % 23 == 0) & (F.col("lang") == "en")
    ).withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    base = (
        docs.unionByName(copies)
        .filter((F.col("lang") == "en") & (F.col("doc_id") % 101 != 0))
        .withColumn("n_tok", token_count(F.col("text")).cast("long"))
        .filter(F.col("n_tok") >= 20)
    )
    canon = exact_dedup(base).select("text_hash", "canonical_id")
    ded = (
        base.withColumn("text_hash", F.md5("text"))
        .join(canon, "text_hash")
        .filter(F.col("doc_id") == F.col("canonical_id"))
        .drop("text_hash", "canonical_id")
    )
    cont = decontaminate(ded, bench, k=3).select("doc_id")
    clean = ded.join(cont, "doc_id", "left_anti")
    samp = stratified_sample(
        clean, {"src0": 0.5}, stratum_col="source", id_col="doc_id",
        default_rate=0.25,
    )
    packed = pack_sequences(
        samp, budget=128, tokens_col="n_tok", stream_col="source",
        order_col="doc_id", shard_span=256,
    )
    return (
        packed.groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum(F.col("straddles").cast("long")).alias("n_straddles"),
            F.min("seq_offset").alias("first_offset"),
        )
        .orderBy("source", "seq_id")
    )


def _q_sls_pb(spark: SparkSession, sf: str) -> DataFrame:
    """Binary SLS protobuf roundtrip (processor_parse_from_pb_native,
    ProcessorParseFromPBNative.cpp:38; wire schema sls_logs.proto:37-62):
    encode one LogGroup per conversation (logs ordered by turn_idx,
    Contents from role/text/tool/turn_idx, Time/Time_ns from ts, topic
    = conv_id, LogTags) with the pure-Python wire encoder, decode it
    back with the descriptor-driven varint walker, fan out one row per
    Log.  The oracle recomputes every field straight from transcripts
    — any single-bit framing error in either direction breaks parity.
    (Wire-format pinning against HAND-computed golden bytes lives in
    tests/test_pb.py, so encoder and decoder bugs cannot cancel out.)
    """
    from ilogtail_spark.operators.pb import sls_pb_decode, sls_pb_encode_groups

    df = derive_transcripts(spark, sf).select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000").alias("t_sec"),
        (F.pmod(F.expr("unix_micros(cast(ts as timestamp))"), F.lit(1000000))
         * 1000).alias("t_ns"),
    )
    enc = sls_pb_encode_groups(
        df, group_cols=["conv_id"], time_col="t_sec",
        content_cols=["role", "text", "tool", "turn_idx"],
        order_col="turn_idx", topic_col="conv_id", source="agent-host",
        time_ns_col="t_ns", tags={"host": "h-1", "env": "prod"},
    )
    dec = sls_pb_decode(enc, "pb", keep=["conv_id"])
    return dec.select(
        "conv_id",
        "topic",
        "source",
        "machine_uuid",
        F.element_at("tags", "host").alias("host_tag"),
        F.element_at("tags", "env").alias("env_tag"),
        "log_time",
        "time_ns",
        F.element_at("contents", "role").alias("role"),
        F.element_at("contents", "text").alias("text"),
        F.element_at("contents", "tool").alias("tool"),
        F.element_at("contents", "turn_idx").cast("int").alias("turn_idx"),
    )


def _cdc_events(spark: SparkSession, sf: str) -> DataFrame:
    """Canal-shaped binlog stream derived from transcripts — per conv
    a keyed row whose lifecycle is row_insert (turn 0), row_update
    (other turns, carrying the previous image as _old_text per
    input_canal.go:391-406), row_delete (turn_idx%7==3).  Shared by
    the replay (q79) and PackValues (q83) legs."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ev = derive_transcripts(spark, sf).select(
        "conv_id",
        "turn_idx",
        F.lit("agent").alias("_db_"),
        F.lit("conv_state").alias("_table_"),
        F.when(F.col("turn_idx") == 0, F.lit("row_insert"))
        .when(F.col("turn_idx") % 7 == 3, F.lit("row_delete"))
        .otherwise(F.lit("row_update"))
        .alias("_event_"),
        "role",
        "text",
        "tool",
    )
    return ev.withColumn("_old_text", F.lag("text").over(w))


def _q_cdc_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """service_canal row-event semantics replayed into final table
    state with cdc_replay (ordered MERGE: last event per key wins, a
    trailing delete removes the key).  One max_by hash aggregation,
    no window sort (operators/cdc.py)."""
    from ilogtail_spark.operators.cdc import cdc_replay

    out = cdc_replay(
        _cdc_events(spark, sf),
        key_cols=["conv_id"],
        order_col="turn_idx",
        value_cols=["_db_", "_table_", "role", "text", "tool", "_old_text"],
    )
    return out.select(
        "conv_id", "final_event", F.col("last_turn_idx"),
        "_db_", "_table_", "role", "text", "tool",
        F.col("_old_text").alias("old_text"),
    )


def _q_cdc_pack_values(spark: SparkSession, sf: str) -> DataFrame:
    """PackValues: true (input_canal.go:217-261): the same event
    stream with non-meta fields marshaled into sorted-key data /
    old_data JSON objects, empty map as '' — all codegen to_json."""
    from ilogtail_spark.operators.cdc import canal_pack_values

    return canal_pack_values(
        _cdc_events(spark, sf), keep=["conv_id", "turn_idx"]
    )


def _para_fixture(spark: SparkSession, sf: str) -> DataFrame:
    """Documents restructured into paragraphs with PLANTED boilerplate:
    a global regexp_replace turns every 12-word run's trailing space
    into a newline (left-to-right non-overlapping = exact 12-word
    chunks), every doc gets the same header paragraph prepended, and
    every 5th doc the same footer appended — the repeated nav-chrome a
    web corpus carries.  Mirrored verbatim in the q80 oracle CTE."""
    docs = load_table(spark, sf, "documents")
    body = F.regexp_replace(F.col("text"), r"((?:\S+ ){11}\S+) ", "$1\n")
    header = F.lit("subscribe to our newsletter for updates")
    footer = F.lit("all rights reserved terms of service apply")
    text = F.concat(
        header,
        F.lit("\n"),
        body,
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("\n"), footer)).otherwise(
            F.lit("")
        ),
    )
    return docs.select("doc_id", text.alias("text"))


def _q_paragraph_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Paragraph-level exact dedup with doc reconstruction
    (functions/dedup.py:paragraph_dedup): the planted header survives
    only in doc 0, the footer only in the first doc_id%5==0 doc, and
    every doc's unique prose is untouched; n_dropped counts the
    boilerplate removed per doc."""
    from ilogtail_spark.functions.dedup import paragraph_dedup

    return paragraph_dedup(_para_fixture(spark, sf), "text", "doc_id", sep="\n")


def _q_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-rule PII scrub (functions/pii.py): emails / SSNs / phones
    / IPv4s planted deterministically per doc are found, counted and
    replaced with typed placeholders in one chained codegen pass."""
    from ilogtail_spark.functions.pii import pii_scrub

    docs = load_table(spark, sf, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-010-"),
            F.format_string("%04d", F.pmod(F.col("doc_id"), F.lit(10000))),
            F.lit(" from host 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(".7"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit(" ssn 123-45-6789 on file")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = pii_scrub(planted, "text")
    return out.select(
        "doc_id", "n_email", "n_ssn", "n_phone", "n_ipv4",
        F.col("text_scrubbed"),
    )


def _q_classifier_score(spark: SparkSession, sf: str) -> DataFrame:
    """Hashed-feature linear quality classifier
    (functions/textstats.py:classifier_score): integer-space weight
    fold, one float division, keep/drop label at margin 0 — the
    fasttext-shaped quality-filter stage, oracle-exact."""
    from ilogtail_spark.functions.textstats import classifier_score

    docs = load_table(spark, sf, "documents")
    margin = classifier_score(F.col("text"))
    return docs.select(
        "doc_id",
        F.round(margin, 9).alias("margin"),
        F.when(margin > 0, F.lit("keep")).otherwise(F.lit("drop")).alias("label"),
    )


def _q_domain_cap(spark: SparkSession, sf: str) -> DataFrame:
    """RefinedWeb/C4-style per-domain frequency cap
    (functions/sampling.py:domain_cap): keep at most 8 docs per
    source, selected by the deterministic md5 hash — salted two-phase
    top-N, no row_number window over a hot domain."""
    from ilogtail_spark.functions.sampling import domain_cap

    docs = load_table(spark, sf, "documents")
    return domain_cap(docs, cap=8, domain_col="source", id_col="doc_id")


def _q_c4_filters(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style line-level quality filters
    (functions/textstats.py:c4_line_filters) over a deterministic
    fixture: docs chunked into 12-word lines, then per line a planted
    'lorem ipsum ' prefix ((doc*7+i)%11==0), ' {x}' suffix
    ((doc+i)%13==0) and terminal '.' ((doc+i)%4!=0) — so every rule
    (no-punct / short / lorem / brace) provably bites. Mirrored
    verbatim in the oracle CTE (Spark transform index i is 0-based,
    DuckDB generate_series is 1-based → i-1)."""
    from ilogtail_spark.functions.textstats import c4_line_filters

    docs = load_table(spark, sf, "documents")
    body = F.regexp_replace(F.col("text"), r"((?:\S+ ){11}\S+) ", "$1\n")
    planted = F.transform(
        F.split(body, "\n"),
        lambda l, i: F.concat(
            F.when(
                (F.col("doc_id") * 7 + i) % 11 == 0, F.lit("lorem ipsum ")
            ).otherwise(F.lit("")),
            l,
            F.when((F.col("doc_id") + i) % 13 == 0, F.lit(" {x}")).otherwise(
                F.lit("")
            ),
            F.when((F.col("doc_id") + i) % 4 != 0, F.lit(".")).otherwise(
                F.lit("")
            ),
        ),
    )
    fx = docs.select("doc_id", F.array_join(planted, "\n").alias("text"))
    out = c4_line_filters(fx, "text", min_words=5, min_lines=3)
    return out.select(
        "doc_id", "n_lines", "n_no_punct", "n_short", "n_lorem", "n_brace",
        "n_kept", "text_filtered",
    )


def _q_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (functions/similarity.py:semantic_dedup): k-means
    cluster the embeddings (one deterministic Lloyd refinement,
    integer-quantized centroid update) then prune semantic duplicates
    within clusters. Planted 1.5x-scaled copies (ids +100000, cosine
    exactly 1.0 with their originals, identical cluster + rounded
    cos_centroid) are provably dropped by the ties-drop-larger-id
    rule; every original is kept."""
    from ilogtail_spark.functions.similarity import semantic_dedup

    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: (x.cast("double") * 1.5).cast("float")
        ).alias("embedding"),
    )
    return semantic_dedup(emb.unionByName(copies), k=8, threshold=0.99)


def _semantic_dedup_oracle(k: int = 8, threshold: float = 0.99) -> str:
    """DuckDB twin of semantic_dedup over the q86 fixture: same seed
    quantizer (id < k), same rounded-cosine argmax with cid tie-break,
    the SAME integer-quantized centroid update (exact BIGINT sums, one
    double division), same within-cluster prune rule."""
    return f"""
        WITH aug AS (
          SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
          UNION ALL
          SELECT vec_id + 100000,
                 (list_transform(embedding,
                    x -> CAST(CAST(x AS DOUBLE) * 1.5 AS FLOAT)))::DOUBLE[]
          FROM embeddings WHERE vec_id < 20),
        seeds AS (SELECT id AS cid, v AS cv FROM aug WHERE id < {k}),
        s0 AS (SELECT a.id, a.v, c.cid, {_cos_sql('a.v', 'c.cv')} AS ccos
               FROM aug a CROSS JOIN seeds c),
        r0 AS (SELECT *, row_number() OVER (
                 PARTITION BY id ORDER BY ccos DESC, cid) AS rn FROM s0),
        a0 AS (SELECT id, v, cid FROM r0 WHERE rn = 1),
        qv AS (SELECT cid, list_transform(v,
                 x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS q FROM a0),
        e AS (SELECT cid, unnest(list_transform(generate_series(1, len(q)),
                 i -> {{'pos': i, 'qq': q[i]}})) AS u FROM qv),
        sm AS (SELECT cid, u.pos AS pos, SUM(u.qq) AS sq, COUNT(*) AS n
               FROM e GROUP BY cid, u.pos),
        cent AS (SELECT cid, list(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)
                   ORDER BY pos) AS cv FROM sm GROUP BY cid),
        s1 AS (SELECT a.id, a.v, c.cid, {_cos_sql('a.v', 'c.cv')} AS ccos
               FROM aug a CROSS JOIN cent c),
        r1 AS (SELECT *, row_number() OVER (
                 PARTITION BY id ORDER BY ccos DESC, cid) AS rn FROM s1),
        a1 AS (SELECT id, v, cid AS cluster, ccos AS cos_centroid
               FROM r1 WHERE rn = 1),
        p AS (SELECT a.id AS id_a, b.id AS id_b,
                     a.cos_centroid AS ca, b.cos_centroid AS cb,
                     {_cos_sql('a.v', 'b.v')} AS pc
              FROM a1 a JOIN a1 b
                ON a.cluster = b.cluster AND a.id < b.id),
        losers AS (SELECT DISTINCT
                     CASE WHEN ca > cb THEN id_a
                          WHEN cb > ca THEN id_b
                          ELSE greatest(id_a, id_b) END AS id
                   FROM p WHERE pc >= {threshold})
        SELECT a1.id AS vec_id, cluster, cos_centroid,
               (l.id IS NULL) AS kept
        FROM a1 LEFT JOIN losers l ON a1.id = l.id"""


def _q_gopher_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher document-level quality rules
    (functions/textstats.py:gopher_quality) over a planted fixture:
    12-word lines; every doc_id%5==0 doc bulleted ('- ' per line),
    every (doc_id+i)%6==0 line ellipsis-suffixed, doc_id%3==0 docs
    get ' of that with' (stopword rule passes only for them),
    doc_id%7==0 docs get ' # ## ###' (symbol-ratio breach). Every
    rule provably bites in both directions; all metrics are exact
    integer counts or one division of two exact integers."""
    from ilogtail_spark.functions.textstats import gopher_quality

    docs = load_table(spark, sf, "documents")
    body = F.regexp_replace(F.col("text"), r"((?:\S+ ){11}\S+) ", "$1\n")
    planted = F.transform(
        F.split(body, "\n"),
        lambda l, i: F.concat(
            F.when(F.col("doc_id") % 5 == 0, F.lit("- ")).otherwise(F.lit("")),
            l,
            F.when((F.col("doc_id") + i) % 6 == 0, F.lit("...")).otherwise(
                F.lit("")
            ),
        ),
    )
    text = F.concat(
        F.array_join(planted, "\n"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" of that with")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" # ## ###")).otherwise(
            F.lit("")
        ),
    )
    fx = docs.select("doc_id", text.alias("text"))
    return gopher_quality(fx).select(
        "doc_id", "word_count", "mean_word_len", "symbol_ratio",
        "bullet_frac", "ellipsis_frac", "alpha_frac", "n_stopwords",
        "gopher_keep",
    )


def _q_dedup_recall(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH dedup candidate RECALL vs exact n-gram-Jaccard
    truth, bucketed by similarity — the dedup analogue of q75's ANN
    recall@k, measuring the LSH S-curve on planted near-dups: every
    doc_id%9==0 doc gets a PREFIX copy keeping the first
    0.3+(doc_id%7)*0.1 fraction of its words, spreading planted
    Jaccard across buckets 0.3-0.9 so the curve has a body. Truth =
    UNCAPPED inverted-index exact Jaccard >= 0.3; found = the
    verified minhash_lsh_pairs output (a subset of truth by
    construction, so precision is 1 and recall is the whole story).
    Index-quality measurement is itself oracle-exact."""
    from ilogtail_spark.functions.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    w = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    # keep-count in INTEGER space: floor(n*(3+k)/10), exact-int product
    # then one double division — 0.3+k*0.1 as doubles forks from
    # DuckDB's DECIMAL arithmetic at k=4 (0.6999... vs 0.7 exactly)
    keep_n = F.floor(
        (F.size(w) * (F.lit(3) + (F.col("doc_id") % 7).cast("int")))
        / F.lit(10.0)
    ).cast("int")
    prefix = F.array_join(F.slice(w, F.lit(1), keep_n), " ")
    copies = docs.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), prefix.alias("text")
    )
    aug = docs.unionByName(copies)
    truth = ngram_jaccard_pairs(aug, threshold=0.3, max_doc_freq=None)
    cand = (
        minhash_lsh_pairs(
            aug, num_hashes=16, bands=8, jaccard_threshold=0.3
        )
        .select("id_a", "id_b")
        .withColumn("_hit", F.lit(1).cast("long"))
    )
    j = truth.join(cand, ["id_a", "id_b"], "left")
    return (
        j.groupBy(
            F.floor(F.col("jaccard") * 10).cast("int").alias("j_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.coalesce(F.sum("_hit"), F.lit(0).cast("long")).alias("n_found"),
        )
        .withColumn(
            "recall",
            F.round(
                F.col("n_found").cast("double") / F.col("n_truth").cast("double"),
                6,
            ),
        )
    )


def _dedup_recall_oracle(
    num_hashes: int = 16, bands: int = 8, threshold: float = 0.3
) -> str:
    """DuckDB twin of q88: same planted fixture (1-based index bridge),
    same uncapped exact-Jaccard truth (threshold on the UNROUNDED
    ratio, like the operator), same 16-hash/8-band LSH collisions."""
    rows = num_hashes // bands
    ms = ", ".join(
        f"list_min(list_transform(sh, s -> ('0x' || substr(md5('{i}:' || s), "
        f"1, 15)::VARCHAR)::BIGINT)) AS m{i}"
        for i in range(num_hashes)
    )
    band_sel = "\n               UNION ALL\n".join(
        f"               SELECT doc_id, {b} AS band_idx, md5("
        + " || ',' || ".join(
            f"CAST(m{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        + ") AS band_hash FROM sig"
        for b in range(bands)
    )
    return rf"""
      WITH raw AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 200000,
               array_to_string(list_transform(
                 generate_series(1, CAST(floor(
                   (len(regexp_split_to_array(lower(trim(text)), '\s+'))
                    * (3 + doc_id % 7)) / 10.0) AS BIGINT)),
                 i -> regexp_split_to_array(lower(trim(text)), '\s+')[i]),
                 ' ')
        FROM documents WHERE doc_id % 9 = 0),
      _w AS (SELECT doc_id,
                    regexp_split_to_array(lower(trim(text)), '\s+') AS w
             FROM raw),
      sh AS (SELECT doc_id,
               list_distinct(CASE WHEN len(w) >= 3
                 THEN list_transform(range(len(w)-2),
                      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
                 ELSE [array_to_string(w, ' ')] END) AS sh
             FROM _w),
      inv AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM sh),
      tp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    a.n AS na, b.n AS nb, count(*) AS inter
             FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
             GROUP BY 1, 2, 3, 4
             HAVING count(*) / (a.n + b.n - count(*)) >= {threshold}),
      truth AS (SELECT id_a, id_b,
                       round(inter / (na + nb - inter), 6) AS jaccard
                FROM tp),
      sig AS (SELECT doc_id, {ms} FROM sh),
      bandt AS (
{band_sel}),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM bandt a JOIN bandt b
                 ON a.band_idx = b.band_idx
                AND a.band_hash = b.band_hash
                AND a.doc_id < b.doc_id)
      SELECT CAST(floor(truth.jaccard * 10) AS INTEGER) AS j_bucket,
             CAST(count(*) AS BIGINT) AS n_truth,
             CAST(count(c.id_a) AS BIGINT) AS n_found,
             round(CAST(count(c.id_a) AS DOUBLE) / CAST(count(*) AS DOUBLE),
                   6) AS recall
      FROM truth LEFT JOIN cand c
        ON truth.id_a = c.id_a AND truth.id_b = c.id_b
      GROUP BY 1"""


def _q_syslog_parse(spark: SparkSession, sf: str) -> DataFrame:
    """Syslog parse semantics (plugins/input/syslog/parser.go — the
    rfc3164/rfc5424/auto trio; operators/syslog.py) over a derived
    wire fixture: per turn one line — every 13th MALFORMED (raw
    passthrough, -1 priorities), else even turns RFC3164
    (tag[pid]: on %3) and odd turns RFC5424 (SD on %3, '-' procid on
    %5). The oracle is CLOSED-FORM: the parse must invert the
    synthesis field-for-field (same style as the q76 pb roundtrip)."""
    from ilogtail_spark.operators.syslog import syslog_parse

    t = derive_transcripts(spark, sf).select("conv_id", "turn_idx", "text")
    turn = F.col("turn_idx")
    tx = F.regexp_replace(F.col("text"), r"[\r\n]", " ")
    pri = F.pmod(turn * 7 + 3, F.lit(192))
    mon_i = F.pmod(turn, F.lit(12))
    months = F.array(*[F.lit(m) for m in
                       ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
                        "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]])
    mon = F.element_at(months, (mon_i + 1).cast("int"))
    day = F.lpad((F.pmod(turn, F.lit(28)) + 1).cast("string"), 2, "0")
    hh = F.lpad(F.pmod(turn, F.lit(24)).cast("string"), 2, "0")
    mi = F.lpad(F.pmod(turn * 3, F.lit(60)).cast("string"), 2, "0")
    ss = F.lpad(F.pmod(turn, F.lit(60)).cast("string"), 2, "0")
    host = F.concat(F.lit("h"), F.pmod(turn, F.lit(5)).cast("string"))
    prog = F.concat(F.lit("prog"), F.pmod(turn, F.lit(9)).cast("string"))
    line3 = F.concat(
        F.lit("<"), pri.cast("string"), F.lit(">"), mon, F.lit(" "), day,
        F.lit(" "), hh, F.lit(":"), mi, F.lit(":"), ss, F.lit(" "), host,
        F.lit(" "), prog,
        F.when(turn % 3 == 0,
               F.concat(F.lit("["), turn.cast("string"), F.lit("]"))
               ).otherwise(F.lit("")),
        F.lit(": "), tx,
    )
    sd = F.when(
        turn % 3 == 0,
        F.concat(F.lit('[meta a="'), turn.cast("string"), F.lit('" b="x"]')),
    ).otherwise(F.lit("-"))
    line5 = F.concat(
        F.lit("<"), pri.cast("string"), F.lit(">1 2024-"),
        F.lpad((mon_i + 1).cast("string"), 2, "0"), F.lit("-"), day,
        F.lit("T"), hh, F.lit(":"), mi, F.lit(":"), ss, F.lit("Z "), host,
        F.lit(" "), prog, F.lit(" "),
        F.when(turn % 5 == 0, F.lit("-")).otherwise(turn.cast("string")),
        F.lit(" mid"), F.pmod(turn, F.lit(7)).cast("string"), F.lit(" "),
        sd, F.lit(" "), tx,
    )
    line = F.when(turn % 13 == 0, F.concat(F.lit("garbage <x> "), tx)).when(
        turn % 2 == 0, line3
    ).otherwise(line5)
    fx = t.select("conv_id", "turn_idx", line.alias("line"))
    out = syslog_parse(fx, "line", mode="auto", default_year=2024)
    return out.select(
        "conv_id", "turn_idx", "_program_", "_priority_", "_facility_",
        "_severity_", "_unixtimestamp_", "_hostname_", "_content_",
        "_structured_data_", "_message_id_", "_process_id_",
    )


def _q_nginx_status(spark: SparkSession, sf: str) -> DataFrame:
    """nginx stub_status page parse (input_nginx.go:120-170;
    operators/nginx.py) over synthesized pages — every 11th page
    MALFORMED (all-NULL fields). Closed-form oracle: the parse must
    invert the page synthesis."""
    from ilogtail_spark.operators.nginx import nginx_status_parse

    t = derive_transcripts(spark, sf).select("conv_id", "turn_idx")
    turn = F.col("turn_idx")
    page = F.when(
        turn % 11 == 0, F.lit("<html>not a status page</html>")
    ).otherwise(
        F.concat(
            F.lit("Active connections: "), (turn % 100).cast("string"),
            F.lit(" \nserver accepts handled requests\n "),
            (turn * 31).cast("string"), F.lit(" "),
            (turn * 29).cast("string"), F.lit(" "),
            (turn * 53).cast("string"),
            F.lit(" \nReading: "), (turn % 7).cast("string"),
            F.lit(" Writing: "), (turn % 13).cast("string"),
            F.lit(" Waiting: "), (turn % 17).cast("string"),
            F.lit(" \n"),
        )
    )
    out = nginx_status_parse(
        t.select("conv_id", "turn_idx", page.alias("page")), "page"
    )
    return out.select(
        "conv_id", "turn_idx", "active", "accepts", "handled", "requests",
        "reading", "writing", "waiting",
    )


def _q_influx_decode(spark: SparkSession, sf: str) -> DataFrame:
    """InfluxDB line-protocol decode (service_http_server
    Format=influxdb; pkg/protocol/decoder/influxdb/decoder.go:159-222;
    operators/influx.py): each event synthesizes one line
    ``metric_<type>,host=h<k>,region=r<k> value=<x>.5,count=<n>i <ns>``
    → TWO logs per line (one per field): float value through the Go
    'g' formatter, int value with the ``i`` suffix stripped, labels
    sorted by key, 19-digit ns stamp verbatim, FieldsExtend type/field
    names + the db query-param tag. Closed-form oracle: the decode
    must exactly invert the synthesis (roundtrip convention of
    q89/q90/q91)."""
    from ilogtail_spark.operators.influx import influx_decode

    ev = load_table(spark, sf, "events")
    eid = F.col("event_id")
    line = F.concat(
        F.lit("metric_"), F.col("event_type"),
        F.lit(",host=h"), (eid % 5).cast("string"),
        F.lit(",region=r"), (eid % 3).cast("string"),
        F.lit(" value="), (eid % 100).cast("string"), F.lit(".5"),
        F.lit(",count="), (eid % 7).cast("string"), F.lit("i"),
        F.lit(" "), (F.lit(1700000000000000000) + eid).cast("string"),
    )
    out = influx_decode(
        ev.select(eid.alias("event_id"), line.alias("content")),
        "content", keep=["event_id"], fields_extend=True, db="mydb",
    )
    return out.select(
        "event_id",
        F.col("__name__").alias("name"),
        F.col("__labels__").alias("labels"),
        F.col("__time_nano__").alias("time_nano"),
        F.col("__type__").alias("vtype"),
        F.col("__field__").alias("field"),
        F.col("__value__").alias("value"),
        F.col("`__tag__:db`").alias("db_tag"),
    )


def _q_statsd_decode(spark: SparkSession, sf: str) -> DataFrame:
    """statsd/dogstatsd decode (pkg/protocol/decoder/statsd/decoder.go
    :44-64; operators/statsd.py): every 7th synthesized line is
    malformed (dropped), even ids carry a #tag term (sorted k#$#v
    labels), the rest emit one metric log each. Closed-form roundtrip
    oracle like q94."""
    from ilogtail_spark.operators.statsd import statsd_decode

    ev = load_table(spark, sf, "events")
    eid = F.col("event_id")
    mtype = F.when(eid % 3 == 0, "c").when(eid % 3 == 1, "g").otherwise("ms")
    line = F.when(eid % 7 == 0, F.lit("malformed line")).otherwise(
        F.concat(
            F.lit("stat_"), F.col("event_type"),
            F.lit(":"), (eid % 100).cast("string"), F.lit(".5|"), mtype,
            F.lit("|@0.5"),
            F.when(
                eid % 2 == 0,
                F.concat(
                    F.lit("|#host:h"), (eid % 5).cast("string"),
                    F.lit(",env:e"), (eid % 3).cast("string"),
                ),
            ).otherwise(F.lit("")),
        )
    )
    out = statsd_decode(
        ev.select(eid.alias("event_id"), line.alias("content")),
        "content", keep=["event_id"], default_now_ns=1700000000000000000,
    )
    return out.select(
        "event_id",
        F.col("__name__").alias("name"),
        F.col("__labels__").alias("labels"),
        F.col("__time_nano__").alias("time_nano"),
        F.col("__value__").alias("value"),
    )


def _q_strptime_native(spark: SparkSession, sf: str) -> DataFrame:
    """processor_parse_timestamp_native — the exact NetBSD-strptime
    engine (core/common/Strptime.cpp:83-533, TimeUtil.cpp:112-160;
    operators/strptime_native.py). Five input shapes per turn_idx%5:
    unpadded flexible-width wall clock + 6-digit %f + GMT+08:00 zone
    subtraction, '%d %b %y %H:%M' with trailing-junk zone name,
    13-digit epoch-millis under %s (first-10-digit second + fraction
    fold-in), 12-hour %I/%p, and a parse failure (row kept, NULL
    time). Oracle is the closed-form mktime arithmetic on the same
    event timestamps."""
    from ilogtail_spark.operators.strptime_native import parse_timestamp_native

    t = derive_transcripts(spark, sf)
    ts = F.col("ts").cast("timestamp")
    v = (F.col("turn_idx") % 5).alias("_v")
    micro = F.unix_micros(ts) % 1000000
    ms = F.unix_millis(ts)
    wall = F.concat(
        F.year(ts).cast("string"), F.lit("-"),
        F.month(ts).cast("string"), F.lit("-"),
        F.dayofmonth(ts).cast("string"), F.lit(" "),
        F.hour(ts).cast("string"), F.lit(":"),
        F.minute(ts).cast("string"), F.lit(":"),
        F.second(ts).cast("string"),
    )
    line = (
        F.when(v == 0,
               F.concat(wall, F.lit("."),
                        F.lpad(micro.cast("string"), 6, "0")))
        .when(v == 1,
              F.concat(F.date_format(ts, "d MMM yy H:mm"), F.lit(" MST")))
        .when(v == 2, ms.cast("string"))
        .when(v == 3, F.date_format(ts, "yyyy-MM-dd h:mm:ss a"))
        .otherwise(F.concat(F.lit("bad "), F.col("conv_id")))
    )
    base = t.select("conv_id", "turn_idx", v, line.alias("line"))
    plans = [
        (0, "%Y-%m-%d %H:%M:%S.%f", "GMT+08:00"),
        (1, "%d %b %y %H:%M", None),
        (2, "%s", None),
        (3, "%Y-%m-%d %I:%M:%S %p", None),
        (4, "%Y-%m-%d %H:%M:%S.%f", "GMT+08:00"),
    ]
    parts = [
        parse_timestamp_native(
            base.filter(F.col("_v") == i), "line", fmt,
            source_timezone=tz, discard_old=False,
        ).select("conv_id", "turn_idx", "log_sec", "log_nsec")
        for i, fmt, tz in plans
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _q_desensitize_native(spark: SparkSession, sf: str) -> DataFrame:
    """processor_desensitize_native — the C++ dialect
    (ProcessorDesensitizeNative.cpp:146-159,202-249): ReplacingAll
    default TRUE, first-only = RE2::Replace (one split-carve pass),
    md5 hex UPPERCASE (CalcMD5). Each row synthesizes a line with TWO
    `pwd=<secret>,` regions and runs one of the four method×mode
    combos by turn_idx%4; the oracle reconstructs the masked line in
    closed form from the same parts."""
    from ilogtail_spark.operators.registry import OPERATORS

    t = derive_transcripts(spark, sf)
    s1 = F.concat(F.substring("conv_id", 1, 7), F.lit("#$@"))
    s2 = F.concat(F.col("turn_idx").cast("string"), F.lit("f"))
    line = F.concat(
        F.lit("u="), F.col("conv_id"), F.lit(" pwd="), s1,
        F.lit(",k,pwd="), s2, F.lit(",end"),
    )
    base = t.select(
        "conv_id", "turn_idx",
        (F.col("turn_idx") % 4).alias("_v"), line.alias("line"),
    )
    combos = [
        (0, "const", False),
        (1, "const", True),
        (2, "md5", False),
        (3, "md5", True),
    ]
    parts = []
    for v, method, rall in combos:
        fn = OPERATORS["processor_desensitize_native"](
            SourceKey="line",
            Method=method,
            ReplacingString="********",
            ContentPatternBeforeReplacedString="pwd=",
            ReplacedContentPattern="[^,]+",
            ReplacingAll=rall,
        )
        parts.append(
            fn(base.filter(F.col("_v") == v)).select(
                "conv_id", "turn_idx", F.col("line").alias("masked")
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _q_filter_native(spark: SparkSession, sf: str) -> DataFrame:
    """processor_filter_regex_native EXACT dialect
    (ProcessorFilterNative.cpp:251-285): ConditionExp tree with FULL
    regex matches (boost::regex_match ≙ \\A(?:..)\\z anchoring ≙
    DuckDB regexp_full_match), strict binary and/or arity, missing/
    NULL key = false (so NOT over a NULL leaf keeps the row)."""
    from ilogtail_spark.operators.registry import OPERATORS

    leaf = lambda k, e: {"key": k, "exp": e, "type": "regex"}
    fn = OPERATORS["processor_filter_regex_native"](
        ConditionExp={
            "operator": "and",
            "operands": [
                {"operator": "or",
                 "operands": [leaf("role", "user|assistant"),
                              leaf("tool", "bash.*")]},
                {"operator": "not",
                 "operands": [leaf("text", r"[A-Z ]*")]},
            ],
        }
    )
    out = fn(derive_transcripts(spark, sf))
    return out.groupBy("role", "tool").agg(F.count(F.lit(1)).alias("n_rows"))


def _q_sls_metric_native(spark: SparkSession, sf: str) -> DataFrame:
    """processor_log_to_sls_metric EXACT converter
    (processor_log_to_sls_metric.go:172-336): role/tool label fields,
    a constructed name field, the text length as the float-parseable
    value string, and a MetricTimeKey that alternates 10-digit
    seconds / 13-digit millis / an invalid non-digit form (dropped)
    by turn_idx%3; labels merge an incoming __labels__ pair plus a
    custom label and sort by key. Oracle reconstructs every output
    column in closed form."""
    from ilogtail_spark.operators.transform import log_to_sls_metric_native

    t = derive_transcripts(spark, sf)
    ts = F.col("ts").cast("timestamp")
    v = F.col("turn_idx") % 3
    tk = (
        F.when(v == 0, F.unix_timestamp(ts).cast("string"))
        .when(v == 1, F.unix_millis(ts).cast("string"))
        .otherwise(F.concat(F.lit("x"), F.unix_timestamp(ts).cast("string")))
    )
    df = t.select(
        "role", "tool",
        F.concat(F.lit("m_"), F.col("tool")).alias("mname"),
        F.length("text").cast("string").alias("vstr"),
        tk.alias("tk"),
        F.lit("zone#$#eu").alias("__labels__"),
        "conv_id", "turn_idx",
    )
    out = log_to_sls_metric_native(
        df,
        metric_values={"mname": "vstr"},
        metric_label_keys=["role", "tool"],
        custom_metric_labels={"env": "prod"},
        metric_time_key="tk",
    )
    return out


def _q_prom_remote_write(spark: SparkSession, sf: str) -> DataFrame:
    """flusher_prometheus remote-write encode∘decode roundtrip
    (pkg/protocol/encoder/prometheus/utils.go:44-86;
    operators/pb.py:prom_remote_write_encode): synthesized metric rows
    batch into WriteRequests (one per 64-bucket group), travel as
    prompb wire bytes, decode back and explode — the closed-form
    oracle checks every label (sorted, empties dropped), sample value
    and ms timestamp survives the wire bit-for-bit."""
    from ilogtail_spark.common import md5_hash64
    from ilogtail_spark.operators.pb import (
        prom_remote_write_encode,
        prom_wr_to_json_udf,
    )

    t = derive_transcripts(spark, sf)
    turn = F.col("turn_idx")
    m = t.select(
        # batch key from THE shared hash primitive (CLAUDE.md: one
        # md5→int definition only); +turn stays under 2^63
        F.pmod(md5_hash64(F.col("conv_id")) + turn, F.lit(64)).alias("batch"),
        F.concat(F.lit("metric_"), F.pmod(turn, F.lit(4)).cast("string")).alias("mname"),
        (turn.cast("double") / F.lit(8.0)).alias("mval"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        F.concat(F.lit("h"), F.pmod(turn, F.lit(5)).cast("string")).alias("host"),
        F.col("tool"),
        # empty on %3 rows — the spec-mandated drop must bite
        F.when(turn % 3 == 0, F.lit("")).otherwise(
            F.concat(F.lit("n"), F.pmod(turn, F.lit(2)).cast("string"))
        ).alias("note"),
    )
    enc = prom_remote_write_encode(
        m, ["batch"], "mname", "mval", "ts_ms", ["host", "tool", "note"]
    )
    js = enc.withColumn("js", prom_wr_to_json_udf()(F.col("pb")))
    schema = (
        "timeseries array<struct<labels: array<struct<name:string,"
        "value:string>>, samples: array<struct<value:double,"
        "timestamp:bigint>>>>"
    )
    out = js.select(
        F.explode(F.from_json("js", schema)["timeseries"]).alias("s")
    )
    labels = F.col("s.labels")
    return out.select(
        F.element_at(
            F.filter(labels, lambda lb: lb["name"] == "__name__"), 1
        )["value"].alias("name"),
        F.to_json(labels).alias("labels_json"),
        F.element_at(F.col("s.samples"), 1)["value"].alias("value"),
        F.element_at(F.col("s.samples"), 1)["timestamp"].alias("ts_ms"),
    )


def _q_duplicated_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicated-passage detection at 8-token span resolution
    (functions/dedup.py:duplicated_spans — Lee et al. 2021 discretized
    to grams): a SHARED boilerplate passage planted on doc_id%7==0
    docs and a WITHIN-doc self-repeat (first 10 tokens re-appended) on
    doc_id%10==0 docs must both surface as covered duplicated tokens;
    untouched prose stays at dup_frac 0 (modulo genuine small-vocab
    collisions, which both engines count identically)."""
    from ilogtail_spark.functions.dedup import duplicated_spans

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    w = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    first10 = F.array_join(F.slice(w, 1, 10), " ")
    passage = (
        " shared boilerplate passage alpha beta gamma delta epsilon"
        " zeta eta theta iota"
    )
    text2 = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(passage)).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 10 == 0, F.concat(F.lit(" "), first10)
        ).otherwise(F.lit("")),
    )
    fx = docs.select("doc_id", text2.alias("text"))
    return duplicated_spans(fx, span_len=8)


def _q_context_pack(spark: SparkSession, sf: str) -> DataFrame:
    """aggregator_context pack lineage (operators/agg.py:
    context_pack_id — the PREFIX-HEXSEQ `__pack_id__` of
    util.go:371-384): per conversation, arrival-ordered packs of 4
    events, uppercase-hex prefix from the source identity and 1-based
    hex pack sequence — the exact shape the e2e LogContext verifier
    validates; now also oracle-gated."""
    from ilogtail_spark.operators.agg import context_pack_id

    t = derive_transcripts(spark, sf).select("conv_id", "turn_idx")
    out = context_pack_id(t, ("conv_id",), "turn_idx", max_events=4)
    return out.select("conv_id", "turn_idx", "__pack_id__")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's correctness harness snapshots the FIRST
    # 50 entries (CORRECTNESS_r02/r03 both stop at exactly 50 dict keys).
    # Round-5 rotation (VERDICT r4 item 2): q70/q71 lead to witness the
    # oracle HUGEINT-cast fix, then q08–q50 (last driver rows r03), then
    # the round-5-new q94–q99 (no prior row exists — never-checked
    # beats stale-checked, so q08, driver-green in both r02 and r03
    # and pytest-oracle-green every run, yields its head slot to q99).
    # q01–q07 + q08 + q51–q93 (all with r04 or r02+r03 driver rows)
    # rotate to the tail; pytest parity still runs for every query
    # each round. See BASELINE.md "Correctness artifact".
    head = {
        "q70_sequence_packing": _q_sequence_packing,
        "q71_curation_pipeline": _q_curation_pipeline,
        "q09_salted_agg": _q_salted_agg,
        "q10_topk_convs": _q_topk_convs,
        "q11_spl_chain": _q_spl_chain,
        "q12_json_parse": _q_json_parse,
        "q13_kv_parse": _q_kv_parse,
        "q14_csv_parse": _q_csv_parse,
        "q15_strptime": _q_strptime,
        "q16_desensitize": _q_desensitize,
        "q17_rate_limit": _q_rate_limit,
        "q18_hourly_histogram": _q_hourly_histogram,
        "q19_grok_parse": _q_grok,
        "q20_logstore_router": _q_logstore_router,
        "q21_dedup_exact": _q_dedup_exact,
        "q22_minhash_signature": _q_minhash_signature,
        "q23_ngram_jaccard_top": _q_ngram_jaccard_top,
        "q24_simhash": _q_simhash,
        "q25_doc_stats": _q_doc_stats,
        "q26_ann_topk": _q_ann_topk,
        "q27_ann_lsh": _q_ann_lsh,
        "q28_embedding_neardup": _q_embedding_neardup,
        "q29_multimodal_features": _q_multimodal,
        "q30_fields_with_condition": _q_fields_with_condition,
        "q31_multiline_merge": _q_multiline_merge,
        "q32_anchor": _q_anchor,
        "q33_gotime": _q_gotime,
        "q34_metric_pivot": _q_metric_pivot,
        "q35_encrypt_roundtrip": _q_encrypt_roundtrip,
        "q36_geoip_range": _q_geoip_range,
        "q37_time_filter": _q_time_filter,
        "q38_apsara_parse": _q_apsara_parse,
        "q39_split_roundtrip": _q_split_explode,
        "q40_config_pipeline": _q_config_pipeline,
        "q41_filter_tree": _q_filter_tree,
        "q42_dynamic_sink": _q_dynamic_sink,
        "q43_container_log": _q_container_log,
        "q44_multiline_end": _q_multiline_end,
        "q45_desensitize_md5": _q_desensitize_md5,
        "q46_dictmap_csv": _q_dictmap_csv,
        "q47_split_char_quoted": _q_split_char_quoted,
        "q48_transform_chain": _q_transform_chain,
        "q49_dedup_clusters": _q_dedup_clusters,
        "q50_ann_ivf": _q_ann_ivf,
        "q94_influx_decode": _q_influx_decode,
        "q95_statsd_decode": _q_statsd_decode,
        "q96_strptime_native": _q_strptime_native,
        "q97_desensitize_native": _q_desensitize_native,
        "q98_filter_native": _q_filter_native,
        "q99_sls_metric_native": _q_sls_metric_native,
    }
    tail = {
        "q08_tool_histogram": _q_tool_histogram,
        "q01_transcripts": _q_transcripts,
        "q02_parse_regex": _q_parse,
        "q03_parse_fail_by_role": _q_parse_fail_by_role,
        "q04_enrich_dictmap": _q_enrich,
        "q05_route_counts": _q_route_counts,
        "q06_routed_errors": _q_routed_errors,
        "q07_sink_aggregates": _q_sink_aggregates,
        "q51_asof_join": _q_asof_join,
        "q52_rolling_fp": _q_rolling_fingerprint,
        "q53_prom_relabel": _q_prom_relabel,
        "q54_hypertable_rollup": _q_hypertable_rollup,
        "q55_prom_parse": _q_prom_parse,
        "q56_sessionize": _q_sessionize,
        "q57_percentiles": _q_percentiles,
        "q58_spl_let_fanout": _q_spl_let_fanout,
        "q59_multiline_overlap": _q_multiline_overlap,
        "q60_geoip_config": _q_geoip_config,
        "q61_string_replace": _q_string_replace,
        "q62_group_info_filter": _q_group_info_filter,
        "q63_metadata_group": _q_metadata_group,
        "q64_filter_key_regex": _q_filter_key_regex,
        "q65_otel_trace": _q_otel_trace,
        "q66_otel_metric": _q_otel_metric,
        "q67_serializers": _q_serializers,
        "q68_decontaminate": _q_decontaminate,
        "q69_stratified_sample": _q_stratified_sample,
        "q72_split_log_regex": _q_split_log_regex,
        "q73_yaml_pipeline": _q_yaml_pipeline,
        "q74_repetition_stats": _q_repetition_stats,
        "q75_ann_recall": _q_ann_recall,
        "q76_sls_pb": _q_sls_pb,
        "q77_otel_trace_pb": _q_otel_trace_pb,
        "q78_otel_metric_pb": _q_otel_metric_pb,
        "q79_cdc_upsert": _q_cdc_upsert,
        "q80_paragraph_dedup": _q_paragraph_dedup,
        "q81_pii_scrub": _q_pii_scrub,
        "q82_classifier_score": _q_classifier_score,
        "q83_cdc_pack_values": _q_cdc_pack_values,
        "q84_domain_cap": _q_domain_cap,
        "q85_c4_filters": _q_c4_filters,
        "q86_semantic_dedup": _q_semantic_dedup,
        "q87_gopher_quality": _q_gopher_quality,
        "q88_dedup_recall": _q_dedup_recall,
        "q89_syslog_parse": _q_syslog_parse,
        "q90_nginx_status": _q_nginx_status,
        "q91_prom_remote_write": _q_prom_remote_write,
        "q92_duplicated_spans": _q_duplicated_spans,
        "q93_context_pack": _q_context_pack,
    }
    return {**head, **tail}


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------

# shared shingle CTE (documents → distinct word-3-gram sets), the DuckDB
# twin of functions/dedup.py::word_shingles
_SHINGLES_CTE = r"""
WITH _w AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents
), sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(w) >= 3
      THEN list_transform(range(len(w)-2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
      ELSE [array_to_string(w, ' ')] END) AS sh
  FROM _w
)
"""


def _simhash_oracle() -> str:
    sums = ",\n    ".join(
        f"sum(CASE WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(60)
    )
    bits = " + ".join(
        f"CASE WHEN b{i} > 0 THEN CAST({2**i} AS BIGINT) ELSE 0 END"
        for i in range(60)
    )
    return (
        _SHINGLES_CTE
        + f""",
_g AS (SELECT doc_id, unnest(sh) AS gram FROM sh),
_h AS (SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS hv FROM _g),
_s AS (SELECT doc_id, {sums} FROM _h GROUP BY doc_id)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM _s"""
    )


def _doc_stats_oracle() -> str:
    from ilogtail_spark.functions.textstats import LANG_MARKERS, STOPWORDS_EN

    def hits(words):
        return " + ".join(
            rf"CASE WHEN regexp_matches(lower(text), '\b{w}\b') THEN 1 ELSE 0 END"
            for w in words
        )

    lang_scores = ",\n    ".join(
        f"({hits(ws)}) AS s_{lang}" for lang, ws in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS.keys())
    gmax = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    lang_case = (
        f"CASE WHEN {gmax} <= 0 THEN 'unk' "
        + " ".join(f"WHEN s_{lang} = {gmax} THEN '{lang}'" for lang in langs)
        + " END"
    )
    return rf"""
WITH _b AS (
  SELECT doc_id, text,
    CASE WHEN length(text) = 0 THEN 0.0
         ELSE length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / length(text)
    END AS praw,
    ({hits(STOPWORDS_EN)}) AS stop_hits,
    {lang_scores}
  FROM documents
)
SELECT doc_id,
  CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) END AS n_tokens,
  CAST(len(regexp_extract_all(text, '(\w+|[^\w\s])')) AS INTEGER) AS n_tokens_bpe,
  round(praw, 6) AS punct_ratio,
  round((
      (CASE WHEN length(text) BETWEEN 50 AND 20000 THEN 1.0
            WHEN length(text) > 0 THEN 0.5 ELSE 0.0 END)
    + (CASE WHEN praw <= 0.2 THEN 1.0 ELSE 0.0 END)
    + least(stop_hits / 5.0, 1.0)
  ) / 3.0, 6) AS quality,
  {lang_case} AS lang_guess,
  ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp64
FROM _b"""


_EMB_DIM = 64  # embeddings.parquet vector dimension (TESTDATA.md)


def _lsh_bucket_sql(
    vec: str, num_planes: int, dim: int = _EMB_DIM, plane_offset: int = 0
) -> str:
    """DuckDB twin of similarity.lsh_sign_bucket: md5-derived plane
    constants inlined as literals; projections as explicit
    left-associative sums so the double arithmetic matches Spark's
    F.aggregate fold bit-for-bit (sign decisions can't diverge)."""
    from ilogtail_spark.functions.similarity import _hyperplane

    terms = []
    for p in range(num_planes):
        plane = _hyperplane(dim, plane_offset + p)
        proj = "0.0 + " + " + ".join(
            f"({vec}[{j + 1}] * {plane[j]!r})" for j in range(dim)
        )
        terms.append(f"(CASE WHEN ({proj}) > 0 THEN {2 ** p} ELSE 0 END)")
    return " + ".join(terms)


def _dot_sql(a: str, b: str, dim: int = _EMB_DIM) -> str:
    return "0.0 + " + " + ".join(f"({a}[{j + 1}] * {b}[{j + 1}])" for j in range(dim))


def _cos_sql(a: str, b: str) -> str:
    return (
        f"round(({_dot_sql(a, b)}) / "
        f"(sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})), 6)"
    )


def _ann_ivf_oracle(n_centroids: int = 16, n_probe: int = 4) -> str:
    """DuckDB twin of similarity.ivf_topk: same deterministic
    quantizer (vec_id < n_centroids), same rounded-cosine ranking and
    cid tie-break, explicit left-assoc double sums."""
    return f"""
        WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             cents AS (SELECT vec_id AS cid, v AS cv FROM c
                       WHERE vec_id < {n_centroids}),
             ca AS (SELECT a.vec_id, a.v, ct.cid,
                           {_cos_sql('a.v', 'ct.cv')} AS ccos
                    FROM c a CROSS JOIN cents ct),
             cr AS (SELECT *, row_number() OVER (
                      PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
                    FROM ca),
             cells AS (SELECT vec_id AS neighbor_id, v AS cvec, cid
                       FROM cr WHERE rn = 1),
             probes AS (SELECT vec_id AS query_id, v AS qvec, cid
                        FROM cr WHERE vec_id < 5 AND rn <= {n_probe}),
             s AS (SELECT p.query_id, cl.neighbor_id,
                          {_cos_sql('p.qvec', 'cl.cvec')} AS cos
                   FROM probes p JOIN cells cl USING (cid)
                   WHERE cl.neighbor_id <> p.query_id),
             r AS (SELECT *, row_number() OVER (
                     PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
                   FROM s)
        SELECT query_id, neighbor_id, cos, CAST(rn AS INTEGER) AS rank
        FROM r WHERE rn <= 10"""


def _ann_lsh_oracle() -> str:
    return f"""
        WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             cb AS (SELECT vec_id AS neighbor_id, v AS cv,
                           ({_lsh_bucket_sql('v', 6)}) AS bucket FROM c),
             qb AS (SELECT vec_id AS query_id, v AS qv,
                           ({_lsh_bucket_sql('v', 6)}) AS bucket FROM c
                    WHERE vec_id < 5),
             s AS (SELECT query_id, neighbor_id, {_cos_sql('qv', 'cv')} AS cos
                   FROM qb JOIN cb USING (bucket)
                   WHERE neighbor_id <> query_id),
             r AS (SELECT *, row_number() OVER (
                     PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
                   FROM s)
        SELECT query_id, neighbor_id, cos, CAST(rn AS INTEGER) AS rank
        FROM r WHERE rn <= 10"""


def _neardup_oracle(num_planes: int = 6, bands: int = 2) -> str:
    """Twin of the BANDED embedding_neardup_pairs: per-band buckets
    from independent plane sets (plane_offset = band*num_planes),
    candidates = union of band collisions, deduped, exact cosine."""
    band_joins = "\n          UNION ALL\n".join(
        f"""          SELECT a.vec_id AS id_a, b2.vec_id AS id_b
          FROM b a JOIN b b2
            ON a.bkt{bi} = b2.bkt{bi} AND a.vec_id < b2.vec_id"""
        for bi in range(bands)
    )
    bkt_cols = ", ".join(
        f"({_lsh_bucket_sql('v', num_planes, plane_offset=bi * num_planes)}) AS bkt{bi}"
        for bi in range(bands)
    )
    return f"""
        WITH aug AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          UNION ALL
          SELECT vec_id + 100000,
                 (list_transform(embedding,
                    x -> CAST(CAST(x AS DOUBLE) * 1.5 AS FLOAT)))::DOUBLE[]
          FROM embeddings WHERE vec_id < 20),
        b AS (SELECT vec_id, v, {bkt_cols} FROM aug),
        cand AS (SELECT DISTINCT id_a, id_b FROM (
{band_joins}
        )),
        pairs AS (
          SELECT c.id_a, c.id_b, {_cos_sql('va.v', 'vb.v')} AS cos
          FROM cand c
          JOIN b va ON va.vec_id = c.id_a
          JOIN b vb ON vb.vec_id = c.id_b)
        SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.99"""


_GROK_PAT = (
    r'invoke tool=(\w+) status=([+-]?\d+) latency_ms=([+-]?\d+)'
    r' "(\w+) (\S+)" err=(\S+)'
)
_GROK_PAT2 = (
    r"the assistant considered (\S+) and replied with plain prose turn ([+-]?\d+)"
)


_Q26_SQL = """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 5),
                 c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
                       FROM embeddings),
                 s AS (SELECT query_id, neighbor_id,
                              round(list_dot_product(qv, cv)
                                    / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cos
                       FROM q CROSS JOIN c WHERE neighbor_id <> query_id),
                 r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
                       FROM s)
            SELECT query_id, neighbor_id, cos, CAST(rn AS INTEGER) AS rank
            FROM r WHERE rn <= 10"""


def oracle_sql() -> dict[str, str]:
    d = {
        "q01_transcripts": TRANSCRIPTS_CTE
        + "SELECT conv_id, turn_idx, role, text, tool, ts FROM transcripts",
        "q02_parse_regex": PARSED_CTE
        + """SELECT conv_id, turn_idx, parse_ok, tool_call, status, latency_ms,
                    method, url, err, raw_log FROM parsed""",
        "q03_parse_fail_by_role": PARSED_CTE
        + """SELECT role, CAST(count(*) AS BIGINT) AS n_total,
                    CAST(sum(CASE WHEN NOT parse_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_fail
             FROM parsed GROUP BY role""",
        "q04_enrich_dictmap": ENRICHED_CTE
        + "SELECT conv_id, turn_idx, role, role_class, tool, tool_family FROM enriched",
        "q05_route_counts": ROUTED_CTE
        + "SELECT sink, CAST(count(*) AS BIGINT) AS n_rows FROM routed GROUP BY sink",
        "q06_routed_errors": ROUTED_CTE
        + """SELECT conv_id, turn_idx, text, status, err FROM routed
             WHERE sink = 'sink_errors'""",
        "q07_sink_aggregates": ROUTED_CTE
        + """SELECT sink, CAST(count(*) AS BIGINT) AS n_turns,
                    CAST(sum(CASE WHEN NOT parse_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_parse_fail
             FROM routed GROUP BY sink""",
        "q08_tool_histogram": ROUTED_CTE
        + """SELECT date_trunc('hour', ts) AS bucket, sink, tool_call,
                    CAST(count(*) AS BIGINT) AS n_events
             FROM routed WHERE parse_ok GROUP BY 1, 2, 3""",
        "q09_salted_agg": PARSED_CTE
        + """SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
                    CAST(count(tool_call) AS BIGINT) AS n_parsed,
                    max(latency_ms) AS max_latency
             FROM parsed GROUP BY conv_id""",
        "q10_topk_convs": TRANSCRIPTS_CTE
        + """SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns FROM transcripts
             GROUP BY conv_id ORDER BY n_turns DESC, conv_id LIMIT 10""",
        "q11_spl_chain": PARSED_CTE
        + """SELECT conv_id, turn_idx, status, latency_ms,
                    CASE WHEN latency_ms < 100 THEN 'fast'
                         WHEN latency_ms < 1000 THEN 'medium'
                         ELSE 'slow' END AS lat_bucket,
                    strptime(CAST(CAST(ts AS DATE) AS VARCHAR), '%Y-%m-%d') AS day,
                    epoch(ts) AS epoch_s
             FROM parsed WHERE role = 'assistant' AND parse_ok""",
        "q12_json_parse": """
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
                   CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
            FROM events GROUP BY event_type""",
        "q13_kv_parse": """
            SELECT event_id, user_id AS kv_user, event_type AS kv_type,
                   event_id AS kv_id
            FROM events""",
        "q14_csv_parse": """
            SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
                   l_returnflag AS returnflag, l_linestatus AS linestatus
            FROM lineitem""",
        "q15_strptime": """
            SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
                   date_trunc('second', ts) AS parsed_ts
            FROM events""",
        "q16_desensitize": TRANSCRIPTS_CTE
        + """SELECT conv_id, turn_idx,
                    regexp_replace(text, '(latency_ms=)\\d+', '\\1***', 'g') AS masked,
                    md5(regexp_replace(text, '(latency_ms=)\\d+', '\\1***', 'g')) AS text_md5
             FROM transcripts""",
        "q17_rate_limit": TRANSCRIPTS_CTE
        + """SELECT conv_id, turn_idx, role FROM (
               SELECT conv_id, turn_idx, role,
                      row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
               FROM transcripts) WHERE rn <= 3""",
        "q18_hourly_histogram": TRANSCRIPTS_CTE
        + """SELECT date_trunc('hour', ts) AS bucket, tool,
                    CAST(count(*) AS BIGINT) AS n_events
             FROM transcripts GROUP BY 1, 2""",
        "q19_grok_parse": TRANSCRIPTS_CTE
        + f"""SELECT conv_id, turn_idx,
                    regexp_matches(text, '{_GROK_PAT}') OR regexp_matches(text, '{_GROK_PAT2}') AS parse_ok,
                    CASE WHEN regexp_matches(text, '{_GROK_PAT}') THEN regexp_extract(text, '{_GROK_PAT}', 1) END AS g_tool,
                    CASE WHEN regexp_matches(text, '{_GROK_PAT}') THEN CAST(regexp_extract(text, '{_GROK_PAT}', 2) AS INTEGER) END AS g_status,
                    CASE WHEN regexp_matches(text, '{_GROK_PAT}') THEN CAST(regexp_extract(text, '{_GROK_PAT}', 3) AS INTEGER) END AS g_lat,
                    CASE WHEN regexp_matches(text, '{_GROK_PAT}') THEN regexp_extract(text, '{_GROK_PAT}', 4) END AS g_method,
                    CASE WHEN regexp_matches(text, '{_GROK_PAT}') THEN regexp_extract(text, '{_GROK_PAT}', 5) END AS g_url,
                    CASE WHEN regexp_matches(text, '{_GROK_PAT}') THEN regexp_extract(text, '{_GROK_PAT}', 6) END AS g_err,
                    CASE WHEN NOT regexp_matches(text, '{_GROK_PAT}') AND regexp_matches(text, '{_GROK_PAT2}') THEN regexp_extract(text, '{_GROK_PAT2}', 1) END AS g_topic,
                    CASE WHEN NOT regexp_matches(text, '{_GROK_PAT}') AND regexp_matches(text, '{_GROK_PAT2}') THEN CAST(regexp_extract(text, '{_GROK_PAT2}', 2) AS INTEGER) END AS g_turn
             FROM transcripts""",
        "q20_logstore_router": PARSED_CTE
        + r"""SELECT CASE
                WHEN url IS NOT NULL AND regexp_matches(url, '^(?:/api/v1/.*)$') THEN 'store_v1'
                WHEN url IS NOT NULL AND regexp_matches(url, '^(?:/api/v2/.*)$') THEN 'store_v2'
                ELSE 'store_other' END AS sink,
              CAST(count(*) AS BIGINT) AS n_rows
             FROM parsed GROUP BY 1""",
        "q21_dedup_exact": """
            SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
                   CAST(count(*) AS BIGINT) AS n_copies
            FROM documents GROUP BY 1""",
        "q22_minhash_signature": _SHINGLES_CTE
        + "SELECT doc_id, "
        + ", ".join(
            f"list_min(list_transform(sh, s -> ('0x' || substr(md5('{i}:' || s), 1, 15)::VARCHAR)::BIGINT)) AS m{i}"
            for i in range(8)
        )
        + " FROM sh",
        # mirrors the Spark construction structurally: inverted index
        # with the max_doc_freq=100 hot-gram cap (set sizes from the
        # UNCAPPED shingle sets, like the operator)
        "q23_ngram_jaccard_top": _SHINGLES_CTE
        + """, inv AS (
              SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM sh),
           keepg AS (SELECT g FROM inv GROUP BY g HAVING count(*) <= 100),
           invf AS (SELECT inv.doc_id, inv.n, inv.g FROM inv JOIN keepg USING (g)),
           pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     round(count(*) / (a.n + b.n - count(*)), 6) AS jaccard
              FROM invf a JOIN invf b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id, a.n, b.n
           )
           SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.3
           ORDER BY jaccard DESC, id_a, id_b LIMIT 20""",
        "q24_simhash": _simhash_oracle(),
        "q25_doc_stats": _doc_stats_oracle(),
        "q26_ann_topk": _Q26_SQL,
        # q27/q28/q50: deterministic LSH/IVF — exact oracles with
        # inlined constants and left-assoc double sums.
        # q29: the decode STUB's deterministic fake features are
        # byte-arithmetic (fixture text is pure ASCII), so even the
        # mapInPandas plumbing is value-checked; a real codec would
        # revert this to rows-only.
        "q29_multimodal_features": """
            WITH f AS (
              SELECT doc_id, 'image/fake' AS media_type,
                     CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                     CAST(COALESCE(list_sum(list_transform(
                            range(least(length(text), 256)),
                            i -> ascii(substr(text, i + 1, 1)))), 0) % 65521
                          AS BIGINT) AS checksum
              FROM documents)
            SELECT doc_id, media_type, n_bytes, checksum,
                   CAST(checksum % 640 + 1 AS INTEGER) AS width,
                   CAST(checksum % 480 + 1 AS INTEGER) AS height
            FROM f""",
        "q27_ann_lsh": _ann_lsh_oracle(),
        "q50_ann_ivf": _ann_ivf_oracle(),
        # q86: SemDeDup — clustering + integer-quantized centroid
        # update + within-cluster prune, exact twin
        "q86_semantic_dedup": _semantic_dedup_oracle(),
        # q88: LSH recall S-curve vs exact-Jaccard truth
        "q88_dedup_recall": _dedup_recall_oracle(),
        # q93: pack lineage — PREFIX-HEXSEQ closed form
        "q93_context_pack": TRANSCRIPTS_CTE
        + """
           SELECT conv_id, turn_idx,
                  upper(substr(md5(conv_id), 1, 16)) || '-' ||
                  upper(to_hex(CAST(floor(
                    (row_number() OVER (PARTITION BY conv_id
                                        ORDER BY turn_idx) - 1) / 4)
                    + 1 AS BIGINT))) AS __pack_id__
           FROM transcripts""",
        # q94: influx line-protocol decode roundtrip — the closed form
        # of the synthesized lines (one row per FIELD: the float
        # 'value' leg always carries a .5 fraction so Go-'g' == the
        # literal concatenation; the int 'count' leg drops the i
        # suffix); labels sorted (host < region lexicographically)
        "q94_influx_decode": """
           WITH u AS (
             SELECT event_id,
                    'metric_' || event_type AS m,
                    'host#$#h' || CAST(event_id % 5 AS VARCHAR)
                      || '|region#$#r' || CAST(event_id % 3 AS VARCHAR)
                      AS labels,
                    CAST(1700000000000000000 + event_id AS VARCHAR)
                      AS time_nano
             FROM events)
           SELECT event_id, m AS name, labels, time_nano,
                  'float' AS vtype, 'value' AS field,
                  CAST(event_id % 100 AS VARCHAR) || '.5' AS value,
                  'mydb' AS db_tag
           FROM u
           UNION ALL
           SELECT event_id, m || ':count', labels, time_nano,
                  'int', 'count', CAST(event_id % 7 AS VARCHAR), 'mydb'
           FROM u""",
        # q95: statsd decode roundtrip — closed form of the synthesized
        # lines (every 7th malformed -> dropped; even ids carry tags,
        # sorted env < host; the float value always has a .5 fraction)
        "q95_statsd_decode": """
           SELECT event_id,
                  'stat_' || event_type AS name,
                  CASE WHEN event_id % 2 = 0
                       THEN 'env#$#e' || CAST(event_id % 3 AS VARCHAR)
                            || '|host#$#h' || CAST(event_id % 5 AS VARCHAR)
                       ELSE '' END AS labels,
                  '1700000000000000000' AS time_nano,
                  CAST(event_id % 100 AS VARCHAR) || '.5' AS value
           FROM events WHERE event_id % 7 <> 0""",
        # q96: the strptime-native engine's outputs are closed-form
        # mktime arithmetic on the same event timestamps (variant by
        # turn_idx%5; v4 is the kept-but-unparsed row). ts is parsed
        # from a naive wall clock under the pinned-UTC session, so
        # floor(epoch(ts)) IS the mktime value; GMT+08:00 subtracts
        # 28800 on v0; %s folds epoch-millis digits 11-13 into nsec.
        "q96_strptime_native": TRANSCRIPTS_CTE
        + """
           , b AS (
              SELECT conv_id, turn_idx,
                     turn_idx % 5 AS v,
                     CAST(floor(epoch(ts)) AS BIGINT) AS ep,
                     epoch_ms(ts) AS ms,
                     epoch_us(ts) % 1000000 AS us
              FROM transcripts)
           SELECT conv_id, turn_idx,
                  CASE v WHEN 0 THEN ep - 28800
                         WHEN 1 THEN ep - (ep % 60)
                         WHEN 2 THEN CAST(ms // 1000 AS BIGINT)
                         WHEN 3 THEN ep
                         ELSE NULL END AS log_sec,
                  CASE v WHEN 0 THEN us * 1000
                         WHEN 1 THEN 0
                         WHEN 2 THEN CAST((ms % 1000) * 1000000 AS BIGINT)
                         WHEN 3 THEN 0
                         ELSE NULL END AS log_nsec
           FROM b""",
        # q97: the masked line reconstructed in closed form from the
        # same synthesized parts — region 1 (secret s1) masks on every
        # variant except that md5 first-only/all hash it uppercase;
        # region 2 (s2) survives on the first-only variants (v0/v2).
        "q97_desensitize_native": TRANSCRIPTS_CTE
        + """
           , b AS (
              SELECT conv_id, turn_idx, turn_idx % 4 AS v,
                     substr(conv_id, 1, 7) || '#$@' AS s1,
                     CAST(turn_idx AS VARCHAR) || 'f' AS s2
              FROM transcripts)
           SELECT conv_id, turn_idx,
                  'u=' || conv_id || ' pwd=' ||
                  CASE WHEN v <= 1 THEN '********'
                       ELSE upper(md5(s1)) END ||
                  ',k,pwd=' ||
                  CASE WHEN v = 0 THEN s2
                       WHEN v = 1 THEN '********'
                       WHEN v = 2 THEN s2
                       ELSE upper(md5(s2)) END ||
                  ',end' AS masked
           FROM b""",
        # q98: full-match leaves == regexp_full_match; NULL leaves
        # coalesce to false so NOT over them keeps the row, exactly
        # the missing-key contract
        "q98_filter_native": TRANSCRIPTS_CTE
        + r"""
           SELECT role, tool, count(*) AS n_rows
           FROM transcripts
           WHERE (coalesce(regexp_full_match(role, 'user|assistant'), false)
                  OR coalesce(regexp_full_match(tool, 'bash.*'), false))
             AND NOT coalesce(regexp_full_match(text, '[A-Z ]*'), false)
           GROUP BY role, tool""",
        # q99: every output column reconstructed in closed form —
        # labels sort env<role<tool<zone; the time key pads to 19
        # digits; the v=2 (non-digit time) rows and any NULL
        # label/name/value rows drop exactly like the operator
        "q99_sls_metric_native": TRANSCRIPTS_CTE
        + """
           , b AS (
              SELECT role, tool,
                     'm_' || tool AS mname,
                     CAST(length(text) AS VARCHAR) AS vstr,
                     turn_idx % 3 AS v,
                     CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR) AS sec_s,
                     CAST(epoch_ms(ts) AS VARCHAR) AS ms_s
              FROM transcripts)
           SELECT 'env#$#prod|role#$#' || role || '|tool#$#' || tool
                    || '|zone#$#eu' AS "__labels__",
                  mname AS "__name__",
                  vstr AS "__value__",
                  CASE WHEN v = 0 THEN sec_s || '000000000'
                       ELSE ms_s || '000000' END AS "__time_nano__"
           FROM b
           WHERE v < 2 AND role IS NOT NULL AND tool IS NOT NULL
             AND vstr IS NOT NULL
             AND regexp_full_match(mname, '[a-zA-Z_:][a-zA-Z0-9_:]*')
             AND NOT contains(role, '|') AND NOT contains(role, '#$#')
             AND NOT contains(tool, '|') AND NOT contains(tool, '#$#')
             AND ((v = 0 AND length(sec_s) = 10)
                  OR (v = 1 AND length(ms_s) = 13))""",
        # q92: duplicated spans — same gram index + interval-union
        # (the fold becomes a running-max window), exact integers;
        # oracle positions are 1-based vs Spark's 0-based posexplode,
        # union LENGTH is shift-invariant
        "q92_duplicated_spans": r"""
           WITH fx AS (
             SELECT doc_id,
                    text
                    || CASE WHEN doc_id % 7 = 0
                            THEN ' shared boilerplate passage alpha beta'
                                 || ' gamma delta epsilon zeta eta theta iota'
                            ELSE '' END
                    || CASE WHEN doc_id % 10 = 0
                            THEN ' ' || array_to_string(
                              regexp_split_to_array(
                                lower(trim(text)), '\s+')[1:10], ' ')
                            ELSE '' END AS text
             FROM documents),
           t AS (SELECT doc_id,
                        regexp_split_to_array(lower(trim(text)), '\s+') AS w
                 FROM fx),
           g AS (SELECT doc_id, len(w) AS n,
                        unnest(list_transform(
                          generate_series(1, len(w) - 7), i ->
                          {'pos': i,
                           'h': ('0x' || substr(md5(
                              array_to_string(w[i:i+7], ' ')), 1, 15))::BIGINT}
                        )) AS u
                 FROM t),
           p AS (SELECT doc_id, n, u.pos AS pos, u.h AS h FROM g),
           d AS (SELECT h FROM p GROUP BY h HAVING count(*) > 1),
           m AS (SELECT p.doc_id, p.n, p.pos FROM p JOIN d USING (h)),
           c AS (SELECT doc_id, n, pos,
                        max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS cov
                 FROM m),
           s AS (SELECT doc_id,
                        SUM(greatest(pos + 8
                              - greatest(pos, coalesce(cov, 0)), 0)) AS dup
                 FROM c GROUP BY doc_id)
           SELECT t.doc_id,
                  CAST(len(t.w) AS INTEGER) AS n_tokens,
                  CAST(coalesce(s.dup, 0) AS BIGINT) AS dup_tokens,
                  round(CAST(coalesce(s.dup, 0) AS DOUBLE)
                        / CAST(len(t.w) AS DOUBLE), 6) AS dup_frac
           FROM t LEFT JOIN s USING (doc_id)""",
        # q91: closed-form prom remote-write twin — labels sorted
        # ('__name__' < 'host' < 'note' < 'tool'), empties dropped,
        # dyadic double values + int64 ms survive the wire exactly
        "q91_prom_remote_write": TRANSCRIPTS_CTE
        + """
           SELECT 'metric_' || CAST(turn_idx % 4 AS VARCHAR) AS name,
                  '[{"name":"__name__","value":'
                  || to_json('metric_' || CAST(turn_idx % 4 AS VARCHAR))
                  || '},{"name":"host","value":'
                  || to_json('h' || CAST(turn_idx % 5 AS VARCHAR)) || '}'
                  || CASE WHEN turn_idx % 3 <> 0
                          THEN ',{"name":"note","value":'
                               || to_json('n' || CAST(turn_idx % 2 AS VARCHAR))
                               || '}'
                          ELSE '' END
                  || CASE WHEN tool IS NOT NULL AND tool <> ''
                          THEN ',{"name":"tool","value":' || to_json(tool)
                               || '}'
                          ELSE '' END
                  || ']' AS labels_json,
                  CAST(turn_idx AS DOUBLE) / 8.0 AS value,
                  epoch_ms(ts) AS ts_ms
           FROM transcripts""",
        # q90: closed-form nginx stub_status twin
        "q90_nginx_status": TRANSCRIPTS_CTE
        + """
           SELECT conv_id, turn_idx,
                  CASE WHEN turn_idx % 11 = 0 THEN NULL
                       ELSE CAST(turn_idx % 100 AS VARCHAR) END AS active,
                  CASE WHEN turn_idx % 11 = 0 THEN NULL
                       ELSE CAST(turn_idx * 31 AS VARCHAR) END AS accepts,
                  CASE WHEN turn_idx % 11 = 0 THEN NULL
                       ELSE CAST(turn_idx * 29 AS VARCHAR) END AS handled,
                  CASE WHEN turn_idx % 11 = 0 THEN NULL
                       ELSE CAST(turn_idx * 53 AS VARCHAR) END AS requests,
                  CASE WHEN turn_idx % 11 = 0 THEN NULL
                       ELSE CAST(turn_idx % 7 AS VARCHAR) END AS reading,
                  CASE WHEN turn_idx % 11 = 0 THEN NULL
                       ELSE CAST(turn_idx % 13 AS VARCHAR) END AS writing,
                  CASE WHEN turn_idx % 11 = 0 THEN NULL
                       ELSE CAST(turn_idx % 17 AS VARCHAR) END AS waiting
           FROM transcripts""",
        # q89: closed-form syslog twin — the parse must invert the
        # line synthesis field-for-field
        "q89_syslog_parse": TRANSCRIPTS_CTE
        + r""",
           fx AS (
             SELECT conv_id, turn_idx,
                    regexp_replace(text, '[\r\n]', ' ', 'g') AS tx,
                    (turn_idx * 7 + 3) % 192 AS pri,
                    (turn_idx % 12) + 1 AS mon,
                    (turn_idx % 28) + 1 AS day,
                    turn_idx % 24 AS hh,
                    (turn_idx * 3) % 60 AS mi,
                    turn_idx % 60 AS ss
             FROM transcripts)
           SELECT conv_id, turn_idx,
                  CASE WHEN turn_idx % 13 = 0 THEN ''
                       ELSE 'prog' || CAST(turn_idx % 9 AS VARCHAR)
                  END AS _program_,
                  CAST(CASE WHEN turn_idx % 13 = 0 THEN -1 ELSE pri END
                       AS INTEGER) AS _priority_,
                  CAST(CASE WHEN turn_idx % 13 = 0 THEN -1
                            ELSE CAST(floor(pri / 8) AS INTEGER)
                       END AS INTEGER) AS _facility_,
                  CAST(CASE WHEN turn_idx % 13 = 0 THEN -1 ELSE pri % 8 END
                       AS INTEGER) AS _severity_,
                  CASE WHEN turn_idx % 13 = 0 THEN NULL
                       ELSE CAST(epoch_us(make_timestamp(
                              2024, mon, day, hh, mi, ss)) * 1000 AS VARCHAR)
                  END AS _unixtimestamp_,
                  CASE WHEN turn_idx % 13 = 0 THEN NULL
                       ELSE 'h' || CAST(turn_idx % 5 AS VARCHAR)
                  END AS _hostname_,
                  CASE WHEN turn_idx % 13 = 0 THEN 'garbage <x> ' || tx
                       ELSE tx END AS _content_,
                  CASE WHEN turn_idx % 13 <> 0 AND turn_idx % 2 = 1
                            AND turn_idx % 3 = 0
                       THEN '{"meta":{"a":"' || CAST(turn_idx AS VARCHAR)
                            || '","b":"x"}}'
                  END AS _structured_data_,
                  CASE WHEN turn_idx % 13 <> 0 AND turn_idx % 2 = 1
                       THEN 'mid' || CAST(turn_idx % 7 AS VARCHAR)
                  END AS _message_id_,
                  CASE WHEN turn_idx % 13 <> 0 AND turn_idx % 2 = 1
                            AND turn_idx % 5 <> 0
                       THEN CAST(turn_idx AS VARCHAR)
                  END AS _process_id_
           FROM fx""",
        # q87: Gopher doc-quality rules — every metric an exact
        # integer count or one exact-integer division; keep computed
        # on the UNROUNDED doubles in both engines
        "q87_gopher_quality": r"""
           WITH fx0 AS (
             SELECT doc_id,
                    string_split(regexp_replace(text,
                        '((?:\S+ ){11}\S+) ', '\1' || chr(10), 'g'),
                        chr(10)) AS l
             FROM documents),
           fx1 AS (
             SELECT doc_id,
                    list_transform(generate_series(1, len(l)), i ->
                      CASE WHEN doc_id % 5 = 0 THEN '- ' ELSE '' END
                      || l[i]
                      || CASE WHEN (doc_id + (i-1)) % 6 = 0
                              THEN '...' ELSE '' END) AS pl
             FROM fx0),
           fx AS (
             SELECT doc_id,
                    array_to_string(pl, chr(10))
                    || CASE WHEN doc_id % 3 = 0
                            THEN ' of that with' ELSE '' END
                    || CASE WHEN doc_id % 7 = 0
                            THEN ' # ## ###' ELSE '' END AS text
             FROM fx1),
           m AS (
             SELECT doc_id,
                    regexp_split_to_array(trim(text), '\s+') AS words,
                    string_split(text, chr(10)) AS lines,
                    len(text) - len(replace(text, '#', '')) AS n_hash,
                    (len(text) - len(replace(text, '...', ''))) / 3 AS n_ell
             FROM fx),
           c AS (
             SELECT doc_id,
                    len(words) AS n_words,
                    len(lines) AS n_lines,
                    list_reduce(list_prepend(0::BIGINT,
                      list_transform(words, w -> CAST(len(w) AS BIGINT))),
                      (a, b) -> a + b) AS sum_len,
                    n_hash, n_ell,
                    len(list_filter(lines,
                      x -> substr(x, 1, 2) = '- ' OR substr(x, 1, 1) = '•'))
                      AS n_bul,
                    len(list_filter(lines,
                      x -> right(x, 3) = '...')) AS n_ell_lines,
                    len(list_filter(words,
                      x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
                    CAST(list_contains(words, 'and') AS INTEGER)
                    + CAST(list_contains(words, 'be') AS INTEGER)
                    + CAST(list_contains(words, 'have') AS INTEGER)
                    + CAST(list_contains(words, 'of') AS INTEGER)
                    + CAST(list_contains(words, 'that') AS INTEGER)
                    + CAST(list_contains(words, 'the') AS INTEGER)
                    + CAST(list_contains(words, 'to') AS INTEGER)
                    + CAST(list_contains(words, 'with') AS INTEGER)
                      AS n_stop
             FROM m),
           d AS (
             SELECT doc_id,
                    n_words,
                    CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE)
                      AS mean_wl,
                    (CAST(n_hash AS DOUBLE) + n_ell)
                      / CAST(n_words AS DOUBLE) AS sym,
                    CAST(n_bul AS DOUBLE) / CAST(n_lines AS DOUBLE)
                      AS bul,
                    CAST(n_ell_lines AS DOUBLE) / CAST(n_lines AS DOUBLE)
                      AS ell,
                    CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE)
                      AS alpha,
                    n_stop
             FROM c)
           SELECT doc_id,
                  CAST(n_words AS INTEGER) AS word_count,
                  round(mean_wl, 6) AS mean_word_len,
                  round(sym, 6) AS symbol_ratio,
                  round(bul, 6) AS bullet_frac,
                  round(ell, 6) AS ellipsis_frac,
                  round(alpha, 6) AS alpha_frac,
                  n_stop AS n_stopwords,
                  (n_words >= 50 AND n_words <= 100000
                   AND mean_wl >= 3.0 AND mean_wl <= 10.0
                   AND sym <= 0.1 AND bul <= 0.9 AND ell <= 0.3
                   AND alpha >= 0.8 AND n_stop >= 2) AS gopher_keep
           FROM d""",
        # q84: per-domain cap — the salted two-phase top-N must equal
        # the plain row_number form (selection order (h, doc_id) asc)
        "q84_domain_cap": r"""
           WITH h AS (
             SELECT source, doc_id,
                    ('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)),
                                    1, 15))::BIGINT AS hv
             FROM documents),
           r AS (
             SELECT source, doc_id,
                    row_number() OVER (PARTITION BY source
                                       ORDER BY hv, doc_id) AS rk
             FROM h)
           SELECT source, CAST(rk AS INTEGER) AS rank, doc_id
           FROM r WHERE rk <= 8""",
        # q85: C4 line filters — fixture planting mirrored (DuckDB
        # generate_series is 1-based, Spark transform index 0-based)
        "q85_c4_filters": r"""
           WITH fx0 AS (
             SELECT doc_id,
                    string_split(regexp_replace(text,
                        '((?:\S+ ){11}\S+) ', '\1' || chr(10), 'g'),
                        chr(10)) AS l
             FROM documents),
           fx AS (
             SELECT doc_id,
                    list_transform(generate_series(1, len(l)), i ->
                      CASE WHEN (doc_id*7 + (i-1)) % 11 = 0
                           THEN 'lorem ipsum ' ELSE '' END
                      || l[i]
                      || CASE WHEN (doc_id + (i-1)) % 13 = 0
                              THEN ' {x}' ELSE '' END
                      || CASE WHEN (doc_id + (i-1)) % 4 <> 0
                              THEN '.' ELSE '' END) AS lines
             FROM fx0),
           r AS (
             SELECT doc_id,
                    CAST(len(lines) AS INTEGER) AS n_lines,
                    CAST(len(list_filter(lines, x ->
                      NOT regexp_matches(x, '[.!?"]$'))) AS INTEGER)
                      AS n_no_punct,
                    CAST(len(list_filter(lines, x ->
                      len(regexp_split_to_array(trim(x), '\s+')) < 5))
                      AS INTEGER) AS n_short,
                    CAST(len(list_filter(lines, x ->
                      contains(x, 'lorem ipsum'))) AS INTEGER) AS n_lorem,
                    CAST(len(list_filter(lines, x ->
                      contains(x, '{'))) AS INTEGER) AS n_brace,
                    list_filter(lines, x ->
                      regexp_matches(x, '[.!?"]$')
                      AND len(regexp_split_to_array(trim(x), '\s+')) >= 5
                      AND NOT contains(x, 'lorem ipsum')
                      AND NOT contains(x, '{')) AS kept
             FROM fx)
           SELECT doc_id, n_lines, n_no_punct, n_short, n_lorem, n_brace,
                  CAST(len(kept) AS INTEGER) AS n_kept,
                  array_to_string(kept, chr(10)) AS text_filtered
           FROM r WHERE len(kept) >= 3""",
        # q80: paragraph dedup — fixture construction + first-global-
        # occurrence window + ordered string_agg rebuild, all mirrored
        "q80_paragraph_dedup": r"""
           WITH fx AS (
             SELECT doc_id,
                    'subscribe to our newsletter for updates' || chr(10) ||
                    regexp_replace(text, '((?:\S+ ){11}\S+) ',
                                   '\1' || chr(10), 'g') ||
                    CASE WHEN doc_id % 5 = 0
                         THEN chr(10) ||
                              'all rights reserved terms of service apply'
                         ELSE '' END AS text
             FROM documents),
           ls AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM fx),
           p AS (
             SELECT doc_id,
                    unnest(list_transform(generate_series(1, len(l)),
                           i -> {'pos': i, 'para': l[i]})) AS u
             FROM ls),
           q AS (
             SELECT doc_id, u.pos AS pos, u.para AS para,
                    ('0x' || substr(md5(u.para), 1, 15))::BIGINT AS h
             FROM p),
           k AS (
             SELECT *, row_number() OVER (PARTITION BY h
                                          ORDER BY doc_id, pos) AS rn
             FROM q)
           SELECT doc_id,
                  string_agg(CASE WHEN rn = 1 THEN para END, chr(10)
                             ORDER BY pos) AS text,
                  count(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
                  count(CASE WHEN rn > 1 THEN 1 END) AS n_dropped
           FROM k GROUP BY doc_id
           HAVING count(CASE WHEN rn = 1 THEN 1 END) > 0""",
        # q81: PII scrub — rule order fixed; each rule counts on the
        # text AS SEEN BY THAT RULE, then replaces
        "q81_pii_scrub": r"""
           WITH planted AS (
             SELECT doc_id,
                    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                    '@example.com or 555-010-' ||
                    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
                    ' from host 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
                    '.7' ||
                    CASE WHEN doc_id % 3 = 0
                         THEN ' ssn 123-45-6789 on file' ELSE '' END AS text
             FROM documents),
           s0 AS (
             SELECT doc_id, text,
                    len(regexp_extract_all(text,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                      AS n_email,
                    regexp_replace(text,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                        '<EMAIL>', 'g') AS t1
             FROM planted),
           s1 AS (
             SELECT *, len(regexp_extract_all(t1,
                           '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
                    regexp_replace(t1, '\b\d{3}-\d{2}-\d{4}\b',
                                   '<SSN>', 'g') AS t2
             FROM s0),
           s2 AS (
             SELECT *, len(regexp_extract_all(t2,
                   '(?:\+?1[-. ])?\(?\b\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b'))
                      AS n_phone,
                    regexp_replace(t2,
                   '(?:\+?1[-. ])?\(?\b\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b',
                                   '<PHONE>', 'g') AS t3
             FROM s1),
           s3 AS (
             SELECT *, len(regexp_extract_all(t3,
                   '\b(?:(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\b'))
                      AS n_ipv4,
                    regexp_replace(t3,
                   '\b(?:(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\b',
                                   '<IP>', 'g') AS text_scrubbed
             FROM s2)
           SELECT doc_id,
                  CAST(n_email AS INTEGER) AS n_email,
                  CAST(n_ssn AS INTEGER) AS n_ssn,
                  CAST(n_phone AS INTEGER) AS n_phone,
                  CAST(n_ipv4 AS INTEGER) AS n_ipv4,
                  text_scrubbed
           FROM s3""",
        # q82: hashed-feature linear classifier — integer fold, one
        # float division (summation order cannot fork the engines)
        "q82_classifier_score": r"""
           WITH w AS (
             SELECT doc_id,
                    regexp_split_to_array(lower(trim(text)), '\s+') AS ws
             FROM documents),
           t AS (
             SELECT doc_id, len(ws) AS n,
                    list_reduce(list_prepend(0::BIGINT,
                      list_transform(ws, x ->
                        ((('0x' || substr(md5(x), 1, 15))::BIGINT % 4096)
                         * 2654435761) % 10007 - 5003)),
                      (a, b) -> a + b) AS total
             FROM w)
           SELECT doc_id,
                  round(total / (n * 5003.0), 9) AS margin,
                  CASE WHEN total / (n * 5003.0) > 0
                       THEN 'keep' ELSE 'drop' END AS label
           FROM t""",
        # q79: the ordered-MERGE replay in plain window SQL — last
        # event per key wins, trailing delete removes the key
        "q79_cdc_upsert": TRANSCRIPTS_CTE
        + """,
           ev AS (
             SELECT conv_id, turn_idx,
                    'agent' AS _db_, 'conv_state' AS _table_,
                    CASE WHEN turn_idx = 0 THEN 'row_insert'
                         WHEN turn_idx % 7 = 3 THEN 'row_delete'
                         ELSE 'row_update' END AS _event_,
                    role, text, tool,
                    lag(text) OVER (PARTITION BY conv_id ORDER BY turn_idx)
                      AS _old_text
             FROM transcripts),
           last AS (
             SELECT *, row_number() OVER (PARTITION BY conv_id
                                          ORDER BY turn_idx DESC) AS rn
             FROM ev)
           SELECT conv_id, _event_ AS final_event,
                  turn_idx AS last_turn_idx,
                  _db_, _table_, role, text, tool,
                  _old_text AS old_text
           FROM last WHERE rn = 1 AND _event_ <> 'row_delete'""",
        # q83: PackValues packing — sorted-key JSON via the q67
        # concat idiom, empty old map as ''
        "q83_cdc_pack_values": TRANSCRIPTS_CTE
        + """,
           ev AS (
             SELECT conv_id, turn_idx,
                    'agent' AS _db_, 'conv_state' AS _table_,
                    CASE WHEN turn_idx = 0 THEN 'row_insert'
                         WHEN turn_idx % 7 = 3 THEN 'row_delete'
                         ELSE 'row_update' END AS _event_,
                    role, text, tool,
                    lag(text) OVER (PARTITION BY conv_id ORDER BY turn_idx)
                      AS _old_text
             FROM transcripts)
           SELECT conv_id, turn_idx, _db_, _table_, _event_,
                  CASE WHEN _old_text IS NULL THEN ''
                       ELSE '{"_old_text":' || to_json(_old_text) || '}'
                  END AS old_data,
                  '{"role":' || to_json(role) || ',"text":' || to_json(text)
                    || ',"tool":' || to_json(tool) || '}' AS data
           FROM ev""",
        # q76: the pb encode∘decode roundtrip must reproduce every
        # field bit-for-bit from the base table
        "q76_sls_pb": TRANSCRIPTS_CTE
        + """SELECT conv_id,
                    conv_id AS topic,
                    'agent-host' AS source,
                    '' AS machine_uuid,
                    'h-1' AS host_tag,
                    'prod' AS env_tag,
                    epoch_us(ts) // 1000000 AS log_time,
                    (epoch_us(ts) % 1000000) * 1000 AS time_ns,
                    role, text, tool,
                    CAST(turn_idx AS INTEGER) AS turn_idx
             FROM transcripts""",
        "q56_sessionize": TRANSCRIPTS_CTE
        + """,
           g AS (
             SELECT conv_id, ts,
                    CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                         THEN 1 ELSE 0 END AS new_sess
             FROM transcripts
             WINDOW w AS (PARTITION BY conv_id ORDER BY ts)),
           s AS (
             SELECT conv_id, ts,
                    sum(new_sess) OVER (
                      PARTITION BY conv_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
             FROM g)
           SELECT conv_id, min(ts) AS session_start, max(ts) AS session_end,
                  CAST(count(*) AS BIGINT) AS n_events,
                  CAST(sess - 1 AS INTEGER) AS session_idx
           FROM s GROUP BY conv_id, sess""",
        "q57_percentiles": PARSED_CTE
        + """SELECT tool_call,
                  round(quantile_cont(latency_ms, 0.5), 6) AS p50,
                  round(quantile_cont(latency_ms, 0.95), 6) AS p95,
                  round(quantile_cont(latency_ms, 0.99), 6) AS p99,
                  CAST(count(*) AS BIGINT) AS n
             FROM parsed WHERE parse_ok GROUP BY tool_call""",
        "q61_string_replace": TRANSCRIPTS_CTE
        + r"""SELECT conv_id, turn_idx,
                  replace(regexp_replace(text, 'latency_ms=\d+',
                          'latency_ms=***', 'g'), 'status=', 'code=') AS masked,
                  tool AS tool_unq
             FROM transcripts""",
        "q62_group_info_filter": TRANSCRIPTS_CTE
        + """SELECT conv_id, turn_idx, role, tool
             FROM transcripts
             WHERE regexp_matches(role, '^(user|assistant)$')
               AND NOT regexp_matches(tool, '^(bash|read)')""",
        "q63_metadata_group": TRANSCRIPTS_CTE
        + """SELECT conv_id, turn_idx,
                  md5(conv_id) || '-' || CAST(
                    (row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
                     - 1) // 50
                    + coalesce(sum(strlen(text)) OVER (
                        PARTITION BY conv_id ORDER BY turn_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      // 5000 AS VARCHAR) AS "__pack_id__"
             FROM transcripts""",
        "q64_filter_key_regex": """
            SELECT event_id, event_type FROM events WHERE event_id % 3 = 0""",
        "q67_serializers": PARSED_CTE
        + """SELECT conv_id, turn_idx,
                  '{"contents":{"role":' || to_json(role) || ',"text":'
                    || to_json(text) || ',"tool":' || to_json(tool)
                    || '},"tags":{"env":"prod","host.ip":"10.0.0.1",'
                    || '"log.file.path":'
                    || to_json('/var/log/conv/' || conv_id)
                    || ',"log.topic":"transcripts"},"time":'
                    || (epoch_us(ts) // 1000000) || '}' AS line_single,
                  '{"env":"prod","host.ip":"10.0.0.1","log.file.path":'
                    || to_json('/var/log/conv/' || conv_id)
                    || ',"log.topic":"transcripts","role":' || to_json(role)
                    || ',"text":' || to_json(text)
                    || ',"time":' || (epoch_us(ts) // 1000000)
                    || ',"tool":' || to_json(tool) || '}' AS line_flatten,
                  'latency_ms,conv=' || conv_id || ',tool=' || tool_call
                    || ' value=' || latency_ms || ' '
                    || (epoch_us(ts) * 1000) AS line_influx,
                  '{"resource":{"attributes":[{"key":"source","value":'
                    || '{"stringValue":"10.0.0.1"}},{"key":"topic","value":'
                    || '{"stringValue":"transcripts"}}]},"scopeLogs":'
                    || '[{"logRecords":[{"timeUnixNano":"'
                    || ((epoch_us(ts) // 1000000) * 1000000000)
                    || '","severityText":"'
                    || CASE WHEN role = 'assistant' THEN 'INFO'
                            ELSE 'DEBUG' END
                    || '","body":{"stringValue":' || to_json(text)
                    || '},"attributes":[{"key":"env","value":'
                    || '{"stringValue":"prod"}},{"key":"host.ip","value":'
                    || '{"stringValue":"10.0.0.1"}},{"key":"log.file.path",'
                    || '"value":{"stringValue":'
                    || to_json('/var/log/conv/' || conv_id)
                    || '}},{"key":"log.topic","value":{"stringValue":'
                    || '"transcripts"}},{"key":"tool","value":{"stringValue":'
                    || to_json(tool) || '}}]}]}]}' AS line_otlp
             FROM parsed WHERE parse_ok""",
        # expected span rows computed directly from the fixture's closed
        # form — the Spark side builds the OTLP/JSON doc and round-trips
        # it through from_json + the otlp_trace_parser.go field layout
        "q65_otel_trace": TRANSCRIPTS_CTE
        + """SELECT conv_id, turn_idx,
                  'h-' || (turn_idx % 4) AS host,
                  tool AS service,
                  '{"region":' || to_json(role) || ',"zone.id":'
                    || (turn_idx % 8) || '}' AS resource,
                  'ilogtail.test' AS "otlp.name",
                  '1.0' AS "otlp.version",
                  md5(conv_id) AS traceID,
                  substr(md5(conv_id || ':' || turn_idx), 1, 16) AS spanID,
                  CASE WHEN turn_idx = 0 THEN ''
                       ELSE substr(md5(conv_id || ':' || (turn_idx - 1)), 1, 16)
                  END AS parentSpanID,
                  CASE turn_idx % 6 WHEN 1 THEN 'internal' WHEN 2 THEN 'server'
                       WHEN 3 THEN 'client' WHEN 4 THEN 'producer'
                       WHEN 5 THEN 'consumer' ELSE '' END AS kind,
                  'op:' || tool AS name,
                  CASE WHEN turn_idx % 5 = 0
                       THEN '[{"attribute":{},"spanID":"'
                            || substr(md5(conv_id || ':link'), 1, 16)
                            || '","traceID":"' || md5(conv_id) || '"}]'
                       ELSE '[]' END AS links,
                  CASE WHEN turn_idx % 3 = 0
                       THEN '[{"attribute":{"k":"x' || turn_idx
                            || '"},"name":"ev","time":'
                            || (epoch_us(ts) * 1000 + 500) || '}]'
                       ELSE '[]' END AS logs,
                  CASE WHEN turn_idx % 4 = 0 THEN 'k=v' ELSE '' END
                    AS traceState,
                  epoch_us(ts) AS start,
                  epoch_us(ts) + (turn_idx % 1000 + 1) * 1000 AS "end",
                  CAST((turn_idx % 1000 + 1) * 1000 AS BIGINT) AS duration,
                  '{"flag":' || CASE WHEN turn_idx % 2 = 0 THEN 'true'
                                     ELSE 'false' END
                    || ',"ratio":' || CASE turn_idx % 4 WHEN 0 THEN '0'
                         WHEN 1 THEN '0.25' WHEN 2 THEN '0.5'
                         ELSE '0.75' END
                    || ',"role":' || to_json(role)
                    || ',"turn":' || turn_idx || '}' AS attribute,
                  CASE turn_idx % 3 WHEN 1 THEN 'OK' WHEN 2 THEN 'ERROR'
                       ELSE 'UNSET' END AS statusCode,
                  CASE WHEN turn_idx % 3 = 2 THEN 'boom' ELSE '' END
                    AS statusMessage,
                  (epoch_us(ts) * 1000 + (turn_idx % 1000 + 1) * 1000000)
                    // 1000000000 AS "time"
             FROM transcripts""",
        # expected SLS metric rows per datapoint type; the cumulative /
        # exponential bucket values and label joins replay
        # otlp_metric_parser.go closed-form
        "q66_otel_metric": TRANSCRIPTS_CTE
        + """,
           b AS (
             SELECT conv_id, turn_idx AS t, epoch_us(ts) * 1000 AS tn,
                    'app#$#' || tool || '|host.name#$#h-' || (turn_idx % 4)
                      AS rl,
                    'path#$#/p/' || (turn_idx % 8) AS pl
             FROM transcripts)
           SELECT conv_id, t AS turn_idx, __name__, __labels__,
                  __time_nano__, __value__ FROM (
             SELECT conv_id, t, 'lat' AS __name__,
                    rl || '|' || pl AS __labels__, tn AS __time_nano__,
                    CAST(t % 7 AS DOUBLE) * 0.5 AS __value__
             FROM b WHERE t % 5 = 0
             UNION ALL
             SELECT conv_id, t, 'lat_exemplars',
                    rl || '|' || pl || '|traceId#$#'
                      || substr(md5(conv_id), 1, 16) || '|x#$#1',
                    tn + 1, CAST(t AS DOUBLE) * 0.125
             FROM b WHERE t % 5 = 0 AND t % 2 = 0
             UNION ALL
             SELECT conv_id, t, 'lat',
                    rl || '|otlp.metric.ismonotonic#$#'
                      || CASE WHEN t % 2 = 0 THEN 'true' ELSE 'false' END
                      || '|' || pl,
                    tn, CAST(t AS DOUBLE)
             FROM b WHERE t % 5 = 1
             UNION ALL
             SELECT conv_id, t, 'lat_sum', rl || '|' || pl, tn, 2.0
             FROM b WHERE t % 5 = 2
             UNION ALL
             SELECT conv_id, t, 'lat_max', rl || '|' || pl, tn, 3.0
             FROM b WHERE t % 5 = 2
             UNION ALL
             SELECT conv_id, t, 'lat_count', rl || '|' || pl, tn,
                    CAST(t % 3 + 3 AS DOUBLE)
             FROM b WHERE t % 5 = 2
             UNION ALL
             SELECT conv_id, t, 'lat_bucket',
                    rl || '|le#$#' || x.le || '|' || pl, tn,
                    CAST(t % 3 AS DOUBLE) + x.inc
             FROM b, (VALUES ('1', 0.0), ('10', 1.0), ('100', 1.0),
                             ('+Inf', 3.0)) AS x(le, inc)
             WHERE t % 5 = 2
             UNION ALL
             SELECT conv_id, t, 'lat_sum', rl || '|' || pl, tn,
                    CAST(t AS DOUBLE) * 0.5
             FROM b WHERE t % 5 = 3
             UNION ALL
             SELECT conv_id, t, 'lat_count', rl || '|' || pl, tn,
                    CAST(t % 4 AS DOUBLE)
             FROM b WHERE t % 5 = 3
             UNION ALL
             SELECT conv_id, t, 'lat',
                    rl || '|' || pl || '|quantile#$#' || x.q, tn,
                    CAST(t % 9 AS DOUBLE) * x.m
             FROM b, (VALUES ('0.5', 1.5), ('0.99', 2.0)) AS x(q, m)
             WHERE t % 5 = 3
             UNION ALL
             SELECT conv_id, t, 'lat_sum', rl || '|' || pl, tn,
                    CAST(t % 3 AS DOUBLE)
             FROM b WHERE t % 5 = 4 AND t % 3 <> 0
             UNION ALL
             SELECT conv_id, t, 'lat_max', rl || '|' || pl, tn, 2.0
             FROM b WHERE t % 5 = 4
             UNION ALL
             SELECT conv_id, t, 'lat_count', rl || '|' || pl, tn, 5.0
             FROM b WHERE t % 5 = 4
             UNION ALL
             SELECT conv_id, t, 'lat_bucket',
                    rl || '|le#$#' || x.le || '|' || pl, tn,
                    CASE x.le WHEN '(0.5,1]' THEN CAST(t % 2 + 1 AS DOUBLE)
                         WHEN '(1,2]' THEN 2.0 WHEN '[-2,-1)' THEN 1.0
                         WHEN 'positive.offset' THEN -1.0
                         WHEN 'negative.offset' THEN 0.0
                         ELSE CAST(t % 2 AS DOUBLE) END
             FROM b, (VALUES ('(0.5,1]'), ('(1,2]'), ('[-2,-1)'),
                             ('positive.offset'), ('negative.offset'),
                             ('zero.count')) AS x(le)
             WHERE t % 5 = 4
           )""",
        "q60_geoip_config": TRANSCRIPTS_CTE
        + """SELECT 'C' || ((turn_idx % 200) // 50) AS client_ip_country,
                  'city' || ((turn_idx % 200) // 20) AS client_ip_city,
                  'region_xxx' AS cloud_region,
                  'id_xxx' AS "__cloud_instance_id__",
                  CAST(count(*) AS BIGINT) AS n_rows
             FROM transcripts GROUP BY 1, 2""",
        # DuckDB replay of the S+E 2-state DFA closed form
        # (operators/split.py S+E branch): state before a line = last
        # constant marker's state XOR parity of S∧E flip lines since
        "q59_multiline_overlap": TRANSCRIPTS_CTE
        + """,
           l AS (
             SELECT conv_id, turn_idx,
                    CASE WHEN turn_idx % 7 IN (0, 2) THEN '##MARK## ' || text
                         WHEN turn_idx % 7 = 3 THEN '##START## ' || text
                         WHEN turn_idx % 7 IN (5, 6) THEN '##END## ' || text
                         ELSE text END AS line,
                    turn_idx % 7 IN (0, 2, 3) AS s,
                    turn_idx % 7 IN (0, 2, 5, 6) AS e
             FROM transcripts),
           c AS (
             SELECT *, (s AND e) AS flip,
                    sum(CASE WHEN s AND e THEN 1 ELSE 0 END) OVER (
                      PARTITION BY conv_id ORDER BY turn_idx
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cf
             FROM l),
           lc AS (
             SELECT *, last_value(
                      CASE WHEN s != e
                           THEN struct_pack(is_in := s AND NOT e, cfm := cf) END
                      IGNORE NULLS) OVER (
                      PARTITION BY conv_id ORDER BY turn_idx
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lcm
             FROM c),
           st AS (
             SELECT *, coalesce(lcm.is_in, FALSE) !=
                    (((cf - CASE WHEN flip THEN 1 ELSE 0 END
                       - coalesce(lcm.cfm, 0)) % 2) = 1) AS state_in
             FROM lc),
           g AS (
             SELECT *, (NOT state_in AND s) AS open_evt,
                    sum(CASE WHEN NOT state_in AND s THEN 1 ELSE 0 END) OVER (
                      PARTITION BY conv_id ORDER BY turn_idx
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
             FROM st),
           mt AS (
             SELECT *, (state_in OR open_evt) AND
                    max(CASE WHEN state_in AND e THEN 1 ELSE 0 END) OVER (
                      PARTITION BY conv_id, gid) = 1 AS matched
             FROM g),
           merged AS (
             SELECT conv_id, CAST(min(turn_idx) AS INTEGER) AS turn_idx,
                    string_agg(line, chr(10) ORDER BY turn_idx) AS text
             FROM (SELECT *, (row_number() OVER (
                     PARTITION BY conv_id, gid ORDER BY turn_idx) - 1) // 256 AS sub
                   FROM mt WHERE matched)
             GROUP BY conv_id, gid, sub)
           SELECT conv_id, turn_idx, text FROM merged
           UNION ALL
           SELECT conv_id, CAST(turn_idx AS INTEGER), line FROM mt WHERE NOT matched""",
        "q58_spl_let_fanout": TRANSCRIPTS_CTE
        + """SELECT conv_id, turn_idx,
                  CAST(length(text) AS BIGINT) AS txt_len,
                  'long_turns' AS __sink__,
                  CAST(NULL AS VARCHAR) AS tool
             FROM transcripts WHERE role = 'assistant'
             UNION ALL
             SELECT conv_id, turn_idx, CAST(NULL AS BIGINT),
                    'tool_turns', tool
             FROM transcripts WHERE tool <> 'none'""",
        "q55_prom_parse": TRANSCRIPTS_CTE
        + """SELECT conv_id, turn_idx,
                  CASE turn_idx % 5 WHEN 0 THEN 'type' WHEN 1 THEN 'help'
                       WHEN 2 THEN 'sample' WHEN 3 THEN 'sample'
                       ELSE 'invalid' END AS line_kind,
                  (turn_idx % 5) IN (2, 3) AS parse_ok,
                  CASE turn_idx % 5 WHEN 0 THEN 'conv_latency'
                       WHEN 1 THEN 'conv_latency'
                       WHEN 2 THEN 'conv_latency_bucket'
                       WHEN 3 THEN 'conv_latency_count' END AS metric_name,
                  CASE WHEN turn_idx % 5 <= 3 THEN 'conv_latency' END AS family,
                  CASE turn_idx % 5 WHEN 2 THEN 'bucket'
                       WHEN 3 THEN 'count' END AS series,
                  CASE WHEN turn_idx % 5 = 2 THEN '0.5' END AS le,
                  CASE WHEN turn_idx % 5 IN (2, 3)
                       THEN CAST(turn_idx AS DOUBLE) END AS metric_value,
                  CASE WHEN turn_idx % 5 <= 3 THEN 'histogram' END AS mtype,
                  CASE WHEN turn_idx % 5 = 2 THEN epoch_ms(ts) END AS ts_ms
             FROM transcripts""",
        "q54_hypertable_rollup": PARSED_CTE
        + """,
           ok AS (SELECT * FROM parsed WHERE parse_ok),
           lv AS (
             SELECT 'minute' AS granularity, date_trunc('minute', ts) AS bucket,
                    tool_call, CAST(count(*) AS BIGINT) AS n_events,
                    CAST(sum(latency_ms) AS BIGINT) AS sum_latency_ms
             FROM ok GROUP BY 2, 3
             UNION ALL
             SELECT 'hour', date_trunc('hour', ts), tool_call,
                    CAST(count(*) AS BIGINT), CAST(sum(latency_ms) AS BIGINT)
             FROM ok GROUP BY 2, 3
             UNION ALL
             SELECT 'day', date_trunc('day', ts), tool_call,
                    CAST(count(*) AS BIGINT), CAST(sum(latency_ms) AS BIGINT)
             FROM ok GROUP BY 2, 3)
           SELECT granularity, bucket, tool_call, n_events, sum_latency_ms
           FROM lv""",
        "q53_prom_relabel": PARSED_CTE
        + """SELECT conv_id, turn_idx,
                  'latency_ms' AS metric_name,
                  CAST(latency_ms AS DOUBLE) AS metric_value,
                  tool_call AS l_tool,
                  CASE WHEN regexp_matches(tool_call, '^(?:(ba.*))$')
                       THEN 'grp_' || tool_call END AS l_tool_grp,
                  CAST(('0x' || substr(md5(conv_id), 1, 15))::BIGINT % 8
                       AS VARCHAR) AS l_shard,
                  'prod' AS l_cluster,
                  role AS l_exported_role,
                  'scraper' AS l_role,
                  CAST(NULL AS VARCHAR) AS l_conv
             FROM parsed
             WHERE parse_ok AND regexp_matches(tool_call, '^(?:ba.*|re.*)$')""",
        "q51_asof_join": TRANSCRIPTS_CTE
        + """,
           upd AS (
             SELECT tool, date_trunc('hour', ts) AS uts,
                    CAST(max(turn_idx) AS INTEGER) AS version
             FROM transcripts WHERE turn_idx % 97 = 0
             GROUP BY tool, date_trunc('hour', ts))
           SELECT t.conv_id, t.turn_idx, t.tool, u.version
           FROM transcripts t ASOF LEFT JOIN upd u
             ON t.tool = u.tool AND t.ts >= u.uts""",
        "q52_rolling_fp": r"""
           WITH w AS (
             SELECT doc_id,
                    regexp_split_to_array(lower(trim(text)), '\s+') AS ws
             FROM documents),
           h AS (
             SELECT doc_id,
                    list_transform(ws,
                      x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647) AS hs
             FROM w)
           SELECT doc_id,
                  list_reduce(list_prepend(0::BIGINT, hs),
                              (acc, x) -> (acc * 1000003 + x) % 2147483647) AS fp_roll
           FROM h""",
        "q28_embedding_neardup": _neardup_oracle(),
        "q30_fields_with_condition": PARSED_CTE
        + r"""SELECT CASE
                WHEN regexp_matches(CAST(status AS VARCHAR), '^5\d\d$')
                     AND regexp_matches(err, '^E\d+$') THEN 'server_error'
                WHEN starts_with(CAST(status AS VARCHAR), '4') THEN 'client_error'
                WHEN regexp_matches(CAST(status AS VARCHAR), '^2\d\d$') THEN 'ok'
                END AS severity,
              CAST(count(*) AS BIGINT) AS n_rows
             FROM parsed WHERE parse_ok GROUP BY 1""",
        "q31_multiline_merge": TRANSCRIPTS_CTE
        + r""",
           marked AS (
             SELECT conv_id, turn_idx, text,
                    CASE WHEN regexp_matches(text, '^invoke tool=') THEN 1 ELSE 0 END AS is_start
             FROM transcripts),
           grp AS (
             SELECT *, sum(is_start) OVER (
               PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
             FROM marked),
           chunked AS (
             SELECT *, (row_number() OVER (
               PARTITION BY conv_id, g ORDER BY turn_idx) - 1) // 256 AS sub
             FROM grp WHERE g > 0)
           SELECT conv_id, CAST(min(turn_idx) AS INTEGER) AS turn_idx,
                  string_agg(text, chr(10) ORDER BY turn_idx) AS text
           FROM chunked GROUP BY conv_id, g, sub
           UNION ALL
           SELECT conv_id, turn_idx, text FROM grp WHERE g = 0""",
        "q32_anchor": TRANSCRIPTS_CTE
        + """
           SELECT NULLIF(regexp_extract(text, 'status=(.*?) latency_ms', 1), '') AS status_str,
                  CAST(count(*) AS BIGINT) AS n_rows
           FROM transcripts GROUP BY 1""",
        "q33_gotime": TRANSCRIPTS_CTE
        + """
           SELECT strftime(ts, '%Y/%m/%d %H') AS hour_str,
                  CAST(count(*) AS BIGINT) AS n_rows
           FROM transcripts GROUP BY 1""",
        "q34_metric_pivot": PARSED_CTE
        + """
           SELECT conv_id, turn_idx, tool_call, ts, m.metric_name,
                  m.metric_value
           FROM parsed,
                LATERAL (VALUES ('status', CAST(status AS DOUBLE)),
                                ('latency_ms', CAST(latency_ms AS DOUBLE)))
                  AS m(metric_name, metric_value)
           WHERE parse_ok AND m.metric_value IS NOT NULL""",
        "q35_encrypt_roundtrip": TRANSCRIPTS_CTE
        + """
           SELECT conv_id, turn_idx, text FROM transcripts""",
        # geoip oracle: the synthetic range table maps 10.k.0.0/16 ->
        # 'C'||(k//50), so country is derivable from turn_idx directly
        "q36_geoip_range": TRANSCRIPTS_CTE
        + """
           SELECT 'C' || CAST((turn_idx % 200) // 50 AS VARCHAR) AS geo_country,
                  CAST(count(*) AS BIGINT) AS n_rows
           FROM transcripts GROUP BY 1""",
        "q37_time_filter": TRANSCRIPTS_CTE
        + """
           SELECT role, CAST(count(*) AS BIGINT) AS n_rows
           FROM transcripts
           WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
             AND ts <= TIMESTAMP '2024-01-24 00:00:00'
           GROUP BY role""",
        "q38_apsara_parse": TRANSCRIPTS_CTE
        + """
           , ap AS (
              SELECT conv_id, turn_idx, role,
                     turn_idx % 6 AS v,
                     CAST(floor(epoch(ts)) AS BIGINT) AS ep
              FROM transcripts)
           SELECT conv_id, turn_idx,
                  CASE v WHEN 1 THEN CAST(1705285845000000
                                          + (turn_idx % 1000000) AS BIGINT)::VARCHAR
                         WHEN 5 THEN '7'
                         ELSE (ep * 1000000)::VARCHAR END AS microtime,
                  CASE v WHEN 0 THEN 'INFO' WHEN 1 THEN 'WARN'
                         WHEN 2 THEN 'ERROR' WHEN 3 THEN 'ERROR'
                         WHEN 4 THEN NULL ELSE 'INFO' END AS level,
                  CASE WHEN v IN (0, 1, 2) THEN turn_idx::VARCHAR END AS thread,
                  CASE v WHEN 0 THEN 'pipe.cpp' WHEN 1 THEN 'svc/main.go'
                         WHEN 2 THEN 'pipe.cpp' END AS file_,
                  CASE v WHEN 0 THEN '42' WHEN 1 THEN '128'
                         WHEN 2 THEN '42' END AS line_,
                  CASE WHEN v IN (0, 1, 2) THEN role END AS role_v,
                  CASE v WHEN 3 THEN turn_idx::VARCHAR
                         WHEN 5 THEN '1' END AS count_v,
                  CASE v WHEN 3 THEN 'ss' END AS job_v,
                  CAST(CASE WHEN v = 1 THEN 1705285845 ELSE ep END
                       AS BIGINT) AS apsara_sec
           FROM ap""",
        "q39_split_roundtrip": TRANSCRIPTS_CTE
        + """
           SELECT conv_id, text AS line FROM transcripts""",
        "q43_container_log": TRANSCRIPTS_CTE
        + """
           SELECT conv_id, turn_idx, text AS content,
                  'stdout' AS source_,
                  strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS time_
           FROM transcripts""",
        "q42_dynamic_sink": TRANSCRIPTS_CTE
        + """
           SELECT 'logs-' || role || '-' || strftime(ts, '%Y%m%d') AS sink,
                  CAST(count(*) AS BIGINT) AS n_rows
           FROM transcripts GROUP BY 1""",
        "q41_filter_tree": PARSED_CTE
        + """
           SELECT method, err, CAST(count(*) AS BIGINT) AS n_rows
           FROM parsed
           WHERE parse_ok
             AND (regexp_matches(method, 'GET') OR regexp_matches(method, 'POST'))
             AND NOT regexp_matches(err, '-')
             AND regexp_matches(url, '/api/v[12]/.*')
           GROUP BY method, err""",
        "q49_dedup_clusters": _SHINGLES_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
        + """, inv AS (
              SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM sh),
           keepg AS (SELECT g FROM inv GROUP BY g HAVING count(*) <= 100),
           invf AS (SELECT inv.doc_id, inv.n, inv.g FROM inv JOIN keepg USING (g)),
           pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM invf a JOIN invf b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id, a.n, b.n
              HAVING count(*) / (a.n + b.n - count(*)) >= 0.5
           ),
           edges AS (
             SELECT id_a AS src, id_b AS dst FROM pairs
             UNION ALL SELECT id_b, id_a FROM pairs
           ),
           reach(a, b) AS (
             SELECT src, src FROM edges GROUP BY src
             UNION
             SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
           ),
           comp AS (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a)
           SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster_id
           FROM documents d LEFT JOIN comp c ON d.doc_id = c.id""",
        "q48_transform_chain": TRANSCRIPTS_CTE
        + """,
           t AS (
             SELECT conv_id, turn_idx, 'prod' || '-east' AS env,
                    tool AS tool_name,
                    '{"role":"' || role || '","tool_name":"' || tool || '"}' AS packed_raw
             FROM transcripts)
           SELECT conv_id, turn_idx, env, tool_name,
                  base64(packed_raw::BLOB) AS packed,
                  md5(base64(packed_raw::BLOB)) AS packed_md5
           FROM t""",
        "q47_split_char_quoted": """
            SELECT l_orderkey AS orderkey,
                   l_returnflag || ',' || l_linestatus AS flagstat,
                   l_linenumber AS linenumber,
                   'extra1,extra2' AS preserve
            FROM lineitem""",
        "q46_dictmap_csv": PARSED_CTE
        + """SELECT CASE tool_call WHEN 'bash' THEN 'shell'
                  WHEN 'read' THEN 'fs' WHEN 'write' THEN 'fs'
                  WHEN 'search' THEN 'net' ELSE 'Unknown' END AS tool_family,
                CAST(count(*) AS BIGINT) AS n_rows
             FROM parsed WHERE parse_ok GROUP BY 1""",
        "q45_desensitize_md5": TRANSCRIPTS_CTE
        + r""",
           x AS (
             SELECT conv_id, turn_idx,
                    regexp_split_to_array(text, '(=)(\d+)') AS s,
                    regexp_extract_all(text, '(=)(\d+)', 1) AS b,
                    regexp_extract_all(text, '(=)(\d+)', 2) AS c
             FROM transcripts)
           SELECT conv_id, turn_idx,
                  array_to_string(
                    list_concat(
                      [s[1]],
                      flatten(list_transform(generate_series(1, len(b)),
                                             i -> [b[i], md5(c[i]), s[i+1]]))
                    ), '') AS masked
           FROM x""",
        "q44_multiline_end": TRANSCRIPTS_CTE
        + r""",
           m AS (
             SELECT conv_id, turn_idx, text,
                    CASE WHEN regexp_matches(text, '^invoke tool= status=XX') THEN 1 ELSE 0 END AS s,
                    CASE WHEN regexp_matches(text, 'err=E\d+') THEN 1 ELSE 0 END AS e
             FROM transcripts),
           b AS (
             SELECT *, sum(e) OVER (
               PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - e AS blk
             FROM m),
           t AS (
             SELECT *, sum(e) OVER (PARTITION BY conv_id) AS tot_e,
                    min(CASE WHEN s = 1 THEN turn_idx END)
                      OVER (PARTITION BY conv_id, blk) AS first_s
             FROM b),
           matched AS (
             SELECT *, (row_number() OVER (
               PARTITION BY conv_id, blk ORDER BY turn_idx) - 1) // 256 AS sub
             FROM t
             WHERE blk < tot_e AND first_s IS NOT NULL AND turn_idx >= first_s)
           SELECT conv_id, CAST(min(turn_idx) AS INTEGER) AS turn_idx,
                  string_agg(text, chr(10) ORDER BY turn_idx) AS text
           FROM matched GROUP BY conv_id, blk, sub""",
        "q40_config_pipeline": PARSED_CTE
        + """
           SELECT conv_id, turn_idx, tool_call,
                  CASE tool_call WHEN 'bash' THEN 'shell'
                       WHEN 'read' THEN 'fs' WHEN 'write' THEN 'fs'
                       ELSE 'Unknown' END AS tool_class,
                  status, err, md5(conv_id) AS conv_md5
           FROM parsed
           WHERE parse_ok AND regexp_matches(err, 'E[0-9]+')""",
        "q68_decontaminate": _SHINGLES_CTE
        + """
           , bench AS (
             SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
             FROM (SELECT unnest(sh) AS g FROM sh WHERE doc_id % 101 = 0)
           ), corp AS (
             SELECT doc_id, len(sh) AS n_grams, unnest(sh) AS g
             FROM sh WHERE doc_id % 101 <> 0
           )
           SELECT c.doc_id, CAST(c.n_grams AS INTEGER) AS n_grams,
                  CAST(count(*) AS BIGINT) AS n_contaminated,
                  round(count(*) / CAST(c.n_grams AS DOUBLE), 6) AS contamination
           FROM corp c
           JOIN bench b ON ('0x' || substr(md5(c.g), 1, 15))::BIGINT = b.gh
           GROUP BY c.doc_id, c.n_grams""",
        "q69_stratified_sample": """
           WITH k AS (
             SELECT lang, source, doc_id,
                    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                      % 10000
                    < CASE WHEN lang = 'en' THEN 5000 ELSE 1000 END AS keep
             FROM documents)
           SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(coalesce(sum(CASE WHEN keep THEN 1 END), 0) AS BIGINT)
                    AS n_sampled,
                  min(CASE WHEN keep THEN doc_id END) AS min_sampled_id,
                  max(CASE WHEN keep THEN doc_id END) AS max_sampled_id
           FROM k GROUP BY lang, source""",
        "q70_sequence_packing": """
           WITH d AS (
             SELECT doc_id, lang,
                    CASE WHEN length(trim(text)) = 0 THEN 0
                         ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                    END AS n_tok
             FROM documents
           ), c AS (
             SELECT lang, n_tok,
                    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id)
                      - n_tok AS strt
             FROM d
           ), p AS (
             -- strt is a window sum(BIGINT) => DuckDB HUGEINT; cast the
             -- derived outputs back to BIGINT or the driver hasher
             -- (pandas/Arrow fetch) diverges on INT128 (round-4 red rows)
             SELECT lang, n_tok, CAST(strt // 256 AS BIGINT) AS seq_id,
                    CAST(strt % 256 AS BIGINT) AS seq_offset,
                    (n_tok > 0 AND (strt + n_tok - 1) // 256 > strt // 256)
                      AS straddles
             FROM c
           )
           SELECT lang, seq_id, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                  CAST(coalesce(sum(CASE WHEN straddles THEN 1 END), 0)
                       AS BIGINT) AS n_straddles,
                  min(seq_offset) AS first_offset
           FROM p GROUP BY lang, seq_id""",
        "q71_curation_pipeline": """
           WITH bench_w AS (
             SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS w
             FROM documents WHERE doc_id % 101 = 0
           ), bench_g AS (
             SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
             FROM (
               SELECT unnest(CASE WHEN len(w) >= 3
                 THEN list_transform(range(len(w)-2),
                        i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
                 ELSE [array_to_string(w, ' ')] END) AS g
               FROM bench_w)
           ), docs_plus AS (
             SELECT doc_id, text, lang, source FROM documents
             UNION ALL
             SELECT doc_id + 1000000, text, lang, source FROM documents
             WHERE doc_id % 23 = 0 AND lang = 'en'
           ), base AS (
             SELECT doc_id, source, text,
                    CASE WHEN length(trim(text)) = 0 THEN 0
                         ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                    END AS n_tok
             FROM docs_plus
             WHERE lang = 'en' AND doc_id % 101 <> 0
           ), flt AS (
             SELECT * FROM base WHERE n_tok >= 20
           ), ded AS (
             SELECT * FROM flt
             QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(text))
           ), ded_g AS (
             SELECT doc_id, unnest(CASE WHEN len(w) >= 3
               THEN list_transform(range(len(w)-2),
                      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
               ELSE [array_to_string(w, ' ')] END) AS g
             FROM (SELECT doc_id,
                          regexp_split_to_array(lower(trim(text)), '\\s+') AS w
                   FROM ded)
           ), cont AS (
             SELECT DISTINCT d.doc_id
             FROM ded_g d
             JOIN bench_g b
               ON ('0x' || substr(md5(d.g), 1, 15))::BIGINT = b.gh
           ), clean AS (
             SELECT * FROM ded
             WHERE doc_id NOT IN (SELECT doc_id FROM cont)
           ), samp AS (
             SELECT * FROM clean
             WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                     % 10000
                   < CASE WHEN source = 'src0' THEN 5000 ELSE 2500 END
           ), c AS (
             SELECT source, n_tok,
                    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id)
                      - n_tok AS strt
             FROM samp
           ), p AS (
             -- CAST back from HUGEINT (see q70 note)
             SELECT source, n_tok, CAST(strt // 128 AS BIGINT) AS seq_id,
                    CAST(strt % 128 AS BIGINT) AS seq_offset,
                    (n_tok > 0 AND (strt + n_tok - 1) // 128 > strt // 128)
                      AS straddles
             FROM c
           )
           SELECT source, seq_id, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                  CAST(coalesce(sum(CASE WHEN straddles THEN 1 END), 0)
                       AS BIGINT) AS n_straddles,
                  min(seq_offset) AS first_offset
           FROM p GROUP BY source, seq_id""",
        # split_log_regex's boundary marks are per-LINE, and transcript
        # texts carry no newlines, so the \n-join + re-split round-trip
        # reconstitutes the rows: the oracle marks boundaries directly
        # on turns (first turn or a full regex match opens a chunk) and
        # re-aggregates — same closed form the operator evaluates
        # narrowly per block
        "q72_split_log_regex": TRANSCRIPTS_CTE
        + r"""
           , marked AS (
             SELECT conv_id, turn_idx, text,
                    (turn_idx = min(turn_idx) OVER (PARTITION BY conv_id)
                     OR regexp_full_match(
                          text,
                          'invoke tool=\S+ status=\d+ latency_ms=\d+ .*'))
                      AS is_b
             FROM transcripts
           ), gids AS (
             SELECT *, sum(CASE WHEN is_b THEN 1 ELSE 0 END)
                         OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gid
             FROM marked
           )
           SELECT conv_id,
                  string_agg(text, chr(10) ORDER BY turn_idx) AS chunk,
                  CAST(count(*) AS INT) AS chunk_lines
           FROM gids GROUP BY conv_id, gid""",
        # the YAML chain = PARSED_CTE's regex parse + full-match
        # status filter + constant env column; strings stay strings
        # (the reference config declares no type casts)
        "q73_yaml_pipeline": PARSED_CTE
        + """
           SELECT conv_id, turn_idx, tool_call,
                  CAST(status AS VARCHAR) AS status,
                  CAST(latency_ms AS VARCHAR) AS latency_ms,
                  method, url, err, 'prod' AS env
           FROM parsed
           WHERE parse_ok
             AND regexp_matches(CAST(status AS VARCHAR), '[45][0-9][0-9]')""",
        # most-frequent element ties resolve to the smallest value in
        # BOTH engines: Spark takes the first max-run of the sorted
        # array; the oracle orders cnt DESC, value ASC
        "q74_repetition_stats": r"""
           WITH w AS (
             SELECT doc_id,
                    length(regexp_replace(lower(trim(text)), '\s+', '', 'g'))
                      AS chars,
                    CASE WHEN length(lower(trim(text))) = 0
                         THEN []::VARCHAR[]
                         ELSE regexp_split_to_array(lower(trim(text)), '\s+')
                    END AS ws
             FROM documents
           ), stats AS (
             SELECT doc_id, chars, len(ws) AS nw,
                    len(list_distinct(ws)) AS ndw
             FROM w
           ), topw AS (
             SELECT doc_id, wd, count(*) AS cnt
             FROM (SELECT doc_id, unnest(ws) AS wd FROM w)
             GROUP BY 1, 2
             QUALIFY row_number() OVER (PARTITION BY doc_id
                       ORDER BY cnt DESC, wd ASC) = 1
           ), topg AS (
             SELECT doc_id, g, count(*) AS cnt
             FROM (SELECT doc_id,
                          unnest(list_transform(range(len(ws) - 1),
                                 i -> ws[i+1] || ' ' || ws[i+2])) AS g
                   FROM w WHERE len(ws) >= 2)
             GROUP BY 1, 2
             QUALIFY row_number() OVER (PARTITION BY doc_id
                       ORDER BY cnt DESC, g ASC) = 1
           )
           SELECT s.doc_id,
                  CASE WHEN s.nw > 0
                       THEN 1.0 - s.ndw::DOUBLE / s.nw ELSE 0.0
                  END AS dup_word_frac,
                  CASE WHEN s.nw > 0
                       THEN tw.cnt::DOUBLE / s.nw ELSE 0.0
                  END AS top_word_frac,
                  CASE WHEN s.chars > 0 AND tg.cnt IS NOT NULL
                       THEN tg.cnt::DOUBLE * length(replace(tg.g, ' ', ''))
                            / s.chars
                       ELSE 0.0
                  END AS top_bigram_char_frac,
                  (CASE WHEN s.nw > 0
                        THEN 1.0 - s.ndw::DOUBLE / s.nw ELSE 0.0 END) <= 0.6
                  AND (CASE WHEN s.nw > 0
                        THEN tw.cnt::DOUBLE / s.nw ELSE 0.0 END) <= 0.3
                  AND (CASE WHEN s.chars > 0 AND tg.cnt IS NOT NULL
                        THEN tg.cnt::DOUBLE * length(replace(tg.g, ' ', ''))
                             / s.chars ELSE 0.0 END) <= 0.2
                    AS keep
           FROM stats s
           LEFT JOIN topw tw USING (doc_id)
           LEFT JOIN topg tg USING (doc_id)""",
        # recall@10: exact truth (q26 oracle) vs the deterministic IVF
        # probe (q50 oracle builder), composed as subqueries — the
        # count of approx rows matching truth rows per query
        "q75_ann_recall": f"""
           SELECT t.query_id,
                  CAST(count(*) AS BIGINT) AS n_truth,
                  CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
                  count(a.neighbor_id)::DOUBLE / count(*) AS recall
           FROM ({_Q26_SQL}) t
           LEFT JOIN ({_ann_ivf_oracle()}) a
             ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
           GROUP BY t.query_id""",
    }
    # the protobuf wire legs must reproduce the json legs' rows exactly
    # — same fixture values, different wire form, one oracle
    d["q77_otel_trace_pb"] = d["q65_otel_trace"]
    d["q78_otel_metric_pb"] = d["q66_otel_metric"]
    return d
