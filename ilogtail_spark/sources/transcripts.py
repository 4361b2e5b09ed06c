"""Deterministic multi-turn agent-transcript table.

BASELINE.json's input_hint mandates an input table
``(conv_id string, turn_idx int, role string, text string, tool
string, ts timestamp)``. No such table ships in /root/testdata, and
the correctness driver can only compare against DuckDB views of the
tables that DO ship — so we *derive* transcripts deterministically
from the ``events`` table using only integer arithmetic, string
concatenation and a window row_number. The exact same derivation is
expressed twice:

  * :func:`derive_transcripts` — Spark DataFrame plan (all JVM-side,
    whole-stage codegen, zero Python in the loop);
  * :data:`TRANSCRIPTS_CTE` — an ANSI-SQL CTE DuckDB runs on the same
    parquet, so every downstream query is oracle-checkable.

Fixture properties (FIXTURES.md §1):
  * one hot conversation holds ~28.6% of turns (event_id % 7 < 2) —
    exercises salted aggregation, mirroring the reference's shardhash
    aggregator (plugins/aggregator/shardhash/aggregator_shardhash.go:157-189);
  * cold conversations average ~5.7 turns (blocks of 8 events minus
    the hot ones);
  * ~70% of turns parse under GROK_PATTERN, ~20% are prose
    (parse-miss), ~10% malformed (parse-failure path per
    core/plugin/processor/CommonParserOptions.h:27-39);
  * turn_idx is dense 0..n-1 per conversation; ts comes straight from
    events.ts (deterministic, monotone-ish).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ilogtail_spark.sources.tables import files_signature, load_table, read_parquet

# Shared extraction pattern — compatible across Java regex (Spark),
# RE2 (DuckDB) and Python `re` (pandas-UDF engine + pure-Python oracle).
# Mirrors the reference's canonical 11-group nginx benchmark regex shape
# (test/benchmark/.../performance_file_to_file_loongcollector/loongcollector.yaml:8-24),
# blended with agent-transcript tokens.
GROK_PATTERN = (
    r'tool=(\w+) status=(\d+) latency_ms=(\d+) "(\w+) ([^"\s]+)" err=(\S+)'
)
GROK_FIELDS = ["tool_call", "status", "latency_ms", "method", "url", "err"]

HOT_CONV_ID = "conv-hot00000"


def derive_transcripts(
    spark: SparkSession, sf_dir: str, replicate: int = 1, materialize: bool = True
) -> DataFrame:
    """The transcripts input table, derived deterministically from
    events.parquet.

    replicate>1 multiplies the table deterministically (bench scaling):
    each event row becomes `replicate` turns with distinct synthetic
    event ids ``e*replicate + r`` — still fully deterministic.

    materialize=True (default) writes the derivation to a cached
    parquet table once per (sf, replicate) and returns a SCAN of it —
    matching the north star's input shape (an Iceberg/parquet table of
    transcripts, BASELINE.json input_hint) and keeping `text` a plain
    scan column. With the pure in-plan derivation, every downstream
    filter that Catalyst pushes below the parse re-substitutes the
    text-synthesis CASE expression per reference (observed: a 165 KB
    filter predicate and a 12× slowdown on multi-field queries).
    Values are identical either way; materialize=False keeps the lazy
    plan for plan-shape tests.

    Only the first read of a cache in a process infers its schema
    (:func:`read_parquet`).
    """
    if materialize:
        path = _materialized_path(spark, sf_dir, replicate)
        if path is not None:
            return read_parquet(spark, path)
    return _transcripts_plan(spark, sf_dir, replicate)


def _materialized_path(
    spark: SparkSession, sf_dir: str, replicate: int
) -> str | None:
    """Write-once parquet cache of the derived table; atomic via
    rename. Returns None, with a ``RuntimeWarning`` naming the error,
    if the cache cannot be written."""
    import hashlib
    import os
    import shutil
    import uuid
    import warnings

    root = os.environ.get("ILOGTAIL_SPARK_CACHE", "/tmp/ilogtail_spark_cache")
    # fingerprint the input: abs path + (mtime, size) of every events
    # parquet part, so a regenerated dataset or a same-basename dir
    # elsewhere never serves a stale cache
    ev_dir = os.path.join(os.path.abspath(sf_dir), "events.parquet")
    sig = files_signature(ev_dir) or ev_dir
    fp = hashlib.md5(sig.encode()).hexdigest()[:12]
    key = (
        f"transcripts_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_r{replicate}_{fp}"
    )
    path = os.path.join(root, key)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    try:
        _transcripts_plan(spark, sf_dir, replicate).write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            # lost a concurrent race — someone else materialized it
            shutil.rmtree(tmp, ignore_errors=True)
        return path if os.path.exists(os.path.join(path, "_SUCCESS")) else None
    except Exception as exc:
        shutil.rmtree(tmp, ignore_errors=True)
        warnings.warn(
            f"transcripts cache {root!r} not written ({exc!r}); "
            "falling back to the lazy derivation plan",
            RuntimeWarning,
            stacklevel=3,
        )
        return None


def _transcripts_plan(
    spark: SparkSession, sf_dir: str, replicate: int = 1
) -> DataFrame:
    """The pure derivation plan (no materialization)."""
    from ilogtail_spark.common import spread

    # one small parquet file arrives as one split; spread the narrow
    # per-row derivation (and any replicate-explode) across cores —
    # no-op at real scale where the scan yields thousands of splits
    ev = spread(
        load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    )
    if replicate > 1:
        ev = ev.withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))))
        ev = ev.select(
            (F.col("event_id") * replicate + F.col("r")).alias("event_id"),
            "ts",
            "event_type",
        )
    e = F.col("event_id")

    status = (
        F.when(e % 9 < 6, F.lit(200))
        .when(e % 9 == 6, F.lit(404))
        .when(e % 9 == 7, F.lit(500))
        .otherwise(F.lit(503))
    )
    err = F.when(e % 9 < 6, F.lit("-")).otherwise(
        F.concat(F.lit("E"), status.cast("string"))
    )
    method = (
        F.when(e % 4 == 0, F.lit("GET"))
        .when(e % 4 == 1, F.lit("POST"))
        .when(e % 4 == 2, F.lit("PUT"))
        .otherwise(F.lit("DELETE"))
    )
    tool = (
        F.when(e % 5 == 0, F.lit("bash"))
        .when(e % 5 == 1, F.lit("read"))
        .when(e % 5 == 2, F.lit("write"))
        .when(e % 5 == 3, F.lit("search"))
        .otherwise(F.lit("none"))
    )
    role = (
        F.when(e % 20 < 8, F.lit("user"))
        .when(e % 20 < 16, F.lit("assistant"))
        .when(e % 20 < 17, F.lit("system"))
        .otherwise(F.lit("tool"))
    )
    parseable = F.concat(
        F.lit("invoke tool="),
        tool,
        F.lit(" status="),
        status.cast("string"),
        F.lit(" latency_ms="),
        ((e * 37) % 5000).cast("string"),
        F.lit(' "'),
        method,
        F.lit(" /api/v"),
        (e % 3 + 1).cast("string"),
        F.lit("/"),
        F.col("event_type"),
        F.lit('" err='),
        err,
    )
    prose = F.concat(
        F.lit("the assistant considered "),
        F.col("event_type"),
        F.lit(" and replied with plain prose turn "),
        e.cast("string"),
    )
    malformed = F.concat(
        F.lit("invoke tool= status=XX latency_ms= oops "), e.cast("string")
    )
    text = (
        F.when(e % 10 < 7, parseable).when(e % 10 < 9, prose).otherwise(malformed)
    )

    # hot key: ~2/7 of all turns land in one conversation
    conv_num = F.when(e % 7 < 2, F.lit(-1)).otherwise(
        (e - e % 8) / F.lit(8)
    ).cast("long")
    conv_id = F.when(conv_num == -1, F.lit(HOT_CONV_ID)).otherwise(
        F.concat(F.lit("conv-"), F.lpad(conv_num.cast("string"), 8, "0"))
    )

    # turn_idx in CLOSED FORM — equal to
    # row_number() over (partition by conv_id order by e) - 1, but
    # with zero shuffle. A window here would funnel the hot
    # conversation's ~28% of ALL rows through ONE task (windows can't
    # be salted: ordering is global per partition key), which caps
    # scaling at ~3.5x no matter the core count. event_id is dense
    # 0..N-1 (TESTDATA.md, seeded generator), so ranks are arithmetic:
    #  * hot rows (e%7<2): rank among all hot = 2*(e//7) + min(e%7,2)
    #  * cold rows: block k=e//8 holds j=e%8 ∈ [0,8); member j is hot
    #    iff (k+j)%7<2 (8k≡k mod 7), i.e. j ∈ {(7-k%7)%7, (8-k%7)%7}
    #    (j=7 re-hits class k%7, but then the row IS hot and takes the
    #    hot branch) → rank = j - [a<j] - [b<j]
    j = e % 8
    k = ((e - j) / 8).cast("long")
    m = k % 7
    a = (7 - m) % 7
    b = (8 - m) % 7
    cold_idx = j - (a < j).cast("int") - (b < j).cast("int")
    hot_idx = 2 * ((e - e % 7) / 7).cast("long") + F.least(e % 7, F.lit(2))
    turn_idx = F.when(e % 7 < 2, hot_idx).otherwise(cold_idx).cast("int")

    return ev.select(
        conv_id.alias("conv_id"),
        turn_idx.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.col("ts"),
    )


# DuckDB twin of derive_transcripts (replicate=1). `//` is DuckDB int
# division. Keep in lock-step with the Spark plan above.
TRANSCRIPTS_CTE = """
WITH _t0 AS (
  SELECT
    event_id AS e,
    ts,
    event_type,
    CASE WHEN event_id % 9 < 6 THEN 200
         WHEN event_id % 9 = 6 THEN 404
         WHEN event_id % 9 = 7 THEN 500
         ELSE 503 END AS _status,
    CASE event_id % 4 WHEN 0 THEN 'GET' WHEN 1 THEN 'POST'
         WHEN 2 THEN 'PUT' ELSE 'DELETE' END AS _method,
    CASE event_id % 5 WHEN 0 THEN 'bash' WHEN 1 THEN 'read'
         WHEN 2 THEN 'write' WHEN 3 THEN 'search' ELSE 'none' END AS _tool,
    CASE WHEN event_id % 20 < 8 THEN 'user'
         WHEN event_id % 20 < 16 THEN 'assistant'
         WHEN event_id % 20 < 17 THEN 'system'
         ELSE 'tool' END AS _role,
    CASE WHEN event_id % 7 < 2 THEN -1 ELSE event_id // 8 END AS _conv_num
  FROM events
), _t1 AS (
  SELECT *,
    CASE WHEN _status >= 400 THEN 'E' || CAST(_status AS VARCHAR) ELSE '-' END AS _err
  FROM _t0
), transcripts AS (
  SELECT
    CASE WHEN _conv_num = -1 THEN 'conv-hot00000'
         ELSE 'conv-' || lpad(CAST(_conv_num AS VARCHAR), 8, '0') END AS conv_id,
    CAST(row_number() OVER (PARTITION BY _conv_num ORDER BY e) - 1 AS INTEGER) AS turn_idx,
    _role AS role,
    CASE
      WHEN e % 10 < 7 THEN
        'invoke tool=' || _tool || ' status=' || CAST(_status AS VARCHAR)
        || ' latency_ms=' || CAST((e * 37) % 5000 AS VARCHAR)
        || ' "' || _method || ' /api/v' || CAST(e % 3 + 1 AS VARCHAR) || '/' || event_type
        || '" err=' || _err
      WHEN e % 10 < 9 THEN
        'the assistant considered ' || event_type
        || ' and replied with plain prose turn ' || CAST(e AS VARCHAR)
      ELSE 'invoke tool= status=XX latency_ms= oops ' || CAST(e AS VARCHAR)
    END AS text,
    _tool AS tool,
    ts
  FROM _t1
)
"""

# ---------------------------------------------------------------------------
# dictmap lookup tables (FIXTURES.md §2). Two-column, <=1000 rows —
# exactly the shape processor_dict_map consumes
# (plugins/processor/dictmap/processor_dict_map.go:96-135). 'system'
# and 'none' are intentionally ABSENT to exercise HandleMissing.
# ---------------------------------------------------------------------------
ROLE_LOOKUP = [("user", "human"), ("assistant", "model"), ("tool", "machine")]
TOOL_LOOKUP = [("bash", "shell"), ("read", "fs"), ("write", "fs"), ("search", "net")]

ROLE_LOOKUP_SQL = (
    "(VALUES ('user','human'),('assistant','model'),('tool','machine'))"
    " AS role_lookup(role, role_class)"
)
TOOL_LOOKUP_SQL = (
    "(VALUES ('bash','shell'),('read','fs'),('write','fs'),('search','net'))"
    " AS tool_lookup(tool, tool_family)"
)
