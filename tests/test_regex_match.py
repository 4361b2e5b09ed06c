"""Differential wall: the JVM regex UDF (``jvm/RegexMatch.java``,
``parse.regex_match``) against Spark's own ``rlike``/``regexp_extract``,
which are kept here as the oracle.

For every (pattern list, line) pair the UDF's winner must be the first
pattern that ``rlike`` accepts, and each of its groups must equal
``regexp_extract`` of that pattern, with the UDF's NULL (a group that did
not take part) read as ``regexp_extract``'s ``""``. At the parser level,
duplicate Keys resolve to the last participating group and a pattern
with fewer groups than Keys fails every row.

Inputs are generated once at the driver (seeded RNG over an adversarial
alphabet of anchor fragments, quotes, digits and newlines) and every
case is evaluated in ONE Spark job.
"""

import random

import pyarrow as pa
from pyspark.sql import functions as F

from ilogtail_spark.functions.grok import compile_grok
from ilogtail_spark.operators.parse import (
    PARSE_OK_KEY,
    RAW_LOG_KEY,
    ParserOptions,
    parse_regex,
    regex_match,
)
from ilogtail_spark.sources.transcripts import GROK_PATTERN

FRAGMENTS = [
    "tool=", " status=", " latency_ms=", ' "', '" err=', "bash", "42",
    "GET", "/api/v1/x", "-", "E500", " ", '"', "tool=a", "status=",
    "xx yy", "", "\t", "latency_ms=7", "err=", "invoke ", "\n", "begin ",
    " end", "a=", "b=", "=", "x", "7",
]

# (name, ordered pattern list)
MATCH_CASES = [
    ("flagship", [GROK_PATTERN]),
    ("dotall", [r"(?s)begin (.*) end"]),
    ("full_match", [r"\A(?:(\w+)=(\d+))\z"]),
    ("alternation", [r"tool=(\w+)|status=(\d+)|(err)=(\S*)"]),
    ("optional_groups", [r"(a)?=(\d*)(x)?"]),
    ("grok", [compile_grok("%{WORD:w} %{INT:n}")[0]]),
    ("first_wins", [r"status=(\d+)", r"tool=(\w+)( )?", r"(\w)"]),
]

# parser-level cases: duplicate Keys, and fewer groups than Keys
DUP = r"a=(\w+)|b=(\w+)|x(7)"
FEWER = r"tool=(\w+)"


def _lines(n: int, seed: int = 7) -> list[str]:
    rng = random.Random(seed)
    out = ["".join(rng.choice(FRAGMENTS) for _ in range(rng.randint(1, 12))) for _ in range(n)]
    valid = 'invoke tool=bash status=200 latency_ms=15 "GET /api/v1/x" err=-'
    out += [valid, "tool=a " + valid, "begin x\ny end", "a=1", "a=1 b=2", "x7"]
    out += [valid[:i] for i in range(0, len(valid), 7)]
    return out + [None]


def _oracle_win(src, patterns):
    win = F.lit(None).cast("int")
    for i in range(len(patterns) - 1, -1, -1):
        win = F.when(src.rlike(patterns[i]), F.lit(i)).otherwise(win)
    return win


def _group_count(spark, pattern: str) -> int:
    return spark._jvm.java.util.regex.Pattern.compile(pattern).matcher("").groupCount()


def test_udf_matches_rlike_and_regexp_extract(spark):
    lines = _lines(400)
    df = spark.createDataFrame(pa.table({"id": list(range(len(lines))), "text": lines}))
    src = F.col("text")
    why = []  # one string column per check, non-NULL where it fails
    for name, patterns in MATCH_CASES:
        rx = f"_rx_{name}"
        df = regex_match(df, "text", patterns, out=rx)
        win = _oracle_win(src, patterns)
        why.append(F.when(~F.col(f"{rx}.i").eqNullSafe(win), F.lit(f"{name}: winner")))
        for i, p in enumerate(patterns):
            n = _group_count(spark, p)
            # exactly the winner's groups, each as regexp_extract reads it
            why.append(F.when((win == i) & (F.size(f"{rx}.g") != n), F.lit(f"{name}: size")))
            for j in range(n):
                got = F.coalesce(F.get(F.col(f"{rx}.g"), j), F.lit(""))
                why.append(F.when(
                    (win == i) & (got != F.regexp_extract(src, p, j + 1)),
                    F.lit(f"{name}: pattern {i} group {j + 1}"),
                ))
    # the parser: duplicate Keys take the last participating group (the
    # groups of DUP are never empty, so "last non-empty" is the oracle),
    # and fewer groups than Keys fail every row
    keep = ParserOptions(keep_source=True)
    df = parse_regex(df, DUP, ["k", "k", "k"], options=keep).withColumnsRenamed(
        {PARSE_OK_KEY: "dup_ok", RAW_LOG_KEY: "dup_raw"})
    df = parse_regex(df, FEWER, ["t", "u"], options=keep).withColumnRenamed(PARSE_OK_KEY, "few_ok")
    want_k = F.coalesce(*[F.nullif(F.regexp_extract(src, DUP, j), F.lit("")) for j in (3, 2, 1)], F.lit(""))
    why += [
        F.when(~F.col("dup_ok").eqNullSafe(F.coalesce(src.rlike(DUP), F.lit(False))), F.lit("dup: ok")),
        F.when(F.col("dup_ok") & (F.col("k") != want_k), F.lit("dup: value")),
        F.when(F.col("few_ok"), F.lit("fewer groups: matched")),
    ]
    found = (
        df.select(F.concat_ws(", ", *why).alias("why"), "text")
        .filter(F.col("why") != "").limit(10).collect()
    )
    assert not found, [(r["why"], r["text"]) for r in found]
