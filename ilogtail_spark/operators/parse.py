"""Parsers — the scan-time projection operators.

All share the reference's CommonParserOptions failure contract
(core/plugin/processor/CommonParserOptions.h:27-39, .cpp:91-99):

  * parse success  -> extracted fields appear; source optionally kept;
  * parse failure  -> source preserved under ``__raw_log__`` (rename)
                      unless DiscardUnmatch, in which case the row is
                      dropped entirely;
  * success/failure is observable (``__parse_ok__`` flag) so per-sink
    parse-failure counters match the reference's
    out_failed_events_total / discarded_events_total
    (core/monitor/metric_constants/PluginMetrics.cpp:118-122).

In the columnar model "fields appear" = columns are non-null; a
failed row has NULL extracted columns, ``__parse_ok__ = false`` and
``__raw_log__`` = the source text.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.errors import IllegalArgumentException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StringType, StructField, StructType

from ilogtail_spark.common import sql_ident, sql_str
from ilogtail_spark.operators.registry import cfg_pop, register
from ilogtail_spark.session import java_udf

RAW_LOG_KEY = "__raw_log__"
PARSE_OK_KEY = "__parse_ok__"


@dataclass
class ParserOptions:
    """CommonParserOptions (core/plugin/processor/CommonParserOptions.h:27-39)."""

    keep_source: bool = False  # KeepingSourceWhenParseSucceed
    keep_source_if_fail: bool = True  # KeepingSourceWhenParseFail
    discard_unmatch: bool = False  # drop failed rows entirely
    raw_log_key: str = RAW_LOG_KEY  # RenamedSourceKey


def _apply_failure_contract(
    df: DataFrame, source: str, ok: Column, opts: ParserOptions
) -> DataFrame:
    df = df.withColumn(PARSE_OK_KEY, ok)
    if opts.discard_unmatch:
        df = df.filter(F.col(PARSE_OK_KEY))
        df = df.withColumn(opts.raw_log_key, F.lit(None).cast("string"))
    else:
        df = df.withColumn(
            opts.raw_log_key,
            F.when(
                ~F.col(PARSE_OK_KEY) & F.lit(opts.keep_source_if_fail),
                F.col(source),
            ),
        )
    if not opts.keep_source:
        # keep the source text only where the failure contract demands it
        df = df.withColumn(
            source,
            F.when(
                ~F.col(PARSE_OK_KEY) & F.lit(opts.keep_source_if_fail), F.col(source)
            ),
        )
    return df


# ---------------------------------------------------------------------------
# regex / grok: one JVM match per row
# ---------------------------------------------------------------------------

_MATCH_UDF = (
    "ilogtail_regex_match",
    "ilogtail.spark.regex.RegexMatch",
    StructType([
        StructField("i", IntegerType()),
        StructField("g", ArrayType(StringType())),
    ]),
)


def _group_count(spark, pattern: str) -> int:
    """The capture-group count of ``pattern`` as ``java.util.regex``
    compiles it, on the driver: a pattern that does not compile raises
    a ``ValueError`` naming it before any Spark job runs."""
    java_udf(spark, *_MATCH_UDF)  # raises naming the jar when it is missing
    try:
        return spark._jvm.ilogtail.spark.regex.RegexMatch.groupCount(pattern)
    except IllegalArgumentException as err:  # PatternSyntaxException
        raise ValueError(f"invalid regex {pattern!r}: {err}") from None


def _match_call(fn: str, source: str, patterns: list[str]) -> str:
    return f"{fn}({sql_ident(source)}, array({', '.join(sql_str(p) for p in patterns)}))"


def regex_match(df: DataFrame, source: str, patterns: list[str], out: str = "_rx") -> DataFrame:
    """Add the column ``out``: ``struct<i int, g array<string>>`` of the
    first of ``patterns`` that ``find``s a match in the string column
    ``source`` (its index and groups, NULL for a group that did not
    take part), NULL when none does. ``jvm/RegexMatch.java`` runs once
    per row.

    The call sits in one projection under an ``explode(array(..))``.
    PushDownPredicates substitutes a projected expression into each
    predicate pushed below its projection, so a downstream filter on a
    parsed field would run the match again per row. A Generate is not
    a predicate: filters on ``out`` stay above it, while filters on
    other columns still reach the scan."""
    fn = java_udf(df.sparkSession, *_MATCH_UDF)
    d = df.withColumn(f"{out}_m", F.expr(_match_call(fn, source, patterns)))
    return d.withColumn(out, F.explode(F.array(F.col(f"{out}_m")))).drop(f"{out}_m")


def parse_first_match(
    df: DataFrame,
    alternatives: list[tuple[str, list[str], dict[str, str]]],
    source: str = "text",
    options: ParserOptions | None = None,
) -> DataFrame:
    """Parse ``source`` with the first of the ordered ``(pattern, Keys,
    types)`` alternatives that matches (one is processor_parse_regex;
    several are grok's Match list, processor_grok.go:147-192). The
    output columns are the union of every alternative's Keys; a Key the
    winner does not carry is NULL.

    Go's regex processor appends only the groups that took part in the
    match (regex.go:121-127), so among duplicate Keys the last
    participating group wins; a Key none of whose groups took part is
    ``""`` on a match (Java's ``regexp_extract`` value). A pattern with
    fewer groups than Keys fails every row (regex.go:115-120). A field
    is cast only when every alternative carrying it declares the same
    type: an untyped winner's value must not be cast to NULL.
    """
    opts = options or ParserOptions()
    spark = df.sparkSession
    # a dead alternative (fewer groups than Keys) is left out of the call
    live = [
        (p, keys) for p, keys, _ in alternatives
        if _group_count(spark, p) >= len(keys)
    ]
    names = list(dict.fromkeys(k for _, keys, _ in alternatives for k in keys))
    # overwriting the source column (a Key named like SourceKey) must
    # not corrupt the failure contract's raw-source read
    stash = source in names
    if live:
        out = regex_match(df, source, [p for p, _ in live])
    else:
        out = df.withColumn("_rx", F.lit(None).cast(_MATCH_UDF[2]))
    # nullable in form, never NULL: the written parquet schema keeps the
    # optional __parse_ok__ that the rlike-based flag gave it
    ok = F.when(F.col("_rx").isNotNull(), F.col("_rx.i") >= 0).otherwise(F.lit(False))
    if stash:
        out = out.withColumn("_rx_src", F.col(source))
    for name in names:
        col = F.lit(None).cast("string")
        for k in range(len(live) - 1, -1, -1):
            idxs = [j for j, n in enumerate(live[k][1]) if n == name]
            if idxs:
                val = F.coalesce(*[F.get(F.col("_rx.g"), j) for j in reversed(idxs)], F.lit(""))
                col = F.when(F.col("_rx.i") == k, val).otherwise(col)
        declared = [t.get(name) for _, keys, t in alternatives if name in keys]
        if declared[0] is not None and declared.count(declared[0]) == len(declared):
            col = col.cast(declared[0])
        if name in df.columns and name != source:
            # chained parse stages: a FAILED parse appends nothing in
            # the reference's flat KV bag (regex.go:106-128) — an
            # earlier stage's extraction must survive, not be NULLed
            col = F.when(ok, col).otherwise(F.col(name))
        out = out.withColumn(name, col)
    out = _apply_failure_contract(out, "_rx_src" if stash else source, ok, opts)
    if stash:
        # Go keeps the RAW source KV on parse failure even when a Key
        # shadows SourceKey (shouldKeepSource, regex.go KeepSource /
        # KeepSourceIfParseError) — restore it from the stash
        if opts.keep_source_if_fail and not opts.discard_unmatch:
            out = out.withColumn(
                source, F.when(ok, F.col(source)).otherwise(F.col("_rx_src"))
            )
        out = out.drop("_rx_src")
    return out.drop("_rx")


def parse_regex(
    df: DataFrame,
    pattern: str,
    fields: list[str],
    source: str = "text",
    types: dict[str, str] | None = None,
    options: ParserOptions | None = None,
    full_match: bool = False,
) -> DataFrame:
    """processor_parse_regex_native / processor_regex.

    Reference: core/plugin/processor/ProcessorParseRegexNative.cpp:132-259,
    plugins/processor/regex/regex.go:105-129. Capture groups map to
    ``fields`` in order; ``types`` optionally casts a field (grok's
    int/float annotations, plugins/processor/grok/processor_grok.go:41-46).
    One JVM match per row (:func:`parse_first_match`).
    """
    # \A/\z: ABSOLUTE anchors — a caller-supplied inline (?m) must not
    # let the closing anchor bind to an embedded line end (regex_match
    # semantics, ProcessorParseRegexNative.cpp:194)
    pat = rf"\A(?:{pattern})\z" if full_match else pattern
    return parse_first_match(df, [(pat, fields, types or {})], source, options)


# ---------------------------------------------------------------------------
# JSON
# ---------------------------------------------------------------------------

def parse_json(
    df: DataFrame,
    source: str = "text",
    attrs_col: str = "attrs",
    expand: list[str] | None = None,
    types: dict[str, str] | None = None,
    options: ParserOptions | None = None,
) -> DataFrame:
    """processor_parse_json_native (ProcessorParseJsonNative.cpp:87-107).

    Body parsed as a JSON object; each top-level field becomes a
    content. Dynamic keys -> ``map<string,string>`` column; ``expand``
    lifts chosen keys to top-level columns (processor_json's
    ExpandDepth=1 behavior, plugins/processor/json/processor_json.go:29-42).
    """
    opts = options or ParserOptions()
    types = types or {}
    parsed = F.from_json(F.col(source), "map<string,string>")
    ok = parsed.isNotNull()
    out = df.withColumn(attrs_col, parsed)
    for k in expand or []:
        col = F.element_at(F.col(attrs_col), k)
        if k in types:
            col = col.cast(types[k])
        out = out.withColumn(k, col)
    return _apply_failure_contract(out, source, ok, opts)


class _RawTok(str):
    """Marker: a JSON scalar kept as its RAW source text (numbers via
    parse_float/int hooks; constants)."""


def _go_json_walk(
    src: str,
    depth: int,
    connector: str,
    base: str,
    first_connector: str,
    expand_array: bool = False,
) -> dict | None:
    """EXACT processor_json expansion (processor_json.go:134-201,
    jsonparser.ObjectEach): only values that ARE objects recurse — a
    STRING whose text looks like JSON stays a verbatim string (the
    jsonparser dataType check; JVM from_json cannot make that
    distinction, which is why this is a Python walk); depth 0 is
    truly unlimited; a null value renders as "null"; numbers keep
    their raw source text (parse hooks); arrays and beyond-depth
    objects re-serialize compactly (the one deviation: Go returns the
    raw span with original whitespace). Returns None when the source
    is not a JSON object — the plugin's parse-failure path."""
    import json

    try:
        obj = json.loads(
            src, parse_float=_RawTok, parse_int=_RawTok, parse_constant=_RawTok
        )
    except Exception:
        return None
    if not isinstance(obj, dict):
        return None

    def dump(v) -> str:
        if isinstance(v, _RawTok):
            return str(v)
        if v is None:
            return "null"
        if v is True:
            return "true"
        if v is False:
            return "false"
        if isinstance(v, str):
            return json.dumps(v, ensure_ascii=False)
        if isinstance(v, list):
            return "[" + ",".join(dump(x) for x in v) + "]"
        if isinstance(v, dict):
            return "{" + ",".join(
                json.dumps(k, ensure_ascii=False) + ":" + dump(x)
                for k, x in v.items()
            ) + "}"
        return json.dumps(v)

    def scalar(v) -> str:
        # flattenValue (go:193-201): strings verbatim, others raw
        if isinstance(v, str) and not isinstance(v, _RawTok):
            return v
        return dump(v)

    out: dict[str, str] = {}

    def conn(d: int) -> str:
        return first_connector if d == 1 else connector

    def walk_obj(built_key: str, o: dict, d: int) -> None:
        walk(built_key, o, d)

    def walk(prefix: str, o: dict, d: int) -> None:
        for k, v in o.items():
            key = prefix + conn(d) + k
            if isinstance(v, dict):
                if d == depth:  # nowDepth == maxDepth -> raw (go:158-163)
                    out[key] = dump(v)
                else:
                    walk(key, v, d + 1)
            elif isinstance(v, list):
                if not expand_array or d == depth:
                    # ExpandArray false (the Go default): raw fragment
                    out[key] = dump(v)
                else:
                    # flattenArray (go:171-190): elements keyed
                    # key[i]; objects recurse at this depth, nested
                    # arrays fall to flattenValue (raw), scalars as-is
                    for idx, item in enumerate(v):
                        ik = prefix + conn(d) + f"{k}[{idx}]"
                        if isinstance(item, dict):
                            if d == depth:
                                out[ik] = dump(item)
                            else:
                                walk_obj(ik, item, d + 1)
                        elif isinstance(item, list):
                            out[ik] = dump(item)
                        else:
                            out[ik] = scalar(item)
            else:
                out[key] = scalar(v)

    walk(base, obj, 1)
    return out


def _go_json_udf(
    depth: int,
    connector: str,
    base: str,
    first_connector: str,
    expand_array: bool = False,
):
    """Vectorized Arrow batch UDF for the Go-flavor expansion — one
    Python pass per batch, map<string,string> out, NULL on failure."""

    @F.pandas_udf("map<string,string>")
    def run(s: pd.Series) -> pd.Series:
        return s.map(
            lambda v: None
            if v is None
            else _go_json_walk(
                v, depth, connector, base, first_connector, expand_array
            )
        )

    return run


def parse_json_expanded(
    df: DataFrame,
    source: str = "text",
    attrs_col: str = "attrs",
    depth: int = 0,
    connector: str = "_",
    prefix: str = "",
    use_source_key_as_prefix: bool = False,
    ignore_first_connector: bool = False,
    expand_array: bool = False,
    options: ParserOptions | None = None,
) -> DataFrame:
    """processor_json (Go flavor) with the reference's exact key
    building (processor_json.go:29-42,134-201): final key =
    Prefix + [SourceKey] + getConnector(1) + k1 [+ connector + k2].
    ``expand_array`` follows flattenArray (go:171-190): elements key
    as ``k[i]``, objects recurse, nested arrays stay raw. Parse
    failure follows the shared contract.
    """
    opts = options or ParserOptions()
    from ilogtail_spark.common import resolve_key

    base = prefix + (source if use_source_key_as_prefix else "")
    first = "" if ignore_first_connector else connector
    src = resolve_key(df, source, attrs_col)
    parsed = _go_json_udf(depth, connector, base, first, expand_array)(src)
    # materialize once: parsed is referenced by ok + the merge
    mcol = "_pj_parsed"
    df = df.withColumn(mcol, parsed)
    parsed = F.col(mcol)
    ok = parsed.isNotNull()
    if attrs_col in df.columns:
        # chained stage: merge the new flattened keys into the
        # existing KV bag last-wins (the reference appends to the
        # flat contents list); the consumed source entry drops per
        # shouldKeepSource (processor_json.go:100-102)
        from ilogtail_spark.common import map_last_wins

        old = F.col(attrs_col)
        if source in df.columns:
            # source is a real column — the contract helper handles
            # its keep/drop; never touch a same-named attrs entry
            kept = old
        else:
            drop_src = F.when(
                ok, F.lit(not opts.keep_source)
            ).otherwise(
                F.lit(not (opts.keep_source or opts.keep_source_if_fail))
            )
            kept = F.when(
                drop_src & src.isNotNull(),
                F.map_filter(old, lambda k, _v: k != F.lit(source)),
            ).otherwise(old)
        # a NULL existing bag must not swallow the parsed keys
        # (map_entries(NULL) poisons the concat)
        empty = F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast("array<string>")
        )
        merged = F.when(
            ok,
            map_last_wins(
                F.concat(
                    F.map_entries(F.coalesce(kept, empty)),
                    F.map_entries(parsed),
                )
            ),
        ).otherwise(kept)
        out = df.withColumn(attrs_col, merged)
        if source in out.columns and source != mcol:
            return _apply_failure_contract(out, source, ok, opts).drop(mcol)
        out = out.withColumn(PARSE_OK_KEY, ok)
        if opts.discard_unmatch:
            out = out.filter(F.col(PARSE_OK_KEY))
        return out.drop(mcol)
    out = df.withColumn(attrs_col, parsed)
    return _apply_failure_contract(out, source, ok, opts).drop(mcol)


# ---------------------------------------------------------------------------
# CSV / delimiter
# ---------------------------------------------------------------------------

# Sentinel scheme: pre-existing NUL bytes in the input (binary garbage
# in a log line — the data is data-controlled, so "NUL never appears"
# is not an invariant we can assume) are ESCAPED to NUL+SOH before
# masking, and the separator mask uses NUL+STX, so unmasking can never
# rewrite payload bytes. All plain structural replaces, still linear.
_QS_ESC = "\x00\x01"  # escaped form of a literal input NUL
_QS_SENTINEL = "\x00\x02"  # masked separator


def quote_split(src: Column, sep: str, quote: str, limit: int = -1) -> Column:
    """Quote-aware split: break on ``sep`` only outside quoted regions
    (split_char.go:34-184's scan).

    LINEAR structural plan — no java.util.regex in the hot path (regex
    anti-scales on wide parallelism, and the previous balanced-quote
    lookahead rescanned the rest of the line at every separator,
    O(L·s) on long quoted CSV):
      1. split on the quote char — segments alternate outside/inside
         (quote-doubling escapes produce an empty outside segment, so
         parity stays correct for any adjacent separator);
      2. inside segments mask ``sep`` to a NUL sentinel;
      3. re-join with the quote char (quotes preserved for
         unquote_field) and split on ``sep``;
      4. unmask the sentinel in each part.
    Malformed input: a lone unbalanced quote glues the TAIL from the
    quote onward into one field (the reference scanner extends the
    field to the nearest closing quote; the old lookahead disabled
    splitting for the WHOLE line — this form is strictly closer).
    """
    import re as _re

    protected = F.replace(src, F.lit("\x00"), F.lit(_QS_ESC))
    segs = F.split(protected, _re.escape(quote), -1)
    masked = F.array_join(
        F.transform(
            segs,
            lambda s, i: F.when(
                i % 2 == 1, F.replace(s, F.lit(sep), F.lit(_QS_SENTINEL))
            ).otherwise(s),
        ),
        quote,
    )
    parts = F.split(masked, _re.escape(sep), limit)
    return F.transform(
        parts,
        lambda p: F.replace(
            F.replace(p, F.lit(_QS_SENTINEL), F.lit(sep)),
            F.lit(_QS_ESC),
            F.lit("\x00"),
        ),
    )


def unquote_field(c: Column, quote: str) -> Column:
    """Strip a wrapping quote pair and collapse doubled inner quotes
    (quote-doubling escape, split_char.go:30-32's supported shape)."""
    import re as _re

    wrapped = (F.length(c) >= 2) & c.startswith(quote) & c.endswith(quote)
    inner = F.substring(c, F.lit(2), F.length(c) - 2)
    return F.when(
        wrapped, F.regexp_replace(inner, _re.escape(quote * 2), quote)
    ).otherwise(c)


def parse_delimiter(
    df: DataFrame,
    fields: list[str],
    source: str = "text",
    sep: str = ",",
    quote: str | None = '"',
    allow_shortened: bool = False,
    overflow: str = "extend",  # extend | keep | discard
    options: ParserOptions | None = None,
) -> DataFrame:
    """processor_parse_delimiter_native (ProcessorParseDelimiterNative.cpp:186-206)
    + processor_csv (processor_csv.go:111).

    Both paths share one shape — split to parts, project by index —
    so ``overflow`` and ``allow_shortened`` behave identically with
    and without a quote char (the quote path previously delegated to
    from_csv and silently ignored them). Overflow per the reference:
      extend  -> surplus columns appear as __column{i}__
      keep    -> surplus glued (unsplit) onto the last field
      discard -> surplus dropped
    Short rows fail the parse unless allow_shortened; the field count
    is the real (quote-aware) one, so an empty-quoted last field no
    longer reads as a short row.
    """
    import re as _re

    opts = options or ParserOptions()
    n = len(fields)
    limit = -1 if overflow != "keep" else n
    if quote:
        parts = quote_split(F.col(source), sep, quote, limit)
    else:
        parts = F.split(F.col(source), _re.escape(sep), limit)
    npart = F.size(parts)
    ok = F.col(source).isNotNull() & (
        (npart >= n) if not allow_shortened else F.lit(True)
    )
    out = df.withColumn("_parts", parts)

    def field_val(idx0: int) -> Column:
        v = F.element_at(F.col("_parts"), idx0 + 1)
        if quote and not (overflow == "keep" and idx0 == n - 1):
            # the glued 'keep' remainder stays RAW (it spans several
            # still-quoted fields; unquoting would mangle it)
            return unquote_field(v, quote)
        return v

    for i, f_name in enumerate(fields):
        out = out.withColumn(f_name, F.when(ok, field_val(i)))
    if overflow == "extend":
        # surplus fields materialize as __column{i}__ up to a static cap
        for j in range(n, n + 4):
            out = out.withColumn(
                f"__column{j}__", F.when(npart > j, field_val(j))
            )
    out = out.drop("_parts")
    return _apply_failure_contract(out, source, ok, opts)


# ---------------------------------------------------------------------------
# key-value
# ---------------------------------------------------------------------------

def parse_kv(
    df: DataFrame,
    source: str = "text",
    pair_sep: str = "&",
    kv_sep: str = "=",
    attrs_col: str = "attrs",
    expand: list[str] | None = None,
    options: ParserOptions | None = None,
) -> DataFrame:
    """processor_split_key_value (key_value_splitter.go:26-40,209) /
    SPL parse-kv (core/unittest/spl/SplUnittest.cpp:565-630).

    ``str_to_map`` is the exact JVM primitive. pair_sep accepts a
    regex character class for multi-delimiter splits (the SPL test
    uses delims '&?').
    """
    from ilogtail_spark.common import map_last_wins

    opts = options or ParserOptions()
    # NOT str_to_map: that throws on duplicate keys ('a=1&a=2') under
    # the default EXCEPTION dedup policy — fold last-wins instead
    # (key_value_splitter.go appends duplicates without error)
    # split each pair ONCE (codegen does not CSE across struct fields —
    # naming both fields off F.split(p, ...) directly would run the
    # regex split twice per pair on this hot path)
    entries = F.transform(
        F.transform(
            F.split(F.col(source), pair_sep, -1),
            lambda p: F.split(p, kv_sep, 2),
        ),
        lambda a: F.struct(
            F.get(a, 0).alias("key"), F.get(a, 1).alias("value")
        ),
    )
    parsed = map_last_wins(entries)
    ok = F.col(source).isNotNull() & F.col(source).contains(kv_sep)
    out = df.withColumn(attrs_col, F.when(ok, parsed))
    for k in expand or []:
        out = out.withColumn(k, F.element_at(F.col(attrs_col), k))
    return _apply_failure_contract(out, source, ok, opts)


def split_key_value(
    df: DataFrame,
    source: str = "text",
    pair_sep: str = "\t",
    kv_sep: str = ":",
    quote: str | None = None,
    attrs_col: str = "attrs",
    empty_key_prefix: str = "empty_key_",
    no_sep_key_prefix: str = "no_separator_key_",
    discard_no_sep: bool = False,
    expand: list[str] | None = None,
    options: ParserOptions | None = None,
) -> DataFrame:
    """processor_split_key_value, full reference semantics
    (key_value_splitter.go:26-60,97-160): quote-aware pair splitting
    (quoted values may embed the delimiter), and the anomaly policies —
    a pair without the separator lands under
    ``no_separator_key_<i>`` (or is dropped with
    DiscardWhenSeparatorNotFound), an empty key becomes
    ``empty_key_<i>``; counters index per row in pair order.

    One ``aggregate`` over the split pairs builds (entries, counters)
    as a struct fold — higher-order JVM expressions, no UDF, no
    shuffle.
    """
    opts = options or ParserOptions()
    src = F.col(source)
    if quote:
        pairs = quote_split(src, pair_sep, quote, -1)
    else:
        import re as _re

        pairs = F.split(src, _re.escape(pair_sep), -1)

    entry_t = "array<struct<key:string,value:string>>"
    init = F.struct(
        F.array().cast(entry_t).alias("entries"),
        F.lit(0).alias("ek"),
        F.lit(0).alias("nk"),
    )

    def unq(c: Column) -> Column:
        return unquote_field(c, quote) if quote else c

    def merge(acc: Column, p: Column) -> Column:
        pos = F.instr(p, kv_sep)
        no_sep = pos == 0
        empty_key = pos == 1
        key = F.when(
            no_sep, F.concat(F.lit(no_sep_key_prefix), acc["nk"].cast("string"))
        ).when(
            empty_key, F.concat(F.lit(empty_key_prefix), acc["ek"].cast("string"))
        ).otherwise(F.substring(p, F.lit(1), pos - 1))
        value = F.when(no_sep, unq(p)).otherwise(
            unq(F.substring(p, pos + len(kv_sep), F.length(p)))
        )
        entry = F.struct(key.alias("key"), value.alias("value"))
        drop = no_sep & F.lit(discard_no_sep)
        return F.struct(
            F.when(drop, acc["entries"])
            .otherwise(F.array_append(acc["entries"], entry))
            .alias("entries"),
            (acc["ek"] + empty_key.cast("int")).alias("ek"),
            (acc["nk"] + (no_sep & ~F.lit(discard_no_sep)).cast("int")).alias("nk"),
        )

    from ilogtail_spark.common import map_last_wins

    folded = F.aggregate(pairs, init, merge)
    ok = src.isNotNull()
    # last-wins fold, NOT map_from_entries: a repeated key ('a=1\ta=2')
    # throws under the default EXCEPTION dedup policy; the reference
    # appends duplicates without error (key_value_splitter.go:97-160)
    out = df.withColumn(attrs_col, F.when(ok, map_last_wins(folded["entries"])))
    for k in expand or []:
        out = out.withColumn(k, F.element_at(F.col(attrs_col), k))
    return _apply_failure_contract(out, source, ok, opts)


# ---------------------------------------------------------------------------
# timestamps
# ---------------------------------------------------------------------------

def parse_timestamp(
    df: DataFrame,
    source: str,
    fmt: str,
    dest: str = "ts",
    source_tz: str | None = None,
    fallback_now: bool = False,
) -> DataFrame:
    """processor_parse_timestamp_native / processor_strptime / gotime
    (ProcessorParseTimestampNative.cpp:100-126, strptime.go:191,
    processor_gotime.go:169).

    SPL failure semantics: unparseable time -> now()
    (ProcessorSPL.cpp:126-134) when fallback_now; else NULL (row keeps
    its previous event time via coalesce at the call site).

    ``source`` may be a Column (the factory resolves SourceKey
    against columns-or-attrs via common.resolve_key).
    """
    src = source if isinstance(source, Column) else F.col(source)
    # try_: malformed input is data-controlled (ANSI to_timestamp
    # throws); failure -> NULL is the reference's keep-row behavior
    parsed = F.try_to_timestamp(src, F.lit(fmt))
    if source_tz:
        parsed = F.to_utc_timestamp(parsed, source_tz)
    if fallback_now:
        parsed = F.coalesce(parsed, F.current_timestamp())
    return df.withColumn(dest, parsed)


# ---------------------------------------------------------------------------
# apsara fixed-format — EXACT ProcessorParseApsaraNative semantics
# ---------------------------------------------------------------------------

APSARA_LEVEL_KEY = "__LEVEL__"
APSARA_THREAD_KEY = "__THREAD__"
APSARA_FILE_KEY = "__FILE__"
APSARA_LINE_KEY = "__LINE__"
_APSARA_MAX_BASE_FIELDS = 10

# strptime "%Y-%m-%d %H:%M:%S" with conv_num's flexible 1-2-digit
# fields and whitespace-run separator; POSSESSIVE quantifiers replicate
# conv_num's no-backtrack greed (otherwise "…:095]" would regex-split
# as sec=0/frac=95 where the C++ reads sec=09 and no fraction). Group 7
# is the single skipped separator char, group 8 the fraction digits.
_APSARA_DT = (
    r"^\[([0-9]{4})-([0-9]{1,2}+)-([0-9]{1,2}+)\s++"
    r"([0-9]{1,2}+):([0-9]{1,2}+):([0-9]{1,2}+)(?:([^\]])([0-9]{1,9}+))?"
)


def parse_apsara_tz_offset(tz: str | None) -> int:
    """Timezone config ("GMT+08:00") → offset seconds.

    ParseTimeZoneOffsetSecond (core/common/TimeUtil.cpp): the parsed
    wall-clock is interpreted as being IN this zone.  The C++ stores
    ``logTZ − localTZ`` and subtracts it from ``mktime``'s local-zone
    epoch — algebraically ``epoch_utc(naive) − logTZ``, machine-zone
    independent, which is what we compute under the pinned-UTC session.
    """
    if not tz:
        return 0
    import re as _re

    m = _re.fullmatch(r"GMT([+-])(\d{1,2}):?(\d{2})", tz.strip())
    if not m:
        return 0  # PARAM_WARNING_IGNORE: invalid Timezone keeps offset 0
    sign = 1 if m.group(1) == "+" else -1
    return sign * (int(m.group(2)) * 3600 + int(m.group(3)) * 60)


def _apsara_nsec(digits: Column) -> Column:
    """conv_nanosecond (core/common/Strptime.cpp): a digit run scaled
    by 10^(9−len) to nanoseconds.  Runs longer than 9 digits overflow a
    C unsigned int in the reference — we take the first 9 (the regexes
    cap the capture), the only deviation, on degenerate input only."""
    return F.when(digits != "", F.rpad(digits, 9, "0").cast("long")).otherwise(
        F.lit(0).cast("long")
    )


def apsara_time_struct(src: Column, tz_offset_sec: int = 0) -> Column:
    """ApsaraEasyReadLogTimeParser (ProcessorParseApsaraNative.cpp:250-324)
    as one codegen expression → struct(ok, sec, micro).

    Two legs, dispatched on ``buffer[1]``:

    * ``'1'`` → epoch: strptime_ns "%s" (Strptime.cpp:83-112) strtoll's
      the WHOLE digit run, keeps the first 10 digits as seconds, reads
      nanoseconds from digit 11 on, and succeeds only when the run ends
      exactly at ``']'`` (``strptimeResult[0] == ']'``) — so an epoch in
      millis/micros still parses, with the tail folded into the
      fraction, while ``[1378882630.123]`` FAILS (strtoll stops at the
      dot).  No timezone adjustment on this leg.
    * else → ``%Y-%m-%d %H:%M:%S`` (19 chars strict), then ONE skipped
      separator char and an optional digit-run fraction (junk after the
      fraction is ignored; a failed fraction keeps the seconds);
      ``sec −= tz_offset``.  Deviation: mktime normalizes impossible
      dates (Feb 30 → Mar 2); we fail the parse instead
      (try_to_timestamp), matching on all calendar-valid input.

    A leading ``[`` and a ``]`` somewhere are preconditions of both legs.
    """
    first2 = F.substring(src, 1, 2)
    has_close = F.instr(src, "]") > 0

    # epoch leg
    ep_digits = F.regexp_extract(src, r"^\[(1[0-9]*)\]", 1)
    ep_ok = (first2 == "[1") & (ep_digits != "")
    ep_sec = F.substring(ep_digits, 1, 10).try_cast("long")
    ep_nsec = _apsara_nsec(F.substring(ep_digits, 11, 9))
    ep_micro = ep_sec * F.lit(1000000).cast("long") + F.floor(ep_nsec / 1000)

    # datetime leg
    def g(i: int) -> Column:
        return F.regexp_extract(src, _APSARA_DT, i)

    dt_parsed = F.try_make_timestamp(
        years=g(1).try_cast("int"),
        months=g(2).try_cast("int"),
        days=g(3).try_cast("int"),
        hours=g(4).try_cast("int"),
        mins=g(5).try_cast("int"),
        secs=g(6).try_cast("decimal(16,6)"),
    )
    dt_ok = has_close & dt_parsed.isNotNull()
    dt_sec = F.unix_timestamp(dt_parsed) - F.lit(tz_offset_sec).cast("long")
    dt_nsec = _apsara_nsec(g(8))
    dt_micro = dt_sec * F.lit(1000000).cast("long") + F.floor(dt_nsec / 1000)

    is_epoch_leg = first2 == "[1"
    starts = F.substring(src, 1, 1) == "["
    ok = starts & F.when(is_epoch_leg, ep_ok).otherwise(dt_ok)
    sec = F.when(is_epoch_leg, ep_sec).otherwise(dt_sec)
    micro = F.when(is_epoch_leg, ep_micro).otherwise(dt_micro)
    return F.struct(
        ok.alias("ok"),
        F.when(ok, sec).alias("sec"),
        F.when(ok, micro).alias("micro"),
    )


def _apsara_base_spans(src: Column) -> Column:
    """FindBaseFields (ProcessorParseApsaraNative.cpp:344-365) as one
    fold over char positions → struct(b: array<int>, e: array<int>)
    of 1-based (content-start, ']'-pos) spans, quirks preserved:

    * every ``'['`` RESETS the pending begin (corrupt open brackets
      swallow what precedes the next valid field),
    * a ``']'`` is recorded only when followed by tab / newline / EOF,
    * the scan BREAKS after any ``']'`` whose next char is a tab not
      followed by ``'['`` (so ``\\t[corrupt\\tcount:45`` leaves the
      corrupt segment to the KV region), and at 10 recorded fields.
    """
    n = F.length(src)
    chars = F.split(src, "")
    init = F.struct(
        F.lit(False).alias("done"),
        F.lit(1).alias("begin"),
        F.array().cast("array<int>").alias("b"),
        F.array().cast("array<int>").alias("e"),
    )

    def merge(acc: Column, i: Column) -> Column:
        c = F.get(chars, i - 1)
        c1 = F.get(chars, i)  # NULL past end — the C++ '\0' sentinel
        c2 = F.get(chars, i + 1)
        is_open = c == "["
        is_close = c == "]"
        recorded = is_close & (c1.isNull() | (c1 == "\t") | (c1 == "\n"))
        stop_tab = (
            is_close
            & F.coalesce(c1 == "\t", F.lit(False))
            & (c2.isNull() | (c2 != "["))
        )
        rec_now = ~acc["done"] & recorded
        full_after = rec_now & (
            F.size(acc["b"]) + 1 >= F.lit(_APSARA_MAX_BASE_FIELDS)
        )
        return F.struct(
            (acc["done"] | (~acc["done"] & is_close & (full_after | stop_tab))).alias(
                "done"
            ),
            F.when(~acc["done"] & is_open, i + 1)
            .otherwise(acc["begin"])
            .alias("begin"),
            F.when(rec_now, F.array_append(acc["b"], acc["begin"]))
            .otherwise(acc["b"])
            .alias("b"),
            F.when(rec_now, F.array_append(acc["e"], i))
            .otherwise(acc["e"])
            .alias("e"),
        )

    # return the fold struct VERBATIM (fields done/begin/b/e): re-wrapping
    # would duplicate the aggregate tree — the plan-blowup trap
    return F.aggregate(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))), init, merge
    )


def parse_apsara(
    df: DataFrame,
    source: str = "text",
    options: ParserOptions | None = None,
    timezone: str | None = None,
    fields_col: str = "fields",
) -> DataFrame:
    """processor_parse_apsara_native — EXACT ProcessEvent semantics
    (ProcessorParseApsaraNative.cpp:117-248), unit-table-verified
    against ProcessorParseApsaraNativeUnittest::TestApsaraLogLineParser
    (all 31 cases, tests/test_parse.py).

    Pipeline (every stage its own projection — multi-referenced heavy
    expressions must be materialized as columns or Catalyst's
    substitution re-inlines the char fold exponentially):

    * ``_ap_t``  — time legs (:func:`apsara_time_struct`);
    * ``_ap_sp`` — FindBaseFields char fold (:func:`_apsara_base_spans`);
    * classification (cpp:428-455): LEVEL = first all-``[A-Z]`` span
      after the time field (an EMPTY span matches vacuously), THREAD =
      first all-digit span not claimed as LEVEL, FILE/LINE = first span
      containing ``/`` or ``.`` split at its first ``':'`` (LINE absent
      when none; the classes cannot otherwise collide);
    * KV region from the last recorded ``']'`` (cpp:205-227): segments
      split on tab; key = text before the FIRST ``':'`` seen at
      positions AFTER that ``']'`` — the first segment's key starts at
      ``beg_index = 0``, so when no base field was found (scan from
      index 1) or a recorded ``']'`` is followed by ``'\n'``, the key
      faithfully includes the whole line prefix;
    * entries fold FIRST-WINS (AddLog, cpp:467-472), in add order:
      base claims, KV pairs, then ``microtime`` — a KV literally named
      ``microtime`` beats the synthetic one; a KV key equal to the
      SOURCE key never lands (the source content still exists while
      the KV loop runs) but sets sourceKeyOverwritten (cpp:219-221).

    Output: ``fields`` map (``__LEVEL__ __THREAD__ __FILE__ __LINE__``
    + KV pairs + ``microtime``), ``apsara_sec`` (epoch seconds the
    event timestamp is set to), ``__parse_ok__``.

    Failure contract (cpp:139-175 + CommonParserOptions):

    * EMPTY source → event untouched (ok=false but the row and its
      source survive unconditionally — the cpp:131 early return);
    * time-parse fail → source deleted, raw copy under
      ``opts.raw_log_key`` when KeepingSourceWhenParseFail, row DROPPED
      when not keeping it (ShouldEraseEvent: our single-source-column
      model has no other contents, exactly the unit fixture shape);
    * success → source deleted unless a KV key overwrote it, raw copy
      when KeepingSourceWhenParseSucceed.
    """
    opts = options or ParserOptions()
    src = F.col(source)
    entry_t = "array<struct<key:string,value:string>>"

    def ent(k: Column, v: Column) -> Column:
        return F.struct(k.alias("key"), v.alias("value"))

    d = df.withColumn(
        "_ap_t", apsara_time_struct(src, parse_apsara_tz_offset(timezone))
    )
    d = d.withColumn("_ap_sp", _apsara_base_spans(src))
    d = d.withColumn(
        "_ap_conts",
        F.zip_with(
            F.col("_ap_sp")["b"],
            F.col("_ap_sp")["e"],
            lambda bb, ee: src.substr(bb, ee - bb),
        ),
    )
    n_sp = F.size(F.col("_ap_sp")["b"])
    d = d.withColumn(
        "_ap_idxs",
        F.when(n_sp >= 2, F.sequence(F.lit(2), n_sp)).otherwise(
            F.array().cast("array<int>")
        ),
    )

    def cont(i: Column) -> Column:
        return F.get(F.col("_ap_conts"), i - 1)

    idxs = F.col("_ap_idxs")
    d = d.withColumn(
        "_ap_lvl", F.get(F.filter(idxs, lambda i: cont(i).rlike("^[A-Z]*$")), 0)
    )
    d = d.withColumn(
        "_ap_thr",
        F.get(
            F.filter(
                idxs,
                lambda i: cont(i).rlike("^[0-9]*$")
                & (F.col("_ap_lvl").isNull() | (i != F.col("_ap_lvl"))),
            ),
            0,
        ),
    )
    d = d.withColumn(
        "_ap_fil",
        F.get(
            F.filter(idxs, lambda i: cont(i).contains("/") | cont(i).contains(".")),
            0,
        ),
    )

    def base_for(i: Column) -> Column:
        c = cont(i)
        colon = F.instr(c, ":")
        file_arr = F.when(
            colon > 0,
            F.array(
                ent(F.lit(APSARA_FILE_KEY), F.substring(c, 1, colon - 1)),
                ent(F.lit(APSARA_LINE_KEY), F.substring(c, colon + 1, F.length(c))),
            ),
        ).otherwise(F.array(ent(F.lit(APSARA_FILE_KEY), c)))
        return (
            F.when(
                F.coalesce(i == F.col("_ap_lvl"), F.lit(False)),
                F.array(ent(F.lit(APSARA_LEVEL_KEY), c)),
            )
            .when(
                F.coalesce(i == F.col("_ap_thr"), F.lit(False)),
                F.array(ent(F.lit(APSARA_THREAD_KEY), c)),
            )
            .when(F.coalesce(i == F.col("_ap_fil"), F.lit(False)), file_arr)
            .otherwise(F.array().cast(entry_t))
        )

    d = d.withColumn("_ap_base", F.flatten(F.transform(idxs, base_for)))

    # KV region: r = 1-based pos of the last recorded ']'; the C++
    # returns index 0 when no base field was found (scan resumes at 1)
    d = d.withColumn(
        "_ap_r",
        F.when(n_sp > 0, F.element_at(F.col("_ap_sp")["e"], -1)).otherwise(F.lit(1)),
    )
    d = d.withColumn(
        "_ap_segs",
        F.split(src.substr(F.col("_ap_r") + 1, F.length(src)), "\t", -1),
    )

    def kv_for(seg: Column, j: Column) -> Column:
        p = F.instr(seg, ":")
        base_prefix = src.substr(F.lit(1), F.col("_ap_r"))
        key = F.when(
            j == 0, F.concat(base_prefix, F.substring(seg, 1, p - 1))
        ).otherwise(F.substring(seg, 1, p - 1))
        val = F.substring(seg, p + 1, F.length(seg))
        return F.when(p > 0, F.array(ent(key, val))).otherwise(
            F.array().cast(entry_t)
        )

    d = d.withColumn(
        "_ap_kv",
        F.flatten(
            F.zip_with(
                F.col("_ap_segs"),
                F.sequence(F.lit(0), F.size(F.col("_ap_segs")) - 1),
                kv_for,
            )
        ),
    )

    from ilogtail_spark.common import map_last_wins

    t = F.col("_ap_t")
    ok = F.coalesce(t["ok"], F.lit(False))
    entries = F.concat(
        F.col("_ap_base"),
        F.col("_ap_kv"),
        F.array(ent(F.lit("microtime"), t["micro"].cast("string"))),
    )
    # AddLog is FIRST-wins — reverse before the last-wins fold; the
    # source-key entry is excluded (see docstring)
    d = d.withColumn(
        fields_col,
        F.when(
            ok,
            map_last_wins(
                F.reverse(
                    F.filter(entries, lambda en: en["key"] != F.lit(source))
                )
            ),
        ),
    )
    overwritten = F.coalesce(
        F.exists(F.col("_ap_kv"), lambda en: en["key"] == F.lit(source)),
        F.lit(False),
    )
    empty = src.isNull() | (F.length(src) == 0)
    out = (
        d.withColumn("_ap_empty", empty)
        .withColumn("apsara_sec", t["sec"])
        .withColumn(PARSE_OK_KEY, ok)
        .withColumn(
            opts.raw_log_key,
            F.when(~empty & ok & F.lit(opts.keep_source), src).when(
                ~empty & ~ok & F.lit(opts.keep_source_if_fail), src
            ),
        )
        .withColumn(
            source,
            F.when(empty, src).when(ok & overwritten, src),
        )
    )
    if not opts.keep_source_if_fail or opts.discard_unmatch:
        # ShouldEraseEvent: failed + not keeping source + nothing else
        # in the event → drop (empty-source rows never enter this path;
        # the flag column was materialized BEFORE the source rewrite)
        out = out.filter(F.col("_ap_empty") | F.col(PARSE_OK_KEY))
    return out.drop(
        "_ap_t", "_ap_sp", "_ap_conts", "_ap_idxs", "_ap_lvl", "_ap_thr",
        "_ap_fil", "_ap_base", "_ap_r", "_ap_segs", "_ap_kv", "_ap_empty",
    )


# ---------------------------------------------------------------------------
# registry entries
# ---------------------------------------------------------------------------

def _opts_from_config(cfg: dict) -> ParserOptions:
    # two key dialects for the same options: the Go plugins say
    # KeepSource/KeepSourceIfParseError (processor_json.go:29-40), the
    # native C++ processors say KeepingSourceWhenParseSucceed/
    # KeepingSourceWhenParseFail (CommonParserOptions.h) — YAML configs
    # in the wild use either
    return ParserOptions(
        keep_source=cfg_pop(
            cfg, "KeepSource", "KeepingSourceWhenParseSucceed",
            "keep_source", default=False,
        ),
        keep_source_if_fail=cfg_pop(
            cfg, "KeepSourceIfParseError", "KeepingSourceWhenParseFail",
            "keep_source_if_fail", default=True,
        ),
        discard_unmatch=cfg_pop(cfg, "DiscardUnmatch", "discard_unmatch", default=False),
    )


@register("processor_parse_regex_native")
def _regex_factory(**cfg):
    opts = _opts_from_config(cfg)
    pattern = cfg_pop(cfg, "Regex", "pattern")
    fields = cfg_pop(cfg, "Keys", "fields")
    source = cfg_pop(cfg, "SourceKey", "source", default="text")
    types = cfg.pop("types", None)
    full = cfg_pop(cfg, "FullMatch", "full_match", default=False)
    return lambda df: parse_regex(
        df, pattern, fields, source=source, types=types, options=opts, full_match=full
    )


def _go_regex_to_java(pat: str) -> str:
    """RE2 → java.util.regex dialect bridge for the corners real user
    configs hit: a bare ``[`` inside a character class is literal in
    RE2 (``[^[]``, user_contrib/windows-vscode-sign.md) but opens a
    nested class union in Java — escape it."""
    out: list[str] = []
    in_class = False
    just_opened = False  # directly after '[' or '[^'
    i = 0
    while i < len(pat):
        ch = pat[i]
        if ch == "\\" and i + 1 < len(pat):
            out.append(pat[i : i + 2])
            i += 2
            just_opened = False
            continue
        if not in_class:
            if ch == "[":
                in_class = True
                just_opened = True
                out.append(ch)
                i += 1
                if i < len(pat) and pat[i] == "^":
                    out.append("^")
                    i += 1
                continue
            out.append(ch)
            i += 1
            continue
        if ch == "[":
            out.append("\\[")
        elif ch == "]":
            if just_opened:
                # ']' directly after '[' / '[^' is literal in RE2
                out.append("\\]")
                just_opened = False
                i += 1
                continue
            in_class = False
            out.append(ch)
        else:
            out.append(ch)
        just_opened = False
        i += 1
    return "".join(out)


@register("processor_regex")
def _regex_go_factory(**cfg):
    # the Go plugin compiles "(?s)" + Regex (regex.go:56-57): `.`
    # matches newlines — file blocks that split_log_regex hands over
    # span lines; the native C++ path has no such prefix. A missing
    # Regex compiles to "" in Go (zero groups → every row takes the
    # parse-failure path), so it is not a config error here either.
    cfg["Regex"] = "(?s)" + _go_regex_to_java(
        str(cfg_pop(cfg, "Regex", "pattern", default=""))
    )
    return _regex_factory(**cfg)


@register("processor_regex_accelerate")
def _regex_accel_factory(**cfg):
    """The C++ accelerated file-parse path (user configs write
    LogBeginRegex + Regex + Keys, e.g. example_config/user_contrib/
    mysql-slow-log.md): LogBeginRegex splits the read block into logs
    — same boundary rule as split_log_regex — then the block-spanning
    Regex extracts Keys over the WHOLE log (regex_match semantics;
    (?m) so the pattern's $ anchors at the embedded line ends)."""
    opts = _opts_from_config(cfg)
    begin = cfg_pop(cfg, "LogBeginRegex", default=None)
    pattern = cfg_pop(cfg, "Regex", "pattern")
    fields = cfg_pop(cfg, "Keys", "fields")
    source = cfg_pop(cfg, "SourceKey", "source", default="content")
    types = cfg.pop("types", None)
    raw_tag = cfg_pop(cfg, "RawLogTag", default=None)
    precise = bool(cfg_pop(cfg, "EnablePreciseTimestamp", default=False))
    time_fmt = cfg_pop(cfg, "TimeFormat", default=None)
    log_tz = cfg_pop(cfg, "LogTimezone", default=None)
    time_key = cfg_pop(cfg, "TimeKey", default="time")

    def run(df):
        from ilogtail_spark.operators.split import split_log_regex

        if begin:
            df = split_log_regex(df, source, begin, preserve_others=True)
        if raw_tag:
            # the raw (multi-line) log body lands under RawLogTag
            df = df.withColumn(raw_tag, F.col(source))
        out = parse_regex(
            df,
            "(?m)" + pattern,
            fields,
            source=source,
            types=types,
            options=opts,
            full_match=True,
        )
        if precise and time_fmt and time_key in fields:
            # precise_timestamp = epoch millis of the parsed time
            # (TimeFormat is C strptime, LogTimezone shifts to UTC)
            # + the time string's own .fraction digits as millis
            from ilogtail_spark.common import strptime_to_jdk

            base = F.try_to_timestamp(
                F.regexp_replace(F.col(time_key), r"\.\d+$", ""),
                F.lit(strptime_to_jdk(time_fmt)),
            )
            if log_tz:
                base = F.to_utc_timestamp(base, log_tz)
            frac = F.rpad(
                F.coalesce(
                    F.regexp_extract(F.col(time_key), r"\.(\d+)$", 1),
                    F.lit(""),
                ),
                3,
                "0",
            ).try_cast("long")
            out = out.withColumn(
                "precise_timestamp",
                (F.unix_timestamp(base) * 1000 + F.coalesce(frac, F.lit(0)))
                .cast("string"),
            )
        return out

    return run


@register("processor_parse_json_native")
@register("processor_json")
def _json_factory(**cfg):
    # Go-flavor expansion params (processor_json.go:29-40) switch to
    # the exact key-building path; without them the plain native parse
    # (attrs map, no connector games) applies.
    go_flavor = any(
        k in cfg
        for k in (
            "ExpandDepth",
            "ExpandConnector",
            "Prefix",
            "UseSourceKeyAsPrefix",
            "IgnoreFirstConnector",
            "ExpandArray",
        )
    )
    if go_flavor:
        # the Go plugin's init defaults KeepSource TRUE
        # (processor_json.go:112) — the native C++ flavor does not
        if "KeepSource" not in cfg and "keep_source" not in cfg:
            cfg["KeepSource"] = True
        depth = int(cfg_pop(cfg, "ExpandDepth", default=0))
        connector = cfg_pop(cfg, "ExpandConnector", default="_")
        prefix = cfg_pop(cfg, "Prefix", default="")
        use_src = bool(cfg_pop(cfg, "UseSourceKeyAsPrefix", default=False))
        ignore_first = bool(cfg_pop(cfg, "IgnoreFirstConnector", default=False))
        expand_array = bool(cfg_pop(cfg, "ExpandArray", default=False))
        opts = _opts_from_config(cfg)
        source = cfg_pop(cfg, "SourceKey", "source", default="text")
        return lambda df: parse_json_expanded(
            df,
            source=source,
            depth=depth,
            connector=connector,
            prefix=prefix,
            use_source_key_as_prefix=use_src,
            ignore_first_connector=ignore_first,
            expand_array=expand_array,
            options=opts,
        )
    opts = _opts_from_config(cfg)
    source = cfg_pop(cfg, "SourceKey", "source", default="text")
    expand = cfg.pop("expand", None)
    return lambda df: parse_json(df, source=source, expand=expand, options=opts)


@register("processor_parse_delimiter_native")
@register("processor_csv")
def _csv_factory(**cfg):
    opts = _opts_from_config(cfg)
    source = cfg_pop(cfg, "SourceKey", "source", default="text")
    fields = cfg_pop(cfg, "Keys", "fields")
    sep = cfg_pop(cfg, "Separator", "sep", default=",")
    quote = cfg_pop(cfg, "Quote", "quote", default=None)
    return lambda df: parse_delimiter(
        df, fields, source=source, sep=sep, quote=quote, options=opts
    )


@register("processor_split_key_value")
def _kv_factory(**cfg):
    opts = _opts_from_config(cfg)
    source = cfg_pop(cfg, "SourceKey", "source", default="text")
    pair_sep = cfg_pop(cfg, "Delimiter", "pair_sep", default="&")
    kv_sep = cfg_pop(cfg, "Separator", "kv_sep", default="=")
    quote = cfg_pop(cfg, "Quote", "quote", default=None)
    discard_no_sep = cfg_pop(
        cfg, "DiscardWhenSeparatorNotFound", "discard_no_sep", default=False
    )
    empty_prefix = cfg_pop(cfg, "EmptyKeyPrefix", default="empty_key_")
    no_sep_prefix = cfg_pop(cfg, "NoSeparatorKeyPrefix", default="no_separator_key_")
    return lambda df: split_key_value(
        df, source=source, pair_sep=pair_sep, kv_sep=kv_sep, quote=quote,
        empty_key_prefix=empty_prefix, no_sep_key_prefix=no_sep_prefix,
        discard_no_sep=discard_no_sep, options=opts,
    )


@register("processor_strptime")
def _ts_factory(**cfg):
    source = cfg_pop(cfg, "SourceKey", "source")
    # the Go plugin's param is Format, in the C strptime dialect
    # (strptime.go:41-61); SourceFormat/fmt take a JDK pattern as-is
    fmt = cfg_pop(cfg, "Format", "SourceFormat", "fmt")
    epoch = fmt.strip() == "%s"  # JDK has no epoch-seconds token
    if not epoch and "%" in fmt:
        from ilogtail_spark.common import fmt_has_tokens, strptime_to_jdk

        # token walk, not substring: '%%z' is a literal '%z', no zone
        had_zone = fmt_has_tokens(fmt, {"z", "Z"})
        fmt = strptime_to_jdk(fmt)
        if not had_zone:
            # the Go strptime lib TOLERATES (does not honor) a
            # trailing Z the format does not mention ("...47:123Z"
            # with a Z-less Format, strptime_test.go:126-131); JDK
            # demands full consumption — an optional LITERAL 'Z'
            # absorbs it without shifting the instant
            fmt += "['Z']"
    tz = cfg_pop(cfg, "SourceTimezone", "source_tz", default=None)
    dest = cfg_pop(cfg, "dest", default="ts")
    keep = bool(cfg_pop(cfg, "KeepSource", "keep_source", default=True))
    precise = bool(cfg_pop(cfg, "EnablePreciseTimestamp", default=False))
    precise_key = cfg_pop(cfg, "PreciseTimestampKey", default="precise_timestamp")

    def run(df):
        from ilogtail_spark.common import resolve_key

        src = resolve_key(df, source)
        if epoch:
            # %s: the Go plugin takes the FIRST 10 CHARACTERS as the
            # epoch seconds (strptime.go value[0:10]) — that is how
            # milli/micro inputs collapse to the same second
            # (strptime_test.go:113-120), and how an 11- or 12-digit
            # value parses too
            sec = F.substring(src, 1, 10).try_cast("long")
            out = df.withColumn(dest, F.timestamp_seconds(sec))
        else:
            out = parse_timestamp(df, src, fmt, dest=dest, source_tz=tz)
        if precise:  # strptime.go:66-67 — epoch millis of the parse
            out = out.withColumn(
                precise_key,
                F.unix_millis(F.col(dest).cast("timestamp")).cast("string"),
            )
        if not keep:  # strptime.go KeepSource=false removes the field
            if source in df.columns:
                out = out.drop(source)
            elif "attrs" in df.columns:
                out = out.withColumn(
                    "attrs",
                    F.map_filter(F.col("attrs"), lambda k, _v: k != F.lit(source)),
                )
        return out

    return run


@register("processor_parse_timestamp_native")
def _ts_native_factory(**cfg):
    """The C++ native timestamp processor — exact NetBSD-strptime
    semantics (flexible widths, trailing junk, %f nanoseconds, %s
    first-10-digit epoch), NOT the Go plugin's JDK-convertible dialect.
    See operators/strptime_native.py."""
    from ilogtail_spark.operators.strptime_native import (
        DISCARD_INTERVAL_SEC,
        parse_timestamp_native,
    )

    source = cfg_pop(cfg, "SourceKey", "source")
    fmt = cfg_pop(cfg, "SourceFormat", "Format", "fmt")
    tz = cfg_pop(cfg, "SourceTimezone", "source_tz", default=None)
    year = int(cfg_pop(cfg, "SourceYear", default=-1))
    discard_old = bool(cfg_pop(cfg, "discard_old", default=True))
    interval = int(cfg_pop(cfg, "discard_interval",
                           default=DISCARD_INTERVAL_SEC))
    now = cfg_pop(cfg, "now", default=None)
    return lambda df: parse_timestamp_native(
        df, source=source, fmt=fmt, source_timezone=tz, source_year=year,
        now=F.lit(now).cast("timestamp") if now is not None else None,
        discard_old=discard_old, discard_interval=interval,
    )


@register("processor_parse_apsara_native")
def _apsara_factory(**cfg):
    opts = _opts_from_config(cfg)
    source = cfg_pop(cfg, "SourceKey", "source", default="text")
    tz = cfg_pop(cfg, "Timezone", "timezone", default=None)
    return lambda df: parse_apsara(df, source=source, options=opts, timezone=tz)


def parse_container_log(
    df: DataFrame,
    source: str = "text",
    fmt: str = "docker",  # docker (json-file) | cri (containerd)
    options: ParserOptions | None = None,
    ignoring_stdout: bool = False,
    ignoring_stderr: bool = False,
) -> DataFrame:
    """processor_parse_container_log_native
    (core/plugin/processor/inner/ProcessorParseContainerLogNative.cpp:32):
    docker json-file lines ``{"log":...,"stream":...,"time":...}`` or
    containerd/CRI ``<time> <stream> [P|F ]<log>``. Emits the
    reference's content/_source_/_time_ fields (the partial flag as a
    ``_partial`` boolean — the table form of the reference's ``P``
    content + HAS_PART_LOG group flag the multiline merger consumes).

    CRI semantics EXACT per ParseContainerdTextLogLine (.cpp:176-252,
    edge table in ProcessorParseContainerLogNativeUnittest
    TestContainerdLog): fail when the first/second delimiter is
    missing or the stream token is not stdout/stderr; a rest that
    does not OPEN with P/F is all content (flag-less lines are
    valid); P/F counts as a flag only when the very next char is the
    delimiter (``'P'`` alone or ``'PP 1'`` are content); only a
    flagged ``P `` marks partial. Ignoring{Stdout,Stderr} DROP the
    stream's rows (.cpp:215-226), matching the e2e stdio config."""
    opts = options or ParserOptions()
    if fmt == "docker":
        parsed = F.from_json(
            F.col(source), "struct<log:string, stream:string, time:string>"
        )
        # ALL THREE keys required (TestParseDockerLog: a line missing
        # stream OR time fails, not just missing log)
        ok = (
            parsed.isNotNull()
            & parsed["log"].isNotNull()
            & parsed["stream"].isNotNull()
            & parsed["time"].isNotNull()
        )
        out = (
            df.withColumn("_cl", parsed)
            .withColumn("content", F.when(ok, F.col("_cl.log")))
            .withColumn("_source_", F.when(ok, F.col("_cl.stream")))
            .withColumn("_time_", F.when(ok, F.col("_cl.time")))
            .drop("_cl")
        )
    elif fmt == "cri":
        s = F.col(source)
        p1 = F.locate(" ", s)
        after1 = F.substring(s, p1 + 1, F.length(s))
        q2 = F.locate(" ", after1)  # 2nd delimiter, relative
        src_val = F.substring(after1, 1, q2 - 1)
        ok = (
            s.isNotNull() & (p1 > 0) & (q2 > 0)
            & src_val.isin("stdout", "stderr")
        )
        rest = F.substring(after1, q2 + 1, F.length(s))
        first = F.substring(rest, 1, 1)
        # P/F is a FLAG only when immediately followed by the
        # delimiter (pch3 == pch2+2); otherwise it is content
        flagged = first.isin("P", "F") & (F.substring(rest, 2, 1) == " ")
        content = F.when(flagged, F.substring(rest, 3, F.length(rest))).otherwise(rest)
        out = (
            df.withColumn("_time_", F.when(ok, F.substring(s, 1, p1 - 1)))
            .withColumn("_source_", F.when(ok, src_val))
            .withColumn("_partial", F.when(ok, flagged & (first == "P")))
            .withColumn("content", F.when(ok, content))
        )
    else:
        raise ValueError(fmt)
    if ignoring_stdout:
        out = out.filter(~(ok & (F.col("_source_") == "stdout")))
    if ignoring_stderr:
        out = out.filter(~(ok & (F.col("_source_") == "stderr")))
    return _apply_failure_contract(out, source, ok, opts)


PROM_LINE_PATTERN = (
    r"^([a-zA-Z_:][a-zA-Z0-9_:]*)(?:\{(.*)\})?\s+([^\s#]+)(?:\s+(-?\d+))?\s*$"
)
_PROM_PAIR = r'([a-zA-Z_][a-zA-Z0-9_]*)="((?:[^"\\]|\\.)*)"'


def parse_prom_metric(
    df: DataFrame,
    source: str = "text",
    options: ParserOptions | None = None,
) -> DataFrame:
    """processor_prom_parse_metric_native
    (core/plugin/processor/inner/ProcessorPromParseMetricNative.h):
    Prometheus exposition lines ``name{l1="v1",l2="v2"} value [ts_ms]``
    → (__name__, labels map, __value__, __ts_ms__). Comment (#) and
    blank lines fail the parse (the reference's scrape parser skips
    them); label values unescape \\" and \\\\ (the exposition escapes
    the fixture set exercises). One anchored regex for the line, one
    regexp_extract_all for the pairs — all JVM-side.
    """
    opts = options or ParserOptions()
    src = F.col(source)
    # try_cast: a malformed value token ('name garbage') must take the
    # failure path, not throw under ANSI mode
    value = F.regexp_extract(src, PROM_LINE_PATTERN, 3).try_cast("double")
    ok = (
        src.isNotNull()
        & ~F.trim(src).startswith("#")
        & src.rlike(PROM_LINE_PATTERN)
        & value.isNotNull()
    )
    labels_raw = F.regexp_extract(src, PROM_LINE_PATTERN, 2)
    keys = F.regexp_extract_all(labels_raw, F.lit(_PROM_PAIR), F.lit(1))
    vals = F.transform(
        F.regexp_extract_all(labels_raw, F.lit(_PROM_PAIR), F.lit(2)),
        lambda v: F.replace(
            F.replace(v, F.lit('\\"'), F.lit('"')), F.lit("\\\\"), F.lit("\\")
        ),
    )
    ts_ms = F.regexp_extract(src, PROM_LINE_PATTERN, 4)
    out = (
        df.withColumn("__name__", F.when(ok, F.regexp_extract(src, PROM_LINE_PATTERN, 1)))
        .withColumn("labels", F.when(ok, F.map_from_arrays(keys, vals)))
        .withColumn("__value__", F.when(ok, value))
        .withColumn(
            "__ts_ms__", F.when(ok & (ts_ms != ""), ts_ms.cast("long"))
        )
    )
    return _apply_failure_contract(out, source, ok, opts)


PROM_META_PATTERN = r"^#\s*(TYPE|HELP)\s+([a-zA-Z_:][a-zA-Z0-9_:]*)\s+(.*?)\s*$"
_PROM_FAMILY_SUFFIX = r"_(bucket|sum|count)$"


def parse_prom_exposition(
    df: DataFrame,
    source: str = "text",
    options: ParserOptions | None = None,
    attach_metadata: bool = True,
) -> DataFrame:
    """Full Prometheus exposition grammar on top of
    :func:`parse_prom_metric` (which mirrors the reference's scrape
    TextParser — TextParser.cpp:50-67 SKIPS every ``#`` line via
    IsValidMetric, Utils.cpp:102-113):

      * ``# TYPE name t`` / ``# HELP name text`` metadata lines parse
        into ``__line_kind__`` = type/help rows instead of failures;
      * histogram/summary series structure: ``name_bucket``/``_sum``/
        ``_count`` suffixes fold into ``__family__`` + ``__series__``
        (bucket|sum|count|sample) with the ``le``/``quantile`` label
        surfaced;
      * ``attach_metadata``: samples pick up ``__type__`` from their
        family's TYPE line via a broadcast self-join — distinct metric
        names are tiny next to samples, so at 100 TB the sample scan
        stays narrow while the name→type dictionary rides the
        broadcast.
    """
    opts = options or ParserOptions()
    if opts.discard_unmatch:
        raise ValueError(
            "parse_prom_exposition: discard_unmatch would drop TYPE/HELP "
            "lines before they can be classified"
        )
    if not opts.keep_source_if_fail:
        raise ValueError(
            "parse_prom_exposition: keep_source_if_fail=False nulls the "
            "text of every failed row, so TYPE/HELP lines could not be "
            "classified afterwards — keep the source (default) when "
            "FullGrammar is on"
        )
    out = parse_prom_metric(df, source=source, options=opts)
    # failed sample rows keep their text in source and/or raw_log_key
    # (failure contract above); meta lines are always sample-failures
    line = F.coalesce(F.col(source), F.col(opts.raw_log_key))
    meta_kind = F.lower(F.regexp_extract(line, PROM_META_PATTERN, 1))
    is_meta = line.isNotNull() & (meta_kind != "")
    out = out.withColumn(
        "__line_kind__",
        F.when(F.col(PARSE_OK_KEY), F.lit("sample"))
        .when(is_meta, meta_kind)
        .otherwise(F.lit("invalid")),
    )
    out = out.withColumn(
        "__name__",
        F.when(is_meta, F.regexp_extract(line, PROM_META_PATTERN, 2)).otherwise(
            F.col("__name__")
        ),
    )
    out = out.withColumn(
        "__meta_text__", F.when(is_meta, F.regexp_extract(line, PROM_META_PATTERN, 3))
    )
    suffix = F.regexp_extract(F.col("__name__"), _PROM_FAMILY_SUFFIX, 1)
    out = out.withColumn(
        "__series__",
        F.when(F.col(PARSE_OK_KEY) & (suffix != ""), suffix).when(
            F.col(PARSE_OK_KEY), F.lit("sample")
        ),
    )
    out = out.withColumn(
        "__family__",
        F.when(
            F.col("__name__").isNotNull(),
            F.regexp_replace(F.col("__name__"), _PROM_FAMILY_SUFFIX, ""),
        ),
    )
    out = out.withColumn("__le__", F.element_at("labels", "le"))
    out = out.withColumn("__quantile__", F.element_at("labels", "quantile"))
    if attach_metadata:
        # TYPE declares the FAMILY name verbatim — join on the declared
        # name, not the suffix-stripped family (a counter legitimately
        # named *_count must not lose its declaration).
        # Build the name→type dictionary from the RAW source lines, not
        # from `out`: `out`'s plan embeds the whole sample parse, so
        # deriving the dictionary from it re-runs every regex over the
        # full input a second time. Meta lines are exactly the raw
        # `#`-prefixed lines matching PROM_META_PATTERN (the sample
        # parse fails every `#` line), so the raw-side filter is
        # equivalent — and `startswith('#')` is a pushable predicate,
        # keeping the dictionary scan cheap at 100 TB.
        types = (
            df.select(F.col(source).alias("_mt_line"))
            .filter(
                F.col("_mt_line").startswith("#")
                & (F.lower(F.regexp_extract("_mt_line", PROM_META_PATTERN, 1)) == "type")
            )
            .groupBy(
                F.regexp_extract("_mt_line", PROM_META_PATTERN, 2).alias("_mt_family")
            )
            .agg(
                F.min(
                    F.regexp_extract("_mt_line", PROM_META_PATTERN, 3)
                ).alias("__type__")
            )
        )
        # materialize the dictionary ONCE: the exact and family joins
        # below broadcast two differently-projected copies, whose
        # canonicalized plans differ, so ReuseExchange would not fire
        # and the '#'-line scan would run twice per query (streaming
        # frames can't checkpoint — they accept the second scan)
        if not types.isStreaming:
            types = types.localCheckpoint(eager=True)
        # lookup precedence: a TYPE line declaring the sample's VERBATIM
        # name wins (a counter legitimately named *_count keeps its own
        # declaration); only otherwise fall back to the suffix-stripped
        # family (histogram/summary series pick up their family's TYPE).
        # Both joins ride the same tiny broadcast dictionary.
        exact = types.select(
            F.col("_mt_family").alias("_mt_exact"),
            F.col("__type__").alias("_mt_exact_type"),
        )
        out = (
            out.join(
                F.broadcast(exact), out["__name__"] == exact["_mt_exact"], "left"
            )
            .join(
                F.broadcast(types), out["__family__"] == types["_mt_family"], "left"
            )
            .withColumn(
                "__type__", F.coalesce(F.col("_mt_exact_type"), F.col("__type__"))
            )
            .drop("_mt_exact", "_mt_exact_type", "_mt_family", "_mt_line")
        )
    return out


@register("processor_prom_parse_metric_native")
def _prom_parse_factory(**cfg):
    opts = _opts_from_config(cfg)
    source = cfg_pop(cfg, "SourceKey", "source", default="text")
    full = cfg_pop(cfg, "FullGrammar", "full_grammar", default=False)
    if full:
        return lambda df: parse_prom_exposition(df, source=source, options=opts)
    return lambda df: parse_prom_metric(df, source=source, options=opts)


@register("processor_parse_container_log_native")
def _container_factory(**cfg):
    source = cfg_pop(cfg, "SourceKey", "source", default="text")
    fmt = cfg_pop(cfg, "Format", "fmt", default="docker")
    ig_out = bool(cfg_pop(cfg, "IgnoringStdout", default=False))
    ig_err = bool(cfg_pop(cfg, "IgnoringStderr", default=False))
    opts = _opts_from_config(cfg)
    return lambda df: parse_container_log(
        df, source=source, fmt=fmt, options=opts,
        ignoring_stdout=ig_out, ignoring_stderr=ig_err,
    )
