"""Shared plan helpers."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal. The default parser reads a
    backslash inside quotes as an escape, so ``\\`` and ``'`` are
    escaped; every other character (newline, ``$``, non-ASCII) stands
    for itself."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ident(name: str) -> str:
    """``name`` as a Spark SQL quoted identifier: wrapped in backticks,
    with each backtick inside doubled."""
    return "`" + name.replace("`", "``") + "`"


def md5_hash64(c: Column) -> Column:
    """THE shared cross-engine hash primitive (CLAUDE.md invariants):
    first 15 hex chars of md5 as a signed BIGINT — bit-identical in
    DuckDB as ('0x' || substr(md5(x), 1, 15))::BIGINT. Every operator
    needing a 60-bit hash (minhash, simhash grams, LSH, hashmod,
    fingerprints, rolling hash) must use this one definition so a
    dialect tweak can never silently fork the oracle parity."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def go_num(c: Column) -> Column:
    """THE shared Go shortest-number formatter for the no-exponent
    domain (strconv.FormatFloat 'g' on values Go prints without an
    exponent): integral doubles print without a fraction (``1`` not
    ``1.0``), everything else as the plain decimal cast. Used by both
    the OTLP decoders and the sink serializers — single definition so
    the two paths can never drift (same rule as md5_hash64)."""
    i = c.try_cast("bigint")
    return F.when(
        i.isNotNull() & (i.cast("double") == c), i.cast("string")
    ).otherwise(c.cast("string"))


def map_last_wins(entries: Column) -> Column:
    """Fold an ``array<struct<key:string,value:string>>`` into a map
    with OVERWRITE (last-wins) duplicate-key semantics.

    ``map_from_entries`` / ``str_to_map`` THROW on duplicate keys under
    Spark's default ``spark.sql.mapKeyDedupPolicy=EXCEPTION`` — the
    reference's key_value_splitter appends duplicates without error
    (key_value_splitter.go:97-160), so a line like ``a=1&a=2`` must not
    crash the job. The CLAUDE.md invariant: every map materialization
    from user-controlled keys folds through this helper.

    Cost is O(pairs²) per row in map_concat rebuilds — pairs-per-line
    is bounded by the line length, and this never shuffles."""
    empty = F.map_from_arrays(
        F.array().cast("array<string>"), F.array().cast("array<string>")
    )
    return F.aggregate(
        entries,
        empty,
        lambda acc, e: F.map_concat(
            F.map_filter(acc, lambda k, _v: k != e["key"]),
            F.create_map(e["key"], e["value"]),
        ),
    )


def spread(df: DataFrame) -> DataFrame:
    """Repartition up to the session's default parallelism when the
    input arrives in fewer partitions (e.g. one small parquet file).

    At 100 TB the scan already yields thousands of splits and this is
    a no-op; at test scale it keeps narrow per-row work (regex parse,
    shingle build, replicate-explode) off a single core. Targets 2
    tasks per core: with exactly one task per core any OS jitter on
    one core stretches the whole stage (observed 4× tail variance on
    this shared host); 2× gives the scheduler room to rebalance.
    """
    target = 2 * df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def fmt_tokens_to_jdk(fmt: str, token_map: dict[str, str], dialect: str) -> str:
    """Translate a %-token datetime format (C strptime, MySQL
    date_parse, ...) to a JDK DateTimeFormatter pattern. Literal
    letter RUNS are quoted as one 'run' (per-letter quoting would
    emit 'a''b', which JDK reads as an escaped quote); a bare quote
    outside a quoted section escapes itself. Unknown tokens raise —
    silently passing one through would parse wrong data."""
    out: list[str] = []
    lit: list[str] = []

    def _flush() -> None:
        if lit:
            out.append("'" + "".join(lit).replace("'", "''") + "'")
            lit.clear()

    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%" and i + 1 < len(fmt):
            tok = fmt[i + 1]
            if tok not in token_map:
                raise ValueError(f"{dialect}: unsupported format token %{tok}")
            _flush()
            out.append(token_map[tok])
            i += 2
        elif ch.isalpha():
            lit.append(ch)
            i += 1
        else:
            _flush()
            out.append("''" if ch == "'" else ch)
            i += 1
    _flush()
    return "".join(out)


def fmt_has_tokens(fmt: str, tokens: set[str]) -> bool:
    """True iff the %-format actually CONTAINS one of ``tokens`` as a
    token — walking %-pairs the same way fmt_tokens_to_jdk does, so an
    escaped percent ('%%z' = literal '%z') is not misread as %z."""
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            if fmt[i + 1] in tokens:
                return True
            i += 2  # consumes '%%' (and any other token) as a pair
        else:
            i += 1
    return False


# C strptime tokens (strptime.go:41-49 "Format follows rules of C
# strptime") -> JDK. %M is MINUTES here (MySQL's %M is month name —
# different dialect, different map).
C_STRPTIME_TOKENS = {
    "Y": "yyyy", "y": "yy", "m": "MM", "d": "dd", "e": "d",
    "H": "HH", "k": "H", "I": "hh", "l": "h", "M": "mm", "S": "ss",
    "p": "a", "b": "MMM", "h": "MMM", "B": "MMMM", "a": "EEE",
    "A": "EEEE", "j": "DDD", "z": "xx", "Z": "zzz",
    "T": "HH:mm:ss", "F": "yyyy-MM-dd", "R": "HH:mm", "D": "MM/dd/yy",
    # %f: the Go strptime lib's fractional-seconds extension; Spark's
    # fraction parser is width-lenient, so nine S's accept 1-9 digits
    "f": "SSSSSSSSS",
    "n": "\n", "t": "\t", "%": "%",
}


def strptime_to_jdk(fmt: str) -> str:
    """C strptime format -> JDK pattern (the reference strptime
    plugin's Format dialect).

    Documented deviation: a format carrying BOTH %z and %Z (offset
    AND zone name, strptime_test.go:110) resolves through java.time,
    which lets the parsed zone NAME win over the offset; Go's
    time.Parse honors the offset. No shipped or user_contrib config
    combines the two."""
    return fmt_tokens_to_jdk(fmt, C_STRPTIME_TOKENS, "strptime")


def resolve_key(df: DataFrame, key: str, attrs_col: str = "attrs") -> Column:
    """Resolve a reference SourceKey against the columnar event model:
    a real column wins; otherwise fall back to the dynamic-KV overflow
    map (the reference's flat KV bag maps to columns + ``attrs``), so
    chained processors can consume keys an earlier parse stage landed
    in the map (e.g. user_contrib/nginx-json-access-log.md's second
    processor_json reading the first one's ``data`` output)."""
    if key in df.columns:
        return F.col(key)
    if attrs_col in df.columns:
        return F.try_element_at(F.col(attrs_col), F.lit(key))
    return F.col(key)  # let Spark raise the unresolved-column error
