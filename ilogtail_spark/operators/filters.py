"""Filters / predicates (SURVEY.md §2.5).

The reference evaluates a boolean expression tree per event
(core/plugin/processor/ProcessorFilterNative.h:28-121, enum
FilterOperator {NOT, AND, OR}); in Spark the tree IS the Catalyst
expression — filters compile to codegen'd predicates and push down
to the parquet/Iceberg scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from ilogtail_spark.operators.registry import cfg_pop, register


def filter_regex(
    df: DataFrame,
    include: dict[str, str] | None = None,
    exclude: dict[str, str] | None = None,
) -> DataFrame:
    """processor_filter_regex (Go, processor_filter_regex.go:77-111):
    Include — every (key, regex) must match; Exclude — any match
    drops the row. Matching is PARTIAL (Go ``MatchString``, not
    anchored). Missing key fails an Include and passes an Exclude;
    a key can resolve from the ``attrs`` KV bag like any SourceKey.
    """
    from ilogtail_spark.common import resolve_key

    cond = F.lit(True)
    for k, pat in (include or {}).items():
        if k in df.columns or "attrs" in df.columns:
            v = resolve_key(df, k)
            cond = cond & v.isNotNull() & v.rlike(pat)
        else:
            cond = F.lit(False)
    for k, pat in (exclude or {}).items():
        if k in df.columns or "attrs" in df.columns:
            v = resolve_key(df, k)
            cond = cond & ~(v.isNotNull() & v.rlike(pat))
    return df.filter(cond)


def filter_expression(df: DataFrame, expr: dict | str) -> Column | DataFrame:
    """Convenience boolean-tree filter: nested
    {"and": [...]} / {"or": [...]} / {"not": {...}} / {"key": k, "regex": r}
    dicts compile directly to a Catalyst predicate. Leaves are PARTIAL
    matches (Go ``MatchString`` convention, like processor_filter_regex);
    the EXACT native dialect — full ``boost::regex_match``, binary
    and/or, the reference ConditionExp JSON shape — is
    :func:`filter_native` below.
    """

    def build(node: dict) -> Column:
        if "and" in node:
            out = F.lit(True)
            for child in node["and"]:
                out = out & build(child)
            return out
        if "or" in node:
            out = F.lit(False)
            for child in node["or"]:
                out = out | build(child)
            return out
        if "not" in node:
            return ~build(node["not"])
        return F.col(node["key"]).isNotNull() & F.col(node["key"]).rlike(node["regex"])

    if isinstance(expr, str):
        return df.filter(expr)
    return df.filter(build(expr))


def compile_condition_exp(node) -> tuple:
    """Validate + normalize the native ConditionExp JSON
    (ProcessorFilterNative.cpp:378-423 ParseExpressionFromJSON).

    Grammar: ``{"operator": "and"|"or"|"not", "operands": [...]}`` with
    EXACTLY 2 operands for and/or and EXACTLY 1 for not; leaves are
    ``{"key": k, "exp": regex, "type": "regex"}`` (type compared
    case-insensitively; key/exp/type all required — a leaf missing
    ``exp`` or a node with operands but no operator fails Init, the
    TestBaseFilter validation cases). When both operator+operands and
    key/exp/type appear, the operator branch wins. Raises ValueError on
    an invalid tree (≙ Init returning false)."""
    import re as _re

    if not isinstance(node, dict):
        raise ValueError("ConditionExp node must be an object")
    op = node.get("operator")
    operands = node.get("operands")
    if isinstance(op, str) and isinstance(operands, list):
        o = op.lower()
        if o == "not" and len(operands) == 1:
            return ("not", compile_condition_exp(operands[0]))
        if o in ("and", "or") and len(operands) == 2:
            return (o, compile_condition_exp(operands[0]),
                    compile_condition_exp(operands[1]))
        raise ValueError(f"invalid operator/operand-count: {op}")
    key, exp, typ = node.get("key"), node.get("exp"), node.get("type")
    if (isinstance(key, str) and isinstance(exp, str)
            and isinstance(typ, str) and typ.lower() == "regex"):
        _re.compile(exp)  # IsRegexValid
        return ("leaf", key, exp)
    raise ValueError(f"invalid leaf node: {node}")


def filter_native(
    df: DataFrame,
    condition_exp: dict | None = None,
    filter_keys: list[str] | None = None,
    filter_regexes: list[str] | None = None,
    include: dict[str, str] | None = None,
    discard_non_utf8: bool = False,
) -> DataFrame:
    """processor_filter_regex_native EXACT semantics
    (ProcessorFilterNative.cpp:30-285).

    Config modes, in the reference's priority order: ConditionExp
    (expression tree) > FilterKey+FilterRegex parallel lists > Include
    map (deprecated). Every regex leaf is a FULL match
    (``boost::regex_match`` — ``.*value1`` REJECTS ``value1xxxxx``,
    TestLogFilterRule) and a missing/NULL key is false. With no rule
    configured every row passes. ``discard_non_utf8`` then blank-fills
    invalid UTF-8 bytes in KEPT rows' binary columns (string columns
    are JVM-validated UTF-16 already — invalid input bytes can't reach
    them; see :func:`none_utf8_blank`)."""
    from ilogtail_spark.common import resolve_key

    def leaf(key: str, exp: str) -> Column:
        if key in df.columns or "attrs" in df.columns:
            v = resolve_key(df, key)
            return v.isNotNull() & v.rlike(f"\\A(?:{exp})\\z")
        return F.lit(False)

    def build(t: tuple) -> Column:
        if t[0] == "not":
            return ~build(t[1])
        if t[0] in ("and", "or"):
            left, right = build(t[1]), build(t[2])
            return (left & right) if t[0] == "and" else (left | right)
        return leaf(t[1], t[2])

    if condition_exp is not None:
        pred = build(compile_condition_exp(condition_exp))
    elif filter_keys:
        import re as _re

        if len(filter_keys) != len(filter_regexes or []):
            raise ValueError("FilterKey and FilterRegex sizes differ")
        for r in filter_regexes:
            _re.compile(r)
        pred = F.lit(True)
        for k, r in zip(filter_keys, filter_regexes):
            pred = pred & leaf(k, r)
    elif include:
        pred = F.lit(True)
        for k, r in include.items():
            pred = pred & leaf(k, r)
    else:
        pred = F.lit(True)
    out = df.filter(pred)
    if discard_non_utf8:
        for c, t in out.dtypes:
            if t == "binary":
                out = out.withColumn(c, none_utf8_blank(F.col(c)))
    return out


# Valid UTF-8 sequences under the reference checker
# (ProcessorFilterNative::noneUtf8, ProcessorFilterNative.cpp:297-375),
# as byte classes over a latin-1-decoded string (one char per byte).
# Derived from the C++ range checks: 2-byte needs scalar>=0x80 (lead
# >=\xc2); 3-byte needs scalar>=0x800 (\xe0 needs 2nd >=\xa0) with NO
# surrogate rejection (the <=0xffff check is commented out upstream, so
# \xed\xa0\x80 is VALID here); 4-byte needs scalar in [0x10000,0x10ffff]
# (\xf0 needs 2nd >=\x90, \xf4 needs 2nd <=\x8f, \xf5-\xf7 invalid).
_VALID_UTF8_SEQ = (
    "[\\x00-\\x7f]"
    "|[\\xc2-\\xdf][\\x80-\\xbf]"
    "|\\xe0[\\xa0-\\xbf][\\x80-\\xbf]"
    "|[\\xe1-\\xef][\\x80-\\xbf]{2}"
    "|\\xf0[\\x90-\\xbf][\\x80-\\xbf]{2}"
    "|[\\xf1-\\xf3][\\x80-\\xbf]{3}"
    "|\\xf4[\\x80-\\x8f][\\x80-\\xbf]{2}"
)


def none_utf8_blank(col: Column) -> Column:
    """DiscardingNonUTF8 blank-fill over a BINARY column, byte-exact
    vs the reference walker (ProcessorFilterNative.cpp:297-375): at
    each position a valid sequence is consumed whole, otherwise ONE
    byte becomes a space and scanning resumes at the next byte (so a
    bad continuation leaves the following bytes to be re-judged as
    leads — an overlong 2-byte blanks BOTH bytes, a 2-byte with an
    ASCII second byte blanks only the lead).

    Plan: decode as ISO-8859-1 (one char per byte, lossless), ONE
    regexp_replace of ``((?:valid)*+)[\\s\\S]`` with ``$1 `` — the
    possessive run can't re-parse a valid lead as junk — then encode
    back. A known-invalid sentinel byte (\\xff) is appended so every
    valid run terminates in a match (without it, a long clean tail
    re-scans from every position — O(n^2)); the sentinel's blank is
    stripped afterwards. Pure codegen, zero shuffle."""
    s = F.concat(F.decode(col, "ISO-8859-1"), F.lit("ÿ"))
    cleaned = F.regexp_replace(
        s, f"((?:{_VALID_UTF8_SEQ})*+)[\\s\\S]", "$1 "
    )
    trimmed = cleaned.substr(F.lit(1), F.length(cleaned) - 1)
    return F.when(col.isNotNull(), F.encode(trimmed, "ISO-8859-1"))


def filter_key_regex(
    df: DataFrame,
    include_keys: list[str] | None = None,
    exclude_keys: list[str] | None = None,
    attrs_col: str | None = None,
) -> DataFrame:
    """processor_filter_key_regex (processor_filter_key_regex.go:73-103):
    Include/Exclude entries are REGEXES over key NAMES (partial Go
    MatchString): every Include regex must match some present key;
    any present key matching an Exclude regex drops the row.
    Structured column names are static, so they match at PLAN time
    (presence = non-null); the dynamic map column checks its keys
    with F.exists — no per-row schema work.
    """
    import re as _re

    def present_any(pat: str) -> Column:
        cond = F.lit(False)
        for c in df.columns:
            if c != attrs_col and _re.search(pat, c):
                cond = cond | F.col(c).isNotNull()
        if attrs_col and attrs_col in df.columns:
            cond = cond | F.exists(
                F.map_keys(F.col(attrs_col)), lambda k: k.rlike(pat)
            )
        return cond

    cond = F.lit(True)
    for pat in include_keys or []:
        cond = cond & present_any(pat)
    for pat in exclude_keys or []:
        cond = cond & ~present_any(pat)
    return df.filter(cond)


def filter_timestamp(
    df: DataFrame,
    ts_col: str = "ts",
    begin: str | None = None,
    end: str | None = None,
) -> DataFrame:
    """processor_timestamp_filter_native
    (ProcessorTimestampFilterNative.cpp:151-173) — drop events outside
    [begin, end]; the batch analogue of a watermark late-data policy.
    """
    cond = F.lit(True)
    if begin is not None:
        cond = cond & (F.col(ts_col) >= F.lit(begin).cast("timestamp"))
    if end is not None:
        cond = cond & (F.col(ts_col) <= F.lit(end).cast("timestamp"))
    return df.filter(cond)


def timestamp_filter_native(
    df: DataFrame,
    source_key: str | None = None,
    precision: str = "second",
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    ts_col: str = "ts",
    nsec_col: str | None = None,
) -> DataFrame:
    """processor_timestamp_filter_native EXACT semantics
    (ProcessorTimestampFilterNative.cpp:34-258).

    ``source_key`` names a numeric-epoch STRING field interpreted at
    ``precision`` ∈ {second, millisecond, nanosecond} (an invalid
    precision warns and falls back to second upstream — pass the
    resolved value); it resolves from a column or the ``attrs`` KV bag.
    A missing key or a value that is not exactly ``-?[0-9]+`` KEEPS the
    row (ProcessEvent returns true on GetEventTimestamp failure);
    only a successfully parsed timestamp outside [LowerBound,
    UpperBound] (inclusive) is discarded. Second precision compares
    whole seconds; ms/ns compare in nanoseconds with a ms bound
    scaled ×10⁶. ``LowerBound`` defaults to 0, ``UpperBound`` ≤ 0 or
    absent means +∞. Without ``source_key`` the event time (``ts_col``
    + optional ``nsec_col``) is used and is always parseable."""
    p = (precision or "second").lower()
    if p not in ("second", "millisecond", "nanosecond"):
        p = "second"
    use_ns = p != "second"
    lo = 0 if lower_bound is None else int(lower_bound)
    hi = None if upper_bound is None or int(upper_bound) <= 0 else int(upper_bound)
    if use_ns and p == "millisecond":
        lo *= 1_000_000
        hi = None if hi is None else hi * 1_000_000

    if source_key is not None:
        if source_key not in df.columns and "attrs" not in df.columns:
            return df  # key missing everywhere: every row keeps
        from ilogtail_spark.common import resolve_key

        src = resolve_key(df, source_key)
        # std::from_chars takes only [-]digits: a sign, blank or other
        # text that try_cast would accept is a parse failure, which keeps
        raw = F.when(src.rlike(r"^-?[0-9]+\z"), src.try_cast("long"))
        parsed = raw.isNotNull()
        if p == "millisecond":
            val = raw * F.lit(1_000_000).cast("long")
        else:  # second compares the raw value; nanosecond is raw ns
            val = raw
    else:
        ts = F.col(ts_col).cast("timestamp")
        sec = F.when(ts.isNotNull(), F.unix_timestamp(ts))
        parsed = ts.isNotNull()
        if use_ns:
            # nanosecondOpt.has_value() ? value : 0 — a NULL nsec must
            # not NULL-poison the bounds comparison into a drop
            ns = (F.coalesce(F.col(nsec_col).cast("long"), F.lit(0))
                  if nsec_col and nsec_col in df.columns
                  else F.lit(0).cast("long"))
            val = sec * F.lit(1_000_000_000).cast("long") + ns
        else:
            val = sec
    in_range = val >= F.lit(lo)
    if hi is not None:
        in_range = in_range & (val <= F.lit(hi))
    return df.filter(~parsed | in_range)


def _fwc_leaf(field: str, op: str, value) -> Column:
    c = F.col(field)
    if op == "equals":
        return c == value
    if op == "regexp":
        return c.rlike(value)
    if op == "contains":
        return c.contains(value)
    if op == "startwith":
        return c.startswith(value)
    raise ValueError(op)


def _fwc_pred(w: dict) -> Column:
    """Case predicate: legacy leaf {"field","op","value"}, nested
    {"and": [...]}/{"or": [...]}, or the reference's ConditionCase
    shape {"logical_op": and|or, "op": relation, "fields": {f: v}}
    (processor_fields_with_condition.go:66-74: one RelationOperator
    applied to every FieldConditions pair, joined by LogicalOperator).
    """
    if "and" in w or "or" in w:
        key = "and" if "and" in w else "or"
        out = F.lit(key == "and")
        for child in w[key]:
            out = (out & _fwc_pred(child)) if key == "and" else (out | _fwc_pred(child))
        return out
    if "fields" in w:
        op = w.get("op", w.get("RelationOperator", "equals"))
        logical = w.get("logical_op", w.get("LogicalOperator", "and"))
        out = F.lit(logical == "and")
        for f, v in w["fields"].items():
            leaf = _fwc_leaf(f, op, v)
            out = (out & leaf) if logical == "and" else (out | leaf)
        return out
    return _fwc_leaf(w["field"], w.get("op", "equals"), w["value"])


def fields_with_condition(
    df: DataFrame,
    cases: list[dict],
    drop_if_not_match: bool = False,
) -> DataFrame:
    """processor_fields_with_condition
    (processor_fields_with_condition.go:43-74,296): switch-case — the
    first case whose predicate matches applies its actions.

    Each case: {"when": <predicate — see _fwc_pred>,
    "add": {k: v, ...}, "ignore_if_exist": bool,
    "drop_keys": [k, ...]}. One `_fwc_win` first-match index drives
    every action column — a single codegen pass, no UDF. drop_keys
    nulls the column on matching rows (the columnar rendering of the
    reference's per-row key removal).
    """
    win: Column = F.lit(-1)
    for i in range(len(cases) - 1, -1, -1):
        win = F.when(_fwc_pred(cases[i]["when"]), F.lit(i)).otherwise(win)
    df = df.withColumn("_fwc_win", win)

    add_keys = sorted({k for case in cases for k in case.get("add", {})})
    for k in add_keys:
        base: Column = F.col(k) if k in df.columns else F.lit(None).cast("string")
        expr = base
        for i, case in enumerate(cases):
            if k not in case.get("add", {}):
                continue
            cond = F.col("_fwc_win") == i
            if case.get("ignore_if_exist"):
                # per-ROW key existence, like the reference's event
                # model: a NULL cell means "key absent" and is filled
                cond = cond & base.isNull()
            expr = F.when(cond, F.lit(case["add"][k])).otherwise(expr)
        df = df.withColumn(k, expr)

    drop_keys = sorted({k for case in cases for k in case.get("drop_keys", [])})
    for k in drop_keys:
        if k not in df.columns:
            continue
        dropping = [i for i, c in enumerate(cases) if k in c.get("drop_keys", [])]
        df = df.withColumn(
            k,
            F.when(F.col("_fwc_win").isin(dropping), F.lit(None)).otherwise(F.col(k)),
        )
    if drop_if_not_match:
        df = df.filter(F.col("_fwc_win") >= 0)
    return df.drop("_fwc_win")


def group_info_filter(
    df: DataFrame,
    tags: dict | None = None,
    metas: dict | None = None,
    tag_prefix: str = "__tag__",
) -> DataFrame:
    """extension_group_info_filter (group_info_filter.go:29-42,78+):
    keep only groups whose tags/metas match every configured regex
    condition; ``Reverse`` inverts a condition. Tags live in
    ``__tag__<k>`` columns (tag_native), metas in plain columns.
    Conditions: {key: pattern} or {key: {"pattern": p, "reverse": b}}.
    """
    cond = F.lit(True)
    for source, prefix in ((tags, tag_prefix), (metas, "")):
        for k, c in (source or {}).items():
            pattern = c["pattern"] if isinstance(c, dict) else c
            reverse = c.get("reverse", False) if isinstance(c, dict) else False
            colname = f"{prefix}{k}"
            if colname in df.columns:
                m = F.col(colname).isNotNull() & F.col(colname).rlike(pattern)
            else:
                m = F.lit(False)
            cond = cond & (~m if reverse else m)
    return df.filter(cond)


def rate_limit(
    df: DataFrame,
    keys: list[str],
    limit_per_key: int,
    order_col: str = "ts",
    salt_n: int = 32,
) -> DataFrame:
    """processor_rate_limit (processor_rate_limit.go:26-33,100,
    token_bucket.go:33-118): token-bucket per distinct value-combo of
    ``keys``. Batch semantics: first ``limit_per_key`` events per key
    in ``order_col`` order survive.

    Two-phase de-skewed top-k: phase 1 ranks within (keys, salt) —
    salt = hash(order_col) % salt_n splits a hot key across salt_n
    uniform shuffle groups — and keeps ≤ limit rows per group; phase 2
    ranks the surviving ≤ limit×salt_n rows per key globally. Sound
    because the global first-``limit`` rows of a key are, within ANY
    salt group they land in, among that group's first ``limit`` rows —
    phase 1 retains a superset, phase 2 is exact. A plain single
    window funnels a hot key's entire volume (28% of all rows on the
    transcripts fixture) through ONE task; the salted pre-cap bounds
    every task to ~rows/salt_n for phase 1 and limit×salt_n for
    phase 2. With ties in ``order_col`` the surviving row set among
    tied rows is arbitrary (same as the single-window formulation).

    The salt hashes EVERY column, not just ``order_col``: a burst of
    events sharing one coarse timestamp (the canonical hot-key shape)
    must still spread across salt groups, and a deterministic
    expression keeps shuffle keys stable under task retries (fully
    identical duplicate rows still co-hash — interchangeable anyway).
    """
    if salt_n and salt_n > 1:
        from pyspark.sql.types import ArrayType, MapType, StructType

        def _has_map(dt) -> bool:
            if isinstance(dt, MapType):
                return True
            if isinstance(dt, ArrayType):
                return _has_map(dt.elementType)
            if isinstance(dt, StructType):
                return any(_has_map(f.dataType) for f in dt.fields)
            return False

        hashable = [
            f.name for f in df.schema.fields if not _has_map(f.dataType)
        ] or [order_col]
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in hashable]), F.lit(salt_n))
        w1 = Window.partitionBy(*keys, salt).orderBy(F.col(order_col).asc())
        df = (
            df.withColumn("_rl_pre", F.row_number().over(w1))
            .filter(F.col("_rl_pre") <= limit_per_key)
            .drop("_rl_pre")
        )
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("_rl_rn", F.row_number().over(w))
        .filter(F.col("_rl_rn") <= limit_per_key)
        .drop("_rl_rn")
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

@register("processor_filter_regex")
def _filter_regex_factory(**cfg):
    from ilogtail_spark.operators.parse import _go_regex_to_java

    inc = cfg_pop(cfg, "Include", "include", default=None)
    exc = cfg_pop(cfg, "Exclude", "exclude", default=None)
    inc = {k: _go_regex_to_java(v) for k, v in inc.items()} if inc else inc
    exc = {k: _go_regex_to_java(v) for k, v in exc.items()} if exc else exc
    return lambda df: filter_regex(df, include=inc, exclude=exc)


@register("processor_filter_regex_native")
def _filter_tree_factory(**cfg):
    """All three native config modes, in Init's priority order
    (ProcessorFilterNative.cpp:30-157): ConditionExp > FilterKey+
    FilterRegex > Include (deprecated), plus DiscardingNonUTF8. A
    ConditionExp in the repo's shorthand shape ({"and": [...]} with
    "regex" leaves) routes through the partial-match convenience tree
    for back-compat; the reference's own {"operator","operands"} shape
    gets the exact full-match engine."""
    expr = cfg_pop(cfg, "ConditionExp", "expr", default=None)
    fkeys = cfg_pop(cfg, "FilterKey", default=None)
    fregs = cfg_pop(cfg, "FilterRegex", default=None)
    inc = cfg_pop(cfg, "Include", "include", default=None)
    non_utf8 = cfg_pop(cfg, "DiscardingNonUTF8", default=False)
    # GetOptionalBoolParam: a non-bool (e.g. the string "true") warns
    # and keeps the default false (OnSuccessfulInit case 3)
    non_utf8 = non_utf8 if isinstance(non_utf8, bool) else False
    if isinstance(expr, str) or (
        isinstance(expr, dict)
        and not (isinstance(expr.get("operator"), str)
                 and isinstance(expr.get("operands"), list))
        and ("and" in expr or "or" in expr or "not" in expr or "regex" in expr)
    ):
        # back-compat: a SQL predicate string or the shorthand dict
        # shape keeps routing through the convenience tree
        return lambda df: filter_expression(df, expr)
    return lambda df: filter_native(
        df, condition_exp=expr, filter_keys=fkeys, filter_regexes=fregs,
        include=inc, discard_non_utf8=non_utf8,
    )


@register("processor_filter_key_regex")
def _filter_key_factory(**cfg):
    # Go's Include/Exclude param names (processor_filter_key_regex.go:29-30)
    inc = cfg_pop(cfg, "Include", "IncludeKeys", "include_keys", default=None)
    exc = cfg_pop(cfg, "Exclude", "ExcludeKeys", "exclude_keys", default=None)
    attrs = cfg_pop(cfg, "attrs_col", default="attrs")
    return lambda df: filter_key_regex(
        df, include_keys=inc, exclude_keys=exc,
        attrs_col=attrs if attrs in df.columns else None,
    )


@register("processor_timestamp_filter_native")
def _filter_ts_factory(**cfg):
    """The native config keys (SourceKey/TimestampPrecision/LowerBound/
    UpperBound) route to the exact epoch-bounds engine; the legacy
    begin/end wall-clock form stays for round-1 configs."""
    if any(k in cfg for k in
           ("SourceKey", "TimestampPrecision", "LowerBound", "UpperBound")):
        src = cfg_pop(cfg, "SourceKey", default=None)
        prec = cfg_pop(cfg, "TimestampPrecision", default="second")
        lo = cfg_pop(cfg, "LowerBound", default=None)
        hi = cfg_pop(cfg, "UpperBound", default=None)
        ts_col = cfg_pop(cfg, "ts_col", default="ts")
        nsec = cfg_pop(cfg, "nsec_col", default=None)
        return lambda df: timestamp_filter_native(
            df, source_key=src, precision=prec, lower_bound=lo,
            upper_bound=hi, ts_col=ts_col, nsec_col=nsec,
        )
    return lambda df: filter_timestamp(
        df,
        ts_col=cfg.pop("ts_col", "ts"),
        begin=cfg.pop("begin", None),
        end=cfg.pop("end", None),
    )


@register("processor_fields_with_condition")
def _fwc_factory(**cfg):
    cases = cfg_pop(cfg, "Switch", "cases")
    drop = cfg_pop(cfg, "DropIfNotMatchCondition", "drop_if_not_match", default=False)
    return lambda df: fields_with_condition(df, cases, drop_if_not_match=drop)


@register("processor_rate_limit")
def _rl_factory(**cfg):
    keys = cfg_pop(cfg, "Fields", "keys")
    limit = cfg_pop(cfg, "Limit", "limit_per_key")
    return lambda df: rate_limit(df, keys, int(limit))


@register("extension_group_info_filter")
@register("group_info_filter")
def _gif_factory(**cfg):
    tags = cfg_pop(cfg, "Tags", "tags", default=None)
    metas = cfg_pop(cfg, "Metas", "metas", default=None)
    return lambda df: group_info_filter(df, tags=tags, metas=metas)
