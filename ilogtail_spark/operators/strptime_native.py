"""Exact NetBSD-strptime engine for processor_parse_timestamp_native.

The C++ native timestamp processor does NOT use a JDK-style pattern:
it runs the vendored NetBSD ``strptime_ns`` (core/common/Strptime.cpp)
which is *flexible-width* (``%m`` eats 1-2 digits, so ``2017-1-11``
parses), *prefix-matching* (trailing junk after the format is fine),
nanosecond-aware (``%f``), and converts via ``mktime`` under the
agent's TZ (UTC in every reference test) — so ``%z``/``%Z`` are
*consumed but never applied* to the seconds value.  The repo's generic
``parse_timestamp`` (JDK ``try_to_timestamp``) models the Go
``processor_strptime`` plugin instead; this module is the exact twin
of the native path, compiled to ONE codegen regex pass per row.

Reference map (all cited by file:line as provenance, no code copied):

* core/common/Strptime.cpp:83-533 — ``strptime_ns``: the token walk,
  ``conv_num`` flexible digits, ``conv_nanosecond``, ``find_string``
  case-insensitive prefix names, the ``%z`` zoo, composite recursion.
* core/common/TimeUtil.cpp:112-160 — the ``Strptime`` wrapper:
  ``tm`` zero-init with ``tm_year = INT_MIN`` sentinel, ``mktime``,
  SourceYear modes (−1 pass-through / >0 inject / 0 deduce via
  ``DeduceYear`` TimeUtil.cpp:93-104).
* core/plugin/processor/ProcessorParseTimestampNative.cpp:126-248 —
  ProcessEvent: key-missing and parse-fail KEEP the event untouched;
  a parsed ``tv_sec <= 0`` or an event older than
  ``ilogtail_discard_interval`` (43200 s, LogtailCommonFlags.cpp:50)
  is DROPPED; success stamps (tv_sec − SourceTimezone offset,
  tv_nsec).  The second-level ``timeStrCache`` is a per-file reparse
  cache — semantically the identity (a prefix-equal string reparses
  to the same fields), so the stateless per-row plan is value-exact.

Compilation strategy: every format compiles to ONE start-anchored
Java regex whose capture groups carry the numeric fields, extracted
in a single ``regexp_replace`` pass (the parse.py one-pass sentinel
idiom); possessive/atomic groups replicate ``conv_num``'s
no-backtracking greed exactly (``conv_num`` consumes a second digit
iff ``d1*10 <= ulim`` and then FAILS — it does not give back — when
the two-digit value exceeds ulim, e.g. ``%m`` on ``19``; while ``92``
parses as 9 leaving ``2``).  Seconds are assembled with the mktime
normalization law ``epoch(Y,M,1) + (D-1)*86400 + h*3600 + m*60 + s``
so out-of-range day/second fields roll over exactly like mktime
(Feb 30 → Mar 2, leap second 61 → next minute).

Known deviations (degenerate input only, each asserted in tests where
observable): a ``%f``/epoch fraction run longer than 9 digits keeps
the first 9 (the C++ overflows an unsigned int); a year outside
[1,9999] yields NULL seconds → the event discards (mktime returns a
garbage negative that the processor's ``tv_sec <= 0`` gate also
discards); a ``%s`` digit run past int64 parse-fails (keep) where
strtoll saturates to LLONG_MAX.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ilogtail_spark.common import resolve_key, sql_str

DISCARD_INTERVAL_SEC = 43200  # INT32_FLAG(ilogtail_discard_interval)

_COMPOSITE = {
    "c": "%a %b %d %H:%M:%S %Y",
    "D": "%m/%d/%y",
    "F": "%Y-%m-%d",
    "R": "%H:%M",
    "r": "%I:%M:%S %p",
    "T": "%H:%M:%S",
    "X": "%H:%M:%S",
    "x": "%m/%d/%y",
}

_DAYS = ("Sunday|Monday|Tuesday|Wednesday|Thursday|Friday|Saturday"
         "|Sun|Mon|Tue|Wed|Thu|Fri|Sat")
# full names first, then abbreviations — find_string's probe order,
# and Java alternation is first-match so the prefix semantics agree
_MONTHS_FULL = ["January", "February", "March", "April", "May", "June",
                "July", "August", "September", "October", "November",
                "December"]
_MONTHS_AB = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug",
              "Sep", "Oct", "Nov", "Dec"]
_MONTH_ALT = "|".join(_MONTHS_FULL + _MONTHS_AB)

# %z (Strptime.cpp:390-515): ISO offsets, Zulu/GMT/UT, North-American
# zone triples (case-insensitive), military single letters — G/U/Z are
# unreachable as military (the switch catches them first).  The offset
# is stored in tm_gmtoff, which mktime IGNORES — consumed, not applied
# (pinned by the +0700 row of TestParseLogTime).
# the [+-] digit loop (Strptime.cpp:479-506): up to 4 digits with a
# colon consumed (not counted) ONLY right after the 2nd; exactly 2 or
# 4 digits succeed (a 5th digit is left as junk), minutes < 60, and a
# bare "+DD:" with no digit after the colon still succeeds with the
# colon consumed
_Z_OFFSET = (r"\s*+(?>GMT|UT|Z"
             r"|[+-](?>[0-9]{2}:[0-5][0-9]|[0-9]{2}[0-5][0-9]"
             r"|[0-9]{2}:(?![0-9])|[0-9]{2}(?![0-9:]))"
             r"|(?i:EST|CST|MST|PST|EDT|CDT|MDT|PDT)"
             r"|[A-FH-IL-TV-Y])")

_JAVA_ESCAPE = set("\\^$.|?*+()[]{}")


def _lit(ch: str) -> str:
    return "\\" + ch if ch in _JAVA_ESCAPE else ch


def _conv2(hi_first: int) -> str:
    """conv_num with a 2-digit ulim: the second digit is consumed iff
    the first is <= ulim/10, atomically (no backtracking to 1 digit)."""
    return f"(?>[0-{hi_first}][0-9]|[0-9])"


@dataclass
class _Compiled:
    pattern: str = "^"
    caps: list[tuple[str, int, int | None, int | None]] = field(
        default_factory=list
    )  # (kind, group_idx, llim, ulim)
    ok: bool = True  # False → unknown conversion, parse always fails

    def add(self, piece: str, kind: str | None = None,
            llim: int | None = None, ulim: int | None = None) -> None:
        self.pattern += piece
        if kind is not None:
            self.caps.append((kind, len(self.caps) + 1, llim, ulim))


def _tokens(fmt: str) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c != "%":
            out.append(("lit", c))
            i += 1
            continue
        if i + 1 >= len(fmt):
            out.append(("bad", ""))
            break
        s = fmt[i + 1]
        i += 2
        if s in "EO":  # alternative-representation modifier, pass-through
            if i >= len(fmt):
                out.append(("bad", ""))
                break
            s = fmt[i]
            i += 1
        if s == "%":
            out.append(("lit", "%"))
        elif s in _COMPOSITE:
            out.extend(_tokens(_COMPOSITE[s]))
        else:
            out.append(("spec", s))
    return out


def compile_strptime_native(fmt: str) -> _Compiled:
    """Format → (anchored Java regex, ordered capture plan)."""
    c = _Compiled()
    for kind, s in _tokens(fmt):
        if kind == "bad":
            c.ok = False
            break
        if kind == "lit":
            if s.isspace():
                c.add(r"\s*+")  # isspace(fmt char) eats a ws run (or none)
            else:
                c.add(_lit(s))
            continue
        if s.isspace():
            c.add(r"\s*+")
        elif s == "Y":
            c.add("([0-9]{1,4}+)", "Y")
        elif s == "y":
            c.add("([0-9]{1,2}+)", "y")
        elif s == "C":
            c.add("([0-9]{1,2}+)", "C")
        elif s == "m":
            c.add(f"({_conv2(1)})", "m", 1, 12)
        elif s in "de":
            c.add(f"({_conv2(3)})", "d", 1, 31)
        elif s in "Hk":
            c.add(f"({_conv2(2)})", "H", 0, 23)
        elif s in "Il":
            c.add(f"({_conv2(1)})", "I", 1, 12)
        elif s == "M":
            c.add(f"({_conv2(5)})", "M")
        elif s == "S":
            c.add(f"({_conv2(6)})", "S", 0, 61)
        elif s == "f":
            c.add("([0-9]++)", "f")
        elif s == "p":
            c.add("((?i:AM|PM))", "p")
        elif s in "bBh":
            # atomic, like find_string: no retry of "Mar" after "March"
            c.add(f"((?>(?i:{_MONTH_ALT})))", "bname")
        elif s in "aA":
            c.add(f"(?>(?i:{_DAYS}))")
        elif s == "j":
            c.add("((?>[0-2][0-9][0-9]|3[0-6][0-9]|[0-9][0-9]|[0-9]))",
                  "j", 1, 366)
        elif s in "UWV":
            c.add(f"({_conv2(5)})", "skipnum", 0, 53)
        elif s == "w":
            c.add("([0-9])", "skipnum", 0, 6)
        elif s == "u":
            c.add("([0-9])", "skipnum", 1, 7)
        elif s == "g":
            c.add("([0-9]{1,2}+)", "skipnum", 0, 99)
        elif s == "G":  # consumes ONE char unconditionally, then digits
            c.add("(?s:.)[0-9]*+")
        elif s == "z":
            c.add(_Z_OFFSET)
        elif s == "Z":
            c.add("(?i:GMT|UTC)?+")
        elif s in "nt":
            c.add(r"\s*+")
        else:  # includes %s inside a larger format: unknown conversion
            c.ok = False
            break
    return c


_SEP = "\x1e\x1d\x1f"  # parse.py one-pass sentinel
_EPOCH_RUN = sql_str(r"^\s*([+-]?[0-9]+)")  # strtoll's digit run

# "may" appears in both name lists — dedupe (Spark maps THROW on
# duplicate keys under the default EXCEPTION policy)
_MONTH_NUM = {n.lower(): i % 12 + 1 for i, n in enumerate(_MONTHS_FULL + _MONTHS_AB)}
_MONTH_MAP = "map(" + ", ".join(f"{sql_str(n)}, {v}" for n, v in _MONTH_NUM.items()) + ")"


def _nsec_of(digits: str) -> str:
    """conv_nanosecond: digit run scaled by 10^(9−len); first 9 kept."""
    return (
        f"CASE WHEN {digits} IS NOT NULL AND {digits} != '' "
        f"THEN CAST(rpad(substring({digits}, 1, 9), 9, '0') AS BIGINT) "
        "ELSE 0L END"
    )


def _onepass_arr(src: str, comp: _Compiled) -> str:
    """The one-regex-run sentinel extraction array (parse.py:186-198).
    Callers on a DataFrame path MUST land this in its own projection
    (a multi-use non-cheap column is materialized once; the same
    expression inlined per capture re-runs the regex per use)."""
    rep = _SEP.join(f"${i + 1}" for i in range(len(comp.caps)))
    pat = f"(?:{comp.pattern})" + r"[\s\S]*"
    sep = sql_str(_SEP)
    return (
        f"CASE WHEN {src} IS NOT NULL AND NOT contains({src}, {sep}) THEN "
        f"split(regexp_replace({src}, {sql_str(pat)}, {sql_str(rep)}), {sep}, -1) "
        "END"
    )


def strptime_native_struct(
    src: str,
    fmt: str,
    source_year: int = -1,
    now: str | None = None,
) -> str:
    """One codegen expression → struct(ok, sec, nsec), as SQL text over
    the SQL expression ``src`` (``now``: a timestamp expression, default
    ``current_timestamp()``).

    Every emitter here returns SQL text, so a plan stage costs one
    ``F.expr`` round trip to the JVM instead of one per node of a
    ``Column`` tree (about a thousand per format). The regex array is
    inlined — fine for literal probes, an expression-tree blowup on
    real plans: ``parse_timestamp_native`` stages array → parts struct
    → tm struct in separate projections and drops rows via a Generate
    (see there); together that took q96 from a 3.2 MB plan / 26 s at
    sf0.01 to 37 KB / ~3 s.

    ``sec`` is the raw ``mktime`` value (UTC interpretation of the
    naive wall clock — the reference runs with TZ=UTC); the caller
    applies the SourceTimezone subtraction.  ``sec`` is NULL when the
    format carries no year and none is injectable (SourceYear=−1, the
    plugin default) or the assembled date is non-calendar — both land
    in the processor's ``tv_sec <= 0`` discard, like mktime's −1.
    """
    if fmt == "%s":
        # strptime_ns %s leg (Strptime.cpp:84-112), the EXACT law:
        # n = strtoll(buf) (whitespace skip, optional sign), then
        # bufLength = to_string(n).length() — sign counted, leading
        # zeros COLLAPSED — and n is divided down to its first
        # min(bufLength,10) decimal chars (== the first-10-char
        # substring of the value string, truncation toward zero).
        # n == 0 after division fails. The fraction is read at the
        # RAW buffer offset secondTimestampLength — including any
        # skipped whitespace/sign — so '+5' parses sec=5 nsec=5e8.
        # A run past int64 (strtoll saturation) is the one documented
        # deviation: try_cast NULLs it → parse-fail keep.
        n = f"try_cast(regexp_extract({src}, {_EPOCH_RUN}, 1) AS BIGINT)"
        val_str = f"CAST({n} AS STRING)"
        sec = f"try_cast(substring({val_str}, 1, 10) AS BIGINT)"
        ok = f"({src} IS NOT NULL AND {n} IS NOT NULL AND {sec} != 0)"
        frac = (f"regexp_extract(substr({src}, least(length({val_str}), 10) + 1, "
                f"{1 << 30}), '^([0-9]++)', 1)")
        return _struct(ok, sec, _nsec_of(frac))

    comp = compile_strptime_native(fmt)
    if not comp.ok:
        return ("named_struct('ok', false, 'sec', CAST(NULL AS BIGINT), "
                "'nsec', CAST(NULL AS BIGINT))")
    ok, vals = _extract_ok_vals(src, comp)
    return _tm_assemble(comp, ok, vals, source_year, now)


def _struct(ok: str, sec: str, nsec: str) -> str:
    return (f"named_struct('ok', {ok}, 'sec', CASE WHEN {ok} THEN {sec} END, "
            f"'nsec', CASE WHEN {ok} THEN {nsec} END)")


def _extract_ok_vals(
    src: str, comp: _Compiled, arr0: str | None = None
) -> tuple[str, dict[int, str]]:
    """(match flag, {group → captured string}) SQL expressions."""
    ncaps = len(comp.caps)
    pat = sql_str(comp.pattern)
    rl = f"({src} IS NOT NULL AND rlike({src}, {pat}))"
    if ncaps == 0:
        return rl, {}
    if ncaps == 1:
        # a one-group miss passes the source through as ONE part — the
        # same size as a hit — so the sentinel trick needs ≥2 groups
        # (parse.py:88-100); pay the rlike + one extract instead
        return rl, {1: f"CASE WHEN {rl} THEN regexp_extract({src}, {pat}, 1) END"}
    arr = arr0 if arr0 is not None else _onepass_arr(src, comp)
    # the pattern is ^-anchored with no top-level alternation, so a
    # fired replace yields exactly ncaps parts; a miss passes the
    # sentinel-free source through as one part (parse.py:88-128)
    ok = f"CASE WHEN {arr} IS NOT NULL THEN size({arr}) = {ncaps} ELSE {rl} END"
    hit = f"{arr} IS NOT NULL AND size({arr}) = {ncaps}"
    vals = {
        i: f"CASE WHEN {hit} THEN element_at({arr}, {i}) "
        # sentinel-free MISS: NULL without re-running the pattern
        f"WHEN {arr} IS NOT NULL THEN CAST(NULL AS STRING) "
        f"ELSE CASE WHEN {rl} THEN regexp_extract({src}, {pat}, {i}) END END"
        for i in range(1, ncaps + 1)
    }
    return ok, vals


def _parts_struct(src: str, comp: _Compiled, arr0: str | None) -> str:
    """The match flag and captures as one struct ``(__ok, g0, g1, …)``."""
    ok, vals = _extract_ok_vals(src, comp, arr0)
    fields = "".join(f", 'g{i - 1}', {v}" for i, v in sorted(vals.items()))
    return f"named_struct('__ok', {ok}{fields})"


def _tm_assemble(
    comp: _Compiled,
    ok: str,
    vals: dict[int, str],
    source_year: int,
    now: str | None,
) -> str:
    # --- assemble tm in token order (overwrite semantics) ------------
    # every compound value is parenthesized: the pieces nest as text
    tm_year: str | None = None  # years-since-1900, like struct tm
    split_year = False
    mon: str | None = None
    mday: str | None = None
    hour = "0L"
    minute: str | None = None
    secv: str | None = None
    frac: str | None = None
    conds = [ok]

    for kind, g, llim, ulim in comp.caps:
        v = f"try_cast({vals[g]} AS BIGINT)"
        if llim is not None:
            conds.append(f"({v} >= {llim} AND {v} <= {ulim})")
        if kind == "Y":
            tm_year = f"({v} - 1900)"
        elif kind == "y":
            if split_year and tm_year is not None:
                tm_year = f"(({tm_year} - {tm_year} % 100) + {v})"
            else:
                tm_year = f"CASE WHEN {v} <= 68 THEN {v} + 100 ELSE {v} END"
            split_year = True
        elif kind == "C":
            base = f"({v} * 100 - 1900)"
            if split_year and tm_year is not None:
                tm_year = f"({base} + {tm_year} % 100)"
            else:
                tm_year = base
            split_year = True
        elif kind == "m":
            mon = v
        elif kind == "bname":
            mon = f"CAST(element_at({_MONTH_MAP}, lower({vals[g]})) AS BIGINT)"
        elif kind == "d":
            mday = v
        elif kind == "H":
            hour = v
        elif kind == "I":
            hour = f"CASE WHEN {v} = 12 THEN 0L ELSE {v} END"
        elif kind == "p":
            # %p fails when tm_hour > 11 AT THIS POINT of the walk
            conds.append(f"({hour} <= 11)")
            hour = (f"({hour} + CAST(CASE WHEN upper({vals[g]}) = 'PM' "
                    "THEN 12 ELSE 0 END AS BIGINT))")
        elif kind == "M":
            minute = v
        elif kind == "S":
            secv = v
        elif kind == "f":
            frac = vals[g]
        # skipnum / j: range-checked above, value unused by mktime

    if tm_year is None:
        if source_year > 0:
            year = f"{source_year}L"
        elif source_year == 0:
            # DeduceYear (TimeUtil.cpp:93-104) against `now`
            now_c = now if now is not None else "current_timestamp()"
            ny = f"CAST(year({now_c}) AS BIGINT)"
            m_ = mon if mon is not None else "1L"
            d_ = mday if mday is not None else "0L"
            year = (
                f"CASE WHEN {m_} = 1 AND {d_} = 1 AND month({now_c}) = 12 "
                f"AND dayofmonth({now_c}) = 31 THEN {ny} + 1 "
                f"WHEN {m_} = 12 AND {d_} = 31 AND month({now_c}) = 1 "
                f"AND dayofmonth({now_c}) = 1 THEN {ny} - 1 ELSE {ny} END"
            )
        else:
            # tm_year stays INT_MIN → mktime garbage → tv_sec<=0 discard
            year = "CAST(NULL AS BIGINT)"
    else:
        year = f"({tm_year} + 1900)"

    mon = mon if mon is not None else "1L"
    mday = mday if mday is not None else "0L"  # tm zero-init
    minute = minute if minute is not None else "0L"
    secv = secv if secv is not None else "0L"

    # mktime normalization law: anchor at the 1st of the month, add the
    # (possibly 0 or overflowing) day/time fields as raw offsets
    first = (f"try_make_timestamp(CAST({year} AS INT), CAST({mon} AS INT), "
             "1, 0, 0, CAST(0 AS DECIMAL(16,6)))")
    sec = (f"(unix_timestamp({first}) + ({mday} - 1) * 86400 + {hour} * 3600 "
           f"+ {minute} * 60 + {secv})")
    nsec = _nsec_of(frac) if frac is not None else "0L"
    return _struct(f"({' AND '.join(conds)})", sec, nsec)


def parse_timestamp_native(
    df: DataFrame,
    source: str,
    fmt: str,
    source_timezone: str | None = None,
    source_year: int = -1,
    now: Column | None = None,
    discard_old: bool = True,
    discard_interval: int = DISCARD_INTERVAL_SEC,
    dest_sec: str = "log_sec",
    dest_nsec: str = "log_nsec",
) -> DataFrame:
    """ProcessEvent row semantics over a flat string column.

    Missing key / parse failure keep the row with NULL outputs; a
    parsed time that is non-positive or (when ``discard_old``) older
    than ``now − discard_interval`` DROPS the row; success stamps
    ``dest_sec``/``dest_nsec`` with the zone-adjusted time.
    """
    from ilogtail_spark.operators.parse import parse_apsara_tz_offset

    tz_off = parse_apsara_tz_offset(source_timezone)
    # SourceKey resolves from flat columns or the attrs KV bag, like
    # the sibling processor_strptime (parse.py _ts_factory); absent
    # everywhere → every row is key-missing and keeps untouched
    if source in df.columns or "attrs" in df.columns:
        src = resolve_key(df, source)
    else:
        src = F.lit(None).cast("string")
    # the source (and a caller's `now`) land in temporary columns the
    # stage SQL names; each stage below is one F.expr + withColumn
    d = df.withColumn("_sts", src)
    tmp = ["_sts", "_st"]
    now_sql = "current_timestamp()"
    if now is not None:
        d = d.withColumn("_stnow", now)
        now_sql = "_stnow"
        tmp.append("_stnow")
    # staged projections: the one-pass regex array lands ALONE in its
    # own projection (the parse.py _rxa idiom), the struct in the next,
    # and the keep-filter reads only materialized output columns — so
    # neither CollapseProject nor filter pushdown re-inlines the regex
    # per capture (inlined, q96's five-variant union optimized for 36 s
    # at sf0.001; staged it is sub-second)
    comp = compile_strptime_native(fmt) if fmt != "%s" else None
    if comp is None or not comp.ok:
        # %s leg (two small extracts) / always-fail: inline is tiny
        st = strptime_native_struct("_sts", fmt, source_year, now_sql)
    else:
        ncaps = len(comp.caps)
        arr0 = None
        if ncaps >= 2:
            d = d.withColumn("_stna", F.expr(_onepass_arr("_sts", comp)))
            arr0 = "_stna"
            tmp.append("_stna")
        d = d.withColumn("_stg", F.expr(_parts_struct("_sts", comp, arr0)))
        tmp.append("_stg")
        st = _tm_assemble(
            comp, "_stg.__ok", {i + 1: f"_stg.g{i}" for i in range(ncaps)},
            source_year, now_sql,
        )
    d = d.withColumn("_st", F.expr(st))
    ok = "coalesce(_st.ok, false)"
    adj = f"(_st.sec - {int(tz_off)}L)"
    # a parsed event is kept iff its time is positive and fresh; a NULL
    # sec (year-less format / non-calendar date) models mktime's -1 and
    # discards exactly like tv_sec <= 0
    fresh = f"{adj} IS NOT NULL AND {adj} > 0"
    if discard_old:
        fresh += (f" AND unix_timestamp(CAST({now_sql} AS TIMESTAMP)) - {adj}"
                  f" <= {int(discard_interval)}")
    keep = f"(NOT {ok}) OR ({fresh})"
    # row dropping via explode(when(keep, array(payload))), NOT filter:
    # PushDownPredicates substitutes a Filter's predicate through every
    # deterministic Project down to the scan, re-inlining the staged
    # regex/assembly tree multiplicatively (q96's five-variant plan hit
    # 3.2 MB / 36 s at sf0.001). A Generate is not a predicate, so the
    # staged projections survive — while UNRELATED downstream filters
    # (e.g. on a key column) still push through Generate to the scan.
    d = d.withColumn("_sto", F.expr(
        f"named_struct('s', CASE WHEN {ok} THEN {adj} END, "
        f"'n', CASE WHEN {ok} THEN _st.nsec END, 'k', {keep})"
    ))
    d = d.withColumn("_o", F.expr(
        "explode(CASE WHEN _sto.k THEN array(named_struct('s', _sto.s, 'n', _sto.n)) END)"
    ))
    return (
        d.withColumn(dest_sec, F.expr("_o.s"))
        .withColumn(dest_nsec, F.expr("_o.n"))
        .drop("_o", "_sto", *tmp)
    )
