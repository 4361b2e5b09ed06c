"""Syslog line parsing — RFC3164 / RFC5424 / auto.

Reference: ``plugins/input/syslog/parser.go`` (the rfc3164Parser /
rfc5424Parser / autoParser trio over the jeromer and influxdata
grammars) and the field emission in ``plugins/input/syslog/
syslog.go:395-441``. The TRANSPORT legs (UDP/TCP/unixgram listeners)
collapse to "read a table" per the north star; the PARSE semantics —
the part with query meaning — are lifted here as one codegen pass
(regexp_extract + string ops, no UDF, zero shuffle).

Output columns (syslog.go names):
  ``_program_ _priority_ _facility_ _severity_ _unixtimestamp_
  _hostname_ _content_ _structured_data_ _message_id_ _process_id_``

Documented deviations from the reference, all environment-driven:
  * parse failure sets ``_unixtimestamp_`` NULL (the reference stamps
    ``time.Now()`` — nondeterministic); content still carries the raw
    line when ``ignore_parse_failure`` (parser.go:101-107).
  * RFC3164 has no year: the reference assumes the CURRENT local
    year; ``default_year`` makes that explicit (pass the ingest
    year), and times resolve in the pinned-UTC session rather than
    ``time.Local``.
  * hostname fallbacks (``util.GetHostName()``) and ``_ip_``/
    ``_client_ip_`` are host-environment lookups, not parse results —
    hostname-less lines yield NULL for the caller to default.
  * RFC5424 structured data: the common subset (no escaped ``]``/
    ``"`` and no spaces inside param values — none of the reference's
    fixtures use them); rendered exactly like Go's
    ``json.Marshal(map[string]map[string]string)``: sorted keys at
    both levels, ``{}`` for a bare element (parser_test.go:198-205).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]

# <PRI>Mon  d hh:mm:ss REST   (day may be space-padded: 'Aug  2')
_RFC3164_HDR = (
    r"^<(\d{1,3})>("
    + "|".join(_MONTHS)
    + r")\s{1,2}(\d{1,2}) (\d{2}):(\d{2}):(\d{2}) "
)
_RFC3164_RE = _RFC3164_HDR + r"(.*)$"
# tag[:pid]: content   (polkitd[457]: ..., LOGSTASH[-]: ..., su: ...)
_TAG_RE = r"^([^:\[\s]+)(?:\[[^\]]*\])?: ?"
# <PRI>1 TIMESTAMP HOSTNAME APP PROCID MSGID TAIL(SD + MSG)
_RFC5424_RE = r"^<(\d{1,3})>1 (\S+) (\S+) (\S+) (\S+) (\S+) (.*)$"
_SD_RE = r"^((?:\[[^\]]*\])+)"


def _nilable(tok: Column) -> Column:
    """RFC5424 '-' means absent."""
    return F.when(tok == "-", F.lit(None).cast("string")).otherwise(tok)


def _sd_json(sd: Column) -> Column:
    """Render RFC5424 structured data exactly like Go's json.Marshal
    of map[string]map[string]string: elements and params sorted by
    key, a bare element id as {}."""
    def elem_json(e: Column) -> Column:
        eid = F.regexp_extract(e, r"^(\S+)", 1)
        params = F.regexp_replace(e, r"^\S+ ?", "")
        kvs = F.array_sort(
            F.transform(
                F.split(params, " "),
                lambda t: F.concat(
                    F.lit('"'),
                    F.regexp_extract(t, r'^([^=]+)="', 1),
                    F.lit('":"'),
                    F.regexp_extract(t, r'^[^=]+="([^"]*)"$', 1),
                    F.lit('"'),
                ),
            )
        )
        body = F.when(params == "", F.lit("")).otherwise(
            F.array_join(kvs, ",")
        )
        return F.concat(F.lit('"'), eid, F.lit('":{'), body, F.lit("}"))

    elems = F.array_sort(
        F.transform(F.regexp_extract_all(sd, F.lit(r"\[([^\]]*)\]"), 1), elem_json)
    )
    return F.concat(F.lit("{"), F.array_join(elems, ","), F.lit("}"))


_SEP = "\x1e\x1d\x1f"  # the one-pass sentinel (RS+GS+US; no log format emits it)


def _grp(arr_col: str, line: Column, pat: str, n: int, i: int) -> Column:
    """Group ``i`` from the materialized one-pass array: element when
    the replace fired (size == n), NULL on a sentinel-free miss, exact
    per-group fallback for (rare) sentinel-carrying rows."""
    a = F.col(arr_col)
    return (
        F.when(a.isNotNull() & (F.size(a) == n), F.element_at(a, i))
        .when(a.isNotNull(), F.lit(None).cast("string"))
        .otherwise(
            F.when(line.rlike(pat), F.regexp_extract(line, pat, i))
        )
    )


def syslog_parse(
    df: DataFrame,
    source_col: str = "line",
    mode: str = "auto",
    ignore_parse_failure: bool = True,
    with_hostname: bool = True,
    default_year: int = 2024,
) -> DataFrame:
    """Parse a syslog line column per the reference's parser trio.

    ``mode``: 'rfc3164' | 'rfc5424' | 'auto' (3164 first, then 5424 —
    parser.go:181-186). ``with_hostname=False`` is the reference's
    AddHostname unixgram case (syslog.go:54): the header carries no
    hostname token, so the first post-timestamp token is the TAG.

    Perf shape: each grammar costs ONE regex run per row — the
    start-anchored pattern extracts every group via a single
    sentinel-joined regexp_replace materialized in its own projection
    (per-group regexp_extract under
    conditional branches is NOT deduplicated by codegen and would run
    the pattern ~15x per row). Calendar-invalid RFC3164 fields (Feb
    30, hour 99) fail via try_make_timestamp into the normal
    parse-failure row instead of an ANSI DateTimeException.
    """
    line = F.col(source_col)
    # with hostname the host and message are grammar groups 8/9;
    # without, the whole remainder (group 7) IS the message
    pat3 = (
        _RFC3164_HDR + r"(\S+) (.*)$" if with_hostname else _RFC3164_RE
    )
    n3 = 8 if with_hostname else 7
    rep3 = _SEP.join(f"${i + 1}" for i in range(n3))
    rep5 = _SEP.join(f"${i + 1}" for i in range(7))

    def onepass(pat: str, rep: str) -> Column:
        return F.when(
            line.isNotNull() & ~line.contains(_SEP),
            F.split(
                F.regexp_replace(line, f"(?:{pat})[\\s\\S]*", rep), _SEP, -1
            ),
        )

    df = df.withColumns(
        {"_s3": onepass(pat3, rep3), "_s5": onepass(_RFC5424_RE, rep5)}
    )

    def g3(i: int) -> Column:
        return _grp("_s3", line, pat3, n3, i)

    def g5(i: int) -> Column:
        return _grp("_s5", line, _RFC5424_RE, 7, i)

    host3 = g3(7) if with_hostname else F.lit("")
    # materialize the short per-row strings the tag/SD regexes run on
    df = df.withColumns(
        {
            "_m3": g3(8) if with_hostname else g3(7),
            "_t5": g5(7),
            "_pri3": g3(1).try_cast("int"),
            "_pri5": g5(1).try_cast("int"),
            "_ts3": F.try_make_timestamp(
                F.lit(default_year),
                F.array_position(
                    F.array(*[F.lit(m) for m in _MONTHS]), g3(2)
                ).cast("int"),
                g3(3).try_cast("int"),
                g3(4).try_cast("int"),
                g3(5).try_cast("int"),
                g3(6).try_cast("int"),
            ),
            "_ts5": F.try_to_timestamp(g5(2)),
        }
    )
    msg3, tail5 = F.col("_m3"), F.col("_t5")
    pri3, pri5 = F.col("_pri3"), F.col("_pri5")
    ts3, ts5 = F.col("_ts3"), F.col("_ts5")
    prog3 = F.regexp_extract(msg3, _TAG_RE, 1)
    content3 = F.when(prog3 == "", msg3).otherwise(
        F.regexp_replace(msg3, _TAG_RE, "")
    )
    ok3 = (
        pri3.isNotNull() & (pri3 <= 191) & ts3.isNotNull()
        & (F.lit(not with_hostname) | (host3 != ""))
    )

    ok5 = pri5.isNotNull() & (pri5 <= 191) & ts5.isNotNull()
    host5 = _nilable(g5(3))
    app5 = _nilable(g5(4))
    proc5 = _nilable(g5(5))
    msgid5 = _nilable(g5(6))
    sd_raw = F.regexp_extract(tail5, _SD_RE, 1)
    has_sd = (~tail5.startswith("-")) & (sd_raw != "")
    content5 = F.when(
        tail5.startswith("- "), tail5.substr(F.lit(3), F.length(tail5))
    ).when(tail5 == "-", F.lit("")).otherwise(
        F.regexp_replace(tail5, _SD_RE + " ?", "")
    )
    sd5 = F.when(has_sd, _sd_json(sd_raw)).otherwise(F.lit(None).cast("string"))

    if mode == "rfc3164":
        use3, use5 = ok3, F.lit(False)
    elif mode == "rfc5424":
        use3, use5 = F.lit(False), ok5
    elif mode == "auto":
        use3, use5 = ok3, ~ok3 & ok5
    else:
        raise ValueError(f"syslog_parse: unknown mode {mode!r}")

    parsed = use3 | use5
    if not ignore_parse_failure:
        df = df.filter(parsed)  # reference drops the line with a warning

    pri = F.when(use3, pri3).when(use5, pri5).otherwise(F.lit(-1))
    ns = F.when(use3, F.unix_micros(ts3) * 1000).when(
        use5, F.unix_micros(ts5) * 1000
    )
    return df.withColumns(
        {
            "_program_": F.when(use3, prog3).when(
                use5, F.coalesce(app5, F.lit(""))
            ).otherwise(F.lit("")),
            "_priority_": pri,
            "_facility_": F.when(parsed, F.floor(pri / 8).cast("int")).otherwise(
                F.lit(-1)
            ),
            "_severity_": F.when(parsed, F.pmod(pri, F.lit(8))).otherwise(
                F.lit(-1)
            ),
            "_unixtimestamp_": ns.cast("long").cast("string"),
            "_hostname_": F.when(use3, host3).when(use5, host5),
            "_content_": F.when(use3, content3)
            .when(use5, content5)
            .otherwise(line),
            "_structured_data_": F.when(use5, sd5),
            "_message_id_": F.when(use5, msgid5),
            "_process_id_": F.when(use5, proc5),
        }
    ).drop("_s3", "_s5", "_m3", "_t5", "_pri3", "_pri5", "_ts3", "_ts5")
