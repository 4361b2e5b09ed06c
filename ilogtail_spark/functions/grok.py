"""Grok pattern compiler.

The reference ships a 77-entry grok pattern library and expands
``%{NAME:alias}`` references recursively into one regex, then matches
patterns in order with a timeout
(plugins/processor/grok/processor_grok.go:41-46,55,147-192,
processor_grok_default_patterns.go). We reproduce the public grok
dialect: expansion happens ONCE at the driver (pure Python), the
compiled regex then runs JVM-side, one ``java.util.regex`` match per
row (``operators/parse.py::parse_first_match``).

Pattern definitions below are the standard public grok idioms
(logstash-patterns-core, Apache-2.0 public corpus), restricted to
constructs valid in Java, RE2 and Python dialects.
"""

from __future__ import annotations

import re

DEFAULT_PATTERNS: dict[str, str] = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "BASE10NUM": r"[+-]?(?:\d+(?:\.\d+)?|\.\d+)",
    "POSINT": r"\b[1-9]\d*\b",
    # logstash's originals guard with lookbehind (?<![0-9A-Fa-f]) —
    # the repo invariant bans lookbehind (not in the Java/RE2/Python
    # common subset), so these use \b: same matches at the token
    # boundaries real patterns anchor on (tid=..., [0x...])
    "BASE16NUM": r"[+-]?\b(?:0x)?[0-9A-Fa-f]+",
    "BASE16FLOAT": (
        r"[+-]?\b(?:0x)?"
        r"(?:[0-9A-Fa-f]+(?:\.[0-9A-Fa-f]*)?|\.[0-9A-Fa-f]+)\b"
    ),
    "NONNEGINT": r"\b\d+\b",
    "QUOTEDSTRING": r"\"[^\"]*\"|'[^']*'",
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    "IPV4": (
        r"(?:25[0-5]|2[0-4]\d|[01]?\d?\d)(?:\.(?:25[0-5]|2[0-4]\d|[01]?\d?\d)){3}"
    ),
    "IP": r"(?:25[0-5]|2[0-4]\d|[01]?\d?\d)(?:\.(?:25[0-5]|2[0-4]\d|[01]?\d?\d)){3}",
    "HOSTNAME": r"\b(?:[0-9A-Za-z][0-9A-Za-z-]{0,62})(?:\.(?:[0-9A-Za-z][0-9A-Za-z-]{0,62}))*\.?\b",
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"[a-zA-Z0-9._-]+",
    "EMAILADDRESS": r"[a-zA-Z][a-zA-Z0-9_.+-=:]+@[0-9A-Za-z][0-9A-Za-z-]*(?:\.[0-9A-Za-z][0-9A-Za-z-]*)+",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_\-]*)+",
    "URIPARAM": r"\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\-\[\]<>]*",
    "URIPATHPARAM": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_\-]*)+(?:\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\-\[\]<>]*)?",
    "MONTHDAY": r"(?:0[1-9]|[12]\d|3[01]|[1-9])",
    "YEAR": r"(?:\d\d){1,2}",
    "HOUR": r"(?:2[0123]|[01]?\d)",
    "MINUTE": r"(?:[0-5]\d)",
    "SECOND": r"(?:[0-5]\d)(?:\.\d+)?",
    "TIME": r"(?:2[0123]|[01]?\d):(?:[0-5]\d)(?:::?(?:[0-5]\d)(?:\.\d+)?)?",
    "TIMESTAMP_ISO8601": (
        r"(?:\d\d){1,2}-(?:0?[1-9]|1[0-2])-(?:0[1-9]|[12]\d|3[01]|[1-9])"
        r"[T ](?:2[0123]|[01]?\d):?(?:[0-5]\d)(?::?(?:[0-5]\d)(?:\.\d+)?)?"
        r"(?:Z|[+-](?:2[0123]|[01]?\d)(?::?(?:[0-5]\d)))?"
    ),
    "DAY": (
        r"(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|"
        r"Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)"
    ),
    "MONTH": (
        r"\b(?:[Jj]an(?:uary)?|[Ff]eb(?:ruary)?|[Mm]ar(?:ch)?|[Aa]pr(?:il)?|"
        r"[Mm]ay|[Jj]un(?:e)?|[Jj]ul(?:y)?|[Aa]ug(?:ust)?|[Ss]ep(?:tember)?|"
        r"[Oo]ct(?:ober)?|[Nn]ov(?:ember)?|[Dd]ec(?:ember)?)\b"
    ),
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    "LOGLEVEL": (
        r"[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE|"
        r"[Ii]nfo|INFO|[Ww]arn(?:ing)?|WARN(?:ING)?|[Ee]rr(?:or)?|ERR(?:OR)?|"
        r"[Cc]rit(?:ical)?|CRIT(?:ICAL)?|[Ff]atal|FATAL|[Ss]evere|SEVERE"
    ),
}

_REF = re.compile(r"%\{(\w+)(?::([\w\[\]@.-]+))?(?::(int|float|long))?\}")

MAX_EXPANSION_DEPTH = 10


class GrokError(ValueError):
    pass


def compile_grok(
    pattern: str, custom_patterns: dict[str, str] | None = None
) -> tuple[str, list[str], dict[str, str]]:
    """Expand a grok expression into (regex, ordered field names,
    field->cast-type map). ``%{NAME}`` without alias expands inline
    without capturing (matching the Go plugin's semantics of only
    emitting aliased fields)."""
    library = dict(DEFAULT_PATTERNS)
    if custom_patterns:
        library.update(custom_patterns)

    alias_by_marker: dict[int, str] = {}
    types: dict[str, str] = {}
    counter = iter(range(1_000_000))

    def expand(pat: str, depth: int) -> str:
        if depth > MAX_EXPANSION_DEPTH:
            raise GrokError(f"grok expansion too deep in {pattern!r}")

        def sub(m: re.Match) -> str:
            name, alias, cast = m.group(1), m.group(2), m.group(3)
            if name not in library:
                raise GrokError(f"unknown grok pattern %{{{name}}}")
            body = expand(library[name], depth + 1)
            if alias:
                n = next(counter)
                alias_by_marker[n] = alias
                if cast:
                    types[alias] = "double" if cast == "float" else cast
                return f"(?<gk{n}gk>{body})"
            return f"(?:{body})"

        return _REF.sub(sub, pat)

    expanded = expand(pattern, 0)

    # Final left-to-right pass: fields are ALL named groups in group
    # order — grok aliases (markers) AND inline (?<name>...) groups
    # the user wrote (the Go grok lib compiles aliases to named
    # groups and the plugin emits named submatches only). Bare (...)
    # groups become non-capturing so emitted fields are exactly the
    # capture groups, positionally — what parse_first_match consumes.
    fields: list[str] = []
    out: list[str] = []
    in_class = False
    i = 0
    while i < len(expanded):
        ch = expanded[i]
        if ch == "\\" and i + 1 < len(expanded):
            out.append(expanded[i : i + 2])
            i += 2
            continue
        if in_class:
            if ch == "]":
                in_class = False
            out.append(ch)
            i += 1
            continue
        if ch == "[":
            in_class = True
            out.append(ch)
            i += 1
            continue
        if ch == "(":
            m = re.match(r"\(\?P?<([A-Za-z][A-Za-z0-9_]*)>", expanded[i:])
            if m:
                name = m.group(1)
                mk = re.fullmatch(r"gk(\d+)gk", name)
                fields.append(alias_by_marker[int(mk.group(1))] if mk else name)
                out.append("(")
                i += m.end()
                continue
            if expanded[i : i + 2] == "(?":
                # lookaround / non-capture / flags — leave untouched
                out.append(ch)
                i += 1
                continue
            out.append("(?:")
            i += 1
            continue
        out.append(ch)
        i += 1

    return "".join(out), fields, types


def grok_parse(
    df,
    pattern: str | list[str],
    source: str = "text",
    custom_patterns: dict[str, str] | None = None,
    options=None,
):
    """processor_grok as a DataFrame transform: compile at the driver,
    execute with one JVM match per row (``parse_first_match``).

    ``pattern`` may be an ORDERED LIST of grok expressions — the
    reference's Match semantics (processor_grok.go:147-192): patterns
    try in order, first success wins and contributes its fields; the
    output schema is the union of every pattern's fields (non-winning
    patterns' fields stay null). The per-log timeout has no batch
    analogue — Catalyst regexes don't backtrack pathologically on the
    anchored idiom set and a stuck task is the cluster's speculative
    -execution concern, not per-row bookkeeping."""
    from ilogtail_spark.operators.parse import parse_first_match

    pats = [pattern] if isinstance(pattern, str) else list(pattern)
    return parse_first_match(
        df, [compile_grok(p, custom_patterns) for p in pats], source, options
    )


from ilogtail_spark.operators.registry import register  # noqa: E402


@register("processor_grok")
def _grok_factory(**cfg):
    """processor_grok (processor_grok.go:41-55,147-192): Match takes
    an ordered list of grok expressions; first success wins.
    KeepSource defaults TRUE and IgnoreParseFailure (keep source on
    failure) TRUE — the Go init values (processor_grok.go:46-48)."""
    from ilogtail_spark.operators.parse import ParserOptions

    patterns = cfg.get("Match", cfg.get("patterns"))
    source = cfg.get("SourceKey", cfg.get("source", "text"))
    custom = cfg.get("CustomPatterns", cfg.get("custom_patterns"))
    opts = ParserOptions(
        keep_source=bool(cfg.get("KeepSource", cfg.get("keep_source", True))),
        keep_source_if_fail=bool(
            cfg.get("IgnoreParseFailure", cfg.get("ignore_parse_failure", True))
        ),
    )
    return lambda df: grok_parse(
        df, patterns, source=source, custom_patterns=custom, options=opts
    )
