"""Projection / enrichment / scalar transforms (SURVEY.md §2.4).

Everything here is a pure JVM expression plan — no Python in the row
loop, no shuffle. dictmap is a literal-map lookup, no join: the
≤1000-entry dictionary is a constant of the projection, exactly how
the reference keeps its dict in memory per worker
(plugins/processor/dictmap/processor_dict_map.go:96-135).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ilogtail_spark.common import sql_ident, sql_str
from ilogtail_spark.operators.registry import cfg_pop, register


def add_fields(
    df: DataFrame, fields: dict[str, str], ignore_if_exist: bool = False
) -> DataFrame:
    """processor_add_fields (processor_add_fields.go:26-31,97)."""
    for k, v in fields.items():
        if ignore_if_exist and k in df.columns:
            continue
        df = df.withColumn(k, F.lit(v))
    return df


def rename_fields(
    df: DataFrame, mapping: dict[str, str], no_key_error: bool = False
) -> DataFrame:
    """processor_rename (processor_rename.go:26-34,150).

    ``no_key_error`` mirrors the reference's NoKeyError flag: True =
    surface missing source keys as an error (the Go plugin logs
    RENAME_FIND_ALARM; batch analogue raises at plan time), False
    (default) = silently skip missing keys."""
    missing = [k for k in mapping if k not in df.columns]
    if missing and no_key_error:
        raise KeyError(f"rename: missing keys {missing}")
    return df.withColumnsRenamed({k: v for k, v in mapping.items() if k in df.columns})


def drop_fields(df: DataFrame, keys: list[str]) -> DataFrame:
    """processor_drop (processor_drop.go:24-29,67)."""
    return df.drop(*keys)


def pick_fields(
    df: DataFrame, include: list[str] | None = None, exclude: list[str] | None = None
) -> DataFrame:
    """processor_pick_key (processor_pick_key.go:26-37,114)."""
    if include:
        return df.select(*[c for c in df.columns if c in set(include)])
    if exclude:
        return df.drop(*exclude)
    return df


def dict_map(
    df: DataFrame,
    mapping: dict,
    source: str,
    dest: str,
    handle_missing: bool = True,
    missing: str = "Unknown",
    mode: str = "fill",  # fill: keep existing dest; overwrite: replace
) -> DataFrame:
    """processor_dict_map (processor_dict_map.go:30-41,96-187).

    The dictionary compiles to one literal map that each row looks its
    key up in, as the Go plugin does with its in-process
    ``map[string]string``: one projection, no join and no side job.
    Keys and values are strings (a YAML ``1:`` key matches ``"1"``); a
    missing or NULL key maps to NULL, then to ``missing`` when
    ``handle_missing``. ``fill`` keeps a pre-existing dest column value
    when present (reference mode DestKey exists + !Override).
    """
    lut: dict[str, str] = {}
    for k, v in mapping.items():
        k, v = str(k), str(v)
        if lut.setdefault(k, v) != v:
            raise ValueError(f"dict_map: hash crash on key {k!r}")
    if not lut:
        raise ValueError("dict_map: empty mapping")
    lookup = F.create_map(*[F.lit(x) for kv in lut.items() for x in kv])
    # try_element_at: a missing key is NULL, never an ANSI error
    mapped = F.try_element_at(lookup, F.col(source).cast("string"))
    if handle_missing:
        mapped = F.coalesce(mapped, F.lit(missing))
    if mode == "fill" and dest in df.columns:
        mapped = F.coalesce(F.col(dest), mapped)
    return df.withColumn(dest, mapped)


def load_dict_csv(path: str, max_dict_size: int = 1000) -> dict[str, str]:
    """processor_dict_map DictFilePath loader
    (processor_dict_map.go:96-135): 2-column CSV, at most
    ``max_dict_size`` entries, duplicate keys with CONFLICTING values
    are a hash-crash error (re-stating the same mapping is fine).
    Driver-side read — the dict becomes a literal map in the plan."""
    import csv

    mapping: dict[str, str] = {}
    with open(path, newline="") as fh:
        reader = csv.reader(fh)
        for i, row in enumerate(reader):
            if len(mapping) >= max_dict_size:
                break
            if len(row) != 2:
                raise ValueError(f"dict_map: row {i + 1} length is not 2: {row!r}")
            k, v = row
            if k in mapping and mapping[k] != v:
                raise ValueError(
                    f"dict_map: hash crash, key {k!r} redefined "
                    f"({mapping[k]!r} vs {v!r})"
                )
            mapping[k] = v
    if not mapping:
        raise ValueError(f"dict_map: empty file {path}")
    return mapping


def _go_unquote_one(v: str | None) -> str | None:
    """strconv.Unquote replay (processor_string_replace.go:116-121):
    a fully-quoted value unquotes directly; otherwise raw ``"`` are
    protected as ``\\x22`` and the value is unquoted as if quoted.
    Any decode error returns the value UNCHANGED (the plugin's
    fallback). One deviation: Go's ``\\xHH`` for HH ≥ 0x80 emits a
    raw byte (usually invalid UTF-8); we emit the code point."""
    if v is None:
        return None

    def decode(s: str) -> str:
        out: list[str] = []
        i = 0
        while i < len(s):
            c = s[i]
            if c == '"':
                raise ValueError("bare quote")
            if c != "\\":
                out.append(c)
                i += 1
                continue
            i += 1
            if i >= len(s):
                raise ValueError("trailing backslash")
            e = s[i]
            i += 1
            # NOTE: no \' here — strconv.unquoteChar rejects \' inside
            # a double-quoted string
            simple = {"a": "\a", "b": "\b", "f": "\f", "n": "\n",
                      "r": "\r", "t": "\t", "v": "\v", "\\": "\\",
                      '"': '"'}

            def hexval(width: int) -> int:
                h = s[i : i + width]
                if len(h) != width or any(
                    c not in "0123456789abcdefABCDEF" for c in h
                ):
                    raise ValueError(f"bad hex escape \\{e}{h}")
                return int(h, 16)

            def cp(v: int) -> str:
                # Go maps surrogate halves to U+FFFD without error —
                # a lone surrogate would also crash Arrow's UTF-8
                # conversion executor-side
                return "�" if 0xD800 <= v <= 0xDFFF else chr(v)

            if e in simple:
                out.append(simple[e])
            elif e == "x":
                out.append(cp(hexval(2)))
                i += 2
            elif e == "u":
                out.append(cp(hexval(4)))
                i += 4
            elif e == "U":
                v = hexval(8)
                if v > 0x10FFFF:
                    raise ValueError("rune out of range")
                out.append(cp(v))
                i += 8
            elif e in "01234567":
                o = s[i - 1 : i + 2]
                if len(o) != 3 or any(c not in "01234567" for c in o):
                    raise ValueError("bad octal escape")
                v = int(o, 8)
                if v > 0o377:
                    raise ValueError("octal out of range")
                out.append(chr(v))
                i += 2
            else:
                raise ValueError(f"bad escape \\{e}")
        return "".join(out)

    try:
        if len(v) >= 2 and v.startswith('"') and v.endswith('"'):
            return decode(v[1:-1])
        return decode(v.replace('"', "\\x22"))
    except Exception:
        return v


def string_replace(
    df: DataFrame,
    source: str,
    pattern: str = "",
    replacement: str = "",
    dest: str | None = None,
    method: str = "regex",  # regex | const | unquote
) -> DataFrame:
    """processor_string_replace (processor_string_replace.go:41-56,
    101-129): regex replace-all ($n group refs), const substring
    replace-all, or Go strconv.Unquote escape decoding. regex/const
    are pure JVM; unquote is an Arrow batch walk (byte-level escape
    grammar with whole-value error fallback — inexpressible as
    Catalyst string ops)."""
    if method == "regex":
        col = F.regexp_replace(F.col(source), pattern, replacement)
    elif method == "const":
        col = F.replace(F.col(source), F.lit(pattern), F.lit(replacement))
    elif method == "unquote":

        @F.pandas_udf("string")
        def unq(s: pd.Series) -> pd.Series:
            return s.map(_go_unquote_one)

        col = unq(F.col(source))
    else:
        raise ValueError(method)
    return df.withColumn(dest or source, col)


def desensitize(
    df: DataFrame,
    source: str,
    method: str = "const",  # const | md5
    replacement: str = "********",
    regex_begin: str | None = None,
    regex_content: str | None = None,
    replace_all: bool = True,
    md5_upper: bool = False,
) -> DataFrame:
    """processor_desensitize (+native)
    (processor_desensitize.go:146-184, ProcessorDesensitizeNative.cpp:146-159).

    Full-value mask, or region mask: every occurrence of
    ``regex_begin + regex_content`` has the content part replaced —
    const mode with ``replacement``, md5 mode with the md5 hex OF THE
    MATCHED CONTENT (the reference hashes each match,
    processor_desensitize.go:173-177).

    Dialects: the Go plugin always replaces every region and emits
    lowercase md5 (``%x``, processor_desensitize.go:173-177) — the
    defaults. The C++ native adds ReplacingAll=false (FIRST occurrence
    only, RE2::Replace vs GlobalReplace,
    ProcessorDesensitizeNative.cpp:202-207) and hashes with UPPERCASE
    hex (CalcMD5; ProcessorDesensitizeNativeUnittest.cpp goldens) —
    ``replace_all=False`` / ``md5_upper=True``.

    md5+region plan: regexp_extract_all pulls every (begin, content)
    pair, split carves the non-matching segments, and one
    flatten/transform rebuilds begin+md5(content) interleaved with the
    segments — all JVM expressions, no UDF. First-only mode carves at
    the first match with one split(limit=2) — also pure codegen.
    """
    src = F.col(source)
    if regex_begin and regex_content:
        import re as _re

        pat = f"({regex_begin})({regex_content})"
        # user regexes may carry their own capture groups — locate ours
        content_group = 2 + _re.compile(regex_begin).groups

        def _md5(c):
            return F.upper(F.md5(c)) if md5_upper else F.md5(c)

        if method == "const" and replace_all:
            col = F.regexp_replace(src, pat, f"$1{replacement}")
        elif not replace_all:
            # first occurrence only: split(limit=2) carves [before,
            # after] around the first match; rebuild with the begin
            # part kept and the content part masked/hashed
            segs = F.split(src, pat, 2)
            masked = (
                F.lit(replacement)
                if method == "const"
                else _md5(F.regexp_extract(src, pat, content_group))
            )
            col = F.when(
                F.size(segs) == 2,
                F.concat(
                    F.get(segs, 0),
                    F.regexp_extract(src, pat, 1),
                    masked,
                    F.get(segs, 1),
                ),
            ).otherwise(src)
        else:
            begins = F.regexp_extract_all(src, F.lit(pat), F.lit(1))
            contents = F.regexp_extract_all(src, F.lit(pat), F.lit(content_group))
            segments = F.split(src, pat, -1)
            parts = F.concat(
                F.slice(segments, 1, 1),
                F.flatten(
                    F.transform(
                        begins,
                        lambda b, i: F.array(
                            b, _md5(F.get(contents, i)), F.get(segments, i + 1)
                        ),
                    )
                ),
            )
            col = F.array_join(parts, "")
    elif method == "md5":
        col = F.upper(F.md5(src)) if md5_upper else F.md5(src)
    else:
        col = F.lit(replacement)
    return df.withColumn(source, col)


def md5_field(df: DataFrame, source: str, dest: str) -> DataFrame:
    """processor_md5 (processor_md5.go:26-31,67)."""
    return df.withColumn(dest, F.md5(F.col(source)))


def base64_encode(df: DataFrame, source: str, dest: str | None = None) -> DataFrame:
    """processor_base64_encoding (processor_base64_encoding.go:25,70)."""
    return df.withColumn(dest or source, F.base64(F.col(source).cast("binary")))


def base64_decode(df: DataFrame, source: str, dest: str | None = None) -> DataFrame:
    """processor_base64_decoding (processor_base64_decoding.go:25,71)."""
    return df.withColumn(dest or source, F.unbase64(F.col(source)).cast("string"))


def pack_json(
    df: DataFrame, keys: list[str], dest: str, keep_source: bool = True
) -> DataFrame:
    """processor_packjson (processor_packjson.go:26-33,96):
    KeepSource=false removes the packed source fields."""
    out = df.withColumn(dest, F.to_json(F.struct(*[F.col(k) for k in keys])))
    if not keep_source:
        out = out.drop(*[k for k in keys if k != dest])
    return out


_APPENDER_TPL = re.compile(r"\{\{([^}]+)\}\}")


def expand_appender_value(value: str, cloud_meta: bool = False) -> str:
    """ParseVariableValue (processor_appender.go:108-147): ``{{$NAME}}``
    reads the environment, ``{{__ip__}}``/``{{__host__}}`` the local
    address/hostname, cloud flags the platformmeta mock when a
    manager platform is configured, anything else stays the literal
    key. Resolved DRIVER-side once per job — the agent resolves once
    per host; on a cluster the driver is the job's "agent"."""
    import os
    import socket

    def sub(m) -> str:
        key = m.group(1)
        if key.startswith("$"):
            return os.environ.get(key[1:], "")
        if key == "__ip__":
            try:
                return socket.gethostbyname(socket.gethostname())
            except OSError:
                return "127.0.0.1"
        if key == "__host__":
            return socket.gethostname()
        if cloud_meta and key in MOCK_CLOUD_META:
            return MOCK_CLOUD_META[key]
        return key

    return _APPENDER_TPL.sub(sub, value)


def appender(
    df: DataFrame, fields: dict[str, str], sort_labels: bool = False
) -> DataFrame:
    """processor_appender (processor_appender.go:31-45,85-105) —
    append to the existing value (concat) rather than overwrite.
    ``sort_labels`` reproduces SortLabels: the appended value splits
    on ``|``, only ``k#$#v`` pairs survive, sorted by label."""
    for k, v in fields.items():
        if k in df.columns:
            col = F.concat(F.coalesce(F.col(k), F.lit("")), F.lit(v))
        else:
            col = F.lit(v)
        if sort_labels:
            pairs = F.filter(F.split(col, r"\|"), lambda x: x.contains("#$#"))

            def by_label(left: "F.Column", right: "F.Column") -> "F.Column":
                # MetricLabels.Less compares label NAMES, not whole
                # k#$#v strings (log_helper.go)
                lk = F.substring_index(left, "#$#", 1)
                rk = F.substring_index(right, "#$#", 1)
                return F.when(lk < rk, -1).when(lk > rk, 1).otherwise(0)

            # keyValue.Len() > 0 guard: a value with NO pairs keeps
            # the plain concat, it is not wiped to ""
            col = F.when(
                F.size(pairs) > 0, F.array_join(F.array_sort(pairs, by_label), "|")
            ).otherwise(col)
        df = df.withColumn(k, col)
    return df


def tag_native(
    df: DataFrame,
    tags: dict[str, str] | None = None,
    *,
    hostname: str | None = None,
    host_ip: str | None = None,
    machine_uuid: str | None = None,
    env_tags: dict[str, str] | None = None,
    pipeline_meta_tag_key: dict[str, str] | None = None,
    agent_env_meta_tag_key: dict[str, str] | None = None,
    file_tags: dict[str, str] | None = None,
    flushing_through_go_pipeline: bool = False,
) -> DataFrame:
    """processor_tag_native EXACT replay
    (ProcessorTagNative.cpp:46-171, open-source branch) — inject
    host/env lineage tags as constant ``__tag__``-prefixed columns.

    Key resolution per AddTag + ParseTagKey (ParamExtractor.cpp:241-313):
    ``PipelineMetaTagKey[field]`` absent or ``"__default__"`` → the
    default key (``__hostname__`` / ``__host_ip__``,
    TagConstants.cpp:62,69); a custom string renames; ``""`` deletes
    the tag. Env tags append ALL with original keys when
    ``AgentEnvMetaTagKey`` is absent (None); when present, only
    listed keys are appended, renamed to the mapped value, and an
    empty mapped value drops them. ``__machine_uuid__`` and
    ``__source__`` (the host IP) are always stamped unless flushing
    through the Go pipeline. The legacy ``tags`` dict stays as plain
    injection (the round-1 convenience form)."""
    out: dict[str, str] = {}
    meta = pipeline_meta_tag_key if pipeline_meta_tag_key is not None else {}

    def add(field: str, default_key: str, value: str | None) -> None:
        key = meta.get(field, "__default__")
        if key == "__default__":
            key = default_key
        if key and value:
            out[key] = value

    exact = any(
        v is not None
        for v in (hostname, host_ip, machine_uuid, env_tags,
                  pipeline_meta_tag_key, agent_env_meta_tag_key, file_tags)
    )
    if exact:
        add("HOST_NAME", "__hostname__", hostname)
        add("HOST_IP", "__host_ip__", host_ip)
        for k, v in (file_tags or {}).items():
            out[k] = v
        for k, v in (env_tags or {}).items():
            if agent_env_meta_tag_key is None:
                out[k] = v
            else:
                nk = agent_env_meta_tag_key.get(k, "")
                if nk:
                    out[nk] = v
        if not flushing_through_go_pipeline:
            if machine_uuid:
                out["__machine_uuid__"] = machine_uuid
            out["__source__"] = host_ip or ""
    for k, v in (tags or {}).items():
        out[k] = v
    return add_fields(df, {f"__tag__{k}": v for k, v in out.items()})


def drop_last_key(
    df: DataFrame,
    raw_key: str,
    ok_col: str = "__parse_ok__",
    include: list[str] | None = None,
) -> DataFrame:
    """processor_drop_last_key (processor_drop_last_key.go:26-33,63-79).

    EXACT Go form with ``include``: DropKey is nulled on rows where ANY
    Include key is present, as a column or in the ``attrs`` KV bag (the
    "parse landed its outputs" witness — test fixtures drop ``src`` when
    ``src`` or ``test`` exists and keep the row otherwise untouched). Both Include and DropKey are
    mandatory upstream (Init errors on either empty). Without
    ``include``, the repo's parse-contract form nulls the raw column
    where ``ok_col`` says parsing succeeded — the same intent keyed on
    the structured parse flag instead of key presence."""
    if include is not None:
        if not raw_key:
            raise ValueError("Invalid config, DropKey is empty")
        if not include:
            raise ValueError("Invalid config, Include is empty")
        from ilogtail_spark.common import resolve_key

        present = F.lit(False)
        for k in include:
            if k in df.columns or "attrs" in df.columns:
                present = present | resolve_key(df, k).isNotNull()
        if raw_key not in df.columns:
            return df
        return df.withColumn(raw_key, F.when(~present, F.col(raw_key)))
    if ok_col in df.columns:
        return df.withColumn(raw_key, F.when(~F.col(ok_col), F.col(raw_key)))
    return df.drop(raw_key)


def anchor(
    df: DataFrame,
    source: str,
    start: str,
    stop: str,
    dest: str,
    expand_json: bool = False,
) -> DataFrame:
    """processor_anchor (anchor.go:33-62,228): substring strictly
    between the Start and Stop anchor strings → dest field; missing
    anchor → null (reference NoAnchorError path). expand_json expands
    the extracted value as a flat string map.

    Anchors are literals, so this is locate + substring (lazy-dot
    regex semantics: shortest span from the first Start to the next
    Stop) — plain codegen string ops, no java.util.regex.

    Empty anchors per anchor.go:174,190: ``Start: ""`` anchors at
    position 0 (locate('') returns 1), ``Stop: ""`` extends the span
    to the end of the string."""
    src = F.col(source)
    start = start or ""
    stop = stop or ""
    p1 = F.locate(start, src)
    after = F.substring(src, p1 + len(start), F.length(src))
    if stop == "":
        col = F.when(p1 > 0, after)
    else:
        p2 = F.locate(stop, after)
        # p2 == 1 (Stop immediately after Start) is a MATCH with the
        # empty value in anchor.go (strings.Index == 0), not a miss
        col = F.when(
            (p1 > 0) & (p2 > 0), F.substring(after, F.lit(1), p2 - 1)
        )
    out = df.withColumn(dest, col)
    if expand_json:
        out = out.withColumn(dest, F.from_json(F.col(dest), "map<string,string>"))
    return out


_GO_LAYOUT = [  # Go reference-time tokens → Spark datetime pattern (longest first)
    ("2006", "yyyy"), ("01", "MM"), ("02", "dd"), ("15", "HH"),
    ("04", "mm"), ("05", "ss"), ("Jan", "MMM"), ("Mon", "EEE"),
    ("-0700", "xx"), ("Z07:00", "XXX"), ("PM", "a"), (".000", ".SSS"),
]


def go_layout_to_spark(layout: str) -> str:
    """Translate a Go time layout (processor_gotime.go:34-53) into a
    Spark/JDK datetime pattern. Covers the tokens the reference's docs
    and tests exercise; unknown runs pass through verbatim."""
    out = layout
    for go, jdk in _GO_LAYOUT:
        out = out.replace(go, jdk)
    return out


def gotime(
    df: DataFrame,
    source: str,
    source_layout: str,
    dest: str,
    dest_layout: str,
    source_location: int | None = None,
    dest_location: int | None = None,
    keep_source: bool = True,
) -> DataFrame:
    """processor_gotime (processor_gotime.go:28-53,82-95,169): parse
    source with a Go layout — or the fixed epoch patterns
    seconds/milliseconds/microseconds/nanoseconds — and re-format
    into dest with another Go layout. ``source_location`` /
    ``dest_location`` are the reference's whole-hour UTC offsets
    (None ≙ machineTimeZone, the pinned-UTC session); the offsets are
    ignored for the epoch patterns, which are absolute. Nanosecond
    inputs keep their last three digits through a string graft (Spark
    timestamps are microsecond-precision)."""
    src = F.col(source)
    epoch_pats = {"seconds", "milliseconds", "microseconds", "nanoseconds"}
    nano_tail = None
    if source_layout in epoch_pats:
        n = src.try_cast("long")
        ts = {
            "seconds": F.timestamp_seconds(n),
            "milliseconds": F.timestamp_millis(n),
            "microseconds": F.timestamp_micros(n),
            # decimal division: double's 2^53 exact range is exceeded
            # by nano epochs (~1.6e18) — n/1000.0 can be off by 1us
            "nanoseconds": F.timestamp_micros(
                F.floor(n.cast("decimal(38,0)") / 1000).cast("long")
            ),
        }[source_layout]
        if source_layout == "nanoseconds":
            nano_tail = F.substring(src, -3, 3)
    else:
        ts = F.to_timestamp(src, go_layout_to_spark(source_layout))
        if source_location is not None:
            ts = F.to_utc_timestamp(ts, f"GMT{source_location:+03d}:00")
    if dest_location is not None:
        ts = F.from_utc_timestamp(ts, f"GMT{dest_location:+03d}:00")
    formatted = F.date_format(ts, go_layout_to_spark(dest_layout))
    if nano_tail is not None and dest_layout.endswith(".000000000"):
        formatted = F.concat(
            F.substring(formatted, 1, F.length(formatted) - 3).cast("string"),
            nano_tail,
        )
    out = df.withColumn(dest, formatted)
    if not keep_source and source != dest:
        out = out.drop(source)
    return out


def encrypt_fields(
    df: DataFrame, keys: list[str], secret: str, iv: str | None = None
) -> DataFrame:
    """processor_encrypt (processor_encrypt.go:57-69,211): AES-CBC
    encrypt listed fields in place (hex-encoded, like the reference's
    EncodeHex default). Deterministic when an IV is pinned."""
    for k in keys:
        enc = F.aes_encrypt(
            F.col(k).cast("binary"),
            F.lit(secret.encode()),
            F.lit("CBC"),
            F.lit("PKCS"),
            F.lit((iv or "").encode()),
        )
        df = df.withColumn(k, F.hex(enc))
    return df


def decrypt_fields(
    df: DataFrame, keys: list[str], secret: str
) -> DataFrame:
    """Inverse of :func:`encrypt_fields` (hex → AES-CBC decrypt)."""
    for k in keys:
        dec = F.aes_decrypt(
            F.unhex(F.col(k)), F.lit(secret.encode()), F.lit("CBC"), F.lit("PKCS")
        )
        df = df.withColumn(k, dec.cast("string"))
    return df


def _aes_hex_params(key_hex: str, iv_hex: str) -> tuple[bytes, bytes]:
    key = bytes.fromhex(key_hex)
    if len(key) not in (16, 24, 32):  # aes.NewCipher key-size error
        raise ValueError(f"invalid AES key length {len(key)}")
    iv = bytes.fromhex(iv_hex)
    if len(iv) != 16:  # parseIV: IV must equal the block size
        raise ValueError(f"IV length {len(iv)} != block size 16")
    return key, iv


def encrypt_fields_native(
    df: DataFrame, keys: list[str], key_hex: str, iv_hex: str = "0" * 32
) -> DataFrame:
    """processor_encrypt EXACT wire format
    (processor_encrypt.go:92-207): Key and IV are HEX strings (key
    length picks AES-128/192/256; IV defaults to 16 zero bytes and
    must match the block size — the random-IV prepend path is disabled
    upstream), PKCS7 padding (empty input → one full padding block),
    output is the LOWERCASE hex of the ciphertext ONLY. Spark's
    aes_encrypt emits iv‖ct for CBC, so the pinned-IV leg strips the
    32-hex-char prefix — verified byte-identical to
    ``openssl enc -aes-256-cbc`` in tests. A NULL value stays NULL
    (the Go loop only touches present contents); a key absent from the
    schema is skipped."""
    key, iv = _aes_hex_params(key_hex, iv_hex)
    for k in keys:
        if k not in df.columns:
            continue
        enc = F.aes_encrypt(
            F.col(k).cast("binary"), F.lit(key), F.lit("CBC"),
            F.lit("PKCS"), F.lit(iv),
        )
        df = df.withColumn(
            k, F.lower(F.substring(F.hex(enc), 33, 2 ** 30))
        )
    return df


def decrypt_fields_native(
    df: DataFrame, keys: list[str], key_hex: str, iv_hex: str = "0" * 32
) -> DataFrame:
    """Inverse of :func:`encrypt_fields_native`: re-prepend the pinned
    IV to the hex ciphertext and AES-CBC decrypt."""
    key, iv = _aes_hex_params(key_hex, iv_hex)
    for k in keys:
        if k not in df.columns:
            continue
        dec = F.aes_decrypt(
            F.concat(F.lit(iv), F.unhex(F.col(k))),
            F.lit(key), F.lit("CBC"), F.lit("PKCS"),
        )
        df = df.withColumn(k, dec.cast("string"))
    return df


def geoip_enrich(
    df: DataFrame,
    ranges: DataFrame,
    source: str,
    dest_prefix: str = "geo_",
) -> DataFrame:
    """processor_geoip (processor_geoip.go:35-53,168): map an IPv4
    string to location attributes via a range table
    ``(ip_start:long, ip_end:long, country, city)``.

    Spark plan: broadcast RANGE join — the ranges table (MaxMind-style,
    small) rides the broadcast and the non-equi condition
    ``start <= ip(num) <= end`` becomes BroadcastNestedLoopJoin; at
    100 TB the fact side streams through map tasks, no shuffle. For
    very large range tables the scale path is a bucketed equi-join on
    ``ip >> K`` prefix buckets instead.
    """
    octets = F.split(F.col(source), r"\.")
    ipnum = (
        F.element_at(octets, 1).cast("long") * 16777216
        + F.element_at(octets, 2).cast("long") * 65536
        + F.element_at(octets, 3).cast("long") * 256
        + F.element_at(octets, 4).cast("long")
    )
    out = df.withColumn("_ipnum", ipnum)
    cond = (F.col("_ipnum") >= ranges["ip_start"]) & (F.col("_ipnum") <= ranges["ip_end"])
    joined = out.join(F.broadcast(ranges), on=cond, how="left")
    for c in ranges.columns:
        if c not in ("ip_start", "ip_end"):
            joined = joined.withColumnRenamed(c, f"{dest_prefix}{c}")
    return joined.drop("ip_start", "ip_end", "_ipnum")


def load_geoip_csv(spark, path: str):
    """MaxMind-style range CSV → ranges DataFrame for
    :func:`geoip_enrich`. Header row names the columns; the first two
    must be ``ip_start,ip_end`` (numeric). Driver-side read — the
    range table is broadcast-sized by contract, exactly as
    processor_geoip.go:57-60 opens the whole mmdb per worker."""
    import csv

    with open(path, newline="") as fh:
        reader = csv.reader(fh)
        header = next(reader)
        if header[:2] != ["ip_start", "ip_end"]:
            raise ValueError(
                f"geoip: CSV header must start with ip_start,ip_end, got {header[:2]}"
            )
        rows = [(int(r[0]), int(r[1]), *r[2:]) for r in reader]
    if not rows:
        raise ValueError(f"geoip: empty ranges file {path}")
    schema = ", ".join(
        [f"{header[0]} long", f"{header[1]} long"]
        + [f"{c} string" for c in header[2:]]
    )
    return spark.createDataFrame(rows, schema)


# platformmeta mock manager values (pkg/helper/platformmeta/mock.go) —
# the deterministic stand-in for a live cloud-metadata endpoint
MOCK_CLOUD_META = {
    "__cloud_instance_id__": "id_xxx",
    "__cloud_instance_name__": "name_xxx",
    "__cloud_region__": "region_xxx",
    "__cloud_zone__": "zone_xxx",
    "__cloud_vpc_id__": "vpc_xxx",
    "__cloud_vswitch_id__": "vswitch_xxx",
    "__cloud_instance_type__": "type_xxx",
    "__cloud_image_id__": "image_xxx",
    "__cloud_max_ingress__": "0",
    "__cloud_max_egress__": "0",
}


def cloud_meta(
    df: DataFrame,
    metadata: list[str],
    rename: dict[str, str] | None = None,
    meta_source: dict[str, str] | None = None,
) -> DataFrame:
    """processor_cloud_meta (cloud_meta.go:33-80,155-180): append the
    selected platform metadata keys as constant columns, optionally
    renamed (RenameMetadata). Metadata resolves DRIVER-side once — the
    reference's ReadOnce path — so the values fold into the plan as
    literals; unknown keys are skipped with the reference's
    warning-not-error contract."""
    src = meta_source or MOCK_CLOUD_META
    rename = rename or {}
    fields = {
        rename.get(k, k): src[k] for k in metadata if k in src
    }
    if not fields:
        raise ValueError("cloud_meta: Metadata selected no known keys")
    return add_fields(df, fields)


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    strategy: str = "broadcast",  # broadcast | union_window
) -> DataFrame:
    """As-of (temporal latest-value) join: each left row picks up the
    most recent right row with ``right_ts <= left_ts`` for the same
    keys — the "config/version active at event time" enrichment the
    reference handles by reloading per-agent state between batches.

    Two physical strategies:

    ``broadcast`` (default — the right side is a config/version table,
    small by nature): aggregate the right side to ONE row per key
    holding a ts-sorted array of (ts, values) structs, broadcast-join
    it onto the left, and resolve the as-of lookup as a narrow JVM
    array expression (``array_max(filter(arr, ts <= left_ts))``).
    Zero shuffle of the left side, no window — a low-cardinality key
    (the common case: per-tool/per-host config) costs nothing instead
    of funnelling every left row through one window task. Per-key
    version counts ride the broadcast, so this holds while
    Σ versions fits a broadcast (~10MB-1GB).

    ``union_window`` (large right side): tag and UNION both sides,
    then one window per key ordered by (ts, side) running a
    last(value, ignorenulls) — right rows sort before left rows at
    equal timestamps, so the inclusive (<=) semantics fall out of the
    sort key. One shuffle on the keys, streaming O(1)-memory frame —
    versus a sort-merge join with an inequality post-filter that
    materializes every (event, older-version) candidate pair. Hot
    keys serialize through one window task; shard upstream by a
    composite (key, ts-bucket) if one key dominates.
    """
    if strategy == "broadcast":
        return _as_of_join_broadcast(left, right, keys, left_ts, right_ts, right_cols)
    if strategy != "union_window":
        raise ValueError(f"as_of_join: unknown strategy {strategy!r}")
    right_cols = right_cols or [
        c for c in right.columns if c not in keys and c != right_ts
    ]
    clash = set(right_cols) & set(left.columns)
    if clash:
        raise ValueError(
            f"as_of_join: right_cols {sorted(clash)} collide with left columns — "
            "rename one side"
        )
    # right values ride in one-field STRUCT wrappers: the wrapper is
    # non-null for every right row even when the VALUE is null, so
    # last(ignorenulls) picks the latest right ROW rather than
    # skipping back past a genuinely-null latest value
    wrap = {c: f"_rw_{c}" for c in right_cols}
    lt = left.withColumn("_ts", F.col(left_ts)).withColumn("_side", F.lit(1))
    for c in right_cols:
        lt = lt.withColumn(
            wrap[c],
            F.lit(None).cast(f"struct<v:{right.schema[c].dataType.simpleString()}>"),
        )
    rt = right.select(
        *keys,
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.struct(F.col(c).alias("v")).alias(wrap[c]) for c in right_cols],
    )
    for c in lt.columns:
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None).cast(lt.schema[c].dataType))
    unioned = lt.unionByName(rt.select(*lt.columns))

    from pyspark.sql import Window

    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_ts").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in right_cols:
        unioned = unioned.withColumn(
            c, F.last(wrap[c], ignorenulls=True).over(w)["v"]
        )
    return unioned.filter(F.col("_side") == 1).drop(
        "_ts", "_side", *wrap.values()
    )


def _as_of_join_broadcast(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str] | None,
) -> DataFrame:
    """Broadcast strategy for :func:`as_of_join` — per-key ts-sorted
    version arrays resolved by a narrow array expression. Ties on
    right_ts break by struct value order (deterministic)."""
    right_cols = right_cols or [
        c for c in right.columns if c not in keys and c != right_ts
    ]
    clash = set(right_cols) & set(left.columns)
    if clash:
        raise ValueError(
            f"as_of_join: right_cols {sorted(clash)} collide with left columns — "
            "rename one side"
        )
    r_agg = right.groupBy(*keys).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(right_ts).alias("_ts"),
                    *[F.col(c).alias(c) for c in right_cols],
                )
            )
        ).alias("_asof_arr")
    )
    out = left.join(F.broadcast(r_agg), on=keys, how="left")
    lts = F.col(left_ts)
    # materialize the lookup once in its own projection (CollapseProject
    # keeps multi-use non-cheap exprs), then project fields off it
    out = out.withColumn(
        "_asof_hit",
        F.array_max(F.filter(F.col("_asof_arr"), lambda e: e["_ts"] <= lts)),
    )
    for c in right_cols:
        out = out.withColumn(c, F.col("_asof_hit")[c])
    return out.drop("_asof_arr", "_asof_hit")


def log_to_metric(
    df: DataFrame,
    label_keys: list[str],
    value_keys: list[str],
    time_col: str = "ts",
) -> DataFrame:
    """processor_log_to_sls_metric
    (processor_log_to_sls_metric.go:32-42,376): pivot log fields into
    metric events — one output row per (input row × value key) with
    (labels, __name__, __value__, ts). stack() keeps it narrow (a
    generator, no shuffle)."""
    stack_args = ", ".join(
        f"{sql_str(k)}, cast({sql_ident(k)} as double)" for k in value_keys
    )
    return df.select(
        *label_keys,
        F.col(time_col),
        F.expr(f"stack({len(value_keys)}, {stack_args}) as (__name__, __value__)"),
    ).filter(F.col("__value__").isNotNull())


_SLS_LABEL_KEY_RE = "^[a-zA-Z_][a-zA-Z0-9_]*$"
_SLS_NAME_RE = "^[a-zA-Z_:][a-zA-Z0-9_:]*$"


def log_to_sls_metric_native(
    df: DataFrame,
    metric_values: dict[str, str],
    metric_label_keys: list[str] | None = None,
    custom_metric_labels: dict[str, str] | None = None,
    metric_time_key: str | None = None,
    ts_col: str = "ts",
    labels_col: str = "__labels__",
) -> DataFrame:
    """processor_log_to_sls_metric EXACT semantics
    (processor_log_to_sls_metric.go:73-375).

    Init validation (→ ValueError, like the Go Init error): at least
    one of MetricLabelKeys/CustomMetricLabels, non-empty MetricValues,
    label keys match ``^[a-zA-Z_][a-zA-Z0-9_]*$``, custom label values
    free of ``|``/``#$#``, and no field named twice across labels /
    names / values / ``__labels__``.

    Per-row: configured label fields must all be present with values
    free of ``|``/``#$#``; an incoming ``__labels__`` field parses as
    ``k#$#v|k2#$#v2`` (each pair exactly 2 parts, key matches the
    label regex and must not collide with a configured label key);
    each name field's VALUE must match ``^[a-zA-Z_:][a-zA-Z0-9_:]*$``;
    each value field must parse as float64 (kept as the ORIGINAL
    string); MetricTimeKey, when set, must be an all-digit string of
    length 10/13/16/19 (second/ms/µs/ns) right-padded with zeros to
    nanoseconds — when unset, ``__time_nano__`` is the event time's
    sec*1e9+nsec. ANY violation drops the whole input row (the Go
    ``continue TraverseLogArray``). Each surviving row emits one
    metric row per MetricValues entry with ``__labels__`` sorted by
    key and joined ``k#$#v|…``, ``__name__``, ``__value__``,
    ``__time_nano__``.

    Dialect note: float64 validation is ``try_cast(double)`` plus a
    no-surrounding-whitespace guard — Go ``strconv.ParseFloat`` hex
    floats (``0x1p-2``) are accepted by neither oracle engine and are
    out of the common subset. Plan: one codegen projection + explode,
    zero shuffle."""
    labels = list(metric_label_keys or [])
    custom = dict(custom_metric_labels or {})
    import re as _re

    if not labels and not custom:
        raise ValueError("MetricLabelKeys and CustomMetricLabels are empty")
    if not metric_values:
        raise ValueError("MetricValues parameter is empty")
    seen = {labels_col}
    for k in labels:
        if not _re.match(_SLS_LABEL_KEY_RE, k):
            raise ValueError(f"invalid label key {k!r}")
        if k in seen:
            raise ValueError(f"field repeated: {k}")
        seen.add(k)
    for k, v in custom.items():
        if not _re.match(_SLS_LABEL_KEY_RE, k):
            raise ValueError(f"invalid label key {k!r}")
        if "|" in v or "#$#" in v:
            raise ValueError(f"invalid label value {v!r}")
        if k in seen:
            raise ValueError(f"field repeated: {k}")
        seen.add(k)
    for n, v in metric_values.items():
        for f in (n, v):
            if f in seen:
                raise ValueError(f"field repeated: {f}")
            seen.add(f)

    def col_or_null(name: str) -> Column:
        return F.col(name) if name in df.columns else F.lit(None).cast("string")

    ok = F.lit(True)
    entry_arrays: list[Column] = []
    cfg_entries = []
    for k in labels:
        v = col_or_null(k)
        ok = ok & v.isNotNull() & ~v.contains("|") & ~v.contains("#$#")
        cfg_entries.append(F.struct(F.lit(k).alias("k"), v.alias("v")))
    if cfg_entries:
        entry_arrays.append(F.array(*cfg_entries))
    if custom:
        entry_arrays.append(F.array(*[
            F.struct(F.lit(k).alias("k"), F.lit(v).alias("v"))
            for k, v in custom.items()
        ]))
    if labels_col in df.columns:
        lc = F.col(labels_col)
        # split each pair ONCE — codegen does not CSE inside
        # higher-order-function lambdas, so repeating the regex split
        # per check would run it 5x per pair on the hot path
        kvs = F.transform(
            F.split(lc, r"\|", -1), lambda p: F.split(p, r"#\$#", -1)
        )
        # F.get (NULL on out-of-bounds), not [] — a separator-less pair
        # yields a 1-element kv and ANSI GetArrayItem would throw
        pair_ok = F.forall(
            kvs,
            lambda kv: (F.size(kv) == 2)
            & F.get(kv, 0).rlike(_SLS_LABEL_KEY_RE)
            & (~F.get(kv, 0).isin(*labels) if labels else F.lit(True)),
        )
        ok = ok & (lc.isNull() | pair_ok)
        entry_arrays.append(
            F.when(
                lc.isNotNull(),
                F.transform(
                    kvs,
                    lambda kv: F.struct(
                        F.get(kv, 0).alias("k"), F.get(kv, 1).alias("v")
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<k:string,v:string>>"))
        )

    name_value_structs = []
    for name_field, value_field in metric_values.items():
        nv = col_or_null(name_field)
        vv = col_or_null(value_field)
        ok = ok & nv.isNotNull() & nv.rlike(_SLS_NAME_RE)
        ok = (ok & vv.isNotNull() & vv.try_cast("double").isNotNull()
              & (vv == F.trim(vv)) & (vv != ""))
        name_value_structs.append(
            F.struct(nv.alias("n"), vv.alias("v"))
        )

    if metric_time_key:
        tv = col_or_null(metric_time_key)
        ok = (ok & tv.isNotNull() & tv.rlike("^[0-9]+$")
              & F.length(tv).isin(10, 13, 16, 19))
        time_nano = F.rpad(tv, 19, "0")
    else:
        ts = F.col(ts_col).cast("timestamp")
        time_nano = (F.unix_micros(ts) * 1000).cast("string")

    all_entries = entry_arrays[0]
    for a in entry_arrays[1:]:
        all_entries = F.concat(all_entries, a)
    labels_str = F.array_join(
        F.transform(
            F.array_sort(all_entries),
            lambda e: F.concat(e["k"], F.lit("#$#"), e["v"]),
        ),
        "|",
    )
    staged = df.select(
        ok.alias("_ok"),
        labels_str.alias("_labels"),
        time_nano.alias("_tn"),
        F.array(*name_value_structs).alias("_nv"),
    )
    return (
        staged.filter(F.col("_ok"))
        .select(
            F.col("_labels").alias("__labels__"),
            F.explode(F.col("_nv")).alias("_m"),
            F.col("_tn").alias("__time_nano__"),
        )
        .select(
            "__labels__",
            F.col("_m")["n"].alias("__name__"),
            F.col("_m")["v"].alias("__value__"),
            "__time_nano__",
        )
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

@register("processor_add_fields")
def _add_factory(**cfg):
    fields = cfg_pop(cfg, "Fields", "fields")
    ign = cfg_pop(cfg, "IgnoreIfExist", "ignore_if_exist", default=False)
    return lambda df: add_fields(df, fields, ignore_if_exist=ign)


@register("processor_rename")
def _rename_factory(**cfg):
    mapping = cfg.pop("mapping", None)
    if mapping is None:
        mapping = dict(zip(cfg.pop("SourceKeys"), cfg.pop("DestKeys")))
    no_key_error = cfg_pop(cfg, "NoKeyError", "no_key_error", default=False)
    return lambda df: rename_fields(df, mapping, no_key_error=no_key_error)


@register("processor_drop")
def _drop_factory(**cfg):
    keys = cfg_pop(cfg, "DropKeys", "keys")
    return lambda df: drop_fields(df, keys)


@register("processor_pick_key")
def _pick_factory(**cfg):
    inc = cfg_pop(cfg, "Include", "include", default=None)
    exc = cfg_pop(cfg, "Exclude", "exclude", default=None)
    return lambda df: pick_fields(df, include=inc, exclude=exc)


@register("processor_string_replace")
def _replace_factory(**cfg):
    # the Go param is Match (processor_string_replace.go:44); only
    # unquote runs without one — Init errors on a missing/empty Match
    # for const and a zero-width regex would corrupt every value
    method = cfg_pop(cfg, "Method", "method", default="regex")
    pattern = cfg_pop(cfg, "Match", "Regex", "pattern", default="")
    if method != "unquote" and not pattern:
        raise ValueError("processor_string_replace: Match is required")
    return lambda df: string_replace(
        df,
        cfg_pop(cfg, "SourceKey", "source", default="text"),
        pattern,
        cfg_pop(cfg, "ReplaceString", "replacement", default=""),
        dest=cfg_pop(cfg, "DestKey", "dest", default=None),
        method=method,
    )


@register("processor_desensitize")
def _desens_factory(**cfg):
    # the Go init DEFAULT is Match "full" (whole-value mask); "regex"
    # masks begin+content regions; anything else is a config error
    # (processor_desensitize.go init/Init)
    match = str(cfg_pop(cfg, "Match", "match", default="full")).lower()
    if match not in ("full", "regex"):
        raise ValueError(f"processor_desensitize: bad Match {match!r}")
    begin = cfg_pop(cfg, "RegexBegin", "regex_begin", default=None)
    content = cfg_pop(cfg, "RegexContent", "regex_content", default=None)
    if match == "full":
        begin = content = None
    return lambda df: desensitize(
        df,
        cfg_pop(cfg, "SourceKey", "source", default="text"),
        method=cfg_pop(cfg, "Method", "method", default="const"),
        replacement=cfg_pop(cfg, "ReplaceString", "replacement", default="********"),
        regex_begin=begin,
        regex_content=content,
    )


@register("processor_desensitize_native")
def _desens_native_factory(**cfg):
    """The C++ native desensitizer (ProcessorDesensitizeNative.cpp:28-136):
    always region-based (ContentPatternBeforeReplacedString +
    ReplacedContentPattern are mandatory), ReplacingAll defaults TRUE
    (ProcessorDesensitizeNative.h:48 — the unittest helper passes
    false explicitly), md5 hex is UPPERCASE (CalcMD5)."""
    return lambda df: desensitize(
        df,
        cfg_pop(cfg, "SourceKey", "source", default="content"),
        method=cfg_pop(cfg, "Method", "method", default="const"),
        replacement=cfg_pop(
            cfg, "ReplacingString", "replacement", default="********"
        ),
        regex_begin=cfg_pop(cfg, "ContentPatternBeforeReplacedString", "regex_begin"),
        regex_content=cfg_pop(cfg, "ReplacedContentPattern", "regex_content"),
        replace_all=bool(cfg_pop(cfg, "ReplacingAll", "replace_all", default=True)),
        md5_upper=True,
    )


@register("processor_md5")
def _md5_factory(**cfg):
    return lambda df: md5_field(
        df, cfg_pop(cfg, "SourceKey", "source"), cfg_pop(cfg, "DestKey", "dest")
    )


@register("processor_base64_encoding")
def _b64e_factory(**cfg):
    return lambda df: base64_encode(df, cfg_pop(cfg, "SourceKey", "source"))


@register("processor_base64_decoding")
def _b64d_factory(**cfg):
    return lambda df: base64_decode(df, cfg_pop(cfg, "SourceKey", "source"))


@register("processor_packjson")
def _pack_factory(**cfg):
    return lambda df: pack_json(
        df,
        cfg_pop(cfg, "SourceKeys", "keys"),
        cfg_pop(cfg, "DestKey", "dest"),
        keep_source=bool(cfg_pop(cfg, "KeepSource", "keep_source", default=True)),
    )


@register("processor_appender")
def _appender_factory(**cfg):
    # the Go plugin takes a single Key/Value with {{}} templates
    # (processor_appender.go:32-34); Fields stays as the multi-key form
    key = cfg_pop(cfg, "Key", default=None)
    cloud = cfg_pop(cfg, "Platform", default=None) is not None
    sort_labels = bool(cfg_pop(cfg, "SortLabels", default=False))
    if key is not None:
        value = expand_appender_value(cfg_pop(cfg, "Value"), cloud_meta=cloud)
        fields = {key: value}
    else:
        fields = {
            k: expand_appender_value(v, cloud_meta=cloud)
            for k, v in cfg_pop(cfg, "Fields", "fields").items()
        }
    return lambda df: appender(df, fields, sort_labels=sort_labels)


@register("processor_tag_native")
def _tag_factory(**cfg):
    """Native config keys (ProcessorTagNative.cpp:46-94) plus the
    host/env values, which the C++ reads from monitor singletons and
    here arrive as injectable params (hostname/host_ip/machine_uuid/
    env_tags/file_tags)."""
    return lambda df: tag_native(
        df,
        cfg_pop(cfg, "tags", default=None),
        hostname=cfg_pop(cfg, "hostname", default=None),
        host_ip=cfg_pop(cfg, "host_ip", default=None),
        machine_uuid=cfg_pop(cfg, "machine_uuid", default=None),
        env_tags=cfg_pop(cfg, "env_tags", default=None),
        pipeline_meta_tag_key=cfg_pop(cfg, "PipelineMetaTagKey", default=None),
        agent_env_meta_tag_key=cfg_pop(cfg, "AgentEnvMetaTagKey", default=None),
        file_tags=cfg_pop(cfg, "file_tags", default=None),
        flushing_through_go_pipeline=bool(
            cfg_pop(cfg, "flushing_through_go_pipeline", default=False)
        ),
    )


@register("processor_drop_last_key")
def _dlk_factory(**cfg):
    key = cfg_pop(cfg, "DropKey", "raw_key")
    inc = cfg_pop(cfg, "Include", "include", default=None)
    return lambda df: drop_last_key(df, key, include=inc)


@register("processor_anchor")
def _anchor_factory(**cfg):
    """anchor.go:36-62: the real config shape is an ``Anchors`` LIST
    of {Start, Stop, FieldName, FieldType, ExpondJson[sic]} — each
    anchor extracts one field from SourceKey; the flat
    Start/Stop/FieldName form is kept as the single-anchor shorthand.
    ExpondJson here yields a map column (the reference flattens into
    FieldName_<key> contents — the map is the table-land equivalent;
    a downstream SPL parse-json expands it when columns are needed)."""
    source = cfg.get("SourceKey", cfg.get("source", "text"))
    anchors = cfg.get("Anchors")
    if anchors is None:
        anchors = [{
            "Start": cfg.get("Start", cfg.get("start", "")),
            "Stop": cfg.get("Stop", cfg.get("stop", "")),
            "FieldName": cfg.get("FieldName", cfg.get("dest")),
            "ExpondJson": cfg.get(
                "ExpandJson", cfg.get("expand_json", False)),
        }]

    def run(df):
        for a in anchors:
            df = anchor(
                df,
                source=source,
                start=a.get("Start", ""),
                stop=a.get("Stop", ""),
                dest=a["FieldName"],
                expand_json=bool(
                    a.get("ExpondJson", a.get("ExpandJson", False))
                ),
            )
        return df

    return run


@register("processor_gotime")
def _gotime_factory(**cfg):
    def loc(v):
        # machineTimeZone sentinel -100 (processor_gotime.go:55) ≙ None
        return None if v is None or int(v) == -100 else int(v)

    return lambda df: gotime(
        df,
        source=cfg.get("SourceKey", cfg.get("source")),
        source_layout=cfg.get("SourceFormat", cfg.get("source_layout")),
        dest=cfg.get("DestKey", cfg.get("dest")),
        dest_layout=cfg.get("DestFormat", cfg.get("dest_layout")),
        source_location=loc(cfg.get("SourceLocation")),
        dest_location=loc(cfg.get("DestLocation")),
        keep_source=bool(cfg.get("KeepSource", True)),
    )


@register("processor_encrypt")
def _encrypt_factory(**cfg):
    """The Go config shape routes to the exact wire leg:
    ``EncryptionParameters`` is a dict {Key: hex, IV: hex,
    KeyFilePath: path} (processor_encrypt.go:44-53,160-207; a key
    file holds the hex key). A plain-string secret keeps the legacy
    convenience leg (raw-bytes key, iv‖ct layout, q35 roundtrip)."""
    params = cfg.get("EncryptionParameters", cfg.get("secret"))
    keys = cfg.get("SourceKeys", cfg.get("keys"))
    if not keys or not isinstance(keys, (list, tuple)):
        raise ValueError(
            f"processor_encrypt: SourceKeys must be a non-empty list, got {keys!r}"
        )
    if isinstance(params, dict):
        params = dict(params)
        path = params.get("KeyFilePath")
        if path:
            # the key file is a JSON document unmarshaled OVER the
            # params (processor_encrypt.go:158-167) — it may carry Key
            # and IV; non-JSON content is an Init error there too
            import json as _json

            with open(path) as f:
                try:
                    params.update(_json.load(f))
                except ValueError as e:
                    raise ValueError(
                        f"processor_encrypt key file {path} is not JSON: {e}"
                    ) from e
        key_hex = params.get("Key", "")
        # absent IV: the zero-IV default; present but empty: parseIV error
        iv_hex = params.get("IV")
        if iv_hex is None:
            iv_hex = "0" * 32
        elif not iv_hex:
            raise ValueError("processor_encrypt: IV is empty")
        return lambda df: encrypt_fields_native(
            df, keys, key_hex=key_hex, iv_hex=iv_hex
        )
    return lambda df: encrypt_fields(
        df,
        keys=keys,
        secret=params,
        iv=cfg.get("IV", cfg.get("iv")),
    )


@register("processor_log_to_sls_metric")
def _l2m_factory(**cfg):
    """The Go config shape — MetricValues as a {nameField: valueField}
    DICT (+ optional CustomMetricLabels / MetricTimeKey) — routes to
    the exact converter (__labels__/__name__/__value__/__time_nano__,
    drop-on-violation). MetricValues as a LIST keeps the legacy
    stack() pivot (q34)."""
    mv = cfg.get("MetricValues", cfg.get("value_keys"))
    if isinstance(mv, dict):
        return lambda df: log_to_sls_metric_native(
            df,
            metric_values=mv,
            metric_label_keys=cfg.get("MetricLabelKeys"),
            custom_metric_labels=cfg.get("CustomMetricLabels"),
            metric_time_key=cfg.get("MetricTimeKey"),
            ts_col=cfg.get("ts_col", "ts"),
        )
    return lambda df: log_to_metric(
        df,
        label_keys=cfg.get("MetricLabelKeys", cfg.get("label_keys")),
        value_keys=mv,
        time_col=cfg.get("MetricTimeKey", cfg.get("time_col", "ts")),
    )


@register("processor_dict_map")
def _dictmap_factory(**cfg):
    """processor_dict_map (processor_dict_map.go:30-41,96-135): the
    mapping comes from an inline MapDict and/or a DictFilePath CSV
    (CSV entries merge into MapDict with hash-crash checks, capped at
    MaxDictSize) and compiles to a literal-map lookup."""
    mapping = dict(cfg.get("MapDict", cfg.get("mapping")) or {})
    dict_path = cfg.get("DictFilePath", cfg.get("dict_file_path"))
    max_size = int(cfg.get("MaxDictSize", cfg.get("max_dict_size", 1000)))
    if dict_path:
        loaded = load_dict_csv(dict_path, max_dict_size=max_size)
        for k, v in loaded.items():
            if k in mapping and mapping[k] != v:
                raise ValueError(f"dict_map: hash crash on key {k!r}")
            mapping[k] = v
    if not mapping:
        raise ValueError("dict_map: need MapDict or DictFilePath")
    source = cfg.get("SourceKey", cfg.get("source"))
    dest = cfg.get("DestKey", cfg.get("dest", source))
    missing = cfg.get("Missing", cfg.get("missing", "Unknown"))
    mode = cfg.get("Mode", cfg.get("mode", "fill"))
    handle_missing = cfg.get("HandleMissing", cfg.get("handle_missing", True))
    return lambda df: dict_map(
        df, mapping, source, dest,
        handle_missing=handle_missing, missing=missing, mode=mode,
    )


@register("processor_geoip")
def _geoip_factory(**cfg):
    """processor_geoip (processor_geoip.go:35-53): DBPath carries the
    range table (CSV with ip_start,ip_end,attr... header standing in
    for the mmdb — no geoip2 reader in this environment); enrichment
    columns are prefixed ``<SourceKey>_`` per the reference docs."""
    path = cfg_pop(cfg, "DBPath", "db_path")
    source = cfg_pop(cfg, "SourceKey", "source")
    prefix = cfg_pop(cfg, "Prefix", "prefix", default=None) or f"{source}_"

    def run(df):
        ranges = load_geoip_csv(df.sparkSession, path)
        return geoip_enrich(df, ranges, source, dest_prefix=prefix)

    return run


@register("processor_cloud_meta")
def _cloud_meta_factory(**cfg):
    metadata = cfg_pop(cfg, "Metadata", "metadata")
    rename = cfg_pop(cfg, "RenameMetadata", "rename", default=None)
    meta_source = cfg_pop(cfg, "Meta", "meta_source", default=None)
    cfg_pop(cfg, "Platform", "platform", default="mock")  # mock manager only
    return lambda df: cloud_meta(
        df, metadata, rename=rename, meta_source=meta_source
    )


@register("processor_default")
def _default_factory(**cfg):
    return lambda df: df
