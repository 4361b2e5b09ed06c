"""Binary protobuf wire decode/encode (pure Python, Arrow-batched).

The reference's primary wire format is protobuf: the SLS ``LogGroup``
(core/protobuf/sls/sls_logs.proto:37-62, decoded by
``processor_parse_from_pb_native``,
core/plugin/processor/inner/ProcessorParseFromPBNative.cpp:38 via the
hand-rolled core/protobuf/models/ManualPBParser.cpp) and the OTLP
``Format=protobuf`` leg of processor_otel_trace/metric
(plugins/processor/otel/processor_otel_trace.go:68-115).

This module is a DESCRIPTOR-DRIVEN wire codec built only on the public
protobuf encoding spec (varint, zigzag, fixed32/64, length-delimited,
packed repeated scalars).  No generated code, no protobuf runtime: a
descriptor is a plain dict ``{field_no: (name, kind, repeated, sub)}``
and decode walks tag-by-tag exactly like the reference's ManualPBParser
(switch on field number, validate wire type, skip unknown fields).

Scale shape: the OTLP and prom legs run as Arrow-batched pandas UDFs,
one Python call per batch, not per row; the SLS LogGroup legs run in
the JVM (``sls_pb_decode``/``sls_pb_encode_groups``). Parallelism is
the scan's (zero shuffle).
"""

from __future__ import annotations

import base64
import json
import struct
from typing import Any

import pandas as pd
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ilogtail_spark.operators.registry import cfg_pop, register

# ---------------------------------------------------------------------------
# wire primitives (protobuf encoding spec)
# ---------------------------------------------------------------------------

_WT_VARINT, _WT_FIXED64, _WT_LEN, _WT_FIXED32 = 0, 1, 2, 5

# kind -> wire type expected on the wire
_KIND_WT = {
    "uint": _WT_VARINT, "uintstr": _WT_VARINT, "int": _WT_VARINT,
    "intstr": _WT_VARINT, "sint": _WT_VARINT, "bool": _WT_VARINT,
    "enum": _WT_VARINT,
    "double": _WT_FIXED64, "fixed64": _WT_FIXED64, "fixed64str": _WT_FIXED64,
    "sfixed64": _WT_FIXED64, "sfixed64str": _WT_FIXED64,
    "float": _WT_FIXED32, "fixed32": _WT_FIXED32, "sfixed32": _WT_FIXED32,
    "string": _WT_LEN, "bytes": _WT_LEN, "hex": _WT_LEN, "message": _WT_LEN,
}
# varint-kind scalars are PACKABLE (proto3 packs repeated scalars by default)
_PACKABLE_VARINT = {"uint", "uintstr", "int", "intstr", "sint", "bool", "enum"}
_PACKABLE_F64 = {"double", "fixed64", "fixed64str", "sfixed64", "sfixed64str"}
_PACKABLE_F32 = {"float", "fixed32", "sfixed32"}


def read_varint(buf: bytes, i: int) -> tuple[int, int]:
    """(value, next_pos); raises on truncation or >10 bytes."""
    shift = val = 0
    for n in range(10):
        if i >= len(buf):
            raise ValueError("pb: truncated varint")
        b = buf[i]
        i += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, i
        shift += 7
    raise ValueError("pb: varint longer than 10 bytes")


def _zigzag_dec(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _zigzag_enc(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _to_i64(v: int) -> int:
    """uint64 -> two's-complement int64 (for 'int'/'intstr' kinds)."""
    return v - (1 << 64) if v >= (1 << 63) else v


def write_varint(out: bytearray, v: int) -> None:
    if v < 0:  # negative int32/int64: 10-byte two's-complement varint
        v &= (1 << 64) - 1
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _scalar_decode(kind: str, wt: int, buf: bytes, i: int) -> tuple[Any, int]:
    """Decode one scalar payload of ``kind`` at ``i``; returns (value,
    next_pos).  ``wt`` is the tag's wire type (already validated)."""
    if wt == _WT_VARINT:
        raw, i = read_varint(buf, i)
        if kind == "bool":
            return bool(raw), i
        if kind == "sint":
            return _zigzag_dec(raw), i
        if kind in ("int", "intstr"):
            v = _to_i64(raw)
            return (str(v) if kind == "intstr" else v), i
        return (str(raw) if kind == "uintstr" else raw), i
    if wt == _WT_FIXED64:
        if i + 8 > len(buf):
            raise ValueError("pb: truncated fixed64")
        chunk = buf[i:i + 8]
        i += 8
        if kind == "double":
            return struct.unpack("<d", chunk)[0], i
        v = struct.unpack("<Q", chunk)[0]
        if kind in ("sfixed64", "sfixed64str"):
            v = _to_i64(v)
        return (str(v) if kind.endswith("str") else v), i
    if wt == _WT_FIXED32:
        if i + 4 > len(buf):
            raise ValueError("pb: truncated fixed32")
        chunk = buf[i:i + 4]
        i += 4
        if kind == "float":
            return struct.unpack("<f", chunk)[0], i
        if kind == "sfixed32":
            return struct.unpack("<i", chunk)[0], i
        return struct.unpack("<I", chunk)[0], i
    raise ValueError(f"pb: scalar kind {kind} with wire type {wt}")


def skip_field(wt: int, buf: bytes, i: int) -> int:
    """Skip an unknown field, mirroring ManualPBParser::skipField
    (core/protobuf/models/ManualPBParser.cpp:279-301)."""
    if wt == _WT_VARINT:
        _, i = read_varint(buf, i)
        return i
    if wt == _WT_FIXED64:
        return i + 8
    if wt == _WT_LEN:
        ln, i = read_varint(buf, i)
        return i + ln
    if wt == _WT_FIXED32:
        return i + 4
    raise ValueError(f"pb: unknown wire type {wt}")


def decode_message(buf: bytes, desc: dict, start: int = 0, end: int | None = None) -> dict:
    """Walk ``buf[start:end]`` tag-by-tag against ``desc`` and return a
    plain dict.  Repeated fields accumulate lists (packed scalar runs
    expand); unknown fields are skipped; wire-type mismatches raise
    (the ManualPBParser behavior — a mismatch means corrupt framing).
    """
    out: dict[str, Any] = {}
    i = start
    end = len(buf) if end is None else end
    while i < end:
        tag, i = read_varint(buf, i)
        fno, wt = tag >> 3, tag & 0x7
        spec = desc.get(fno)
        if spec is None:
            i = skip_field(wt, buf, i)
            if i > end:
                raise ValueError("pb: field overruns message")
            continue
        name, kind, repeated, sub = spec
        if kind == "message":
            if wt != _WT_LEN:
                raise ValueError(f"pb: {name}: message needs length-delimited")
            ln, i = read_varint(buf, i)
            if i + ln > end:
                raise ValueError(f"pb: {name}: overruns message")
            val = decode_message(buf, sub, i, i + ln)
            i += ln
        elif kind in ("string", "bytes", "hex"):
            if wt != _WT_LEN:
                raise ValueError(f"pb: {name}: needs length-delimited")
            ln, i = read_varint(buf, i)
            raw = buf[i:i + ln]
            if len(raw) != ln:
                raise ValueError(f"pb: {name}: truncated")
            i += ln
            val = (raw.decode("utf-8") if kind == "string"
                   else raw.hex() if kind == "hex" else bytes(raw))
        elif repeated and wt == _WT_LEN and _KIND_WT[kind] != _WT_LEN:
            # packed repeated scalars (proto3 default for numerics)
            ln, i = read_varint(buf, i)
            stop = i + ln
            if stop > end:
                raise ValueError(f"pb: {name}: packed run overruns")
            vals = []
            inner_wt = _KIND_WT[kind]
            while i < stop:
                v, i = _scalar_decode(kind, inner_wt, buf, i)
                vals.append(v)
            out.setdefault(name, []).extend(vals)
            continue
        else:
            if wt != _KIND_WT[kind]:
                raise ValueError(f"pb: {name}: wire type {wt} for kind {kind}")
            val, i = _scalar_decode(kind, wt, buf, i)
        if repeated:
            out.setdefault(name, []).append(val)
        else:
            out[name] = val
    if i != end:
        raise ValueError("pb: message framing error")
    return out


def encode_message(msg: dict, desc: dict) -> bytes:
    """Inverse of decode_message for fixture/serializer use: proto3
    presence semantics — None values and empty lists are omitted;
    scalar zero/'' ARE written when present in the dict (proto2
    required fields like Log.Time rely on that)."""
    out = bytearray()
    for fno in sorted(desc):
        name, kind, repeated, sub = desc[fno]
        if name not in msg or msg[name] is None:
            continue
        vals = msg[name] if repeated else [msg[name]]
        if repeated and _KIND_WT[kind] != _WT_LEN and vals:
            # packed run (canonical proto3 encoding for repeated scalars)
            body = bytearray()
            for v in vals:
                _scalar_encode(body, kind, v)
            write_varint(out, (fno << 3) | _WT_LEN)
            write_varint(out, len(body))
            out += body
            continue
        for v in vals:
            if kind == "message":
                body = encode_message(v, sub)
                write_varint(out, (fno << 3) | _WT_LEN)
                write_varint(out, len(body))
                out += body
            elif kind in ("string", "bytes", "hex"):
                # bytes arriving from a protojson dict are base64 TEXT
                # (the wire form's JSON rendering); raw bytes pass through
                raw = (v.encode("utf-8") if kind == "string"
                       else bytes.fromhex(v) if kind == "hex"
                       else base64.b64decode(v) if isinstance(v, str) else v)
                write_varint(out, (fno << 3) | _WT_LEN)
                write_varint(out, len(raw))
                out += raw
            else:
                write_varint(out, (fno << 3) | _KIND_WT[kind])
                _scalar_encode(out, kind, v)
    return bytes(out)


def _scalar_encode(out: bytearray, kind: str, v: Any) -> None:
    if kind in ("uint", "uintstr", "int", "intstr", "enum"):
        write_varint(out, int(v))
    elif kind == "bool":
        write_varint(out, 1 if v else 0)
    elif kind == "sint":
        write_varint(out, _zigzag_enc(int(v)))
    elif kind == "double":
        out += struct.pack("<d", float(v))
    elif kind == "float":
        out += struct.pack("<f", float(v))
    elif kind in ("fixed64", "fixed64str"):
        out += struct.pack("<Q", int(v))
    elif kind in ("sfixed64", "sfixed64str"):
        out += struct.pack("<q", int(v))
    elif kind == "fixed32":
        out += struct.pack("<I", int(v))
    elif kind == "sfixed32":
        out += struct.pack("<i", int(v))
    else:
        raise ValueError(f"pb: cannot scalar-encode kind {kind}")


# ---------------------------------------------------------------------------
# SLS LogGroup descriptors (core/protobuf/sls/sls_logs.proto:37-62)
# ---------------------------------------------------------------------------

LOG_CONTENT = {
    1: ("key", "string", False, None),
    2: ("value", "string", False, None),
}
LOG = {
    1: ("time", "uint", False, None),
    2: ("contents", "message", True, LOG_CONTENT),
    3: ("values", "string", True, None),
    4: ("timeNs", "fixed32", False, None),
}
LOG_TAG = {
    1: ("key", "string", False, None),
    2: ("value", "string", False, None),
}
LOG_GROUP = {
    1: ("logs", "message", True, LOG),
    2: ("category", "string", False, None),
    3: ("topic", "string", False, None),
    4: ("source", "string", False, None),
    5: ("machineUuid", "string", False, None),
    6: ("logTags", "message", True, LOG_TAG),
}

# ---------------------------------------------------------------------------
# OTLP descriptors (public opentelemetry-proto common/trace/metrics .proto)
# ---------------------------------------------------------------------------

# AnyValue is recursive (array_value/kvlist_value); build then patch.
ANY_VALUE: dict = {
    1: ("stringValue", "string", False, None),
    2: ("boolValue", "bool", False, None),
    3: ("intValue", "intstr", False, None),     # protojson: int64 as string
    4: ("doubleValue", "double", False, None),
    7: ("bytesValue", "bytes", False, None),
}
KEY_VALUE = {
    1: ("key", "string", False, None),
    2: ("value", "message", False, ANY_VALUE),
}
_ARRAY_VALUE = {1: ("values", "message", True, ANY_VALUE)}
_KVLIST = {1: ("values", "message", True, KEY_VALUE)}
ANY_VALUE[5] = ("arrayValue", "message", False, _ARRAY_VALUE)
ANY_VALUE[6] = ("kvlistValue", "message", False, _KVLIST)

RESOURCE = {1: ("attributes", "message", True, KEY_VALUE)}
SCOPE = {
    1: ("name", "string", False, None),
    2: ("version", "string", False, None),
    3: ("attributes", "message", True, KEY_VALUE),
}

_SPAN_EVENT = {
    1: ("timeUnixNano", "fixed64str", False, None),
    2: ("name", "string", False, None),
    3: ("attributes", "message", True, KEY_VALUE),
}
_SPAN_LINK = {
    1: ("traceId", "hex", False, None),
    2: ("spanId", "hex", False, None),
    3: ("traceState", "string", False, None),
    4: ("attributes", "message", True, KEY_VALUE),
}
_STATUS = {
    2: ("message", "string", False, None),
    3: ("code", "uintstr", False, None),
}
SPAN = {
    1: ("traceId", "hex", False, None),
    2: ("spanId", "hex", False, None),
    3: ("traceState", "string", False, None),
    4: ("parentSpanId", "hex", False, None),
    5: ("name", "string", False, None),
    6: ("kind", "uintstr", False, None),
    7: ("startTimeUnixNano", "fixed64str", False, None),
    8: ("endTimeUnixNano", "fixed64str", False, None),
    9: ("attributes", "message", True, KEY_VALUE),
    11: ("events", "message", True, _SPAN_EVENT),
    13: ("links", "message", True, _SPAN_LINK),
    15: ("status", "message", False, _STATUS),
}
SCOPE_SPANS = {
    1: ("scope", "message", False, SCOPE),
    2: ("spans", "message", True, SPAN),
}
RESOURCE_SPANS = {
    1: ("resource", "message", False, RESOURCE),
    2: ("scopeSpans", "message", True, SCOPE_SPANS),
}
TRACES_DATA = {1: ("resourceSpans", "message", True, RESOURCE_SPANS)}

_EXEMPLAR = {
    2: ("timeUnixNano", "fixed64str", False, None),
    3: ("asDouble", "double", False, None),
    4: ("spanId", "hex", False, None),
    5: ("traceId", "hex", False, None),
    6: ("asInt", "sfixed64str", False, None),
    7: ("filteredAttributes", "message", True, KEY_VALUE),
}
_NUM_DP = {
    2: ("startTimeUnixNano", "fixed64str", False, None),
    3: ("timeUnixNano", "fixed64str", False, None),
    4: ("asDouble", "double", False, None),
    5: ("exemplars", "message", True, _EXEMPLAR),
    6: ("asInt", "sfixed64str", False, None),
    7: ("attributes", "message", True, KEY_VALUE),
}
_HIST_DP = {
    2: ("startTimeUnixNano", "fixed64str", False, None),
    3: ("timeUnixNano", "fixed64str", False, None),
    4: ("count", "fixed64str", False, None),
    5: ("sum", "double", False, None),
    6: ("bucketCounts", "uintstr", True, None),     # packed varints
    7: ("explicitBounds", "double", True, None),    # packed doubles
    8: ("exemplars", "message", True, _EXEMPLAR),
    9: ("attributes", "message", True, KEY_VALUE),
    11: ("min", "double", False, None),
    12: ("max", "double", False, None),
}
_QUANTILE = {
    1: ("quantile", "double", False, None),
    2: ("value", "double", False, None),
}
_SUMM_DP = {
    2: ("startTimeUnixNano", "fixed64str", False, None),
    3: ("timeUnixNano", "fixed64str", False, None),
    4: ("count", "fixed64str", False, None),
    5: ("sum", "double", False, None),
    6: ("quantileValues", "message", True, _QUANTILE),
    7: ("attributes", "message", True, KEY_VALUE),
}
_EXP_BUCKETS = {
    1: ("offset", "sint", False, None),
    2: ("bucketCounts", "uintstr", True, None),     # packed varints
}
_EXP_DP = {
    1: ("attributes", "message", True, KEY_VALUE),
    2: ("startTimeUnixNano", "fixed64str", False, None),
    3: ("timeUnixNano", "fixed64str", False, None),
    4: ("count", "fixed64str", False, None),
    5: ("sum", "double", False, None),
    6: ("scale", "sint", False, None),
    7: ("zeroCount", "fixed64str", False, None),
    8: ("positive", "message", False, _EXP_BUCKETS),
    9: ("negative", "message", False, _EXP_BUCKETS),
    11: ("exemplars", "message", True, _EXEMPLAR),
    12: ("min", "double", False, None),
    13: ("max", "double", False, None),
}
_GAUGE = {1: ("dataPoints", "message", True, _NUM_DP)}
_SUM = {
    1: ("dataPoints", "message", True, _NUM_DP),
    2: ("aggregationTemporality", "uint", False, None),
    3: ("isMonotonic", "bool", False, None),
}
_HISTOGRAM = {
    1: ("dataPoints", "message", True, _HIST_DP),
    2: ("aggregationTemporality", "uint", False, None),
}
_EXP_HISTOGRAM = {
    1: ("dataPoints", "message", True, _EXP_DP),
    2: ("aggregationTemporality", "uint", False, None),
}
_SUMMARY = {1: ("dataPoints", "message", True, _SUMM_DP)}
METRIC = {
    1: ("name", "string", False, None),
    2: ("description", "string", False, None),
    3: ("unit", "string", False, None),
    5: ("gauge", "message", False, _GAUGE),
    7: ("sum", "message", False, _SUM),
    9: ("histogram", "message", False, _HISTOGRAM),
    10: ("exponentialHistogram", "message", False, _EXP_HISTOGRAM),
    11: ("summary", "message", False, _SUMMARY),
}
SCOPE_METRICS = {
    1: ("scope", "message", False, SCOPE),
    2: ("metrics", "message", True, METRIC),
}
RESOURCE_METRICS = {
    1: ("resource", "message", False, RESOURCE),
    2: ("scopeMetrics", "message", True, SCOPE_METRICS),
}
METRICS_DATA = {1: ("resourceMetrics", "message", True, RESOURCE_METRICS)}


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

# The SLS LogGroup legs run in the JVM: ``jvm/SlsLogGroup.java`` is this
# module's codec restricted to LOG_GROUP, as Java UDFs, so neither
# operator forks a Python worker. decode_message/encode_message above
# stay the codec of OTLP and prom and the twin the tests hold it to.
_CODEC_CLASS = "ilogtail.spark.pb.SlsLogGroup"
_STR = StringType()
# one decoded Log: sls_pb_decode's columns after the kept ones
_DECODED = StructType([
    StructField(name, dtype) for name, dtype in (
        ("topic", _STR), ("source", _STR), ("category", _STR), ("machine_uuid", _STR),
        ("tags", MapType(_STR, _STR)), ("log_time", LongType()), ("time_ns", LongType()),
        ("contents", MapType(_STR, _STR)),
    )
])
# drop_invalid -> (session function, class, return type)
_DECODE_UDFS = {
    True: ("ilogtail_sls_pb_decode", "Decode", ArrayType(_DECODED)),
    False: (
        "ilogtail_sls_pb_decode_keep_invalid", "DecodeKeepInvalid",
        ArrayType(StructType(_DECODED.fields + [StructField("_pb_ok", BooleanType())])),
    ),
}


def _codec_udf(spark, name: str, cls: str, return_type: ArrayType | BinaryType) -> str:
    """Register ``_CODEC_CLASS$cls`` as the session function ``name``
    and return the name; raise naming the jar when the JVM cannot load
    the class (a session started without ``session.JVM_JAR``)."""
    from pyspark.errors import AnalysisException
    from py4j.protocol import Py4JError

    from ilogtail_spark.session import JVM_JAR

    try:
        spark.udf.registerJavaFunction(name, f"{_CODEC_CLASS}${cls}", return_type)
    except (AnalysisException, Py4JError) as err:
        if _CODEC_CLASS not in str(err):
            raise
        raise RuntimeError(
            f"the SLS LogGroup codec ({_CODEC_CLASS}) is not on this JVM's "
            f"classpath; start the session with get_spark() or put {JVM_JAR} "
            "on spark.driver.extraClassPath (and --jars on a cluster)"
        ) from err
    return name


def sls_pb_decode(
    df, source_col: str = "pb", keep: list[str] | None = None,
    drop_invalid: bool = True,
):
    """Decode a binary SLS ``LogGroup`` column and fan out ONE ROW PER
    LOG (ProcessorParseFromPBNative.cpp:80-176: each raw event parses
    to an event group; undecodable payloads are dropped with a counter
    — here a ``_pb_ok`` flag when ``drop_invalid`` is False).

    Output: keep..., topic, source, category, machine_uuid,
    tags map<string,string>, log_time long, time_ns long,
    contents map<string,string> (duplicate keys last-wins at the first
    key's position), every field nullable. One projection: ``inline``
    of the JVM decode UDF (``jvm/SlsLogGroup.java``), called once per
    payload, zero shuffle.
    """
    from pyspark.sql import functions as F

    keep = list(keep or [])
    fn = _codec_udf(df.sparkSession, *_DECODE_UDFS[drop_invalid])
    # every output column is nullable, kept ones included (a CASE with
    # no ELSE; the optimizer folds it away for a non-nullable column)
    kept = [
        F.col(c) if df.schema[c].nullable else F.when(F.col(c).isNotNull(), F.col(c)).alias(c)
        for c in keep
    ]
    return df.select(*kept, F.inline(F.call_function(fn, F.col(source_col))))


def sls_pb_encode_groups(
    df,
    group_cols: list[str],
    time_col: str,
    content_cols: list[str],
    order_col: str,
    topic_col: str | None = None,
    source: str = "",
    time_ns_col: str | None = None,
    tags: dict[str, str] | None = None,
):
    """Encode one SLS ``LogGroup`` per group: logs ordered by
    ``order_col``, each log's Contents from ``content_cols`` (key =
    column name), Time from ``time_col`` (epoch seconds).  The inverse
    of sls_pb_decode — the sls flusher's serializer shape
    (core/plugin/flusher/sls/FlusherSLS + SLSSerializer).  Output:
    group_cols..., pb binary.

    Shape: ONE hash aggregate (sort_array ∘ collect_list of the per-log
    struct, order key leading so the array sort IS the log order) then
    the JVM encode UDF (``jvm/SlsLogGroup.java``), once per group.
    Per-group state is bounded by the group's log count (conversation
    length here). A NULL time is written as 0 and a NULL content value
    as ""; a NULL topic is omitted, and a NULL time_ns or one outside
    uint32 too. ``source`` and ``tags`` are the same for every group:
    they are encoded here once, as the bytes that follow the topic."""
    from pyspark.sql import functions as F

    taglist = [{"key": k, "value": v} for k, v in (tags or {}).items()]
    tail = encode_message({"source": source, "logTags": taglist}, LOG_GROUP)
    struct_fields = [
        F.col(order_col).alias("_o"),
        F.col(time_col).cast("long").alias("_t"),
        (F.lit(None) if time_ns_col is None else F.col(time_ns_col)).cast("long").alias("_ns"),
    ] + [F.col(c).cast("string").alias(c) for c in content_cols]
    aggs = [F.sort_array(F.collect_list(F.struct(*struct_fields))).alias("_logs")]
    if topic_col is not None and topic_col not in group_cols:
        aggs.append(F.first(topic_col).cast("string").alias("_topic"))
    aggd = df.groupBy(*group_cols).agg(*aggs)
    topic_expr = (
        F.lit(None).cast("string") if topic_col is None
        else F.col(topic_col).cast("string") if topic_col in group_cols
        else F.col("_topic")
    )
    fn = _codec_udf(df.sparkSession, "ilogtail_sls_pb_encode", "Encode", BinaryType())
    return aggd.select(
        *group_cols,
        F.call_function(fn, F.col("_logs"), topic_expr, F.lit(tail)).alias("pb"),
    )


def otlp_pb_to_json_udf(root: str):
    """Binary OTLP (TracesData / MetricsData) -> protojson string, as
    an Arrow-batched pandas UDF.  The product-side decode half of
    ``Format=protobuf`` (processor_otel_trace.go:68-115): downstream
    shaping then reuses the identical from_json plan as Format=json —
    one decode semantics, two wire forms.  Undecodable bytes -> NULL
    (the reference drops the log with a warning)."""
    from pyspark.sql import functions as F

    desc = TRACES_DATA if root == "trace" else METRICS_DATA

    @F.pandas_udf("string")
    def conv(s: pd.Series) -> pd.Series:
        def one(b):
            if b is None:
                return None
            try:
                return json.dumps(
                    decode_message(bytes(b), desc),
                    separators=(",", ":"),
                    # protojson encodes `bytes` fields (e.g. a
                    # bytesValue attribute) as base64 — without this a
                    # single bytes attribute voided the WHOLE document
                    default=lambda o: base64.b64encode(o).decode("ascii")
                    if isinstance(o, (bytes, bytearray))
                    else str(o),
                )
            except Exception:
                return None

        return s.map(one)

    return conv


def otlp_json_to_pb_udf(root: str):
    """protojson string -> binary OTLP wire bytes (fixture/serializer
    direction; inverse of otlp_pb_to_json_udf)."""
    from pyspark.sql import functions as F

    desc = TRACES_DATA if root == "trace" else METRICS_DATA

    @F.pandas_udf("binary")
    def conv(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: None if x is None else encode_message(json.loads(x), desc)
        )

    return conv


@register("processor_parse_from_pb_native")
def _pb_factory(**cfg):
    """ProcessorParseFromPBNative.cpp:45-75: Protocol is mandatory and
    validated against the supported list.  The reference's only wire
    protocol there is the LoongSuite PipelineEventGroup; this engine
    decodes the SLS ``LogGroup`` family (sls_logs.proto:37-62 — the
    format the SLS flusher emits and the Go pipeline transports), the
    documented subset."""
    proto = cfg_pop(cfg, "Protocol", "protocol")
    if proto != "sls_logs":
        raise ValueError(
            f"processor_parse_from_pb_native: unsupported protocol '{proto}'"
        )
    source = cfg_pop(cfg, "SourceKey", "source", default="pb")
    keep = cfg_pop(cfg, "Keep", "keep", default=None)
    drop_invalid = bool(cfg_pop(cfg, "DropInvalid", default=True))
    return lambda df: sls_pb_decode(
        df, source, keep=keep, drop_invalid=drop_invalid
    )


# ---------------------------------------------------------------------------
# Prometheus remote-write (prompb) — flusher_prometheus's wire format
# (pkg/protocol/encoder/prometheus/utils.go:44-60; plugins/flusher/
# prometheus/flusher_prometheus_test.go pins the expected WriteRequests)
# ---------------------------------------------------------------------------

PROM_LABEL = {
    1: ("name", "string", False, None),
    2: ("value", "string", False, None),
}
PROM_SAMPLE = {
    1: ("value", "double", False, None),
    2: ("timestamp", "int", False, None),
}
PROM_TIMESERIES = {
    1: ("labels", "message", True, PROM_LABEL),
    2: ("samples", "message", True, PROM_SAMPLE),
}
PROM_WRITE_REQUEST = {1: ("timeseries", "message", True, PROM_TIMESERIES)}


def prom_remote_write_encode(
    df,
    group_cols: list[str],
    name_col: str,
    value_col: str,
    ts_ms_col: str,
    tag_cols: list[str],
):
    """Encode one remote-write ``WriteRequest`` per group — the
    flusher_prometheus serializer (utils.go:44-60): per metric row one
    TimeSeries with labels = tag columns (key = column name; empty or
    NULL values DROPPED per the remote-write spec, utils.go:70-76)
    plus ``__name__``, sorted lexicographically by label name
    (utils.go:82-86), and ONE sample (double value, int64 ms
    timestamp — the encoder's ns→ms division happens at the caller as
    unix_millis, avoiding big-int precision loss in doubles).

    The aggregate of sls_pb_encode_groups (ONE hash aggregate), then a
    scalar Arrow-batched pandas UDF — one Python call per Arrow batch
    of groups, never per group."""
    from pyspark.sql import functions as F

    tcols = list(tag_cols)
    struct_fields = [
        F.col(name_col).cast("string").alias("_n"),
        F.col(value_col).cast("double").alias("_v"),
        F.col(ts_ms_col).cast("long").alias("_t"),
    ] + [F.col(c).cast("string").alias(c) for c in tcols]
    aggd = df.groupBy(*group_cols).agg(
        F.sort_array(F.collect_list(F.struct(*struct_fields))).alias("_series")
    )

    @F.pandas_udf("binary")
    def enc(series: pd.Series) -> pd.Series:
        def one(rows):
            ts_list = []
            for r in rows:
                labels = [{"name": "__name__", "value": r["_n"] or ""}]
                for c in tcols:
                    v = r[c]
                    if v:  # empty/NULL label values dropped (spec)
                        labels.append({"name": c, "value": v})
                labels.sort(key=lambda lb: lb["name"])
                # NULL value/timestamp -> 0, WRITTEN on the wire — the
                # same defaulting sls_pb_encode_groups applies to a
                # NULL Log.time (data-facing operator; callers may
                # carry NULLs even though the oracle fixtures do not)
                ts_list.append({
                    "labels": labels,
                    "samples": [{
                        "value": 0.0 if r["_v"] is None else float(r["_v"]),
                        "timestamp": 0 if r["_t"] is None else int(r["_t"]),
                    }],
                })
            return encode_message({"timeseries": ts_list}, PROM_WRITE_REQUEST)

        return pd.Series([one(rows) for rows in series.tolist()])

    return aggd.select(*group_cols, enc(F.col("_series")).alias("pb"))


def prom_wr_to_json_udf():
    """WriteRequest wire bytes -> json string (the decode leg for
    roundtrip verification; a remote-write RECEIVER's shape)."""
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def conv(s: pd.Series) -> pd.Series:
        def one(b):
            if b is None:
                return None
            try:
                return json.dumps(
                    decode_message(bytes(b), PROM_WRITE_REQUEST),
                    separators=(",", ":"),
                )
            except Exception:
                return None

        return s.map(one)

    return conv
