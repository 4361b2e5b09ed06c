"""Differential tests of the SLS LogGroup codec in the JVM
(``ilogtail_spark/jvm/SlsLogGroup.java``, behind ``sls_pb_decode`` and
``sls_pb_encode_groups``) against the Python descriptor codec
(``decode_message``/``encode_message`` with ``LOG_GROUP``).

Seeded inputs: random LogGroups (duplicate content and tag keys, unknown
fields at every level, non-ASCII text, times past int64) and mutations of
them and of ``GOLDEN_LOGGROUP`` (truncations, bit flips, changed wire
types, inserted and deleted bytes, malformed UTF-8). The JVM decoder must
agree with ``decode_message`` on validity and on every field; the JVM
encoder must equal ``encode_message`` byte for byte. Each direction is
one Spark action.
"""

import os
import random
import subprocess
import sys
import textwrap

import pyarrow as pa
from pyspark.sql import functions as F

from ilogtail_spark.operators.pb import (
    LOG_GROUP,
    decode_message,
    encode_message,
    sls_pb_decode,
    sls_pb_encode_groups,
)
from ilogtail_spark.session import JVM_JAR
from tests.test_pb import GOLDEN_LOGGROUP

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
U64 = (1 << 64) - 1


def _raw(desc):
    """``desc`` with strings as raw bytes, so a test can frame malformed
    UTF-8, plus one field each level's decoder does not know."""
    out = {
        f: (name, "bytes" if kind == "string" else kind, rep, _raw(sub) if sub else None)
        for f, (name, kind, rep, sub) in desc.items()
    }
    out[9] = ("x9", "uint", False, None)
    out[10] = ("x10", "fixed64", False, None)
    out[11] = ("x11", "bytes", True, None)
    out[12] = ("x12", "fixed32", False, None)
    return out


RAW_GROUP = _raw(LOG_GROUP)
TEXTS = ["", "k", "v", "role", "héllo", "日本語", "😀x", "a\x00b", "tab\tnl\n", "'q'\"\\"]
BAD_UTF8 = [b"\xff", b"\xc0\xaf", b"\xe0\x80\xaf", b"\xed\xa0\x80", b"\xf4\x90\x80\x80", b"\xe2\x82", b"\x80"]
TIMES = [0, 1, 1700000000, (1 << 32) + 3, (1 << 63) - 1, 1 << 63, U64]


def _text(rng, bad):
    s = rng.choice(TEXTS).encode()
    if rng.random() < bad:
        i = rng.randint(0, len(s))
        s = s[:i] + rng.choice(BAD_UTF8) + s[i:]
    return s


def _unknown(rng, msg):
    for name in ("x9", "x10", "x11", "x12"):
        if rng.random() < 0.08:
            msg[name] = (
                [b"\x01\x02"] if name == "x11" else rng.getrandbits(32 if name == "x12" else 64)
            )
    return msg


def _pairs(rng, bad, pool):
    pairs = []
    for _ in range(rng.randint(0, 4)):
        p = {}
        if rng.random() < 0.9:
            p["key"] = rng.choice(pool).encode() if rng.random() < 0.9 else _text(rng, bad)
        if rng.random() < 0.9:
            p["value"] = _text(rng, bad)
        pairs.append(_unknown(rng, p))
    return pairs


def _random_group(rng, bad=0.03):
    g = {"logs": []}
    for _ in range(rng.randint(0, 4)):
        log = {"contents": _pairs(rng, bad, ["role", "text", "tool", "k"])}
        if rng.random() < 0.9:
            log["time"] = rng.choice(TIMES + [rng.getrandbits(64)])
        if rng.random() < 0.5:
            log["timeNs"] = rng.getrandbits(32)
        if rng.random() < 0.2:
            log["values"] = [_text(rng, bad)]
        g["logs"].append(_unknown(rng, log))
    for name in ("topic", "source", "category", "machineUuid"):
        if rng.random() < 0.6:
            g[name] = _text(rng, bad)
    g["logTags"] = _pairs(rng, bad, ["host", "env", "k"])
    return encode_message(_unknown(rng, g), RAW_GROUP)


def _mutate(rng, pb):
    kind = rng.randrange(5)
    if not pb:
        return bytes([rng.randrange(256)])
    i = rng.randrange(len(pb))
    if kind == 0:  # truncation
        return pb[:i]
    if kind == 1:  # bit flip
        return pb[:i] + bytes([pb[i] ^ (1 << rng.randrange(8))]) + pb[i + 1:]
    if kind == 2:  # another wire type in what may be a tag byte
        return pb[:i] + bytes([(pb[i] & ~7) | rng.randrange(8)]) + pb[i + 1:]
    if kind == 3:  # inserted byte
        return pb[:i] + bytes([rng.randrange(256)]) + pb[i:]
    return pb[:i] + pb[i + 1:]  # deleted byte


def _payloads(seed=20261020):
    rng = random.Random(seed)
    out = [GOLDEN_LOGGROUP, b"", None, GOLDEN_LOGGROUP + bytes.fromhex("7805")]
    out += [_mutate(rng, GOLDEN_LOGGROUP) for _ in range(300)]
    groups = [_random_group(rng) for _ in range(700)]
    out += groups
    out += [_mutate(rng, rng.choice(groups)) for _ in range(1000)]
    return out


def _int64(v):
    """The JVM's reading of a ``time`` varint: its low 64 bits, signed."""
    if v is None:
        return None
    v &= U64
    return v - (1 << 64) if v >> 63 else v


def _python_rows(pb):
    """``decode_message``'s rows for one payload, or None when invalid."""
    try:
        g = decode_message(pb, LOG_GROUP)
    except Exception:
        return None
    head = (
        g.get("topic", ""), g.get("source", ""), g.get("category", ""), g.get("machineUuid", ""),
        list({t.get("key", ""): t.get("value", "") for t in g.get("logTags", [])}.items()),
    )
    return [
        head + (
            _int64(log.get("time")), log.get("timeNs"),
            list({c.get("key", ""): c.get("value", "") for c in log.get("contents", [])}.items()),
        )
        for log in g.get("logs", [])
    ]


def _entries(df):
    """``df`` with its maps as entry arrays: a collected map is a Python
    dict built from a Java ``HashMap``, which loses the order."""
    return df.withColumns({c: F.map_entries(c) for c in ("tags", "contents")})


def _jvm_row(r):
    return (
        r["topic"], r["source"], r["category"], r["machine_uuid"], [tuple(e) for e in r["tags"]],
        r["log_time"], r["time_ns"], [tuple(e) for e in r["contents"]],
    )


def test_jvm_decode_agrees_with_decode_message(spark):
    payloads = _payloads()
    df = spark.createDataFrame(
        pa.table({"id": pa.array(range(len(payloads)), pa.int64()), "pb": pa.array(payloads, pa.binary())})
    )
    kept = sls_pb_decode(df, "pb", keep=["id"], drop_invalid=False)
    dropped = sls_pb_decode(df, "pb", keep=["id"]).withColumn("_pb_ok", F.lit(None).cast("boolean"))
    got = {}
    both = kept.withColumn("drop", F.lit(False)).unionByName(dropped.withColumn("drop", F.lit(True)))
    for r in _entries(both).collect():
        got.setdefault((r["drop"], r["id"]), []).append(r)

    invalid = 0
    for i, pb in enumerate(payloads):
        want = _python_rows(pb)
        keep_rows, drop_rows = got.get((False, i), []), got.get((True, i), [])
        if want is None:
            invalid += 1
            assert [(_jvm_row(r), r["_pb_ok"]) for r in keep_rows] == [
                (("", "", "", "", [], None, None, []), False)
            ], (i, pb)
            assert drop_rows == [], (i, pb)
        else:
            assert [_jvm_row(r) for r in keep_rows] == want, (i, pb)
            assert all(r["_pb_ok"] for r in keep_rows), (i, pb)
            assert [_jvm_row(r) for r in drop_rows] == want, (i, pb)
    # the corpus exercises both sides
    assert 500 < invalid < len(payloads) - 500


def test_decode_pins_duplicate_keys_and_wide_times(spark):
    """Last value at the first key's position; a time of 2^63 or more is
    its low 64 bits read as int64 (``decode_message`` returns the
    unsigned value, which no bigint column holds)."""
    pb = encode_message(
        {
            "logs": [
                {"time": (1 << 63) + 5, "contents": [
                    {"key": "a", "value": "1"}, {"key": "b", "value": "2"}, {"key": "a", "value": "3"},
                ]},
                {"contents": [{"value": "no key"}]},
            ],
            "logTags": [{"key": "t", "value": "x"}, {"key": "u", "value": "y"}, {"key": "t", "value": "z"}],
        },
        LOG_GROUP,
    )
    df = spark.createDataFrame(pa.table({"pb": pa.array([pb], pa.binary())}))
    rows = _entries(sls_pb_decode(df, "pb")).collect()
    assert [[tuple(e) for e in r["contents"]] for r in rows] == [[("a", "3"), ("b", "2")], [("", "no key")]]
    assert [[tuple(e) for e in r["tags"]] for r in rows] == [[("t", "z"), ("u", "y")]] * 2
    assert [(r["log_time"], r["time_ns"]) for r in rows] == [(-(1 << 63) + 5, None), (None, None)]


def test_decode_schema_is_the_declared_one(spark):
    """Every output column nullable, kept ones included, with the types
    the operator has always declared."""
    from pyspark.sql.types import StructType

    df = spark.range(1).select("id", F.lit(b"").alias("pb"), F.lit("x").alias("s"))
    assert not df.schema["id"].nullable
    fields = (
        "id bigint, s string, topic string, source string, category string, machine_uuid string, "
        "tags map<string,string>, log_time bigint, time_ns bigint, contents map<string,string>"
    )
    assert sls_pb_decode(df, "pb", keep=["id", "s"]).schema == StructType.fromDDL(fields)
    assert sls_pb_decode(df, "pb", keep=["id", "s"], drop_invalid=False).schema == StructType.fromDDL(
        fields + ", _pb_ok boolean"
    )


def _expected_group(logs, topic, source, tags, ccols):
    """``encode_message`` of one group as ``sls_pb_encode_groups`` builds
    it: NULL time written as 0, NULL content value as "", NULL topic
    omitted, and a time_ns that is NULL or outside uint32 omitted."""
    lg = []
    for o, t, ns, *vals in sorted(logs, key=lambda r: r[0]):
        log = {
            "time": 0 if t is None else t,
            "contents": [{"key": c, "value": "" if v is None else str(v)} for c, v in zip(ccols, vals)],
        }
        if ns is not None and 0 <= ns < 1 << 32:
            log["timeNs"] = ns
        lg.append(log)
    group = {"logs": lg, "source": source, "logTags": [{"key": k, "value": v} for k, v in tags.items()]}
    if topic is not None:
        group["topic"] = topic
    return encode_message(group, LOG_GROUP)


def test_jvm_encode_equals_encode_message(spark):
    rng = random.Random(7)
    texts = TEXTS + [None]
    cols = {n: [] for n in ("g", "o", "t", "ns", "topic", "role", "text", "n")}
    for g in range(400):
        topic = rng.choice(texts)
        for o in rng.sample(range(1000), rng.randint(1, 5)):
            for name, v in (
                ("g", g), ("o", o), ("topic", topic),
                ("t", rng.choice([None, 0, -1, 1700000000, -(1 << 63), (1 << 63) - 1, rng.getrandbits(40)])),
                ("ns", rng.choice([None, 0, 999999999, (1 << 32) - 1, 1 << 32, -1, rng.getrandbits(31)])),
                ("role", rng.choice(texts)), ("text", rng.choice([None, rng.choice(TEXTS) * rng.randint(1, 40)])),
                ("n", rng.choice([None, -3, 0, 1 << 40])),
            ):
                cols[name].append(v)
    df = spark.createDataFrame(pa.table({
        "g": pa.array(cols["g"], pa.int32()), "o": pa.array(cols["o"], pa.int32()),
        "t": pa.array(cols["t"], pa.int64()), "ns": pa.array(cols["ns"], pa.int64()),
        "topic": pa.array(cols["topic"], pa.string()), "role": pa.array(cols["role"], pa.string()),
        "text": pa.array(cols["text"], pa.string()), "n": pa.array(cols["n"], pa.int64()),
    }))
    ccols = ["role", "text", "n"]
    source, tags = "src-é", {"host": "h-1", "日本": "", "env": "prod"}
    with_ns = sls_pb_encode_groups(
        df, ["g"], time_col="t", content_cols=ccols, order_col="o",
        topic_col="topic", source=source, time_ns_col="ns", tags=tags,
    )
    without = sls_pb_encode_groups(df, ["g"], time_col="t", content_cols=ccols, order_col="o")
    got = {
        (r["ns"], r["g"]): bytes(r["pb"])
        for r in with_ns.withColumn("ns", F.lit(True)).unionByName(without.withColumn("ns", F.lit(False))).collect()
    }

    groups = {}
    for g, o, t, ns, topic, *vals in zip(*(cols[n] for n in ("g", "o", "t", "ns", "topic", *ccols))):
        groups.setdefault(g, (topic, []))[1].append((o, t, ns, *vals))
    assert len(got) == 2 * len(groups)
    for g, (topic, logs) in groups.items():
        assert got[(True, g)] == _expected_group(logs, topic, source, tags, ccols), g
        no_ns = [(o, t, None, *vals) for o, t, _, *vals in logs]
        assert got[(False, g)] == _expected_group(no_ns, None, "", {}, ccols), g


def test_codec_without_the_jar_names_it(tmp_path):
    """A session whose JVM was started without the jar gets the same
    error, naming the jar, from every operator that calls one of its
    UDFs: both codec legs and the native timestamp parser."""
    code = textwrap.dedent(
        """
        from pyspark.sql import SparkSession, functions as F
        from ilogtail_spark.operators.pb import sls_pb_decode, sls_pb_encode_groups
        from ilogtail_spark.operators.strptime_native import parse_timestamp_native

        spark = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
        df = spark.range(1).select(F.col("id"), F.lit(b"").alias("pb"))
        for call in (
            lambda: sls_pb_decode(df, "pb"),
            lambda: sls_pb_encode_groups(df, ["id"], time_col="id", content_cols=[], order_col="id"),
            lambda: parse_timestamp_native(df.selectExpr("'1' AS t"), "t", "%s"),
        ):
            try:
                call()
            except RuntimeError as err:
                print("ERROR", err)
        spark.stop()
        """
    )
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g"}
    env.pop("PYSPARK_GATEWAY_PORT", None)
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    errors = [line for line in proc.stdout.splitlines() if line.startswith("ERROR")]
    assert len(errors) == 3 and all(JVM_JAR in e for e in errors), proc.stdout
