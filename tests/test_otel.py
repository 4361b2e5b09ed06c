"""OTLP trace/metric decode goldens.

The two payloads below are the reference's own unit fixtures
(plugins/processor/otel/processor_otel_trace_test.go:25-52,
processor_otel_metric_test.go:25-49) — same span/row counts and spot
values the Go asserts check.
"""

import os
import re

import pytest
from pyspark.sql import functions as F

from ilogtail_spark.operators.otel import otel_metric_parse, otel_trace_parse

_REF = "/root/reference/plugins/processor/otel"

needs_reference = pytest.mark.skipif(
    not os.path.isdir(_REF), reason=f"needs {_REF}: reference tree absent"
)


def _fixture(fname, var):
    src = open(f"{_REF}/{fname}").read()
    return re.search(var + r" = `\n(.*?)\n`", src, re.S).group(1)


@needs_reference
def test_trace_reference_fixture(spark):
    doc = _fixture("processor_otel_trace_test.go", "protoJSONData")
    df = spark.createDataFrame([(1, doc)], "id int, otel string")
    rows = otel_trace_parse(df, "otel", keep=["id"]).collect()
    # Go: assert.Equal(t, 10, len(result))
    assert len(rows) == 10
    r0 = rows[0].asDict()
    # Go: result[0].Contents[1].Value == "adb_worker" (the service slot)
    assert r0["service"] == "adb_worker"
    assert r0["host"] == ""  # no host.name attr -> empty shortcut
    assert r0["otlp.name"] == "com.alibaba.cloud"
    assert r0["traceID"] == "31646461386336653337343330356530"
    assert r0["kind"] == "internal"
    assert r0["statusCode"] == "UNSET"
    # micro conversion of the nano fields
    assert r0["start"] == 1689831889338531
    assert r0["end"] == 1689831889338737
    assert r0["duration"] == 206 or r0["duration"] == 205
    assert r0["time"] == 1689831889
    # resource JSON: sorted keys, host.name/service.name removed
    assert r0["resource"].startswith('{"cluster.logicId":"1000"')
    assert "service.name" not in r0["resource"]
    # 5th span carries the only event
    ev = [r for r in rows if r["logs"] != "[]"]
    assert len(ev) == 2
    assert '"name":"QueryStatus::end()"' in ev[0]["logs"]


@needs_reference
def test_metric_reference_fixture(spark):
    doc = _fixture("processor_otel_metric_test.go", "protoJSONMetricData")
    df = spark.createDataFrame([(1, doc)], "id int, otel string")
    rows = otel_metric_parse(df, "otel", keep=["id"]).collect()
    # Go: assert.Equal(t, 10, len(result))
    assert len(rows) == 10
    names = sorted(r["__name__"] for r in rows)
    # gauge + histogram(_sum/_max/_count + 6 cumulative buckets);
    # min == 0 is skipped per otlp_metric_parser.go:192-194
    assert names == (
        ["rocketmq.consumer.connections"]
        + ["rocketmq.rpc.latency_bucket"] * 6
        + ["rocketmq.rpc.latency_count", "rocketmq.rpc.latency_max",
           "rocketmq.rpc.latency_sum"]
    )
    buckets = {
        lbl.split("le#$#")[1].split("|")[0]: r["__value__"]
        for r in rows
        if r["__name__"].endswith("_bucket")
        for lbl in [r["__labels__"]]
    }
    # cumulative counts of [150,0,0,0,0,0] over bounds [1,10,100,1000,3000]
    assert buckets == {"1": 150.0, "10": 150.0, "100": 150.0,
                       "1000": 150.0, "3000": 150.0, "+Inf": 150.0}
    g = [r for r in rows if r["__name__"] == "rocketmq.consumer.connections"][0]
    assert g["__value__"] == 1.0
    assert g["__time_nano__"] == 1694766431663946000
    assert "aggregation#$#delta" in g["__labels__"]


def test_exponential_histogram_and_summary(spark):
    doc = (
        '{"resourceMetrics":[{"resource":{"attributes":[]},"scopeMetrics":[{'
        '"metrics":['
        '{"name":"e","exponentialHistogram":{"dataPoints":[{"attributes":[],'
        '"timeUnixNano":"100","count":"7","sum":3.5,"min":0.5,"max":2.0,'
        '"zeroCount":"2","scale":0,'
        '"positive":{"offset":-1,"bucketCounts":["3","1"]},'
        '"negative":{"offset":0,"bucketCounts":["1"]}}]}},'
        '{"name":"s","summary":{"dataPoints":[{"attributes":[],'
        '"timeUnixNano":"200","count":"4","sum":10.0,'
        '"quantileValues":[{"quantile":0.5,"value":2.5}]}]}}'
        "]}]}]}"
    )
    df = spark.createDataFrame([(1, doc)], "id int, otel string")
    out = otel_metric_parse(df, "otel")
    got = {
        (r["__name__"], r["__labels__"]): r["__value__"] for r in out.collect()
    }
    assert got[("e_sum", "")] == 3.5
    assert got[("e_min", "")] == 0.5
    assert got[("e_max", "")] == 2.0
    assert got[("e_count", "")] == 7.0
    # base = 2^(2^0) = 2; offset -1 -> (0.5,1], (1,2]
    assert got[("e_bucket", "le#$#(0.5,1]")] == 3.0
    assert got[("e_bucket", "le#$#(1,2]")] == 1.0
    assert got[("e_bucket", "le#$#[-2,-1)")] == 1.0
    assert got[("e_bucket", "le#$#positive.offset")] == -1.0
    assert got[("e_bucket", "le#$#negative.offset")] == 0.0
    assert got[("e_bucket", "le#$#zero.count")] == 2.0
    assert got[("s_sum", "")] == 10.0
    assert got[("s_count", "")] == 4.0
    assert got[("s", "quantile#$#0.5")] == 2.5


def test_trace_invalid_json_drops(spark):
    df = spark.createDataFrame(
        [(1, "{not json"), (2, None), (3, '{"resourceSpans":[]}')],
        "id int, otel string",
    )
    assert otel_trace_parse(df, "otel", keep=["id"]).count() == 0


@needs_reference
def test_registry_config_pipeline(spark):
    from ilogtail_spark.operators.registry import OPERATORS

    doc = _fixture("processor_otel_trace_test.go", "protoJSONData")
    df = spark.createDataFrame([(1, doc)], "id int, src string")
    op = OPERATORS["processor_otel_trace"](SourceKey="src", Format="json")
    assert op(df).count() == 10
    mdoc = _fixture("processor_otel_metric_test.go", "protoJSONMetricData")
    mdf = spark.createDataFrame([(1, mdoc)], "id int, src string")
    mop = OPERATORS["processor_otel_metric"](SourceKey="src", Format="json")
    assert mop(mdf).count() == 10


@needs_reference
def test_pb_wire_leg_matches_json_leg_on_go_fixture(spark):
    """Format=protobuf on the reference's own Go-test protojson
    fixtures: json→wire-bytes→decode must yield row-for-row the same
    output as the json leg (both processors)."""
    from ilogtail_spark.operators.pb import otlp_json_to_pb_udf
    from ilogtail_spark.operators.registry import OPERATORS

    import json as _json

    for proc, gofile, var, root, wrap in [
        ("processor_otel_trace", "processor_otel_trace_test.go",
         "protoJSONData", "trace", "resourceSpans"),
        ("processor_otel_metric", "processor_otel_metric_test.go",
         "protoJSONMetricData", "metric", "resourceMetrics"),
    ]:
        doc = _fixture(gofile, var)
        df = spark.createDataFrame([(1, doc)], "id int, src string")
        json_rows = OPERATORS[proc](SourceKey="src", Format="json")(df).collect()
        # the Go fixture is a BARE ResourceSpans/ResourceMetrics (the
        # protojson form); the binary wire unit is always TracesData /
        # MetricsData (field 1 = repeated resource_*), so wrap first
        wrapped = _json.dumps({wrap: [_json.loads(doc)]})
        df = spark.createDataFrame([(1, wrapped)], "id int, src string")
        pdf = df.withColumn("src_pb", otlp_json_to_pb_udf(root)(F.col("src")))
        pb_rows = (
            OPERATORS[proc](SourceKey="src_pb", Format="protobuf")(pdf).collect()
        )
        assert len(json_rows) == len(pb_rows) == 10
        key = lambda r: tuple(str(v) for v in r)  # noqa: E731
        assert sorted(map(key, json_rows)) == sorted(map(key, pb_rows)), proc
    import pytest

    with pytest.raises(ValueError):
        OPERATORS["processor_otel_trace"](SourceKey="s", Format="flatbuffers")


def test_dup_attr_keys_last_wins(spark):
    doc = (
        '{"resourceSpans":[{"resource":{"attributes":[]},"scopeSpans":[{'
        '"spans":[{"traceId":"t","spanId":"s","name":"n","kind":2,'
        '"startTimeUnixNano":"1000","endTimeUnixNano":"2000",'
        '"attributes":[{"key":"a","value":{"stringValue":"first"}},'
        '{"key":"a","value":{"intValue":"9"}}],'
        '"status":{}}]}]}]}'
    )
    df = spark.createDataFrame([(1, doc)], "id int, otel string")
    r = otel_trace_parse(df, "otel").collect()[0]
    # Go map build keeps the later entry; ints marshal unquoted
    assert r["attribute"] == '{"a":9}'
    assert r["kind"] == "server"
