from pyspark.sql import functions as F

from ilogtail_spark.operators.transform import (
    add_fields,
    appender,
    base64_decode,
    base64_encode,
    desensitize,
    dict_map,
    drop_fields,
    md5_field,
    pack_json,
    pick_fields,
    rename_fields,
    string_replace,
)


_LOOKUP = {"user": "human", "assistant": "model"}


def test_dict_map_basic_and_missing(spark):
    df = spark.createDataFrame(
        [(1, "user"), (2, "assistant"), (3, "system")], "id int, role string"
    )
    out = dict_map(df, _LOOKUP, "role", "role_class").orderBy("id").collect()
    assert [r["role_class"] for r in out] == ["human", "model", "Unknown"]


def test_dict_map_no_missing_handling(spark):
    df = spark.createDataFrame([(3, "system")], "id int, role string")
    out = dict_map(df, _LOOKUP, "role", "role_class", handle_missing=False).first()
    assert out["role_class"] is None


def test_dict_map_fill_vs_overwrite(spark):
    df = spark.createDataFrame(
        [(1, "user", "preset"), (2, "assistant", None)],
        "id int, role string, role_class string",
    )
    fill = dict_map(df, _LOOKUP, "role", "role_class", mode="fill").orderBy("id").collect()
    assert [r["role_class"] for r in fill] == ["preset", "model"]
    over = dict_map(df, _LOOKUP, "role", "role_class", mode="overwrite").orderBy("id").collect()
    assert [r["role_class"] for r in over] == ["human", "model"]


def test_dict_map_is_one_projection(spark):
    """A literal-map lookup: no join, no exchange, no side relation."""
    df = spark.createDataFrame([(1, "user")], "id int, role string")
    plan = dict_map(df, _LOOKUP, "role", "role_class")._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan
    assert plan.count("Scan") == 1


def test_add_rename_drop_pick(spark):
    df = spark.createDataFrame([(1, "x")], "id int, a string")
    out = add_fields(df, {"env": "prod"}).first()
    assert out["env"] == "prod"
    out = add_fields(df.withColumn("env", F.lit("keep")), {"env": "prod"}, ignore_if_exist=True).first()
    assert out["env"] == "keep"
    out = rename_fields(df, {"a": "b"})
    assert "b" in out.columns and "a" not in out.columns
    assert drop_fields(df, ["a"]).columns == ["id"]
    assert pick_fields(df, include=["id"]).columns == ["id"]
    assert pick_fields(df, exclude=["a"]).columns == ["id"]


def test_string_replace_and_desensitize(spark):
    df = spark.createDataFrame([(1, "pwd=secret123 user=bob")], "id int, text string")
    out = string_replace(df, "text", r"pwd=\w+", "pwd=***").first()
    assert out["text"] == "pwd=*** user=bob"
    out = desensitize(df, "text", regex_begin=r"pwd=", regex_content=r"\w+", replacement="MASK").first()
    assert out["text"] == "pwd=MASK user=bob"
    out = desensitize(df, "text", method="md5").first()
    assert len(out["text"]) == 32


def test_base64_roundtrip_md5_packjson_appender(spark):
    df = spark.createDataFrame([(1, "hello", "w")], "id int, a string, b string")
    enc = base64_encode(df, "a", dest="e")
    dec = base64_decode(enc, "e", dest="d").first()
    assert dec["d"] == "hello"
    assert len(md5_field(df, "a", "h").first()["h"]) == 32
    assert pack_json(df, ["a", "b"], "j").first()["j"] == '{"a":"hello","b":"w"}'
    assert appender(df, {"a": "!", "c": "new"}).first()["a"] == "hello!"


def test_desensitize_md5_region_hashes_content(spark):
    """Method=md5 + Match=regex must replace each matched content with
    the md5 OF THAT CONTENT (processor_desensitize.go:173-177), for
    every occurrence."""
    import hashlib
    import re

    from ilogtail_spark.operators.transform import desensitize

    texts = [
        "status=200 latency_ms=15 done",   # two matches
        "no digits here",                  # zero matches
        "x=1",                             # match at end of string
        "=7 leading",                      # match at start
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id int, text string"
    )
    out = desensitize(
        df, "text", method="md5", regex_begin=r"=", regex_content=r"\d+"
    ).orderBy("id").collect()

    def expected(t):
        return re.sub(
            r"(=)(\d+)",
            lambda m: m.group(1) + hashlib.md5(m.group(2).encode()).hexdigest(),
            t,
        )

    for row, t in zip(out, texts):
        assert row["text"] == expected(t), t


def test_desensitize_const_region_all_occurrences(spark):
    from ilogtail_spark.operators.transform import desensitize

    df = spark.createDataFrame([(0, "a=1 b=2")], "id int, text string")
    out = desensitize(
        df, "text", method="const", replacement="***",
        regex_begin=r"=", regex_content=r"\d+",
    ).first()
    assert out["text"] == "a=*** b=***"


def test_load_dict_csv_contract(tmp_path):
    """processor_dict_map.go:96-135: 2-col CSV, MaxDictSize cap,
    hash-crash on conflicting redefinition, empty-file error."""
    import pytest

    from ilogtail_spark.operators.transform import load_dict_csv

    p = tmp_path / "d.csv"
    p.write_text("a,1\nb,2\na,1\n")  # same-value restate is fine
    assert load_dict_csv(str(p)) == {"a": "1", "b": "2"}

    p.write_text("a,1\na,2\n")
    with pytest.raises(ValueError, match="hash crash"):
        load_dict_csv(str(p))

    p.write_text("a,1,extra\n")
    with pytest.raises(ValueError, match="length is not 2"):
        load_dict_csv(str(p))

    p.write_text("")
    with pytest.raises(ValueError, match="empty file"):
        load_dict_csv(str(p))

    p.write_text("a,1\nb,2\nc,3\n")
    assert load_dict_csv(str(p), max_dict_size=2) == {"a": "1", "b": "2"}


def test_dictmap_csv_factory(spark, tmp_path):
    from ilogtail_spark.operators.registry import OPERATORS

    p = tmp_path / "roles.csv"
    p.write_text("user,human\nassistant,model\n")
    fn = OPERATORS["processor_dict_map"](
        DictFilePath=str(p), SourceKey="role", DestKey="role_class"
    )
    df = spark.createDataFrame(
        [("a", "user"), ("b", "robot")], ["id", "role"]
    )
    out = {r["id"]: r["role_class"] for r in fn(df).collect()}
    assert out == {"a": "human", "b": "Unknown"}


def test_dictmap_factory_null_source_maps_to_missing(spark):
    from ilogtail_spark.operators.registry import OPERATORS

    fn = OPERATORS["processor_dict_map"](
        MapDict={"user": "human"}, SourceKey="role", DestKey="role_class",
        Missing="none",
    )
    df = spark.createDataFrame([("a", "user"), ("b", None)], "id string, role string")
    out = {r["id"]: r["role_class"] for r in fn(df).collect()}
    assert out == {"a": "human", "b": "none"}


def test_dictmap_factory_yaml_int_key_matches_string(spark):
    """Go's map[string]string: a YAML ``200: ok`` entry is the string
    key "200", so it matches a string source value and an int one."""
    import yaml

    from ilogtail_spark.operators.registry import OPERATORS

    cfg = yaml.safe_load("MapDict:\n  200: ok\n  404: missing\n")
    assert 200 in cfg["MapDict"]
    fn = OPERATORS["processor_dict_map"](
        MapDict=cfg["MapDict"], SourceKey="status", DestKey="status_text"
    )
    df = spark.createDataFrame(
        [(1, "200", 404), (2, "500", 200)], "id int, status string, code int"
    )
    out = {r["id"]: r["status_text"] for r in fn(df).collect()}
    assert out == {1: "ok", 2: "Unknown"}
    fn = OPERATORS["processor_dict_map"](
        MapDict=cfg["MapDict"], SourceKey="code", DestKey="code_text"
    )
    out = {r["id"]: r["code_text"] for r in fn(df).collect()}
    assert out == {1: "missing", 2: "ok"}


import pytest as _pytest


@_pytest.mark.parametrize("strategy", ["broadcast", "union_window"])
def test_as_of_join_semantics(spark, strategy):
    """Latest right row at-or-before the left timestamp; no earlier
    right row → null; equal timestamps are INCLUSIVE — both physical
    strategies agree."""
    from ilogtail_spark.operators.transform import as_of_join

    left = spark.createDataFrame(
        [("k1", 5, "e1"), ("k1", 10, "e2"), ("k1", 20, "e3"), ("k2", 7, "e4")],
        "key string, ts int, ev string",
    )
    right = spark.createDataFrame(
        [("k1", 10, "v10"), ("k1", 15, "v15"), ("k3", 1, "vx")],
        "key string, ts int, version string",
    )
    out = {
        r["ev"]: r["version"]
        for r in as_of_join(
            left, right, ["key"], "ts", "ts", ["version"], strategy=strategy
        ).collect()
    }
    assert out == {
        "e1": None,     # before any version
        "e2": "v10",    # inclusive at equal ts
        "e3": "v15",    # latest wins
        "e4": None,     # key with no versions at all
    }


def test_as_of_join_null_right_value_and_collision(spark):
    """A genuinely-NULL latest right value must be returned (not the
    previous non-null one); colliding column names error out loudly."""
    import pytest

    from ilogtail_spark.operators.transform import as_of_join

    left = spark.createDataFrame([("k", 6, "e")], "key string, ts int, ev string")
    right = spark.createDataFrame(
        [("k", 1, "a"), ("k", 5, None)], "key string, ts int, cfg string"
    )
    for strat in ("broadcast", "union_window"):
        out = as_of_join(
            left, right, ["key"], "ts", "ts", ["cfg"], strategy=strat
        ).first()
        assert out["cfg"] is None, strat  # latest version IS null, not 'a'

    clash_left = left.withColumnRenamed("ev", "cfg")
    with pytest.raises(ValueError, match="collide"):
        as_of_join(clash_left, right, ["key"], "ts", "ts", ["cfg"])


def test_anchor_adjacent_anchors_empty_value(spark):
    """r5 review: Stop immediately after Start is a MATCH with the
    empty value (anchor.go strings.Index == 0), not a miss."""
    from ilogtail_spark.operators.transform import anchor

    df = spark.createDataFrame([("a[]b",), ("a[x]b",), ("ab",)],
                               "text string")
    out = [r["v"] for r in anchor(df, "text", "[", "]", "v").collect()]
    assert out == ["", "x", None]


def _tag_cols(df):
    return {
        c[len("__tag__"):]: df.first()[c]
        for c in df.columns if c.startswith("__tag__")
    }


def test_tag_native_unittest_replay(spark):
    """ProcessorTagNativeUnittest::TestProcess (open-source branch),
    all four cases: default key set, explicit __default__, rename via
    PipelineMetaTagKey + AgentEnvMetaTagKey, and ""-delete with an
    empty env allowlist. __source__/__machine_uuid__ always stamp."""
    from ilogtail_spark.operators.registry import OPERATORS

    base = spark.createDataFrame([(1,)], "id int")
    host = dict(hostname="host-1", host_ip="10.0.0.9", machine_uuid="uuid-1",
                env_tags={"test_env_tag_key": "test_env_tag_value"})

    # case 1: PipelineMetaTagKey={} -> defaults
    out = _tag_cols(OPERATORS["processor_tag_native"](
        PipelineMetaTagKey={}, **host)(base))
    assert out["__hostname__"] == "host-1"
    assert out["__host_ip__"] == "10.0.0.9"
    assert out["test_env_tag_key"] == "test_env_tag_value"
    assert out["__source__"] == "10.0.0.9"
    assert out["__machine_uuid__"] == "uuid-1"

    # case 2: explicit __default__ markers
    out2 = _tag_cols(OPERATORS["processor_tag_native"](
        PipelineMetaTagKey={"HOST_NAME": "__default__",
                            "HOST_IP": "__default__"}, **host)(base))
    assert out2 == out

    # case 3: rename + env allowlist rename
    out3 = _tag_cols(OPERATORS["processor_tag_native"](
        PipelineMetaTagKey={"HOST_NAME": "test_host_name",
                            "HOST_IP": "test_host_ip"},
        AgentEnvMetaTagKey={"test_env_tag_key": "test_env_tag_key_2"},
        **host)(base))
    assert out3["test_host_name"] == "host-1"
    assert out3["test_host_ip"] == "10.0.0.9"
    assert out3["test_env_tag_key_2"] == "test_env_tag_value"
    assert "test_env_tag_key" not in out3
    assert "__hostname__" not in out3 and "__host_ip__" not in out3
    assert "__source__" in out3 and "__machine_uuid__" in out3

    # case 4: "" deletes; empty AgentEnvMetaTagKey drops all env tags
    out4 = _tag_cols(OPERATORS["processor_tag_native"](
        PipelineMetaTagKey={"HOST_NAME": "", "HOST_IP": ""},
        AgentEnvMetaTagKey={}, **host)(base))
    assert "__hostname__" not in out4 and "__host_ip__" not in out4
    assert "test_env_tag_key" not in out4
    assert "__source__" in out4 and "__machine_uuid__" in out4

    # legacy plain-tags form unchanged
    out5 = _tag_cols(OPERATORS["processor_tag_native"](
        tags={"env": "prod"})(base))
    assert out5 == {"env": "prod"}


def test_encrypt_native_openssl_goldens(spark):
    """processor_encrypt exact wire format vs the Go plugin
    (processor_encrypt.go:92-207; testProcess plaintexts): hex Key ->
    AES-256-CBC with the default all-zero IV, PKCS7 (empty input
    encrypts to one full padding block), LOWERCASE hex ciphertext with
    NO IV prefix — byte-identical to `openssl enc -aes-256-cbc`."""
    import shutil
    import subprocess

    from ilogtail_spark.operators.registry import OPERATORS
    from ilogtail_spark.operators.transform import decrypt_fields_native

    key_hex = "000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f"
    plaintexts = ["0123456", "0123456789012345", ""]  # pad / pad-all / empty
    df = spark.createDataFrame([(i, p) for i, p in enumerate(plaintexts)],
                               "id int, source string")
    fn = OPERATORS["processor_encrypt"](
        SourceKeys=["source"], EncryptionParameters={"Key": key_hex},
    )
    got = {r.id: r.source for r in fn(df).collect()}
    if shutil.which("openssl"):
        for i, p in enumerate(plaintexts):
            o = subprocess.run(
                ["openssl", "enc", "-aes-256-cbc", "-K", key_hex,
                 "-iv", "0" * 32],
                input=p.encode(), capture_output=True, check=True,
            )
            assert got[i] == o.stdout.hex(), (p, got[i])
    else:  # pinned goldens (from the openssl run above)
        assert got[0] == "c288822f72c23e3af45f2bf50572808e"
        assert got[2] == "9f3b7504926f8bd36e3118e903a4cd4a"
    assert all(len(v) % 32 == 0 for v in got.values())  # blockSize*2
    # decrypt twin roundtrips
    back = decrypt_fields_native(fn(df), ["source"], key_hex)
    assert {r.id: r.source for r in back.collect()} == dict(enumerate(plaintexts))
    # Init-style validation: bad key/IV sizes raise like the Go Init
    import pytest as _pytest

    with _pytest.raises(ValueError):
        OPERATORS["processor_encrypt"](
            SourceKeys=["source"], EncryptionParameters={"Key": "0011"},
        )(df)
    with _pytest.raises(ValueError):
        OPERATORS["processor_encrypt"](
            SourceKeys=["source"],
            EncryptionParameters={"Key": key_hex, "IV": "00"},
        )(df)


def test_encrypt_native_key_file(tmp_path, spark):
    """The key file is a JSON document unmarshaled over
    EncryptionParameters (processor_encrypt.go:158-167) — it may carry
    Key AND IV; raw-hex content is an Init error there and here."""
    import json

    import pytest as _pytest

    from ilogtail_spark.operators.registry import OPERATORS

    key_hex = "00112233445566778899aabbccddeeff"  # AES-128
    kf = tmp_path / "aes.key"
    kf.write_text(json.dumps({"Key": key_hex, "IV": "11" * 16}))
    df = spark.createDataFrame([("secret",)], "source string")
    fn = OPERATORS["processor_encrypt"](
        SourceKeys=["source"],
        EncryptionParameters={"KeyFilePath": str(kf)},
    )
    out = fn(df).first().source
    assert out and out == out.lower() and len(out) % 32 == 0
    # the file IV participates: same key with the default zero IV
    # yields different bytes
    fn0 = OPERATORS["processor_encrypt"](
        SourceKeys=["source"], EncryptionParameters={"Key": key_hex},
    )
    assert fn0(df).first().source != out
    # raw-hex file content = Go json.Unmarshal error = Init failure
    bad = tmp_path / "raw.key"
    bad.write_text(key_hex + "\n")
    with _pytest.raises(ValueError):
        OPERATORS["processor_encrypt"](
            SourceKeys=["source"],
            EncryptionParameters={"KeyFilePath": str(bad)},
        )


def test_encrypt_explicit_empty_iv_raises(spark):
    """Go parseIV: an explicitly empty IV is an Init error; only an
    absent IV takes the zero-IV default."""
    import pytest as _pytest

    from ilogtail_spark.operators.registry import OPERATORS

    key_hex = "00112233445566778899aabbccddeeff"
    with _pytest.raises(ValueError, match="IV is empty"):
        OPERATORS["processor_encrypt"](
            SourceKeys=["source"], EncryptionParameters={"Key": key_hex, "IV": ""},
        )
    df = spark.createDataFrame([("secret",)], "source string")
    absent = OPERATORS["processor_encrypt"](
        SourceKeys=["source"], EncryptionParameters={"Key": key_hex},
    )
    zero = OPERATORS["processor_encrypt"](
        SourceKeys=["source"], EncryptionParameters={"Key": key_hex, "IV": "0" * 32},
    )
    assert absent(df).first().source == zero(df).first().source


def test_encrypt_missing_source_keys_raises():
    import pytest as _pytest

    from ilogtail_spark.operators.registry import OPERATORS

    for keys in (None, []):
        with _pytest.raises(ValueError, match="SourceKeys"):
            OPERATORS["processor_encrypt"](
                SourceKeys=keys, EncryptionParameters={"Key": "00" * 16},
            )


def test_drop_last_key_go_include_form(spark):
    """processor_drop_last_key exact Go semantics
    (processor_drop_last_key.go:63-79 + its test fixtures): DropKey is
    dropped on rows where ANY Include key is present; rows without an
    Include key keep it; empty DropKey/Include are Init errors."""
    import pytest as _pytest

    from ilogtail_spark.operators.registry import OPERATORS
    from ilogtail_spark.operators.transform import drop_last_key

    df = spark.createDataFrame(
        [(1, "123", None, "234"), (2, None, None, "234"),
         (3, None, "t", "234")],
        "id int, src string, test string, xxx string",
    )
    fn = OPERATORS["processor_drop_last_key"](
        Include=["src", "test"], DropKey="src"
    )
    got = {r.id: r.src for r in fn(df).collect()}
    # row 1: src present -> dropped; row 2: no Include key -> kept
    # (NULL already); row 3: test present -> src dropped (is NULL)
    assert got == {1: None, 2: None, 3: None}
    df2 = spark.createDataFrame([(1, "v", "k")], "id int, src string, test string")
    assert OPERATORS["processor_drop_last_key"](
        Include=["nope"], DropKey="src"
    )(df2).first().src == "v"  # no Include key present anywhere: kept
    with _pytest.raises(ValueError):
        drop_last_key(df2, "", include=["src"])
    with _pytest.raises(ValueError):
        drop_last_key(df2, "src", include=[])


def test_drop_last_key_include_in_attrs(spark):
    """An Include key present only in the attrs KV bag still drops the
    DropKey; a row without it keeps the DropKey."""
    from ilogtail_spark.operators.transform import drop_last_key

    df = spark.createDataFrame(
        [(1, "raw", {"k": "v"}), (2, "raw", {})],
        "id int, src string, attrs map<string,string>",
    )
    out = drop_last_key(df, "src", include=["k"])
    assert {r.id: r.src for r in out.collect()} == {1: None, 2: "raw"}
