"""Replay the reference's SHIPPED real-world user configs
(example_config/user_contrib/*.md — 27 community-contributed
collection configs, each with a documented sample input and expected
output) through pipeline_from_yaml + the operator registry.

20 of 27 replay EXACTLY (every expected output row matched, modulo
the doc's own meta keys __time__/__tag__:*). The other 7 carry bugs
in the docs themselves, adjudicated against the reference plugin
code in KNOWN_DEVIATIONS below — in each case our output matches
what the reference plugins would actually produce, not the doc's
hand-written expectation.
"""

from __future__ import annotations

import glob
import json
import os
import re

import pytest
import yaml

DIR = "/root/reference/example_config/user_contrib"

needs_reference = pytest.mark.skipif(
    not os.path.isdir(DIR), reason=f"needs {DIR}: reference tree absent"
)

META = re.compile(r"^(__tag__:|__time__$|__path__$|__topic__$|__source__$)")

# doc-level bugs, each verified against the reference plugin source:
KNOWN_DEVIATIONS = {
    "Git-commit-log.md":
        "output sample comes from a longer git log than the input "
        "sample (expected hashes d7e976d1/6d435e71 never appear in "
        "the input block); the input's own commits replay correctly",
    "c++-glog.md":
        "config's SplitRegex '\\[IWEF\\]' is an ESCAPED literal — "
        "split_log_regex fullMatch (split_log_regex.go:52-55) can "
        "never match a log line, so the plugin code merges the whole "
        "block into one log (our output); the doc expects the split "
        "the unescaped '[IWEF]...' would have produced",
    "java-springboot-logback.md": "doc ships no input sample",
    "linux-apache-errorlog.md":
        "input line 2 has day typo 'Wes Nov 22'; the doc's expected "
        "output shows 'Wed Nov 22' — the other rows replay exactly "
        "(asserted below)",
    "linux-var-log-auth.md":
        "the doc's YAML block is malformed (unescaped quote inside a "
        "double-quoted scalar, line 9)",
    "rsync-log-file.md":
        "first processor_regex declares 6 Keys over 5 capture groups "
        "— regex.go:115-120 treats that as parse failure for every "
        "row, so the plugin code never emits itemize/path; the doc "
        "output presumes the stage worked",
    "windows-logs-CBS.md":
        "config names its pattern param SplitRegex instead of Regex; "
        "Go compiles Regex '' (0 groups < 4 Keys -> all rows take "
        "the failure path, regex.go:115-120) and parses nothing; the "
        "doc output presumes parsing",
}


def _fence_after(md: str, headings):
    for h in headings:
        m = re.search(
            re.escape(h) + r".*?```[ \t]*[A-Za-z+-]*[ \t]*\r?\n(.*?)```",
            md,
            re.S,
        )
        if m:
            return m.group(1)
    return None


def _parse_expected(block: str):
    block = block.strip()
    try:
        j = json.loads(block)
        return j if isinstance(j, list) else [j]
    except Exception:
        pass
    dec = json.JSONDecoder()
    objs, i = [], 0
    try:
        while i < len(block):
            while i < len(block) and block[i] not in "{[":
                i += 1
            if i >= len(block):
                break
            obj, end = dec.raw_decode(block, i)
            objs.append(obj)
            i = end
        if objs:
            return [o for o in objs if isinstance(o, dict)]
    except Exception:
        objs = []
    out = []
    for line in block.splitlines():
        m = re.search(r"\{.*\}\s*$", line)
        if m:
            try:
                out.append(json.loads(m.group(0)))
            except Exception:
                return None
    return out or None


def _extract(path: str):
    md = open(path, newline="").read()
    cfg = _fence_after(md, ["## Configuration", "采集配置"])
    inp = _fence_after(md, ["Example Input", "日志输入样例", "输入样例"])
    exp = _fence_after(md, ["Example Output", "日志输出样例", "输出样例"])
    return cfg, inp, exp


def _flat(row) -> dict:
    d = {}
    for k, v in row.asDict().items():
        if k in ("conv_id", "turn_idx", "__parse_ok__", "__raw_log__"):
            continue
        if isinstance(v, dict):
            for k2, v2 in v.items():
                if v2 is not None:
                    d[k2] = str(v2)
        elif v is not None:
            d[k] = str(v)
    return d


def _replay(spark, cfg_text: str, inp: str):
    """Run a config's chain over its sample input; returns flat dicts.
    A leading splitter/accelerate processor receives the sample as ONE
    read block (the file reader's shape); otherwise one event per
    line. CRLF docs normalize to the common LF reader behavior."""
    from ilogtail_spark.plans.pipeline import pipeline_from_yaml

    c = yaml.safe_load(cfg_text)
    procs = (c or {}).get("processors") or []
    first = procs[0].get("Type") if procs else ""
    block_mode = first in ("processor_split_log_regex", "processor_regex_accelerate")
    inp = inp.replace("\r\n", "\n").rstrip("\n")
    if block_mode:
        rows = [("c1", 0, inp)]
    else:
        rows = [("c1", i, l) for i, l in enumerate(inp.split("\n"))]
    transform, _ = pipeline_from_yaml(cfg_text)
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, content string"
    )
    return [_flat(r) for r in transform(df).orderBy("turn_idx").collect()]


def _match(got: list[dict], expected: list[dict]) -> list[str]:
    """Each expected row (meta keys stripped) must match a distinct
    got row on every key; docs omit raw/unparsed passthrough events,
    so got may be a superset. Trailing-\\r differences are the doc's
    own mixed line-ending encoding — normalized on both sides."""
    exp_clean = [
        {k: str(v) for k, v in e.items() if not META.match(k)} for e in expected
    ]
    exp_clean = [e for e in exp_clean if e]
    remaining = list(got)
    problems = []
    for i, e in enumerate(exp_clean):
        hit = None
        for g in remaining:
            if all(
                (g.get(k) or "").rstrip("\r") == v.rstrip("\r")
                for k, v in e.items()
            ):
                hit = g
                break
        if hit is None:
            problems.append(f"expected row {i} unmatched: {e}")
        else:
            remaining.remove(hit)
    return problems


def _docs():
    return sorted(os.path.basename(p) for p in glob.glob(DIR + "/*.md"))


@needs_reference
def test_inventory_complete():
    docs = _docs()
    assert len(docs) == 27
    assert set(KNOWN_DEVIATIONS) <= set(docs)


@pytest.mark.parametrize("name", [d for d in _docs() if d not in KNOWN_DEVIATIONS])
def test_user_contrib_exact(spark, name):
    cfg, inp, exp_block = _extract(os.path.join(DIR, name))
    assert cfg and inp and exp_block, f"{name}: extraction failed"
    expected = _parse_expected(exp_block)
    assert expected, f"{name}: expected-output block unparseable"
    got = _replay(spark, cfg, inp)
    problems = _match(got, expected)
    assert not problems, f"{name}: " + "; ".join(problems[:3])


@needs_reference
def test_apache_errorlog_modulo_doc_typo(spark):
    """linux-apache-errorlog replays exactly once the doc's 'Wes'
    day-typo row is set aside (KNOWN_DEVIATIONS)."""
    name = "linux-apache-errorlog.md"
    cfg, inp, exp_block = _extract(os.path.join(DIR, name))
    expected = [
        e for e in _parse_expected(exp_block)
        if e.get("timestamp") != "Wed Nov 22 10:48:22.123483 2013"
    ]
    assert len(expected) == 2
    got = _replay(spark, cfg, inp)
    assert not _match(got, expected)


@needs_reference
def test_glog_matches_plugin_code_not_doc(spark):
    """c++-glog: the escaped SplitRegex cannot split (fullMatch of a
    literal '[IWEF]'), so the whole block merges into ONE log — the
    reference plugin's actual behavior (KNOWN_DEVIATIONS)."""
    cfg, inp, _ = _extract(os.path.join(DIR, "c++-glog.md"))
    got = _replay(spark, cfg, inp)
    assert len(got) == 1


@needs_reference
def test_git_commit_log_input_commits_replay(spark):
    """Git-commit-log: the doc's own input commits parse correctly;
    only the doc's output sample (from a different log) diverges."""
    cfg, inp, _ = _extract(os.path.join(DIR, "Git-commit-log.md"))
    got = _replay(spark, cfg, inp)
    hashes = {g.get("hash") for g in got}
    assert "73669da2a51694cac0563fd1c93a79394bfc2e60" in hashes
    assert all(g.get("author") for g in got)
