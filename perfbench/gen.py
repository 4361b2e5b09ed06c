"""Seeded transcripts generator with ground-truth labels.

Writes the transcripts table the pipeline consumes — ``(conv_id,
turn_idx, role, text, tool, ts)`` — as a parquet directory with the
FIXTURES.md section 1 proportions, and returns the labels it drew so
the benchmark can check the pipeline's outputs without asking the
pipeline:

* about 2/7 (~29%) of turns sit in one hot conversation;
* text is 70% parseable / 20% prose / 10% malformed;
* roles are user/assistant/system/tool at 40/40/5/15, tools are
  bash/read/write/search/none at equal weights.

The seed changes every drawn value but none of the proportions.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "system", "tool"])
ROLE_P = [0.40, 0.40, 0.05, 0.15]
TOOLS = np.array(["bash", "read", "write", "search", "none"])
METHODS = np.array(["GET", "POST", "PUT", "DELETE"])
STATUSES = np.array([200, 404, 500, 503])
STATUS_P = [6 / 9, 1 / 9, 1 / 9, 1 / 9]
EVENT_TYPES = np.array(
    ["page_view", "click", "search", "add_to_cart", "purchase", "login", "logout"]
)
KIND_P = [0.7, 0.2, 0.1]  # parseable / prose / malformed
HOT_SHARE = 2 / 7
HOT_CONV_ID = "conv-hot00000"
SINKS = ("sink_errors", "sink_tools", "sink_parse_fail", "sink_all", "default")
FILES = 8
SPAN_HOURS = 48
BASE_US = 1_700_000_000 // 3600 * 3600 * 1_000_000  # on an hour boundary


@dataclass
class Labels:
    """What the generator drew, and the outputs it implies."""

    n: int
    parse_fail: int
    unknown_rows: int  # role or tool without a dictmap entry
    sink_counts: dict[str, int]
    sink_fail: dict[str, int]
    histogram: dict[tuple[int, str, str], int]


def _str(values: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(values), pa.string())


def _pick(names: np.ndarray, codes: np.ndarray) -> pa.Array:
    return pc.take(pa.array(names), pa.array(codes))


def generate(seed: int, n: int, out_dir: str) -> Labels:
    """Write ``n`` seeded turns as ``FILES`` parquet files under
    ``out_dir`` and return their labels."""
    rng = np.random.default_rng(seed)
    kind = rng.choice(3, size=n, p=KIND_P)
    role = rng.choice(len(ROLES), size=n, p=ROLE_P)
    tool = rng.integers(0, len(TOOLS), size=n)
    status = STATUSES[rng.choice(len(STATUSES), size=n, p=STATUS_P)]
    method = rng.integers(0, len(METHODS), size=n)
    event = rng.integers(0, len(EVENT_TYPES), size=n)
    latency = rng.integers(0, 5000, size=n)
    version = rng.integers(1, 4, size=n)
    hot = rng.random(n) < HOT_SHARE

    # cold turns fill conversations of 2..9 turns in arrival order
    n_cold = int((~hot).sum())
    lengths = rng.integers(2, 10, size=n_cold // 2 + 1)
    starts = np.concatenate([[0], np.cumsum(lengths)])
    conv_of_cold = np.searchsorted(starts, np.arange(n_cold), side="right") - 1
    conv_num = np.full(n, -1, dtype=np.int64)
    conv_num[~hot] = conv_of_cold
    turn_idx = np.empty(n, dtype=np.int32)
    turn_idx[hot] = np.arange(int(hot.sum()))
    turn_idx[~hot] = np.arange(n_cold) - starts[conv_of_cold]
    conv_id = pc.if_else(
        pa.array(hot), HOT_CONV_ID,
        pc.binary_join_element_wise("conv-", pc.utf8_lpad(_str(conv_num), 8, "0"), ""),
    )

    status_s = _str(status)
    err = pc.if_else(
        pa.array(status == 200), "-", pc.binary_join_element_wise("E", status_s, "")
    )
    tool_s = _pick(TOOLS, tool)
    ev_s = _pick(EVENT_TYPES, event)
    parseable = pc.binary_join_element_wise(
        "invoke tool=", tool_s, " status=", status_s,
        " latency_ms=", _str(latency), ' "', _pick(METHODS, method),
        " /api/v", _str(version), "/", ev_s, '" err=', err, "",
    )
    idx = _str(np.arange(n))
    prose = pc.binary_join_element_wise(
        "the assistant considered ", ev_s, " and replied with plain prose turn ", idx, "",
    )
    malformed = pc.binary_join_element_wise(
        "invoke tool= status=XX latency_ms= oops ", idx, ""
    )
    text = pc.case_when(
        pc.make_struct(pa.array(kind == 0), pa.array(kind == 1)),
        parseable, prose, malformed,
    )
    ts_us = BASE_US + np.arange(n, dtype=np.int64) * (SPAN_HOURS * 3_600_000_000 // n)

    table = pa.table({
        "conv_id": conv_id,
        "turn_idx": pa.array(turn_idx, type=pa.int32()),
        "role": _pick(ROLES, role),
        "text": text,
        "tool": tool_s,
        "ts": pa.array(ts_us, type=pa.timestamp("us")),
    })
    os.makedirs(out_dir, exist_ok=True)
    step = -(-n // FILES)
    for f in range(FILES):
        pq.write_table(
            table.slice(f * step, step),
            os.path.join(out_dir, f"part-{f:05d}.parquet"),
        )
    return _labels(kind == 0, role, tool, status, ts_us)


def _labels(parse_ok, role, tool, status, ts_us) -> Labels:
    """The routing table of FIXTURES.md section 3 applied to the drawn
    values, as plain numpy."""
    fail = ~parse_ok
    is_role_tool = role == list(ROLES).index("tool")
    member = {
        "sink_errors": parse_ok & (status != 200),
        "sink_tools": is_role_tool | (parse_ok & (tool != list(TOOLS).index("none"))),
        "sink_parse_fail": fail,
        "sink_all": np.ones(len(parse_ok), dtype=bool),
    }
    member["default"] = ~(
        member["sink_errors"] | member["sink_tools"] | member["sink_parse_fail"]
    )
    hour = ts_us // 3_600_000_000
    histogram: dict[tuple[int, str, str], int] = {}
    for sink, m in member.items():
        sel = m & parse_ok
        keys, counts = np.unique(hour[sel] * len(TOOLS) + tool[sel], return_counts=True)
        for k, c in zip(keys.tolist(), counts.tolist()):
            histogram[(k // len(TOOLS), sink, str(TOOLS[k % len(TOOLS)]))] = c
    unknown = (role == list(ROLES).index("system")) | (tool == list(TOOLS).index("none"))
    return Labels(
        n=len(parse_ok),
        parse_fail=int(fail.sum()),
        unknown_rows=int(unknown.sum()),
        sink_counts={s: int(m.sum()) for s, m in member.items()},
        sink_fail={s: int((m & fail).sum()) for s, m in member.items()},
        histogram=histogram,
    )
