"""Seeded change-event log generator for the benchmark.

Self-contained on purpose: the benchmark's inputs must not change when
the program's own test generator does.  Files are written with the
wire schema of `dipper_spark.schemas.CHANGELOG_SCHEMA`
(lsn, op, ts, conv_id, turn_idx, payload, source, source_offset).

Make-up of a log (see README.md for the figures):
  - conversations with 1..8 turns; every key gets one initial insert;
  - extra events per insert (U 78%, D 12%, re-insert I 10%): 30% hit
    one hot conversation, the rest spread power-law over the others;
  - event time = commit time + uniform jitter of up to +-120 s, so the
    last writer by (ts, lsn) is not always the last by lsn;
  - 5% of events are redelivered (same lsn, same ts, same payload);
  - delivery order is scrambled within a window of 64 positions, and 1%
    of events straggle 1-3 files late, so later files (micro-batches)
    carry stale events the merge must reject;
  - 8% of texts are NFD and/or carry edge whitespace (space, tab,
    newline); 4% of roles carry edge spaces;
  - events before `v2_from(n)` carry v1 payloads without tool/meta;
  - 0.3% of inserts/updates carry truncated JSON, 0.2% of events an
    unknown op code.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = np.datetime64("2026-03-01T00:00:00", "us")
SPAN_US = 6 * 3600 * 1_000_000  # commit times spread over six hours
MAX_TURNS = 8
JITTER_US = 120 * 1_000_000
EXTRA_RATE = 1.2  # extra events per initial insert
HOT_FRAC = 0.3  # share of the extras on the hot conversation
DUP_RATE = 0.05  # redelivered share
WINDOW = 64  # delivery scramble, in positions
STRAGGLE_RATE = 0.01  # share delivered 1-3 files late

# same columns and types as dipper_spark.schemas.CHANGELOG_SCHEMA
WIRE_SCHEMA = pa.schema([
    ("lsn", pa.int64()), ("op", pa.string()), ("ts", pa.timestamp("us")),
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("payload", pa.string()),
    ("source", pa.string()), ("source_offset", pa.int64()),
])

_WORDS = np.array("alpha beta gamma delta merge stream table batch commit query "
                  "lake turn reply tool token event order window state write".split())
_NFD_WORDS = np.array(["café", "niño", "résumé", "Ångström"])
_EDGES = np.array(["  ", "\t", "\n ", " \t"])


def _texts(rng: np.random.Generator, n: int) -> np.ndarray:
    w = _WORDS[rng.integers(0, len(_WORDS), size=(n, 4))]
    tag = rng.integers(0, 1 << 40, size=n).astype(str)
    base = pd.Series(w[:, 0]) + " " + w[:, 1] + " " + w[:, 2] + " " + w[:, 3] + " " + tag
    kind = rng.random(n)
    nfd = kind < 0.04
    edge = (kind >= 0.02) & (kind < 0.08)
    base[nfd] = base[nfd] + " " + _NFD_WORDS[rng.integers(0, len(_NFD_WORDS), size=int(nfd.sum()))]
    k = int(edge.sum())
    base[edge] = (_EDGES[rng.integers(0, len(_EDGES), size=k)] + base[edge]
                  + _EDGES[rng.integers(0, len(_EDGES), size=k)])
    return base.to_numpy(object)


def _json_str(s: pd.Series) -> pd.Series:
    """JSON string literals; json.dumps only for rows that need escapes."""
    out = '"' + s.fillna("") + '"'
    needs = s.str.contains(r'["\\\x00-\x1f]', regex=True, na=False).to_numpy()
    if needs.any():
        out[needs] = s[needs].map(lambda x: json.dumps(x, ensure_ascii=False))
    return out


def make_events(seed: int, n_conv: int, v2_from) -> pd.DataFrame:
    """Logical log in lsn (commit) order: lsn, op, ts, conv_id, turn_idx, payload,
    source, source_offset.  Conversation 0 is the hot one; `v2_from(n)`
    gives the first lsn with a v2 payload for a log of n events."""
    rng = np.random.default_rng(seed)
    turns = rng.integers(1, MAX_TURNS + 1, size=n_conv)
    start = rng.integers(0, SPAN_US, size=n_conv)
    conv_i = np.repeat(np.arange(n_conv), turns)
    turn_i = np.concatenate([np.arange(t) for t in turns])
    ins_commit = start[conv_i] + turn_i * 7_000_000
    n_ins = len(conv_i)

    n_extra = int(n_ins * EXTRA_RATE)
    hot = rng.random(n_extra) < HOT_FRAC
    cold = np.minimum((rng.random(n_extra) ** 3 * (n_conv - 1)).astype(np.int64) + 1, n_conv - 1)
    conv_e = np.where(hot, 0, cold)
    turn_e = (rng.random(n_extra) * turns[conv_e]).astype(np.int64)
    u = rng.random(n_extra)
    op_e = np.where(u < 0.78, "U", np.where(u < 0.90, "D", "I"))
    # the hot conversation is busy for the whole span; others for ~1 hour
    # after their turn was first written
    key_commit = start[conv_e] + turn_e * 7_000_000
    delay = np.where(hot, rng.integers(1_000_000, SPAN_US, size=n_extra),
                     rng.integers(1_000_000, 3600 * 1_000_000, size=n_extra))
    ext_commit = np.where(hot, delay, key_commit + delay)

    conv = np.concatenate([conv_i, conv_e])
    turn = np.concatenate([turn_i, turn_e]).astype(np.int32)
    op = np.concatenate([np.full(n_ins, "I"), op_e]).astype(object)
    commit = np.concatenate([ins_commit, ext_commit])
    # inserts of a key precede its extras when commit times tie
    order = np.lexsort((np.concatenate([np.zeros(n_ins), np.ones(n_extra)]), commit))
    conv, turn, op, commit = conv[order], turn[order], op[order], commit[order]
    n = len(order)
    lsn = np.arange(1, n + 1, dtype=np.int64)
    ts = EPOCH + (commit + rng.integers(-JITTER_US, JITTER_US + 1, size=n)).astype("timedelta64[us]")

    u = rng.random(n)
    role = np.where(u < 0.15, "tool", np.where(turn % 2 == 0, "user", "assistant")).astype(object)
    padded = rng.random(n) < 0.04
    role[padded] = " " + role[padded] + " "
    tool = np.where(u < 0.15, pd.Series(rng.integers(0, 6, size=n)).map("fn{}".format), None)
    text = _texts(rng, n)
    tokens = rng.integers(1, 2048, size=n)
    v2 = lsn >= v2_from(n)

    role_s, text_s, tool_s = pd.Series(role), pd.Series(text), pd.Series(tool, dtype=object)
    payload = '{"role":' + _json_str(role_s) + ',"text":' + _json_str(text_s)
    payload = payload + np.where(v2 & tool_s.notna(), ',"tool":' + _json_str(tool_s), "")
    payload = payload + np.where(v2, ',"meta":{"tokens":' + pd.Series(tokens).astype(str) + "}}", "}")
    payload = payload.where(op != "D", None)

    # malformed share: truncated JSON on inserts/updates, unknown op codes
    bad = rng.random(n)
    trunc = (bad < 0.003) & (op != "D")
    payload[trunc] = payload[trunc].map(lambda p: p[: len(p) // 2])
    op[(bad >= 0.003) & (bad < 0.005)] = "X"

    src = rng.integers(0, 4, size=n)
    df = pd.DataFrame({
        "lsn": lsn, "op": op, "ts": ts,
        "conv_id": pd.Series(conv).map(lambda c: f"c{c:07d}"),
        "turn_idx": turn, "payload": payload, "source": pd.Series(src).map("wal{}".format),
    })
    df["source_offset"] = df.groupby("source").cumcount().astype(np.int64)
    return df


def deliver(events: pd.DataFrame, seed: int, file_events: list[int]) -> list[pd.DataFrame]:
    """Delivery layout: duplicates, bounded scramble, stragglers that
    cross file boundaries.  `file_events` lists the number of logical
    events per file, in lsn order; returns one frame per file."""
    rng = np.random.default_rng(seed ^ 0x5EED)
    n = len(events)
    assert sum(file_events) == n
    bounds = np.cumsum([0] + file_events)
    fidx = np.searchsorted(bounds, np.arange(n), side="right") - 1
    size = np.asarray(file_events, dtype=np.float64)[fidx]
    pos = np.arange(n) + rng.integers(-WINDOW, WINDOW + 1, size=n)
    strag = rng.random(n) < STRAGGLE_RATE
    pos = pos + np.where(strag, rng.uniform(1.0, 3.0, size=n) * size, 0)
    dup = np.flatnonzero(rng.random(n) < DUP_RATE)
    dpos = dup + rng.uniform(0, 2 * WINDOW, size=len(dup)) + np.where(
        rng.random(len(dup)) < 0.25, size[dup], 0)
    rows = np.concatenate([np.arange(n), dup])
    key = np.concatenate([pos, dpos])
    # file of a delivered row: place its delivery position among the lsn bounds
    f_of = np.clip(np.searchsorted(bounds, key, side="right") - 1, 0, len(file_events) - 1)
    order = np.lexsort((key, f_of))
    rows, f_of = rows[order], f_of[order]
    out = []
    for f in range(len(file_events)):
        out.append(events.iloc[rows[f_of == f]].reset_index(drop=True))
    return out


def write_file(frame: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(frame, schema=WIRE_SCHEMA, preserve_index=False),
                   path, row_group_size=65536)
