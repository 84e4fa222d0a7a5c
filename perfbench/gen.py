"""Seeded inputs for the benchmark, generated with numpy and pyarrow only.

The engine receives nothing but the parquet files written here, so a change
to the engine's own generators (`sources/transcripts.py`, `bench.py`) cannot
change what the benchmark measures.

Transcripts follow FIXTURES.md section 1: Zipf(1.2) turns per conversation,
15/30/60 s inter-turn regimes per 32-turn block, about 2% gap turns
(delta = k * 60 s, k in 2..9), and per-conversation word-count runs that are
constant, ramping or noisy, so every model of the compression cascade wins
somewhere. The registry tables have the schemas of the engine's test
tables, sized by `scale`.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH0_MS = 1_700_000_000_000
SI_MS = 60_000
DAY_MS = 86_400_000
VOCAB = np.array(
    "the spark segment model stream rollup window batch merge scan "
    "filter join bucket gap swing mean delta bits codec tier".split()
)
ROLES = np.array(["user", "assistant", "tool"])
TOOLS = np.array(["bash", "search", ""])

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def _texts(rng: np.random.Generator, n_words: np.ndarray) -> list[str]:
    words = VOCAB[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    starts = ends - n_words
    return [" ".join(words[s:e]) for s, e in zip(starts.tolist(), ends.tolist())]


def transcripts(
    seed: int,
    n_turns: int,
    n_convs: int,
    conv_prefix: str = "conv",
    t0_ms: int = EPOCH0_MS,
    span_ms: int = 3 * DAY_MS,
) -> pa.Table:
    """About `n_turns` turns over `n_convs` conversations, deterministic in
    `seed`. Conversation ids are `f"{conv_prefix}{i:08d}"`."""
    rng = np.random.default_rng(seed)
    # Zipf(1.2) over a seeded rank permutation: a few hot conversations
    rank = rng.permutation(n_convs) + 1
    w = rank.astype(np.float64) ** -1.2
    per_conv = np.maximum(4, np.floor(n_turns * w / w.sum())).astype(np.int64)
    total = int(per_conv.sum())
    conv = np.repeat(np.arange(n_convs), per_conv)
    first = np.cumsum(per_conv) - per_conv
    turn_idx = np.arange(total) - np.repeat(first, per_conv)

    block = turn_idx // 32
    regime = np.array([15_000, 30_000, 60_000])[
        (np.repeat(rng.integers(0, 3, n_convs), per_conv) + block) % 3
    ]
    gap = rng.random(total) < 0.02
    delta = np.where(gap, rng.integers(2, 10, total) * SI_MS, regime)
    delta[first] = 0
    csum = np.cumsum(delta)
    ts_ms = (
        np.repeat(t0_ms + rng.integers(0, span_ms, n_convs), per_conv)
        + csum - np.repeat(csum[first], per_conv)
    )

    # word-count runs: 0 constant per block, 1 ramp inside a block, 2 noise
    mode = np.repeat(rng.integers(0, 3, n_convs), per_conv)
    base = np.repeat(rng.integers(3, 40, n_convs), per_conv)
    n_words = np.where(
        mode == 0,
        base + block % 4,
        np.where(mode == 1, base + turn_idx % 32, rng.integers(1, 80, total)),
    )
    role_i = turn_idx % 3
    tool = np.where(role_i == 2, TOOLS[rng.integers(0, 3, total)], None)
    ids = np.array([f"{conv_prefix}{i:08d}" for i in range(n_convs)], dtype=object)
    return pa.table(
        {
            "conv_id": ids[conv],
            "turn_idx": turn_idx.astype(np.int32),
            "role": ROLES[role_i],
            "text": _texts(rng, n_words),
            "tool": pa.array(tool, pa.string()),
            "ts": pa.array(ts_ms * 1000, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        },
        schema=TRANSCRIPT_SCHEMA,
    )


def registry_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The events and lineitem tables in the shapes `queries.QUERIES` reads,
    with `scale` = 1.0 giving 100k events and 600k line items. Events cover
    January 2024, which holds the registry's fixed time ranges."""
    rng = np.random.default_rng(seed)
    n_ev = int(100_000 * scale)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = np.sort(t0 + rng.integers(0, 30 * DAY_MS * 1000, n_ev).astype("timedelta64[us]"))
    events = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ev_ts,
            "user_id": rng.integers(0, max(2, int(15_000 * scale)), n_ev),
            "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
                rng.integers(0, 5, n_ev)
            ],
            "value": np.round(rng.gamma(2.0, 40.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()],
        }
    )
    n_li = int(600_000 * scale)
    d0 = np.datetime64("1995-01-01T00:00:00", "us")
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, max(2, n_li // 4), n_li),
            "l_partkey": rng.integers(0, 20_000, n_li),
            "l_suppkey": rng.integers(0, 1_000, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 100_000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": d0
            + (rng.integers(0, 2500, n_li) * 86_400_000_000).astype("timedelta64[us]"),
        }
    )
    return {"events": events, "lineitem": lineitem}


def write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path, row_group_size=1 << 16)
    return path
