"""Streaming rolling z-score anomaly alerts: the ONLINE twin of
operators/analytics.rolling_zscore, for alerting while the data is in
flight instead of after the tier lands.

Same semantics, same bits: each point is scored against the TRAILING
window_buckets points of its series (itself excluded), z = (v*n - s) /
sqrt(n*ss - s^2) over exact int64 window sums, the flag the pure-integer
comparison (v*n - s)^2 > k^2 * (n*ss - s^2). The state per series is the
last window_buckets (ts, v) pairs — bounded, O(window) — carried by
applyInPandasWithState; inside the handler the window sums are numpy
cumsum differences (vectorized, never per-row Python loops), and the
float steps are the SAME correctly-rounded IEEE ops the batch expression
tree performs, so streamed rows equal the batch operator's rows exactly
at the frontier (pinned in tests/test_streaming_anomaly.py).

In-order contract: rows are processed in (ts_ms) order per series and a
row at or before the series' high-water mark is DROPPED from scoring,
mirroring the engine's batch ingest contract for late
arrivals — every drop increments the per-series n_late_dropped
counter carried on each emitted row, so lateness is observable, never
silent (reference analog: the in-order segment generator,
core/SegmentGenerator.java:152-304 — out-of-order input is a caller
error there too). Use the watermarked continuous aggregate
(streaming/rollup.py) when lateness tolerance matters more than alert
latency.

Scale notes: one shuffle on sid (the state key); state is
window-bounded per series; all arithmetic is vectorized numpy inside
Arrow batches. No timeouts: an idle series simply keeps its ring buffer
(window_buckets rows) until traffic resumes.
"""

from __future__ import annotations

import math
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = (
    "sid string, ts_ms long, v long, n_w long, s_w long, ss_w long, "
    "z double, is_anomaly boolean, n_late_dropped long"
)
STATE_SCHEMA = "ts array<long>, v array<long>, hwm long, dropped long"


def _score_block(
    sid: str,
    buf_v: np.ndarray,
    new_ts: np.ndarray,
    new_v: np.ndarray,
    window: int,
    minp: int,
    k: int,
) -> pd.DataFrame:
    """Score new rows against buffer + preceding new rows. Window sums
    are cumsum differences over the concatenated value array; the float
    z uses the identical IEEE ops (int->double exact below 2^53,
    correctly-rounded / and sqrt) as the batch SQL tree."""
    nb = len(buf_v)
    allv = np.concatenate([buf_v, new_v]).astype(np.int64)
    cs = np.concatenate([[0], np.cumsum(allv)])
    cs2 = np.concatenate([[0], np.cumsum(allv * allv)])
    pos = np.arange(nb, nb + len(new_v))
    lo = np.maximum(pos - window, 0)
    n_w = (pos - lo).astype(np.int64)
    s_w = cs[pos] - cs[lo]
    ss_w = cs2[pos] - cs2[lo]
    z = np.empty(len(new_v), dtype=object)
    flag = np.zeros(len(new_v), dtype=bool)
    for i in range(len(new_v)):
        n, s, ss, v = int(n_w[i]), int(s_w[i]), int(ss_w[i]), int(new_v[i])
        var = n * ss - s * s
        if n < minp or var <= 0:
            z[i] = None
            continue
        num = v * n - s
        z[i] = float(num) / math.sqrt(float(var))
        flag[i] = num * num > k * k * var
    return pd.DataFrame(
        {
            "sid": sid,
            "ts_ms": new_ts,
            "v": new_v,
            "n_w": n_w,
            "s_w": [int(s) if n else None for s, n in zip(s_w, n_w)],
            "ss_w": [int(s) if n else None for s, n in zip(ss_w, n_w)],
            "z": z,
            "is_anomaly": flag,
        }
    )


def stream_zscore(
    points: DataFrame,
    window_buckets: int = 24,
    min_periods: int = 12,
    k: int = 3,
) -> DataFrame:
    """points: a STREAMING DataFrame (sid string, ts_ms long, v long).
    Returns the scored append stream with the batch operator's exact
    output schema and values."""

    def handler(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        sid = key[0]
        if state.exists:
            st_ts, st_v, hwm, dropped = state.get
            buf_ts = list(st_ts)
            buf_v = list(st_v)
        else:
            buf_ts, buf_v, hwm, dropped = [], [], -(1 << 62), 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values("ts_ms", kind="mergesort")
        ts = batch["ts_ms"].to_numpy(np.int64)
        vs = batch["v"].to_numpy(np.int64)
        keep = ts > hwm  # in-order contract: late/dup rows dropped
        dropped += int((~keep).sum())  # counted, never silent
        ts, vs = ts[keep], vs[keep]
        if len(ts):
            out = _score_block(
                sid,
                np.asarray(buf_v, dtype=np.int64),
                ts,
                vs,
                window_buckets,
                min_periods,
                k,
            )
            out["n_late_dropped"] = dropped
            buf_ts = (buf_ts + [int(t) for t in ts])[-window_buckets:]
            buf_v = (buf_v + [int(x) for x in vs])[-window_buckets:]
            hwm = int(ts[-1])
            state.update((buf_ts, buf_v, hwm, dropped))
            yield out
        elif state.exists:
            state.update((buf_ts, buf_v, hwm, dropped))

    return points.groupBy("sid").applyInPandasWithState(
        handler,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
