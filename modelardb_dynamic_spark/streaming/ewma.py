"""Streaming EWMA level gauge: the ONLINE twin of
operators/analytics.ewma_levels, emitting each bucket's smoothed level
and one-step forecast the moment the bucket closes — the live
"expected load next hour" feed beside stream_ohlc's raw bars.

Same semantics, same bits: within a bucket the level folds
s <- alpha*v + (1-alpha)*s over timestamp-ordered values seeded by the
bucket's first value; the PREVIOUS closed bucket's level is this
bucket's forecast, scored as absolute error against the bucket mean.
Python floats perform the identical correctly-rounded IEEE double ops
as the batch SQL fold (the streaming/sloburn.py precedent), so
streamed rows equal the batch operator's rows exactly at the frontier.

Bucket-closing contract: a series' open bucket is emitted when the
first row of a LATER bucket for that series arrives; the frontier
bucket is withheld. Late rows (at or before the series' high-water
mark) are dropped and tallied on every subsequent emitted row
(n_late_dropped) — the in-order discipline shared by every streaming
twin here.

Scale notes: O(1) state per series (open bucket id, running level,
count, sum, previous level); the per-row fold is inherently sequential
WITHIN a bucket but runs over an Arrow batch's numpy arrays with a
bucket-grouped loop, and buckets are bounded (<=60 rows for an hour
bucket on the minute grid). Keyed by sid — the engine's universal
hash partitioning.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = (
    "sid string, bucket_ts long, n long, level double, forecast double, "
    "abs_err double, n_late_dropped long"
)
STATE_SCHEMA = (
    "b long, lvl double, n long, s long, prev double, has_prev boolean, "
    "hwm long, dropped long, has_open boolean"
)


def stream_ewma(
    points: DataFrame, bucket_ms: int, alpha: float = 0.3
) -> DataFrame:
    """points: STREAMING (sid string, ts_ms long, v long). Returns the
    append stream of closed-bucket (sid, bucket_ts, n, level, forecast,
    abs_err, n_late_dropped) rows with the batch operator's values."""
    a = float(alpha)
    one_m = 1.0 - a

    def handler(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        sid = key[0]
        if state.exists:
            (b, lvl, n, s, prev, has_prev, hwm, dropped, has_open) = state.get
        else:
            b, lvl, n, s = 0, 0.0, 0, 0
            prev, has_prev = 0.0, False
            hwm, dropped, has_open = -(1 << 62), 0, False
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values("ts_ms", kind="mergesort")
        ts = batch["ts_ms"].to_numpy(np.int64)
        vs = batch["v"].to_numpy(np.int64)
        keep = ts > hwm
        dropped += int((~keep).sum())
        ts, vs = ts[keep], vs[keep]
        out = []

        def close():
            fc = prev if has_prev else None
            err = (
                abs(float(s) / n - fc) if fc is not None else None
            )
            out.append((b, n, lvl, fc, err))

        if len(ts):
            bk = (ts // bucket_ms) * bucket_ms
            for nb, v in zip(bk, vs):
                nb, v = int(nb), int(v)
                if has_open and nb != b:
                    close()
                    prev, has_prev = lvl, True
                    has_open = False
                if not has_open:
                    b, lvl, n, s, has_open = nb, float(v), 1, v, True
                else:
                    lvl = a * float(v) + one_m * lvl
                    n += 1
                    s += v
            hwm = int(ts[-1])
        state.update(
            (b, lvl, n, s, prev, has_prev, hwm, dropped, has_open)
        )
        if out:
            yield pd.DataFrame(
                out, columns=["bucket_ts", "n", "level", "forecast", "abs_err"]
            ).assign(sid=sid, n_late_dropped=dropped)[
                ["sid", "bucket_ts", "n", "level", "forecast", "abs_err",
                 "n_late_dropped"]
            ]

    return points.groupBy("sid").applyInPandasWithState(
        handler,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
