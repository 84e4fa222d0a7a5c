"""Streaming OHLC candlestick bars: the ONLINE twin of
operators/analytics.ohlc_bars, emitting a bucket's bar the moment a
later-bucket row for that series arrives instead of waiting for the
next batch sweep — the live feed a monitoring dashboard draws.

Same semantics, same integers: per (sid, bucket) the bar is
(ts_first, ts_last, v_open, v_close, v_min, v_max, n, vsum), all
exact int64; the engine grid makes ts_ms unique per sid so open and
close need no tie rules.

Bucket-closing contract: a series' open bucket is emitted when the
first row of a LATER bucket for that series arrives; the frontier
bucket is withheld (the batch sweep covers it at reconcile time). A
row at or before the series' high-water mark is late: dropped and
tallied on every subsequent emitted row (n_late_dropped) — the same
in-order discipline as streaming/anomaly.py (reference analog: the
in-order segment generator, core/SegmentGenerator.java:152-304).

Scale notes: state is ONE open bar per series (O(1)); each
micro-batch collapses to per-bucket partial bars with a vectorized
pandas groupby before touching state, so the Python loop runs per
DISTINCT bucket in the batch, never per row. Keyed by sid — the
engine's universal partitioning key — so the stateful shuffle is the
same hash(sid) exchange every tier build uses.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = (
    "sid string, bucket_ts long, ts_first long, ts_last long, "
    "v_open long, v_close long, v_min long, v_max long, n long, "
    "vsum long, n_late_dropped long"
)
STATE_SCHEMA = (
    "b long, tf long, tl long, vo long, vc long, vmin long, vmax long, "
    "n long, vsum long, hwm long, dropped long, has_open boolean"
)


def stream_ohlc(points: DataFrame, bucket_ms: int) -> DataFrame:
    """points: STREAMING (sid string, ts_ms long, v long). Returns the
    append stream of closed-bucket bars (OUT_SCHEMA)."""

    def handler(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        sid = key[0]
        if state.exists:
            (b, tf, tl, vo, vc, vmin, vmax, n, vsum,
             hwm, dropped, has_open) = state.get
        else:
            b = tf = tl = vo = vc = vmin = vmax = n = vsum = 0
            hwm, dropped, has_open = -(1 << 62), 0, False
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values("ts_ms", kind="mergesort")
        ts = batch["ts_ms"].to_numpy(np.int64)
        vs = batch["v"].to_numpy(np.int64)
        keep = ts > hwm  # in-order contract: late/dup rows dropped
        dropped += int((~keep).sum())
        ts, vs = ts[keep], vs[keep]
        out = []
        if len(ts):
            bk = (ts // bucket_ms) * bucket_ms
            # vectorized partial bars: one pandas pass per batch,
            # the merge loop below is per DISTINCT bucket only
            part = (
                pd.DataFrame({"b": bk, "ts": ts, "v": vs})
                .groupby("b", sort=True)
                .agg(
                    tf=("ts", "first"), tl=("ts", "last"),
                    vo=("v", "first"), vc=("v", "last"),
                    vmin=("v", "min"), vmax=("v", "max"),
                    n=("v", "size"), vsum=("v", "sum"),
                )
            )
            for nb, row in part.iterrows():
                nb = int(nb)
                if has_open and nb != b:
                    out.append((b, tf, tl, vo, vc, vmin, vmax, n, vsum))
                    has_open = False
                if not has_open:
                    b, tf, tl = nb, int(row.tf), int(row.tl)
                    vo, vc = int(row.vo), int(row.vc)
                    vmin, vmax = int(row.vmin), int(row.vmax)
                    n, vsum, has_open = int(row.n), int(row.vsum), True
                else:
                    tl, vc = int(row.tl), int(row.vc)
                    vmin = min(vmin, int(row.vmin))
                    vmax = max(vmax, int(row.vmax))
                    n += int(row.n)
                    vsum += int(row.vsum)
            hwm = int(ts[-1])
        state.update(
            (b, tf, tl, vo, vc, vmin, vmax, n, vsum, hwm, dropped, has_open)
        )
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "bucket_ts", "ts_first", "ts_last", "v_open", "v_close",
                    "v_min", "v_max", "n", "vsum",
                ],
            ).assign(sid=sid, n_late_dropped=dropped)[
                [
                    "sid", "bucket_ts", "ts_first", "ts_last", "v_open",
                    "v_close", "v_min", "v_max", "n", "vsum",
                    "n_late_dropped",
                ]
            ]

    return points.groupBy("sid").applyInPandasWithState(
        handler,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
