"""Compression stage: regular series -> segment table.

Spark shape:
    series.repartition(hash(sid[, salt]))
          .sortWithinPartitions(sid, metric[, salt], ts_ms)
          .mapInArrow(kernel)                          ->  segments

mapInArrow over sorted partitions (rather than per-group applyInPandas)
amortizes the Python round trip over whole 64k-row batches AND keeps the
key columns as Arrow arrays end to end — converting 10^7 string keys to
Python objects via pandas measured 33x slower than Arrow-native batches.
Group boundaries are found with numpy on dictionary-encoded key codes;
each group's (ts, value) vectors are zero-copy numpy slices. A group that
spans batch boundaries is carried over. The numpy cascade in models.kernels
does the actual compression (no per-row Python anywhere). Replaces the
reference's per-group SegmentGenerator threads driven by WorkingSets
(core/WorkingSet.java:87-189) with Spark's own scheduling.

Skew / salting (the 10^12-turn concern): a single hot series must not pin a
task. With salt_span_points set, a series is pre-split on disjoint time
ranges (salt = ts_ms // span); ranges compress independently, which forces
a segment boundary at salt edges — the same semantics as a gap flush
(SegmentGenerator.java:213-236), so reconstruction and error bounds are
unaffected; only segment counts can grow by (#spans - 1) per series.
Deterministic at any parallelism.

Segment table schema (SURVEY.md §1.2 / FIXTURES.md §3; summary columns are
materialized at compress time so tier rollups become pure columnar plans —
strictly stronger than the reference's query-time UDAF-over-model-objects,
engines/spark/SparkUDAF.scala:348-401):
    sid string, metric string, start_ts long, end_ts long, si int,
    mtid int, model binary, cnt long, vmin float, vmax float, vsum double
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modelardb_dynamic_spark.config import EngineConfig
from modelardb_dynamic_spark.models.kernels import compress_series

SEGMENT_SCHEMA = (
    "sid string, metric string, start_ts long, end_ts long, si int, "
    "mtid int, model binary, cnt long, vmin float, vmax float, vsum double"
)

_ARROW_SCHEMA = pa.schema(
    [
        ("sid", pa.string()),
        ("metric", pa.string()),
        ("start_ts", pa.int64()),
        ("end_ts", pa.int64()),
        ("si", pa.int32()),
        ("mtid", pa.int32()),
        ("model", pa.binary()),
        ("cnt", pa.int64()),
        ("vmin", pa.float32()),
        ("vmax", pa.float32()),
        ("vsum", pa.float64()),
    ]
)


class _Out:
    """Columnar accumulator for emitted segments (one per batch)."""

    def __init__(self) -> None:
        self.sid: list[str] = []
        self.metric: list[str] = []
        self.start_ts: list[int] = []
        self.end_ts: list[int] = []
        self.mtid: list[int] = []
        self.model: list[bytes] = []
        self.cnt: list[int] = []
        self.vmin: list[float] = []
        self.vmax: list[float] = []
        self.vsum: list[float] = []

    def to_batch(self, si: int) -> pa.RecordBatch | None:
        n = len(self.sid)
        if n == 0:
            return None
        return pa.RecordBatch.from_arrays(
            [
                pa.array(self.sid, type=pa.string()),
                pa.array(self.metric, type=pa.string()),
                pa.array(self.start_ts, type=pa.int64()),
                pa.array(self.end_ts, type=pa.int64()),
                pa.array([si] * n, type=pa.int32()),
                pa.array(self.mtid, type=pa.int32()),
                pa.array(self.model, type=pa.binary()),
                pa.array(self.cnt, type=pa.int64()),
                pa.array(self.vmin, type=pa.float32()),
                pa.array(self.vmax, type=pa.float32()),
                pa.array(self.vsum, type=pa.float64()),
            ],
            schema=_ARROW_SCHEMA,
        )


def _emit_group(
    out: _Out, sid: str, metric: str, t: np.ndarray, v: np.ndarray,
    cfg: EngineConfig,
) -> None:
    order = np.argsort(t, kind="stable")
    t = t[order]
    v = v[order]
    for s in compress_series(t, v, cfg):
        out.sid.append(sid)
        out.metric.append(metric)
        out.start_ts.append(s.start_ts)
        out.end_ts.append(s.end_ts)
        out.mtid.append(s.mtid)
        out.model.append(s.model)
        out.cnt.append(s.cnt)
        out.vmin.append(s.vmin)
        out.vmax.append(s.vmax)
        out.vsum.append(s.vsum)


def _key_codes(col: pa.Array) -> np.ndarray:
    """Per-batch integer codes for boundary detection (values equal <=>
    codes equal within the batch)."""
    if pa.types.is_integer(col.type):
        return col.to_numpy(zero_copy_only=False)
    return pc.dictionary_encode(col).indices.to_numpy(zero_copy_only=False)


def _group_map_fn(
    cfg: EngineConfig,
    span_ms: int | None,
    key_cols: tuple[str, ...],
    value_col: str,
    value_dtype: type,
    emit,
):
    """Group-and-compress over Arrow batches sorted by (key_cols, ts_ms).

    Run boundaries are where any key column or the salt changes, found
    with numpy on per-batch key codes; the salt is derived in-kernel from
    the ts-sorted timestamps (salt = ts // span is monotone within a key
    run) so it never crosses the shuffle. Each run costs one Python step
    and one emit(out, *keys, t, v, cfg) call; a run that reaches the end
    of a batch is carried into the next, so batch edges never split a
    group. One output batch per input batch. Emitted rows carry only the
    key columns — a salt edge forces a segment boundary exactly like a
    gap flush."""
    si = cfg.sampling_interval_ms
    n_keys = len(key_cols)

    def map_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        carry_key: tuple | None = None
        carry_t: list[np.ndarray] = []
        carry_v: list[np.ndarray] = []
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            out = _Out()
            change = np.zeros(n, dtype=bool)
            change[0] = True
            keycols = [rb.column(k) for k in key_cols]
            for kc in keycols:
                codes = _key_codes(kc)
                change[1:] |= codes[1:] != codes[:-1]
            t_all = rb.column("ts_ms").to_numpy(zero_copy_only=False).astype(np.int64)
            if span_ms:
                salt_all = t_all // span_ms
                change[1:] |= salt_all[1:] != salt_all[:-1]
            starts = np.flatnonzero(change)
            ends = np.append(starts[1:], n)
            v_all = (
                rb.column(value_col).to_numpy(zero_copy_only=False).astype(value_dtype)
            )
            # group keys as python scalars: one lookup per group, not per row
            for gi, (a, b) in enumerate(zip(starts.tolist(), ends.tolist())):
                key = tuple(kc[a].as_py() for kc in keycols) + (
                    (int(salt_all[a]),) if span_ms else ()
                )
                is_last = gi == len(starts) - 1
                if carry_key is not None and key != carry_key:
                    # flush the carried group: it ended at a batch boundary
                    emit(
                        out, *carry_key[:n_keys],
                        np.concatenate(carry_t), np.concatenate(carry_v), cfg,
                    )
                    carry_key, carry_t, carry_v = None, [], []
                if is_last or carry_key == key:
                    # accumulate: group may continue into the next batch
                    carry_key = key
                    carry_t.append(t_all[a:b])
                    carry_v.append(v_all[a:b])
                else:
                    emit(out, *key[:n_keys], t_all[a:b], v_all[a:b], cfg)
            batch = out.to_batch(si)
            if batch is not None:
                yield batch
        if carry_key is not None:
            out = _Out()
            emit(
                out, *carry_key[:n_keys],
                np.concatenate(carry_t), np.concatenate(carry_v), cfg,
            )
            batch = out.to_batch(si)
            if batch is not None:
                yield batch

    return map_fn


def salt_expr(span_ms: int):
    """A row's salt: the index of its span_ms-wide ts_ms range."""
    return (F.col("ts_ms") / span_ms).cast("long")


def _partition_sorted(
    df: DataFrame, sort_cols: list[str], span_ms: int | None
) -> DataFrame:
    """repartition(hash(sid[, salt])) + sortWithinPartitions(sort_cols).

    Partitioning hashes the salt EXPRESSION, so the salt column itself
    never ships; the kernel re-derives it from the shuffled ts_ms."""
    hash_exprs = [F.col("sid")] + ([salt_expr(span_ms)] if span_ms else [])
    # 2x cores: two waves of map tasks so a straggler partition (skewed
    # series mix) doesn't idle the rest of the cluster
    n_part = 2 * df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n_part, *hash_exprs).sortWithinPartitions(*sort_cols)


def compress(
    series: DataFrame,
    cfg: EngineConfig,
    salt_span_points: int | None = None,
) -> DataFrame:
    """series (sid, metric, ts_ms, value) -> segment DataFrame.

    INPUT CONTRACT: timestamps lie on the cfg.sampling_interval_ms grid and
    are unique per (sid, metric) — the series builders
    (sources/timeseries.py) guarantee this by construction (groupBy
    bucket).

    salt_span_points: split each series into ranges of that many sampling
    intervals so hot series parallelize (flush-at-boundary semantics above).
    """
    span_ms = (
        salt_span_points * cfg.sampling_interval_ms if salt_span_points else None
    )
    df = _partition_sorted(series, ["sid", "metric", "ts_ms"], span_ms)
    return df.select("sid", "metric", "ts_ms", "value").mapInArrow(
        _group_map_fn(
            cfg, span_ms, ("sid", "metric"), "value", np.float32, _emit_group
        ),
        schema=SEGMENT_SCHEMA,
    )


def _derive_and_compress_group(
    out: _Out, sid: str, t_raw: np.ndarray, tok_raw: np.ndarray,
    cfg: EngineConfig,
) -> None:
    """One conversation: bucket raw turn timestamps onto the SI grid and
    compress the turn_rate / token_rate series (numpy throughout)."""
    si = cfg.sampling_interval_ms
    bucket = (t_raw // si) * si
    uniq, inv = np.unique(bucket, return_inverse=True)
    counts = np.bincount(inv).astype(np.float32)
    tokens = np.bincount(inv, weights=tok_raw.astype(np.float64)).astype(np.float32)
    _emit_group(out, sid, "turn_rate", uniq, counts, cfg)
    _emit_group(out, sid, "token_rate", uniq, tokens, cfg)


def compress_transcripts(
    transcripts: DataFrame,
    cfg: EngineConfig,
    salt_span_points: int | None = None,
) -> DataFrame:
    """Fused transcript -> series -> segments operator.

    Equivalent to compress(transcript_series(transcripts, si), cfg) but
    with ONE narrow exchange instead of [hash-agg exchange on
    (conv_id, minute) -> stack -> repartition(sid) -> sort]: the per-minute
    turn_rate / token_rate derivation is a numpy bincount inside the same
    Arrow kernel that compresses. At 10^12 turns the JVM hash aggregation
    over ~10^10 (conv, minute) string-keyed groups is the scaling
    bottleneck (memory-bound, poor multicore scaling); the fused path
    shuffles only (conv_id, ts_ms, tokens) rows and aggregates per
    conversation in vectorized code. Output is bit-identical to the
    unfused path (asserted in tests/test_pipeline.py)."""
    si = cfg.sampling_interval_ms
    df = transcripts.select(
        F.col("conv_id").alias("sid"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        # null text counts as zero tokens; null ts rows are dropped below —
        # the Arrow kernel's int64 casts would otherwise turn NaN into
        # undefined values, diverging from the unfused path where F.sum
        # skips nulls
        F.coalesce(F.floor(F.length("text") / 4).cast("long"), F.lit(0)).alias(
            "tokens"
        ),
    ).where(F.col("ts_ms").isNotNull())
    span_ms = salt_span_points * si if salt_span_points else None
    df = _partition_sorted(df, ["sid", "ts_ms"], span_ms)
    return df.mapInArrow(
        _group_map_fn(
            cfg, span_ms, ("sid",), "tokens", np.int64, _derive_and_compress_group
        ),
        schema=SEGMENT_SCHEMA,
    )


def compression_stats(segments: DataFrame) -> DataFrame:
    """Corpus compression ratio per the reference formula
    16*len/(24+size+4*gaps) with gaps == 0 (core/models/ModelType.java:
    65-70), plus counts."""
    return segments.agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("cnt").alias("n_points"),
        (16.0 * F.sum("cnt") / F.sum(F.length("model") + F.lit(24))).alias(
            "compression_ratio"
        ),
    )
