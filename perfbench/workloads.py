"""The two workloads, their output checks and the metrics they report."""

from __future__ import annotations

import functools
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

import gen
import spans

# Sizes are set by the budget of about a minute per run on four cores.
# At these sizes Spark's per-job and per-file costs, not the turn count,
# set most of a call's time.
N_TURNS = 50_000
N_CONVS = 500
WARMUP_TURNS = 2_000
WARMUP_CONVS = 20
BUCKETS = 4
CHUNK_BUCKETS = 4
ERROR_BOUND = 10.0
REGISTRY_SCALE = 0.05
# a segment-backed query (the shared events -> segments derivation), a
# sketch operator, and TPC-H Q1, which touches no engine code
REGISTRY_SLICE = ("seg_agg_s", "hll_distinct", "tpch_q1")
KERNEL_POINTS = 1_000_000
HOUR_MS, DAY_MS = 3_600_000, 86_400_000
STAGES = ("raw", "series", "segments", "tier_1m", "tier_1h", "tier_1d")
BUILD_STAGES = ("ingest_raw", "build_series", "build_segments", "build_tiers")


class Run:
    """One benchmark process: the session, the spans, the timed samples and
    the tally of attempted and failed calls."""

    def __init__(self, seed, traced, root, work, cache, nproc):
        from modelardb_dynamic_spark.config import EngineConfig
        from modelardb_dynamic_spark.session import build_session

        self.seed, self.traced = seed, traced
        self.root, self.work, self.cache = root, work, cache
        self.cfg = EngineConfig(error_bound=ERROR_BOUND)
        self.attempted = self.failed = 0
        self.defects: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.timing = False
        self.cycle_s = 0.0
        self.log_dir = os.path.join(work, "eventlog")
        conf = {
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:
            os.makedirs(self.log_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + self.log_dir,
            })
        self.spark = build_session("perfbench", master=f"local[{nproc}]", extra_conf=conf)
        self.tracer = spans.Tracer(self.spark, traced)
        self.rss = spans.RssSampler(self.tracer.jvm_pid)

    def call(self, layer: str, key: str, fn, *a, **kw):
        """One attempted public call inside a span. A raise counts as a
        failed call and ends the run."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(layer):
                out = fn(*a, **kw)
        except Exception as e:
            self.failed += 1
            self.defects.append(f"{key}: {type(e).__name__}: {e}")
            raise
        if self.timing:
            dt = time.perf_counter() - t0
            self.samples.setdefault(key, []).append(dt)
            self.cycle_s += dt
        return out

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        """A wrong output turns its call into a failed one."""
        if not ok:
            self.failed += 1
            self.defects.append(f"{what}: {detail}")

    def close(self) -> float:
        """Stop the session, then the JVM and its Python workers, and wait
        until each has exited."""
        from pyspark import SparkContext

        peak = self.rss.close()
        workers = spans.process_tree(self.tracer.jvm_pid)
        gateway = SparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        # the gateway JVM exits when its stdin closes
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        deadline = time.time() + 60
        while any(os.path.exists(f"/proc/{pid}") for pid in workers) and time.time() < deadline:
            time.sleep(0.1)
        return peak


# -- shared checks -------------------------------------------------------------


def direct_range_agg(series, lo: int, hi: int, bucket_ms: int):
    from pyspark.sql import functions as F

    return (
        series.where(f"ts_ms >= {lo} AND ts_ms < {hi}")
        .groupBy("sid", "metric", F.expr(f"(ts_ms DIV {bucket_ms}) * {bucket_ms}").alias("bucket_ts"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("double")).alias("vsum"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
    )


def range_agg_matches(got_rows, want_df, eb: float) -> tuple[bool, str]:
    """Same keys and counts as a direct aggregation of the series table, and
    each aggregate within the relative error bound the tiers were
    compressed with."""
    def key(r):
        return r["sid"], r["metric"], int(r["bucket_ts"])

    got = {key(r): r for r in got_rows}
    want = {key(r): r for r in want_df.collect()}
    if not want or got.keys() != want.keys():
        return False, f"keys {len(got)} vs {len(want)}"
    tol = eb / 100.0
    for k, w in want.items():
        g = got[k]
        if int(g["cnt"]) != int(w["cnt"]):
            return False, f"{k} cnt {g['cnt']} vs {w['cnt']}"
        for c in ("vsum", "vmin", "vmax"):
            if abs(float(g[c]) - float(w[c])) > tol * abs(float(w[c])) + 1e-6:
                return False, f"{k} {c} {g[c]} vs {w[c]}"
    return True, ""


def turn_checksum(df) -> tuple[int, int]:
    """Row count and an order-free checksum of (conv_id, turn_idx, text)."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64("conv_id", "turn_idx", "text"), F.lit(1 << 31))).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def table_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def new_pipeline(run: Run, path: str, traced_stages: bool):
    """A TierPipeline over a fresh warehouse. With `traced_stages` in a
    traced run, the four stage methods `run()` calls get spans of their own."""
    from modelardb_dynamic_spark.plans.pipeline import TierPipeline
    from modelardb_dynamic_spark.sources.catalog import Warehouse

    shutil.rmtree(path, ignore_errors=True)
    wh = Warehouse(path, n_buckets=BUCKETS)
    pipe = TierPipeline(run.spark, wh, run.cfg, chunk_buckets=CHUNK_BUCKETS)
    if run.traced and traced_stages:
        for st in BUILD_STAGES:
            setattr(pipe, st, run.tracer.wrap("pipeline." + st, getattr(pipe, st)))
    return wh, pipe


# -- write ---------------------------------------------------------------------


def make_batch(rng, base, cycle: int):
    """Twenty turns each of a new conversation, late turns after an existing
    conversation's last turn, and replacements of an existing
    conversation's turns. Returns the batch, its number of new turn keys
    and the conversations it touches."""
    import pyarrow as pa
    import pyarrow.compute as pc

    convs = base.column("conv_id").unique().to_pylist()
    late, repl = (convs[j] for j in rng.choice(len(convs), 2, replace=False))
    new = gen.transcripts(int(rng.integers(1 << 30)), 20, 1, conv_prefix=f"new{cycle}x")
    parts = [new]
    for c, replace in ((late, False), (repl, True)):
        rows = base.filter(pc.equal(base.column("conv_id"), c)).sort_by("turn_idx")
        k = min(20, rows.num_rows)
        t = gen.transcripts(int(rng.integers(1 << 30)), k, 1).slice(0, k)
        if replace:
            idx = np.sort(rng.choice(rows.num_rows, k, replace=False))
            ts = rows.column("ts").take(pa.array(idx))
        else:
            idx = np.arange(rows.num_rows, rows.num_rows + k)
            last = pc.max(rows.column("ts")).cast(pa.int64()).as_py()
            ts = pa.array(last + 60_000_000 * np.arange(1, k + 1)).cast(gen.TRANSCRIPT_SCHEMA.field("ts").type)
        parts.append(
            t.set_column(0, "conv_id", pa.array([c] * k))
            .set_column(1, "turn_idx", pa.array(idx.astype(np.int32)))
            .set_column(5, "ts", ts)
        )
    batch = pa.concat_tables(parts)
    return batch, parts[0].num_rows + parts[1].num_rows, {late, repl, new["conv_id"][0].as_py()}


def write_workload(run: Run) -> dict:
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from modelardb_dynamic_spark.plans.pipeline import TierPipeline

    spark = run.spark
    # cycle 0 warms the JVM on a small input of its own; timed cycles
    # all build from the full one
    inputs = []
    for n_turns, n_convs in ((WARMUP_TURNS, WARMUP_CONVS), (N_TURNS, N_CONVS)):
        t = gen.transcripts(run.seed, n_turns, n_convs)
        inputs.append((t, gen.write(t, os.path.join(run.work, f"transcripts{n_turns}.parquet"))))
    want = turn_checksum(spark.read.parquet(inputs[1][1]))
    rng = np.random.default_rng([run.seed, 1])
    out = {"turns": want[0], "stored_bytes_per_turn": [], "bytes_per_point": []}

    def range_agg(maint, wh, what, lo, hi):
        rows = run.call("planner.range_agg", "range_agg", lambda: maint.range_agg(lo, hi, HOUR_MS).collect())
        ok, d = range_agg_matches(rows, direct_range_agg(wh.read(spark, "series"), lo, hi, HOUR_MS), ERROR_BOUND)
        run.check(what, ok, d)

    def cycle(i: int) -> None:
        base, path = inputs[min(i, 1)]
        wh, pipe = new_pipeline(run, os.path.join(run.work, f"wh{i}"), traced_stages=i > 0)
        run.call("pipeline.run", "build", pipe.run, spark.read.parquet(path))
        if i == 0:
            # the warm-up build compiles the stage plans append and purge reuse
            shutil.rmtree(wh.root, ignore_errors=True)
            return
        bad = {t: v["mismatches"] for t, v in pipe.fsck().items() if v["mismatches"]}
        run.check("build fsck", not bad, str(bad))
        got = turn_checksum(wh.read(spark, "raw"))
        run.check("build raw", got == want, f"(rows, checksum) {got} vs input {want}")
        cnt = wh.read(spark, "tier_1m").agg(F.sum("cnt")).collect()[0][0]
        points = wh.read(spark, "series").count()
        run.check("build tier_1m", cnt == points, f"cnt sum {cnt} vs series points {points}")
        out["stored_bytes_per_turn"].append(sum(table_bytes(wh.path(t)) for t in STAGES) / want[0])
        out["bytes_per_point"].append(table_bytes(wh.path("segments")) / points)

        maint = TierPipeline(spark, wh, run.cfg, chunk_buckets=CHUNK_BUCKETS)
        batch, new_keys, touched = make_batch(rng, base, i)
        bpath = gen.write(batch, os.path.join(run.work, f"batch{i}.parquet"))
        run.call("pipeline.append", "append", maint.append, spark.read.parquet(bpath), f"b{i}")
        raw1 = wh.read(spark, "raw").count()
        run.check("append raw", raw1 == want[0] + new_keys, f"{raw1} rows vs {want[0]} + {new_keys}")
        ts = batch.column("ts").cast("int64").to_numpy() // 1000
        range_agg(maint, wh, "append range_agg",
                  int(ts.min()) // HOUR_MS * HOUR_MS, (int(ts.max()) // HOUR_MS + 1) * HOUR_MS)

        convs = base.column("conv_id").unique().to_pylist()
        victim = next(convs[j] for j in rng.permutation(len(convs)) if convs[j] not in touched)
        run.call("pipeline.purge", "purge", maint.purge, [victim], f"p{i}")
        hits = [
            wh.read(spark, t).where(F.col("conv_id" if t == "raw" else "sid") == victim).select(F.lit(t).alias("t"))
            for t in STAGES
        ]
        left = [r["t"] for r in functools.reduce(DataFrame.unionByName, hits).distinct().collect()]
        run.check("purge", not left, f"{victim} still in {left}")
        lo = (gen.EPOCH0_MS // DAY_MS + int(rng.integers(0, 3))) * DAY_MS + int(rng.integers(0, 24)) * HOUR_MS
        range_agg(maint, wh, "purge range_agg", lo, lo + DAY_MS)
        shutil.rmtree(wh.root, ignore_errors=True)

    out["cycle"] = cycle
    return out


# -- read ----------------------------------------------------------------------


def cached(path: str, make) -> str:
    """`make(tmp)` once per checkout; later runs reuse the result."""
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        make(tmp)
        os.replace(tmp, path)
    return path


def registry_matches(root: str, con, sdf, oracle: str) -> tuple[bool, str]:
    """Spark rows equal the DuckDB oracle's, compared type-strictly and
    order-free the way tools/check_oracles.py does."""
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.append(tools)
    from check_oracles import to_sorted_rows

    tbl = con.sql(oracle).arrow()
    ocols = list(tbl.schema.names)
    sc, sr = to_sorted_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    oc, orr = to_sorted_rows(ocols, [tuple(d[c] for c in ocols) for d in tbl.to_pylist()])
    bad = sum(a != b for a, b in zip(sr, orr))
    ok = sc == oc and len(sr) == len(orr) > 0 and not bad
    return ok, f"columns equal {sc == oc}, rows {len(sr)} vs {len(orr)}, differing {bad}"


def read_workload(run: Run) -> dict:
    import duckdb
    from pyspark.sql import functions as F

    from modelardb_dynamic_spark import queries as Q
    from modelardb_dynamic_spark.embedded import EmbeddedEngine
    from modelardb_dynamic_spark.engine import ModelarEngine
    from modelardb_dynamic_spark.sources.catalog import Warehouse

    spark = run.spark

    def build(tmp):
        inp = gen.write(gen.transcripts(0, N_TURNS, N_CONVS), os.path.join(run.work, "t0.parquet"))
        new_pipeline(run, tmp, traced_stages=False)[1].run(spark.read.parquet(inp))

    def tables(tmp):
        for name, t in gen.registry_tables(0, REGISTRY_SCALE).items():
            gen.write(t, os.path.join(tmp, f"{name}.parquet"))

    wh = Warehouse(cached(os.path.join(run.cache, f"read-warehouse-{N_TURNS}-{BUCKETS}"), build), n_buckets=BUCKETS)
    sf = cached(os.path.join(run.cache, f"registry-{REGISTRY_SCALE}-v2"), tables)
    from modelardb_dynamic_spark.plans.pipeline import TierPipeline

    pipe = TierPipeline(spark, wh, run.cfg, chunk_buckets=CHUNK_BUCKETS)
    segs, series = wh.read(spark, "segments"), wh.read(spark, "series")
    eng = ModelarEngine(spark, segs, run.cfg)
    eng.register_views()
    emb = EmbeddedEngine(wh.path("segments") + "/*/*.parquet")
    points = {
        r["sid"]: int(r["n"])
        for r in segs.groupBy("sid").agg(
            F.sum((F.col("end_ts") - F.col("start_ts")) / F.col("si") + 1).cast("long").alias("n")
        ).collect()
    }
    sids = sorted(points)
    lo_ts, hi_ts = series.agg(F.min("ts_ms"), F.max("ts_ms")).collect()[0]
    con = duckdb.connect()
    for t in ("events", "lineitem"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oracles = Q.build_oracles()
    rng = np.random.default_rng([run.seed, 2])
    order = [REGISTRY_SLICE[j] for j in rng.permutation(len(REGISTRY_SLICE))]
    out = {
        "bytes_per_point": [table_bytes(wh.path("segments")) / series.count()],
        "stored_bytes_per_turn": [
            sum(table_bytes(wh.path(t)) for t in STAGES) / wh.read(spark, "raw").count()
        ],
    }

    def forced(name):
        sdf = Q.QUERIES[name](spark, sf)
        sdf.write.format("noop").mode("overwrite").save()
        return sdf

    def cycle(i: int) -> None:
        checked = i > 0  # the warm-up cycle is set-up, so it checks nothing
        sid = sids[int(rng.integers(len(sids)))]
        n = run.call("engine.datapoints", "point_query", lambda: eng.datapoints(sids=[sid]).count())
        if checked:
            run.check("point_query", n == points[sid], f"{sid}: {n} points vs {points[sid]}")

        lo = int(rng.integers(lo_ts, hi_ts - DAY_MS))
        hi = lo + DAY_MS
        n = run.call("engine.datapoints", "range_points", lambda: eng.datapoints(lo, hi).count())
        if checked:
            want = segs.where(f"end_ts >= {lo} AND start_ts <= {hi}").select(F.sum(
                F.floor((F.least("end_ts", F.lit(hi)) - F.col("start_ts")) / F.col("si"))
                - F.ceil((F.greatest("start_ts", F.lit(lo)) - F.col("start_ts")) / F.col("si"))
                + 1
            )).collect()[0][0]
            run.check("range_points", n == want, f"[{lo}, {hi}]: {n} points vs {want}")

        q = ("SELECT sid, AVG_S(#) AS avg_s, COUNT_S(#) AS cnt_s FROM Segment "
             f"WHERE start_ts >= {int(rng.integers(lo_ts, hi_ts))} GROUP BY sid")
        got = run.call("engine.sql", "segment_agg", lambda: eng.sql(q).collect())
        e = {r["sid"]: r for r in run.call("embedded.sql", "embedded", emb.sql, q).to_pylist()}
        if checked:
            bad = [
                r["sid"] for r in got
                if r["sid"] not in e or int(e[r["sid"]]["cnt_s"]) != int(r["cnt_s"])
                or not math.isclose(e[r["sid"]]["avg_s"], r["avg_s"], rel_tol=1e-9)
            ]
            run.check("segment_agg vs embedded", bool(got) and not bad and len(e) == len(got),
                      f"{len(bad)} differing of {len(got)} Spark / {len(e)} embedded rows")

        w = int(rng.choice([HOUR_MS, 6 * HOUR_MS, DAY_MS]))
        lo = (lo_ts // w + 1 + int(rng.integers(0, 3))) * w + int(rng.integers(0, 60)) * 60_000
        hi = lo + int(rng.integers(1, 4)) * DAY_MS
        rows = run.call("planner.range_agg", "range_agg", lambda: pipe.range_agg(lo, hi, w).collect())
        if checked:
            ok, d = range_agg_matches(rows, direct_range_agg(series, lo, hi, w), ERROR_BOUND)
            run.check("range_agg", ok, d)

        for name in order:
            sdf = run.call("queries.registry", "registry", forced, name)
            if i == 1:  # the slice's results do not depend on the cycle
                ok, d = registry_matches(run.root, con, sdf, oracles[name])
                run.check(f"registry {name}", ok, d)

    out["cycle"] = cycle
    out["close"] = lambda: (emb.close(), con.close())
    return out


# -- bottom layer --------------------------------------------------------------


def kernel_rates(seed: int, cfg) -> dict[str, tuple[float, str]]:
    """Single-core points/s of the compress and grid kernels, in millions,
    on a seeded mix of constant, ramp and noise runs (best of three)."""
    import pyarrow as pa

    from modelardb_dynamic_spark.models.kernels import compress_series
    from modelardb_dynamic_spark.operators.reconstruct import _grid_batch

    rng = np.random.default_rng([seed, 3])
    runs = rng.integers(50, 400, KERNEL_POINTS // 50)
    kinds = rng.integers(0, 3, len(runs))
    v = np.concatenate([
        np.full(n, rng.uniform(1, 100)) if k == 0
        else rng.uniform(1, 50) + rng.uniform(0, 0.5) * np.arange(n) if k == 1
        else rng.gamma(2.0, 10.0, n)
        for n, k in zip(runs, kinds)
    ])[:KERNEL_POINTS].astype(np.float32)
    t = gen.EPOCH0_MS + 60_000 * np.arange(len(v), dtype=np.int64)

    def best(fn):
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            r = fn()
            ts.append(time.perf_counter() - t0)
        return min(ts), r

    dt_c, segs = best(lambda: compress_series(t, v, cfg))
    rb = pa.RecordBatch.from_pydict({
        "sid": ["k"] * len(segs), "metric": ["m"] * len(segs),
        "start_ts": [s.start_ts for s in segs], "end_ts": [s.end_ts for s in segs],
        "si": [60_000] * len(segs), "mtid": pa.array([s.mtid for s in segs], pa.int32()),
        "model": pa.array([s.model for s in segs], pa.binary()),
    })
    dt_g, pts = best(lambda: _grid_batch(rb))
    if pts.num_rows != len(v):
        raise RuntimeError(f"grid kernel returned {pts.num_rows} points for {len(v)}")
    return {
        "models.compress_series.mpts_per_core": (len(v) / dt_c / 1e6, "Mpts/s"),
        "models.grid.mpts_per_core": (len(v) / dt_g / 1e6, "Mpts/s"),
    }


# -- driver --------------------------------------------------------------------


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def run(workload, seed, seconds, traced, root, work, cache, nproc) -> dict:
    t0 = time.perf_counter()
    r = Run(seed, traced, root, work, cache, nproc)
    wl = (write_workload if workload == "write" else read_workload)(r)
    # set-up: session, staging, any warehouse build and the untimed
    # warm-up cycle
    wl["cycle"](0)
    setup_s = time.perf_counter() - t0
    r.timing = r.tracer.record = True
    cycles, i = [], 1
    try:
        while not cycles or sum(cycles) < seconds:
            r.cycle_s = 0.0
            wl["cycle"](i)
            cycles.append(r.cycle_s)
            i += 1
    finally:
        r.timing = False
        if "close" in wl:
            wl["close"]()
        peak = r.close()
    report = {
        "setup_s": (setup_s, "s"),
        "cycle_p50_s": (p50(cycles), "s"),
        "peak_rss_mb": (peak, "MB"),
        "cycles": (len(cycles), "count"),
        "ops_failed_ratio": (r.failed / max(r.attempted, 1), "ratio"),
        "stored_bytes_per_turn": (p50(wl["stored_bytes_per_turn"]), "B"),
    }
    for key, xs in sorted(r.samples.items()):
        report[f"{key}_p50_s"] = (p50(xs), "s")
    if workload == "write":
        report["build_turns_per_s"] = (wl["turns"] / p50(r.samples["build"]), "turns/s")
    else:
        report["registry_total_s"] = (sum(r.samples["registry"]) / len(cycles), "s")
    metrics = {k: report[k] for k in ("setup_s", "cycle_p50_s")}
    if traced:
        metrics = spans.layer_metrics(r.tracer.spans, r.log_dir)
        metrics.update(kernel_rates(seed, r.cfg))
        metrics["segments.bytes_per_point"] = (p50(wl["bytes_per_point"]), "B")
    return {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "report": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
        "defects": r.defects,
    }
