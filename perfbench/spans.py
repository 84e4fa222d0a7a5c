"""Spans around public engine calls, /proc sampling and event-log roll-up.

Untraced runs only time spans and sample the peak RSS. Traced runs also set
one Spark job group per span, read the CPU of the JVM and of its Python
worker processes from /proc at both span edges, and, after the session has
stopped, roll the event log's task metrics up per layer.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

CLK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1 << 20

LAYERS = (
    "pipeline.ingest_raw",
    "pipeline.build_series",
    "pipeline.build_segments",
    "pipeline.build_tiers",
    "pipeline.append",
    "pipeline.purge",
    "planner.range_agg",
    "engine.datapoints",
    "engine.sql",
    "embedded.sql",
    "queries.registry",
)
LAYER_METRICS = (
    ("wall_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("task_run_s", "s"),
    ("jvm_cpu_s", "s"),
    ("py_cpu_s", "s"),
    ("input_mb", "MB"),
    ("output_mb", "MB"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
    ("task_skew", "ratio"),
)


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return [s[: s.rfind(")")].split("(", 1)[1]] + s[s.rfind(")") + 2 :].split()


def process_tree(root: int) -> dict[int, list[str]]:
    """/proc stat fields of `root` and all its descendants."""
    stats, children = {}, defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                stats[int(d)] = st
                children[int(st[2])].append(int(d))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children[pid])
    return out


def cpu_s(tree: dict[int, list[str]], jvm: int) -> tuple[float, float]:
    """(JVM CPU s, Python worker CPU s) including reaped children, which
    keeps the Python total monotone while the daemon forks and reaps
    workers."""
    jvm_t = py_t = 0.0
    for pid, st in tree.items():
        # fields after the name: utime 12, stime 13, cutime 14, cstime 15
        own = (int(st[12]) + int(st[13])) / CLK
        reaped = (int(st[14]) + int(st[15])) / CLK
        if pid == jvm:
            jvm_t += own
        elif st[0].startswith("python"):
            py_t += own + reaped
    return jvm_t, py_t


def rss_mb(tree: dict[int, list[str]]) -> float:
    return sum(int(st[22]) for st in tree.values()) * PAGE / MB


class RssSampler:
    """Peak RSS of the JVM plus its Python workers, sampled every 0.2 s."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid, self.peak = jvm_pid, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(0.2):
            self.peak = max(self.peak, rss_mb(process_tree(self.jvm_pid)))

    def close(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak


class Tracer:
    """Records (layer, start, end) for every span; traced runs add job
    groups and /proc CPU readings."""

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())
        self.spans: list[dict] = []
        self.record = False  # spans of the untimed warm-up are not kept
        self.n = 0

    @contextmanager
    def span(self, layer: str):
        self.n += 1
        gid = f"{layer}#{self.n}"
        cpu0 = (0.0, 0.0)
        if self.traced:
            self.sc.setJobGroup(gid, layer)
            cpu0 = cpu_s(process_tree(self.jvm_pid), self.jvm_pid)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            cpu1 = cpu0
            if self.traced:
                cpu1 = cpu_s(process_tree(self.jvm_pid), self.jvm_pid)
                self.sc.setJobGroup("bench", "untraced benchmark work")
            if self.record:
                self.spans.append({
                    "layer": layer, "gid": gid, "t0": t0, "t1": t1,
                    "jvm_cpu": cpu1[0] - cpu0[0], "py_cpu": cpu1[1] - cpu0[1],
                })

    def wrap(self, layer: str, fn):
        def wrapped(*a, **kw):
            with self.span(layer):
                return fn(*a, **kw)

        return wrapped


def _read_event_log(log_dir: str) -> list[dict]:
    """Every event of every (rolled) event-log file, in no set order.
    Hidden files are the file system's checksums."""
    events = []
    for d, _, files in os.walk(log_dir):
        for f in files:
            if f.startswith("."):
                continue
            with open(os.path.join(d, f)) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def layer_metrics(spans: list[dict], log_dir: str) -> dict[str, tuple[float, str]]:
    """(value, unit) of each layer metric: per-call means, 0 for a layer the
    workload does not call. Reads the uncompressed event log of the
    stopped session."""
    job_gid, job_start, job_end, stage_gid, stage_tasks = {}, {}, {}, {}, defaultdict(list)
    for e in _read_event_log(log_dir):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (e.get("Properties") or {}).get("spark.jobGroup.id")
            job_gid[e["Job ID"]] = gid
            job_start[e["Job ID"]] = e["Submission Time"] / 1e3
            for sid in e.get("Stage IDs", []):
                stage_gid[sid] = gid
        elif kind == "SparkListenerJobEnd":
            job_end[e["Job ID"]] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
            stage_tasks[e["Stage ID"]].append(e["Task Metrics"])
    tasks = defaultdict(list)
    for stage, ms in stage_tasks.items():
        tasks[stage_gid.get(stage)].extend((stage, m) for m in ms)

    out = {}
    for layer in LAYERS:
        mine = [s for s in spans if s["layer"] == layer]
        acc = {name: 0.0 for name, _ in LAYER_METRICS}
        per_stage = defaultdict(list)
        for s in mine:
            ivs = [
                (max(a, s["t0"]), min(job_end.get(j, s["t1"]), s["t1"]))
                for j, a in job_start.items()
                if job_gid[j] == s["gid"]
            ]
            acc["wall_s"] += s["t1"] - s["t0"]
            acc["driver_s"] += (s["t1"] - s["t0"]) - _union_len([iv for iv in ivs if iv[1] > iv[0]])
            acc["jobs"] += len(ivs)
            acc["jvm_cpu_s"] += s["jvm_cpu"]
            acc["py_cpu_s"] += s["py_cpu"]
            for stage, m in tasks.get(s["gid"], []):
                run = m.get("Executor Run Time", 0) / 1e3
                per_stage[stage].append(run)
                acc["task_run_s"] += run
                acc["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
                acc["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
                acc["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                ) / MB
                acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
        for name, unit in LAYER_METRICS:
            out[f"{layer}.{name}"] = (acc[name] / max(len(mine), 1), unit)
        # the worst stage's max/median task time, over stages of 4+ tasks
        skews = [
            max(r) / statistics.median(r)
            for r in per_stage.values()
            if len(r) >= 4 and statistics.median(r) > 0
        ]
        out[f"{layer}.task_skew"] = (max(skews, default=1.0) if mine else 0.0, "ratio")
    # TierPipeline.run is the four stage calls: its wall minus theirs is
    # the build time no stage span accounts for
    runs = [s for s in spans if s["layer"] == "pipeline.run"]
    stage_s = sum(
        s["t1"] - s["t0"] for s in spans
        if s["layer"] in LAYERS[:4] and any(r["t0"] <= s["t0"] and s["t1"] <= r["t1"] for r in runs)
    )
    wall = sum(r["t1"] - r["t0"] for r in runs)
    out["pipeline.run.wall_s"] = (wall / max(len(runs), 1), "s")
    out["pipeline.run.unattributed_s"] = ((wall - stage_s) / max(len(runs), 1), "s")
    return out
