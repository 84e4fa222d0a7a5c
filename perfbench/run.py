"""Benchmark of the shipped engine, driven only through its public calls.

    python3 perfbench/run.py --workload write|read --seed N --seconds S --trace 0|1

Run it from the repository root. Each workload runs one client in a closed
loop at local[nproc]: a cycle is a fixed sequence of public calls whose
parameters come from the seed, and cycles repeat until the timed calls have
taken `--seconds`. Every output is checked outside the timed calls.

- write: `TierPipeline.run` builds a fresh warehouse from the staged
  transcripts, then `append`, `range_agg`, `purge` of one conversation and
  `range_agg` again run on it. All write calls go through `_run_stage`, so
  kernel speed shows in the build and per-call fixed cost in append/purge.
- read: read-only calls on a warehouse built once per checkout and never
  modified: `ModelarEngine.datapoints` for one conversation and for a
  one-day range, a segment `AVG_S`/`COUNT_S` group-by on `ModelarEngine.sql`
  and on `EmbeddedEngine.sql`, a tier-routed `TierPipeline.range_agg`, and a
  fixed slice of `queries.QUERIES`, each forced with a noop write.

Lines before the last name each metric with workload and unit; the last line
is one JSON object with `correct`, `attempted`, `failed` and `metrics`
(end-to-end metrics, or with `--trace 1` the per-layer metrics). The exit
code is non-zero when any output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def host_facts(root: str) -> dict:
    """nproc, /proc/stat steal share since boot, load average, commit."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    commit = "unknown"
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10,
            ).stdout.strip() or commit
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "nproc": os.cpu_count(),
        "steal_fraction": round(cpu[7] / max(sum(cpu[:8]), 1), 6) if len(cpu) > 7 else 0.0,
        "loadavg": list(os.getloadavg()),
        "commit": commit,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["write", "read"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    t0 = time.perf_counter()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "modelardb_dynamic_spark")):
        print("perfbench: modelardb_dynamic_spark/ not found; run from the "
              "repository root", file=sys.stderr)
        return 2
    nproc = os.cpu_count() or 1
    state = os.path.join(root, ".perfbench")
    work = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # everything the run writes stays under .perfbench/, and the Python
    # workers import the engine from this checkout wherever they start
    os.environ.update(
        PYTHONPATH=root,
        SPARK_DRIVER_MEMORY="2g",
        SPARK_GRAFT_CPUS=str(nproc),
        TMPDIR=os.path.join(work, "tmp"),
        XDG_CACHE_HOME=os.path.join(state, "cache", "xdg"),
        PYSPARK_PYTHON=sys.executable,
    )
    for switch in ("MDBS_BENCH_MEMO_SEGMENTS", "MDBS_PIPELINE_BUCKETED",
                   "MDBS_TMPFS_LOCAL_DIR", "MDBS_NO_CKERNEL"):
        os.environ.pop(switch, None)
    sys.path[:0] = [root, HERE]

    import workloads

    try:
        result = workloads.run(
            args.workload, args.seed, args.seconds, bool(args.trace),
            root=root, work=work, cache=os.path.join(state, "cache"), nproc=nproc,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result["host"] = host_facts(root)
    result["report"]["run_wall_s"] = {"value": time.perf_counter() - t0, "unit": "s"}
    for name, m in result["report"].items():
        print(f"{args.workload} {name} {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} host {json.dumps(result['host'])}")
    for line in result["defects"]:
        print(f"{args.workload} DEFECT {line}")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
