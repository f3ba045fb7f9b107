"""Curation benchmark: one workload run per process.

    python3 curbench/run.py --workload curate_commit --seed 1 --seconds 12 --trace 0

Run from the repository root. The run generates (or reuses) its seeded
inputs and oracle, starts Spark at ``local[<cores>]`` from this one
driver, and times the program's public entry points from outside:

- set-up: ``session.get_spark`` + ``session.warm_python_workers`` +
  plan build, on a cold JVM;
- the first pass on that fresh session;
- ``WARMUP_PASSES`` unmeasured passes, then measured steady passes for
  ``--seconds`` (at least ``MIN_STEADY`` of them), each with the CPU
  time of the whole process tree.

Every pass's output is checked against the oracle. With ``--trace 0``
the last line of standard output is a JSON object with the end-to-end
metrics; with ``--trace 1`` the run is the traced run of tracing.py and
the JSON holds the per-layer metrics. A run whose output mismatches
prints the mismatch, reports ``correct: false`` and exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import (  # noqa: E402
    WORK, Passes, configure_env, driver_memory, host_cores, set_up, steady_passes, stop_spark,
)

# Input size per workload. At local[4] a pass takes 3-5 s, of which
# the fixed per-pass cost is about a third (curate_commit) and a fifth
# (curate_longpage); see README.md, "Input size". Larger inputs would
# not fit the benchmark's time budget.
SIZES = {"curate_commit": 2500, "curate_longpage": 100}


def untraced_run(wl, run_dir: str, seconds: float) -> tuple[dict, Passes]:
    from proctree import MemSampler

    spark, plan, setup = set_up(wl, run_dir)
    try:
        passes = Passes(wl, spark, plan, run_dir)
        with MemSampler(os.getpid()) as mem:
            first = passes.run(content=True)
            steady = steady_passes(passes, seconds)
    finally:
        stop_spark(spark)
    if first is None:
        raise RuntimeError("first pass failed")
    pass_s = statistics.median(w for w, _ in steady)
    metrics = {
        "setup_s": (sum(setup.values()), "s"),
        "pass_s": (pass_s, "s"),
        "rows_per_s": (wl.rows / pass_s, "rows/s"),
        "cpu_s": (statistics.median(c for _, c in steady), "CPU-s"),
        "peak_rss_mb": (mem.peak / 1e6, "MB"),
    }
    print("set-up: " + ", ".join(f"{k} {v:.3f}" for k, v in setup.items()))
    # one sample per run, too noisy for a bounded metric: printed here and
    # reported by the traced run as spark.first_pass_s
    print(f"first pass: {first[0]:.3f} s")
    print(f"measured passes: {len(steady)}  walls: {[round(w, 3) for w, _ in steady]}"
          f"  cpu: {[round(c, 2) for _, c in steady]}")
    return metrics, passes


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="curation benchmark, one workload run")
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", type=int, default=None, help="input rows (default: the workload's size)")
    a = ap.parse_args(argv)

    size = a.size or SIZES[a.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    configure_env(run_dir)
    try:
        import neuscraper_spark  # noqa: F401  the program under test; fails fast without it
        from proctree import steal_seconds
        from workloads import WORKLOADS

        steal0 = steal_seconds()
        print(f"workload {a.workload} seed {a.seed} size {size} master local[{host_cores()}] "
              f"driver memory {driver_memory()} loadavg_1m {os.getloadavg()[0]:.2f}")
        wl = WORKLOADS[a.workload](a.seed, size, os.path.join(WORK, "inputs"))
        print("inputs:", json.dumps({k: v for k, v in wl.props.items() if k != "kinds"}))
        if a.trace:
            from tracing import traced_run

            metrics, passes = traced_run(wl, run_dir, a.seconds)
        else:
            metrics, passes = untraced_run(wl, run_dir, a.seconds)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"cpu steal during the run: {steal_seconds() - steal0:.1f} s")
    if not a.trace:  # the traced run printed its per-layer table
        for name, (value, unit) in metrics.items():
            print(f"{name:28s} {value:14.4f} {unit}")
    print(f"{'failed_frac':28s} {passes.failed / passes.attempted:14.4f} ratio "
          f"({passes.failed}/{passes.attempted} passes)")
    print(json.dumps({
        "correct": passes.failed == 0,
        "attempted": passes.attempted,
        "failed": passes.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if passes.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
