"""Shared run harness: environment, Spark set-up and tear-down, passes.

Used by run.py (untraced runs) and tracing.py (the traced run).
"""

from __future__ import annotations

import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".curbench_work")

# After the first pass, WARMUP_PASSES unmeasured passes, then at least
# MIN_STEADY measured passes. Pass time falls over the first three
# passes of a fresh session, most steeply on curate_commit, as the JVM
# compiles its hot paths; it keeps falling slowly for ten or more
# passes, more than a run can wait for.
WARMUP_PASSES = 2
MIN_STEADY = 3
BLAS_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
             "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS")


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """An eighth of host memory, between 1 and 2 GiB."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(max(kib // 8 // 1024, 1024), 2048)}m"


def configure_env(run_dir: str) -> None:
    """Pin BLAS, keep every scratch file in ``run_dir``, and make the
    checkout importable by Spark's Python workers."""
    for v in BLAS_VARS:
        os.environ[v] = "1"
    for sub in ("spark-local", "shm", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["NEUSCRAPER_SHM_DIR"] = os.path.join(run_dir, "shm")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def start_spark(run_dir: str):
    from neuscraper_spark.session import get_spark

    return get_spark(
        "curbench",
        master=f"local[{host_cores()}]",
        extra_conf={
            "spark.driver.memory": driver_memory(),
            # the heap starts at its maximum: G1 growing it at a pass that
            # varies from run to run made the peak memory bimodal
            "spark.driver.extraJavaOptions": f"-Xms{driver_memory()} -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def set_up(wl, run_dir: str, tracer=None):
    """Cold set-up: (spark, plan, {boot_s, warm_s, plan_s})."""
    from neuscraper_spark.session import warm_python_workers

    t0 = time.perf_counter()
    spark = start_spark(run_dir)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        warm_python_workers(spark)
        t2 = time.perf_counter()
        plan = wl.build(spark)
        t3 = time.perf_counter()
    except BaseException:
        stop_spark(spark)
        raise
    if tracer is not None:
        tracer.add("session.boot", t0, t1)
        tracer.add("session.warm", t1, t2)
        tracer.add("plan.build", t2, t3)
    return spark, plan, {"boot_s": t1 - t0, "warm_s": t2 - t1, "plan_s": t3 - t2}


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


class Passes:
    """Runs and checks passes; counts attempts and failures."""

    def __init__(self, wl, spark, plan, run_dir: str):
        self.wl, self.spark, self.plan, self.run_dir = wl, spark, plan, run_dir
        self.attempted = self.failed = 0
        self.inspected = None

    def run(self, content: bool, inspect=None):
        """One timed pass -> (wall_s, cpu_s, output), or None if it
        raised. ``inspect(out)`` runs before the check (which may remove
        the output); its result is kept in ``self.inspected``."""
        from proctree import cpu_seconds

        self.attempted += 1
        out_dir = os.path.join(self.run_dir, f"out-{self.attempted}")
        c0, t0 = cpu_seconds(os.getpid()), time.perf_counter()
        try:
            out = self.wl.run_pass(self.spark, self.plan, out_dir)
        except Exception:  # a pass that raises counts as failed; the run goes on
            self.failed += 1
            print(f"pass {self.attempted} raised:", file=sys.stderr)
            traceback.print_exc()
            return None
        wall, cpu = time.perf_counter() - t0, cpu_seconds(os.getpid()) - c0
        self.inspected = inspect(out) if inspect is not None else None
        errors = self.wl.check(self.spark, out, content)
        if errors:
            self.failed += 1
            for e in errors[:10]:
                print(f"pass {self.attempted} MISMATCH {e}", file=sys.stderr)
        return wall, cpu, out


def steady_passes(passes: Passes, seconds: float) -> list[tuple[float, float]]:
    """WARMUP_PASSES unmeasured passes, then measured passes for
    ``seconds`` and at least MIN_STEADY of them -> [(wall_s, cpu_s)].
    The first measured pass also gets the content check. A pass whose
    output mismatches is still measured (and counted as failed); gives
    up after MIN_STEADY passes that raised."""
    warm = [passes.run(content=False) for _ in range(WARMUP_PASSES)]
    print(f"warm-up passes: {WARMUP_PASSES}  walls: {[round(r[0], 3) for r in warm if r is not None]}")
    out: list[tuple[float, float]] = []
    raised = 0
    t_start = time.perf_counter()
    while len(out) < MIN_STEADY or time.perf_counter() - t_start < seconds:
        r = passes.run(content=not out)
        if r is not None:
            out.append(r[:2])
        else:
            raised += 1
            if raised >= MIN_STEADY:
                raise RuntimeError(f"{raised} passes raised")
    return out
