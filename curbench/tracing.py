"""Traced run: per-layer numbers for one workload.

Spans are kept in memory around each call the benchmark makes into a
layer and written to ``.curbench_work/trace-<input kind>-s<seed>.json``
when the run ends. The numbers come from three sources:

- in-process kernel calls: ``html_parser.parse_nodes``,
  ``tokenizer.tokenize``, ``model.score_chunks``,
  ``quality.langid_scores_batch`` and ``quality.ppl_batch``, called on
  one core over the workload's seeded check sample. Each sample page
  carries the weight of its stratum (pages in the stratum / pages
  sampled), so a kernel figure is CPU-seconds per pass over the whole
  input;
- stage-prefix Spark actions: the extract stage alone, with langid+ppl
  folded in, and the full curate chain, in interleaved rounds whose
  medians are compared with each other and, on curate_commit, with
  the committed passes;
- SQL metrics read from the plan that actually executed, and task and
  stage figures from Spark's status store.

The run also makes untraced and traced passes, ordered U T T U; the
difference of their medians is the tracing overhead.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import Counter
from contextlib import contextmanager

from harness import ROOT
from proctree import cpu_seconds

# name -> unit, as BENCHMARK.json declares them; every traced run
# reports all of them, 0 for a layer the workload does not use
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    PER_LAYER = {m["name"]: m["unit"] for m in json.load(_f)["per_layer"]}
OVERHEAD_PAIRS = 2
# rounds of the stage-prefix actions; each prefix figure is a median
PREFIX_ROUNDS = 3


class Tracer:
    """In-memory spans: (name, parent, start, end, attrs)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def add(self, name: str, t0: float, t1: float, **attrs) -> None:
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "parent": parent, "start": t0, "end": t1, **attrs})

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        self._stack.append(name)
        try:
            yield attrs
        finally:
            self._stack.pop()
            self.add(name, t0, time.perf_counter(), **attrs)

    def self_times(self) -> dict[str, tuple[int, float, float]]:
        """name -> (calls, total s, self s); self = total minus the time
        direct children cover."""
        child: Counter = Counter()
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list] = {}
        for s in self.spans:
            c = out.setdefault(s["name"], [0, 0.0, 0.0])
            c[0] += 1
            c[1] += s["end"] - s["start"]
        for name, c in out.items():
            c[2] = c[1] - child[name]
        return {k: tuple(v) for k, v in out.items()}


# ------------------------------------------------------------ Spark side


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def plan_metrics(jplan) -> Counter:
    """Sum SQL metrics per (node name, metric) over an executed plan,
    descending into adaptive plans and query stages."""
    out: Counter = Counter()
    todo = [jplan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        for kv in _iter(node.metrics()):
            out[(name, kv._1())] += kv._2().value()
        todo.extend(_iter(node.children()))
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            todo.append(node.plan())
    return out


def python_metrics(m: Counter) -> dict:
    def total(metric):
        return sum(v for (n, k), v in m.items() if k == metric)

    return {
        "boot_s": (total("pythonBootTime") + total("pythonInitTime")) / 1e3,
        "sent_mb": total("pythonDataSent") / 1e6,
        "recv_mb": total("pythonDataReceived") / 1e6,
    }


def execute_plan(df) -> tuple[float, float, Counter]:
    """Run df's own physical plan -> (wall s, tree CPU s, SQL metrics).
    Metrics are read from the same plan object that executed (a fresh
    count() or write builds a new plan whose metrics stay 0)."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    c0, t0 = cpu_seconds(os.getpid()), time.perf_counter()
    plan.execute().count()
    return time.perf_counter() - t0, cpu_seconds(os.getpid()) - c0, plan_metrics(plan)


def last_stage_id(spark) -> int:
    ids = [s.stageId() for s in _stages(spark)]
    return max(ids, default=-1)


def _stages(spark):
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store fills asynchronously
    store = sc._jsc.sc().statusStore()
    return list(_iter(store.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)))


def engine_stats(spark, after: int) -> dict:
    """Tasks, task skew and shuffle bytes of the stages after ``after``.
    Skew is max/median task duration in the stage with the most
    executor run time."""
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = [s for s in _stages(spark) if s.stageId() > after and str(s.status()) == "COMPLETE"]
    tasks = sum(s.numTasks() for s in stages)
    shuffle = sum(s.shuffleWriteBytes() for s in stages)
    skew = 1.0
    if stages:
        top = max(stages, key=lambda s: s.executorRunTime())
        durs = [t.duration().get() for t in _iter(store.taskList(top.stageId(), top.attemptId(), 1 << 20))
                if t.duration().isDefined()]
        if durs and statistics.median(durs) > 0:
            skew = max(durs) / statistics.median(durs)
    return {"tasks": tasks, "task_skew": skew, "shuffle_mb": shuffle / 1e6}


# ------------------------------------------------------- kernel probes


def _strata(wl) -> dict[str, tuple[str, float]]:
    """url -> (stratum, pages in the stratum / sample pages in it); the
    strata are the page kinds of the generator."""
    kinds = wl.props["kinds"]
    strata = {u: kinds[u] for u in wl.sample}
    sizes = Counter(kinds.values())
    sampled = Counter(strata.values())
    return {u: (s, sizes[s] / sampled[s]) for u, s in strata.items()}


def kernel_probe(wl, tracer: Tracer) -> dict:
    """Single-core kernel CPU per pass, estimated from the check sample."""
    from neuscraper_spark import config as C
    from neuscraper_spark import html_parser
    from neuscraper_spark.functions.encoding import decode_html
    from neuscraper_spark.model import load_weights, score_chunks
    from neuscraper_spark.operators.extract import _page_sequence
    from neuscraper_spark.operators.quality import _ppl_tables, langid_scores_batch, ppl_batch
    from neuscraper_spark.tokenizer import tokenize

    strata = _strata(wl)
    w_model, tables = load_weights(), _ppl_tables()
    acc: Counter = Counter()
    groups: dict[str, dict] = {}
    for page in wl.sample_pages():
        stratum, w = strata[page["url"]]
        acc["pages"] += w
        html = decode_html(page["html"])
        if html is None:
            continue
        with tracer.span("html_parser.parse_nodes") as a:
            t0 = time.process_time()
            html_parser.parse_nodes(html)
            a["cpu"] = time.process_time() - t0
        acc["parse"] += w * a["cpu"]
        try:  # the fast tokenizer's bail is what sends a page to stdlib
            html_parser._fast_feed(html_parser._TreeBuilder(), html)
        except html_parser._Bail:
            acc["bail"] += w
        rows = _page_sequence(page["html"])
        with tracer.span("tokenizer.tokenize") as a:
            t0 = time.process_time()
            for r in rows:
                tokenize(r["text"], max_len=C.MODEL_MAX_TOKEN_LEN)
            a["cpu"] = time.process_time() - t0
        acc["tokenize"] += w * a["cpu"]
        chunks = [[r["token_ids"] for r in rows[i : i + C.CHUNK_SIZE]]
                  for i in range(0, len(rows), C.CHUNK_SIZE)]
        acc["chunks"] += w * len(chunks)
        acc["nodes"] += w * len(rows)
        group = groups.setdefault(stratum, {"w": w, "chunks": [], "texts": []})
        group["chunks"] += chunks
        if page["url"] in wl.expected:
            group["texts"].append(wl.expected[page["url"]][1])
    # one batched call per stratum, as the fused stage batches a whole
    # Arrow batch of pages
    for group in groups.values():
        w = group["w"]
        for name, fn, arg in (
            ("model.score_chunks", lambda x: score_chunks(x, w_model), group["chunks"]),
            ("quality.langid_scores_batch", langid_scores_batch, group["texts"]),
            ("quality.ppl_batch", lambda x: ppl_batch(x, tables), group["texts"]),
        ):
            if not arg:
                continue
            with tracer.span(name) as a:
                t0 = time.process_time()
                fn(arg)
                a["cpu"] = time.process_time() - t0
            acc[name] += w * a["cpu"]
    return {
        "html_parser.parse_s": acc["parse"],
        "html_parser.bail_frac": acc["bail"] / acc["pages"],
        "tokenizer.tokenize_s": acc["tokenize"],
        "model.score_s": acc["model.score_chunks"],
        "model.chunks": round(acc["chunks"]),
        "model.nodes": round(acc["nodes"]),
        "quality.langid_s": acc["quality.langid_scores_batch"],
        "quality.ppl_s": acc["quality.ppl_batch"],
    }


# ------------------------------------------------------- per workload


def _overhead_passes(passes, tracer: Tracer, spark, inspect=None):
    """OVERHEAD_PAIRS untraced and traced passes, ordered U T T U ... so
    that passes still getting faster do not favour either side. Returns
    the untraced and the traced walls, the last traced pass's (wall,
    cpu, out), its engine stats and what ``inspect`` returned for it."""
    untraced, traced = [], []
    last = stats = seen = None

    def run_traced():
        nonlocal last, stats, seen
        mark = last_stage_id(spark)

        def hook(out):  # engine stats before the check adds stages
            return engine_stats(spark, mark), inspect(out) if inspect else None

        with tracer.span("pass.traced"):
            r = passes.run(content=True, inspect=hook)
        if r is not None:
            traced.append(r[0])
            last, (stats, seen) = r, passes.inspected

    def run_untraced():
        r = passes.run(content=False)
        if r is not None:
            untraced.append(r[0])

    for i in range(OVERHEAD_PAIRS):
        for step in ((run_untraced, run_traced) if i % 2 == 0 else (run_traced, run_untraced)):
            step()
    if not untraced or not traced:
        raise RuntimeError("no successful pass to trace")
    return untraced, traced, last, stats, seen


def _difference(name: str, whole: list[float], part: list[float]) -> float:
    """median(whole) - median(part), clamped at 0. A difference smaller
    than the spread (max - min) of either sample is printed as noise."""
    diff = statistics.median(whole) - statistics.median(part)
    noise = max(max(whole) - min(whole), max(part) - min(part))
    if diff < noise:
        print(f"note: {name} = {diff:.3f} s is within the spread of its samples ({noise:.3f} s)")
    return max(diff, 0.0)


def trace_curate(wl, spark, plan, passes, tracer: Tracer) -> dict:
    from pyspark.sql import functions as F

    from neuscraper_spark.operators.extract import extract_curate_fused, extract_fused
    from neuscraper_spark.sources.writer import TableWriter

    def inspect(out):
        if not wl.commits:  # the noop sink: the pass's observation has the kept share
            return {"kept": out["kept"]}
        out_dir, _ = out
        files = [os.path.join(d, f) for d, _, fs in os.walk(out_dir) for f in fs if f.endswith(".parquet")]
        kept = TableWriter(out_dir, partition_col="host_bucket").read(spark).agg(
            F.avg(F.col("keep").cast("double"))).first()[0]
        return {"files": len(files), "mb": sum(os.path.getsize(f) for f in files) / 1e6, "kept": kept}

    untraced, traced, (_, cpu, _), stats, seen = _overhead_passes(passes, tracer, spark, inspect)
    pages = wl.pages(spark)
    # PREFIX_ROUNDS interleaved rounds of the three prefixes; a fresh
    # DataFrame per action, so each runs (and meters) its own plan
    prefixes = {
        "extract.stage": lambda: extract_fused(spark, pages),
        "extract.langid_ppl": lambda: extract_fused(spark, pages, with_langid_ppl=True),
        "curate.full": lambda: extract_curate_fused(spark, pages),
    }
    walls: dict[str, list[float]] = {name: [] for name in prefixes}
    for _ in range(PREFIX_ROUNDS):
        for name, make in prefixes.items():
            with tracer.span(name) as a:
                a["wall"], a["cpu"], m = execute_plan(make())
            walls[name].append(a["wall"])
    py = python_metrics(m)  # the last round's full chain
    kernel = kernel_probe(wl, tracer)
    kernel_cpu = sum(kernel[k] for k in ("html_parser.parse_s", "tokenizer.tokenize_s", "model.score_s",
                                         "quality.langid_s", "quality.ppl_s"))
    u, t = statistics.median(untraced), statistics.median(traced)
    writer = {}
    if wl.commits:
        writer = {
            # every committed pass, traced or not, against the full chain
            "writer.commit_s": _difference("writer.commit_s", untraced + traced, walls["curate.full"]),
            "writer.files": seen["files"],
            "writer.mb": seen["mb"],
        }
    return {
        **kernel,
        **writer,
        "quality.tail_s": _difference("quality.tail_s", walls["curate.full"], walls["extract.langid_ppl"]),
        "quality.kept_frac": seen["kept"],
        "extract.stage_s": statistics.median(walls["extract.stage"]),
        "extract.python_boot_s": py["boot_s"],
        "extract.arrow_sent_mb": py["sent_mb"],
        "extract.arrow_recv_mb": py["recv_mb"],
        "extract.residual_cpu_s": cpu - kernel_cpu,
        "spark.tasks": stats["tasks"],
        "spark.task_skew": stats["task_skew"],
        "spark.shuffle_mb": stats["shuffle_mb"],
        "trace.untraced_pass_s": u,
        "trace.traced_pass_s": t,
        "trace.overhead_frac": t / u - 1,
    }


def report(workload: str, tracer: Tracer, metrics: dict) -> None:
    print(f"\nper-layer table: {workload}")
    print(f"{'layer':<14}{'metric':<30}{'value':>14}  unit")
    for name, value in metrics.items():
        layer = name.split(".")[0]
        print(f"{layer:<14}{name:<30}{value:>14.4f}  {PER_LAYER[name]}")
    print(f"\nspans: {'name':<30}{'calls':>6}{'total s':>10}{'self s':>10}")
    for name, (calls, total, own) in tracer.self_times().items():
        print(f"       {name:<30}{calls:>6}{total:>10.3f}{own:>10.3f}")


def traced_run(wl, run_dir: str, seconds: float):
    """The traced run of one workload -> ({metric: (value, unit)}, passes)."""
    from harness import WARMUP_PASSES, WORK, Passes, set_up, stop_spark

    tracer = Tracer()
    spark, plan, setup = set_up(wl, run_dir, tracer)
    try:
        passes = Passes(wl, spark, plan, run_dir)
        with tracer.span("pass.first"):
            first = passes.run(content=True)
        if first is None:
            raise RuntimeError("first pass failed")
        with tracer.span("pass.warmup"):
            for _ in range(WARMUP_PASSES):
                passes.run(content=False)
        found = trace_curate(wl, spark, plan, passes, tracer)
    finally:
        stop_spark(spark)
    found["spark.first_pass_s"] = first[0]
    found["session.boot_s"] = setup["boot_s"]
    found["session.warm_s"] = setup["warm_s"]
    metrics = {name: float(found.get(name, 0.0)) for name in PER_LAYER}
    report(type(wl).__name__, tracer, metrics)
    path = os.path.join(WORK, f"trace-{wl.kind}-s{wl.seed}.json")
    with open(path, "w") as f:
        json.dump({"spans": tracer.spans, "metrics": metrics}, f)
    print(f"spans written to {os.path.relpath(path)}")
    return {name: (v, PER_LAYER[name]) for name, v in metrics.items()}, passes
