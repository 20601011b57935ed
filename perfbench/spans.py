"""Tracing for the benchmark's traced runs.

Spans (name, start, end, parent, op id) are recorded around the
benchmark's own calls into each layer, and around package functions
the traced run wraps, kept in memory and written out when the run
ends. Spark-side counters come from public or
``private[spark]`` JVM surfaces reached through py4j: the job group of
an op (status tracker), per-stage metrics (``AppStatusStore``) and the
Catalyst phase timings of a query (``QueryExecution.tracker``).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext

from py4j.protocol import Py4JJavaError


class Tracer:
    """In-memory span recorder. ``span`` nests: the innermost open span
    is the parent of the next one."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = None

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        that child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            dict(s, start=round(s["start"] - t0, 6), end=round(s["end"] - t0, 6))
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, "self_s": self.self_times(), **extra}, f)


class NoTracer:
    """Stand-in used with tracing off: spans cost nothing."""

    op = None

    def span(self, name: str):
        return nullcontext()


def catalyst_phases(df) -> dict[str, float]:
    """Seconds spent in analysis, optimization and planning of ``df``'s
    own QueryExecution, as Spark's phase tracker measured them."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def wait_for_listeners(spark) -> None:
    """Let the listener bus drain so the status store holds every
    finished job and stage of the op just run."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)


def group_metrics(spark, group: str) -> dict[str, float]:
    """Execution counters of every job run under ``group``."""
    sc = spark.sparkContext
    jvm = sc._jvm
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    jobs = list(tracker.getJobIdsForGroup(group))
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(int(s) for s in info.stageIds)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "gc_s": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0, "task_skew": 1.0}
    for s in sorted(stages):
        try:
            st = store.stageAttempt(s, 0, False, jvm.java.util.ArrayList(), False,
                                    sc._gateway.new_array(jvm.double, 0))._1()
        except Py4JJavaError:  # stage evicted from the store or never run
            continue
        if str(st.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["gc_s"] += st.jvmGcTime() / 1000.0
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        if st.numCompleteTasks() > 1:
            summary = store.taskSummary(s, 0, quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                med, top = run.apply(0), run.apply(1)
                if med > 0:
                    out["task_skew"] = max(out["task_skew"], top / med)
    return out


def _children(node) -> list:
    if node.getClass().getName().endswith("QueryStageExec"):
        return [node.plan()]  # an adaptive query stage wraps its exchange
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def decode_units(df) -> int:
    """Work units (Zarr chunks or whole files) the executed scan of
    ``df`` handed to its decode tasks: the records that the shuffle
    feeding each ``MapInPandas`` decode wrote. Call after the action."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getName().endswith("AdaptiveSparkPlanExec"):
        plan = plan.executedPlan()  # the final plan, once executed
    stack, units = [plan], 0
    while stack:
        node = stack.pop()
        kids = _children(node)
        if node.getClass().getName().endswith("MapInPandasExec"):
            for k in kids:
                while k.getClass().getName().endswith("QueryStageExec"):
                    k = k.plan()
                if k.getClass().getName().endswith("ShuffleExchangeExec"):
                    units += k.metrics().apply("shuffleRecordsWritten").value()
        stack.extend(kids)
    return units
