#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload weather_query --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The run generates its seeded inputs,
sets a Spark session up from a cold start (``setup_s``), runs an
untimed warm-up pass on smaller inputs, then the workload's ops
closed-loop, one pass per ``pass_seconds`` of ``--seconds`` (at least
one), checks every op's output and prints ``{"correct", "attempted",
"failed", "metrics"}`` as the last line of stdout. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs every measured op
of half as many passes twice, untraced and traced, and reports the
per-layer metrics plus the tracing overhead. Progress and errors go to stderr.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import itertools
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def environment(work: str) -> None:
    """Settings a Spark run needs on a small host, all inside the
    checkout: Python workers import the package from it, scratch
    space lives in the run's work directory."""
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    # a task keeps a JVM thread and a Python worker busy: half the
    # usable cores run tasks, so the two never compete for a core
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -Djava.io.tmpdir={local} -XX:-UsePerfData".strip()
    os.environ.setdefault("SPARK_LAUNCHER_OPTS", "-XX:-UsePerfData")
    sys.path.insert(0, ROOT)


def stop_jvm() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (its Python workers end with it)."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Py4JError:  # the gateway may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux),
    so a process the JVM started and left behind, such as PySpark's
    worker daemon, becomes a child here and ``reap`` waits for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        log(f"prctl(PR_SET_CHILD_SUBREAPER) failed, errno {ctypes.get_errno()}")


def child_pids() -> list[int]:
    """Every process whose parent is this one, zombies included."""
    me, pids = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # it ended meanwhile
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            pids.append(int(name))
    return pids


def reap() -> None:
    """Wait until every process this run started has ended: children get
    20 s to exit, then SIGTERM, then SIGKILL five seconds later."""
    deadline = time.monotonic() + 20
    while pids := child_pids():
        late = time.monotonic() - deadline
        sig = signal.SIGKILL if late > 5 else signal.SIGTERM if late > 0 else None
        for pid in pids:
            with contextlib.suppress(ChildProcessError, ProcessLookupError):
                if sig is not None:
                    os.kill(pid, sig)
                os.waitpid(pid, os.WNOHANG)
        time.sleep(0.05)


def peak_rss_mb() -> float:
    """Peak resident memory of this driver process plus the JVM."""
    from pyspark import SparkContext

    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    return kb / 1024


def warmup(spark) -> None:
    """One small job, so a session counts as set up once it has run one.
    Python workers, imports, code generation and each op's first
    execution are warmed by the warm-up pass (see ``window``)."""
    spark.range(1000).selectExpr("sum(id)").collect()


def setup() -> tuple[object, tuple[float, float]]:
    """Start the session from cold, as a weather-mv or xql run does: the
    JVM launches, the session starts and runs one small job. Returns
    the session and the seconds of its start and of that first job."""
    from weather_tools_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    warmup(spark)
    times = (t1 - t0, time.perf_counter() - t1)
    log(f"setup {times[0]:.2f}+{times[1]:.2f}s")
    return spark, times


def window(spark, wl, warm_wl, seconds: float, step) -> tuple[list, list, float]:
    """An untimed warm-up pass, one op per format or sink on
    ``warm_wl``'s smaller, different inputs: Python worker start,
    imports, code generation and class loading happen there, and no
    result can be reused. Then a closed loop over a fixed number of
    ops: one pass per ``wl.pass_seconds`` of ``seconds``, at least one,
    so every run of a workload measures the same ops and only their
    order follows the seed. Returns the warm-up results, the measured
    ones and the measured loop's wall time."""
    from perfbench.spans import NoTracer

    plain, first = NoTracer(), {}
    for op in itertools.islice(warm_wl.passes(), len(warm_wl.pass_ops())):
        first.setdefault(op.name, op)
    warm = [warm_wl.run(spark, op, plain) for op in first.values()]
    n = len(wl.pass_ops()) * max(1, round(seconds / wl.pass_seconds))
    ops, done = wl.passes(), []
    spark.sparkContext.setJobGroup("window", wl.name)
    t0 = time.perf_counter()
    while len(done) < n:
        done.append(step(spark, wl, next(ops), len(done)))
    elapsed = time.perf_counter() - t0
    for tag, rs in (("warm-up", warm), ("measured", done)):
        log(tag + " " + " ".join(f"{r.op.name}/{r.op.scan} {r.wall:.3f}s" for r in rs))
    return warm, done, elapsed


def check_all(wl, results: list) -> None:
    for r in results:
        if r.error is not None:
            continue
        try:
            wl.finish(r)
            wl.check(r)
        except Exception as e:
            r.error = f"check: {type(e).__name__}: {e}"[:500]
        if r.error is not None:
            log(f"FAILED {r.op.name}/{r.op.scan}: {r.error}")


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def end_to_end(results: list, elapsed: float, setup_times) -> dict:
    ok = [r for r in results if r.error is None]
    cells = sum(r.cells for r in ok)
    out_bytes = sum(r.bytes_out for r in ok)
    return {
        "setup_s": (sum(setup_times), "s"),
        "query_p50_s": (median(r.wall for r in results), "s"),
        "queries_per_s": (len(ok) / elapsed, "1/s"),
        "scan_full_p50_s": (median(r.wall for r in results if r.op.scan == "full"), "s"),
        "scan_pruned_p50_s": (median(r.wall for r in results if r.op.scan == "pruned"), "s"),
        "cells_per_s": (cells / elapsed, "1/s"),
        "ingest_p50_s": (median(r.deliver for r in results), "s"),
        "bytes_out_per_cell": (out_bytes / cells if cells else 0.0, "B/cell"),
    }


def run_untraced(spark, wl, warm_wl, seconds: float):
    from perfbench.spans import NoTracer

    tracer = NoTracer()
    warm, results, elapsed = window(spark, wl, warm_wl, seconds,
                                    lambda s, w, op, i: w.run(s, op, tracer))
    check_all(warm_wl, warm)
    check_all(wl, results)
    return warm, results, elapsed


@contextlib.contextmanager
def traced_calls(tracer, targets):
    """Wrap ``module.attr`` for each ``(module, attr, span)`` of
    ``targets`` in a span while a traced op runs, for layer calls made
    inside the package (the xql rewrite, the CLI's dataset open)."""
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]

    def wrap(fn, name):
        def traced(*a, **k):
            if tracer.op is None:
                return fn(*a, **k)
            with tracer.span(name):
                return fn(*a, **k)
        return traced

    for (mod, attr, fn), (_, _, name) in zip(saved, targets):
        setattr(mod, attr, wrap(fn, name))
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def run_traced(spark, wl, warm_wl, seconds: float, tracer):
    """Each op runs untraced and traced back to back, alternating which
    goes first, so both sides see the same inputs and the same warmth."""
    from perfbench.spans import NoTracer, group_metrics, wait_for_listeners
    from weather_tools_spark.plans import xql
    from weather_tools_spark.sources import opener

    plain, pairs = NoTracer(), []

    def step(spark, wl, op, i):
        sc = spark.sparkContext
        runs = {}
        for traced in ((False, True) if i % 2 == 0 else (True, False)):
            if traced:
                tracer.op, group = i, f"op-{i}"
                sc.setJobGroup(group, f"{wl.name} {op.name} {op.scan}")
                res = wl.run(spark, op, tracer)
                tracer.op = None
                wait_for_listeners(spark)
                res.layers.update(group_metrics(spark, group))
                res.layers["build_jobs"] = build_jobs(spark, group,
                                                      res.layers.get("build_end_ms", 0.0))
            else:
                sc.setJobGroup("window", wl.name)
                res = wl.run(spark, op, plain)
            runs[traced] = res
        pairs.append(runs)
        return runs[True]

    with traced_calls(tracer, [(xql, "rewrite", "plans.xql_rewrite"),
                               (opener, "open_dataset", "sources.open")]):
        # each op runs twice: half the passes keep the run's length
        warm, traced, elapsed = window(spark, wl, warm_wl, seconds / 2, step)
    check_all(warm_wl, warm)
    check_all(wl, [p[False] for p in pairs] + traced)
    return warm, pairs, elapsed


def build_jobs(spark, group: str, build_end_ms: float) -> int:
    """Jobs of ``group`` submitted before the op's build returned."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    n = 0
    for j in sc.statusTracker().getJobIdsForGroup(group):
        sub = store.job(j).submissionTime()
        if sub.isDefined() and sub.get().getTime() <= build_end_ms:
            n += 1
    return n


def per_layer(wl, warm, pairs, tracer, setup_times, kept, codecs) -> dict:
    """Per-layer medians over the traced ops, the codec probe and the
    tracing overhead."""
    # seconds per op and span name: every span, and the op's direct
    # parts only (a span nested in another is not added twice)
    spans: dict[int, dict[str, float]] = {}
    direct: dict[int, dict[str, float]] = {}
    for s in tracer.spans:
        if s["op"] is None:
            continue
        d = spans.setdefault(s["op"], {})
        d[s["name"]] = d.get(s["name"], 0.0) + s["end"] - s["start"]
        if s["parent"] is not None and tracer.spans[s["parent"]]["name"] == "op":
            d = direct.setdefault(s["op"], {})
            d[s["name"]] = d.get(s["name"], 0.0) + s["end"] - s["start"]
    rows, gaps = [], []
    for i, p in enumerate(pairs):
        r, sp, top = p[True], spans.get(i, {}), direct.get(i, {})
        if r.error is not None:
            continue
        lay = r.layers
        analysis = lay.get("analysis", 0.0)
        built = sum(top.get(k, 0.0) for k in ("queries.build", "sources.open", "plans.xql"))
        sink = sum(v for k, v in top.items() if k.startswith("pipeline.sink."))
        exec_s = top.get("exec", 0.0) + sink
        build = built - analysis
        parts = build + analysis + lay.get("optimization", 0.0) + lay.get("planning", 0.0) + exec_s
        gaps.append(abs(sp["op"] - parts) / sp["op"])
        rows.append((r, sp, build, exec_s))

    def med(f):
        return median(f(*row) for row in rows)

    def med_span(name):
        return median(sp[name] for _, sp, _, _ in rows if name in sp)

    traced = [p[True] for p in pairs]
    plain = [p[False] for p in pairs]
    t_sum, u_sum = sum(r.wall for r in traced), sum(r.wall for r in plain)
    m = {
        "session.start_s": (setup_times[0], "s"),
        "session.warmup_s": (setup_times[1], "s"),
        "session.first_pass_s": (sum(r.wall for r in warm), "s"),
        "session.peak_rss_mb": (peak_rss_mb(), "MB"),
        "queries.build_s": (med(lambda r, sp, b, e: b), "s"),
        "queries.build_jobs": (med(lambda r, sp, b, e: r.layers["build_jobs"]), "count"),
        "catalyst.analysis_s": (med(lambda r, sp, b, e: r.layers.get("analysis", 0.0)), "s"),
        "catalyst.optimization_s": (med(lambda r, sp, b, e: r.layers.get("optimization", 0.0)), "s"),
        "catalyst.planning_s": (med(lambda r, sp, b, e: r.layers.get("planning", 0.0)), "s"),
        "exec.s": (med(lambda r, sp, b, e: e), "s"),
        "exec.jobs": (med(lambda r, sp, b, e: r.layers["jobs"]), "count"),
        "exec.stages": (med(lambda r, sp, b, e: r.layers["stages"]), "count"),
        "exec.tasks": (med(lambda r, sp, b, e: r.layers["tasks"]), "count"),
        "exec.shuffle_write_mb": (med(lambda r, sp, b, e: r.layers["shuffle_write_mb"]), "MB"),
        "exec.spill_mb": (med(lambda r, sp, b, e: r.layers["spill_mb"]), "MB"),
        "exec.gc_s": (med(lambda r, sp, b, e: r.layers["gc_s"]), "s"),
        "exec.task_skew": (med(lambda r, sp, b, e: r.layers["task_skew"]), "ratio"),
        "sources.open_s": (med_span("sources.open"), "s"),
        "sources.chunks_kept_frac": (kept, "ratio"),
        "plans.xql_rewrite_s": (med_span("plans.xql_rewrite"), "s"),
    }
    from perfbench.fixtures import FORMATS

    for c in sorted(FORMATS):
        m[f"sources.decode_mb_s.{c}"] = (codecs.get(c, 0.0), "MB/s")
    for s in ("parquet", "zarr", "nc3", "split"):
        m[f"pipeline.sink_s.{s}"] = (med_span(f"pipeline.sink.{s}"), "s")
    m["pipeline.files_written"] = (
        median(r.layers["files_written"] for r in traced if "files_written" in r.layers), "count")
    m["trace.overhead_s"] = (median(t.wall - u.wall for t, u in zip(traced, plain)), "s")
    m["trace.overhead_frac"] = (t_sum / u_sum - 1.0, "ratio")
    m["trace.parts_gap_frac"] = (max(gaps, default=0.0), "ratio")
    if gaps and max(gaps) > 0.05:
        log(f"layer parts miss op wall time by up to {max(gaps):.1%}")
    return m


def chunks_kept(wl, pairs) -> float:
    """Work units the traced queries' scans decoded over the units their
    stores hold: Zarr chunk positions (every variable decodes each) or
    files. Measured on weather_query only; 0 elsewhere."""
    if wl.name != "weather_query":
        return 0.0
    ok = [p[True] for p in pairs if p[True].error is None]
    total = sum(wl.stores[r.op.name]["chunks"] for r in ok)
    return sum(r.layers["decode_units"] for r in ok) / total if total else 0.0


def probe_codecs(wl) -> dict:
    from perfbench.codec_probe import probe

    if wl.name == "weather_query":
        return {c: probe(c, s["uri"]) for c, s in wl.stores.items()}
    return {"grib2_simple": probe("grib2_simple", wl.days[0]["uri"])}  # the ingest input


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "weather_tools_spark", "__init__.py")):
        log(f"no weather_tools_spark package under {ROOT}: run from a full checkout")
        return 2
    if not __debug__:
        log("the output checks use assert statements: run without python -O")
        return 2
    adopt_orphans()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    environment(work)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    wl = warm_wl = None
    # the package prints progress to stdout; the result line must be last
    with contextlib.redirect_stdout(sys.stderr):
        try:
            t0 = time.perf_counter()
            wl = WORKLOADS[args.workload](work, args.seed)
            warm_wl = WORKLOADS[args.workload](os.path.join(work, "warm"), args.seed, warm=True)
            log(f"inputs ready in {time.perf_counter() - t0:.2f}s")
            spark, setup_times = setup()
            if args.trace:
                from perfbench.spans import Tracer

                tracer = Tracer()
                warm, pairs, elapsed = run_traced(spark, wl, warm_wl, args.seconds, tracer)
                results = warm + [r for p in pairs for r in p.values()]
                kept = chunks_kept(wl, pairs)
                metrics = per_layer(wl, warm, pairs, tracer, setup_times, kept, probe_codecs(wl))
                out = os.path.join(HERE, ".results")
                os.makedirs(out, exist_ok=True)
                tracer.dump(os.path.join(out, f"trace-{wl.name}-{args.seed}.json"),
                            {"metrics": {k: v for k, (v, _) in metrics.items()}})
            else:
                warm, measured, elapsed = run_untraced(spark, wl, warm_wl, args.seconds)
                metrics = end_to_end(measured, elapsed, setup_times)
                results = warm + measured
            failed = sum(r.error is not None for r in results)
            log(f"{len(results)} ops in {elapsed:.2f}s, {failed} failed")
        except Exception:
            traceback.print_exc()
            return 1
        finally:
            for w in (wl, warm_wl):
                if w is not None:
                    w.close()
            try:
                stop_jvm()
            finally:
                reap()
                shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(results),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
