"""Executor-loss recovery probe: SIGKILL a live executor JVM in the
middle of a query and assert the answer's hash is unchanged.

Task retries (tools/retry_probe.py) exercise Python-level failures
inside a healthy executor; this probe exercises the bigger 100-TB
failure mode — losing the executor PROCESS itself (spot preemption,
OOM kill, hardware fault). On a standalone/local-cluster master the
worker relaunches the executor, the driver resubmits the lost tasks
(and regenerates lost shuffle/broadcast blocks), and a deterministic
engine must produce the exact same frame.

Mechanism: master local-cluster[2,4,2048] (two REAL executor JVMs),
one warm-up pass records each query's baseline md5, then each query
re-runs with a background assassin thread that waits ~30% into the
query's measured runtime and SIGKILLs the youngest executor JVM (found
via /proc cmdline scan for CoarseGrainedExecutorBackend). Compare
hashes; any divergence or job failure is a defect.

Usage: python tools/executor_loss_probe.py [sf_dir] [query ...]
Prints ``name LOSS_OK <hash>`` / ``name LOSS_DIVERGED ...`` /
``name LOSS_FAILED <err>``; exit 1 on any non-OK.
"""

from __future__ import annotations

import hashlib
import os
import signal
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_QUERIES = [
    # shuffle-heavy agg, broadcast joins, Arrow kernel, LSH lanes
    "q1_pricing_summary",
    "q9_product_profit",
    "stats_spearman_corr",
    "dedup_minhash_lsh_pairs",
]


def frame_md5(df) -> str:
    cols = sorted(df.columns)
    rows = [tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect()]
    rows.sort()
    h = hashlib.md5()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def executor_pids(driver_pid: int, app_id: str) -> list[int]:
    """PIDs of THIS application's CoarseGrainedExecutorBackend JVMs —
    matched on --app-id so a concurrently-running Spark app's executors
    are never touched."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == driver_pid:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().decode(errors="replace")
        except OSError:
            continue
        if "CoarseGrainedExecutorBackend" in cmd and app_id in cmd:
            out.append(int(pid))
    return sorted(out)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or DEFAULT_QUERIES

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local-cluster[2,4,2048]")
        .config("spark.ui.enabled", "false")
        .config("spark.executor.memory", "1500m")
        .config("spark.executorEnv.PYTHONPATH", REPO)
        .config("spark.sql.shuffle.partitions", "16")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from weather_tools_spark.queries import SPARK

    failures = 0
    me = os.getpid()
    app_id = spark.sparkContext.applicationId
    for name in names:
        fn = SPARK[name]
        t0 = time.perf_counter()
        h_base = frame_md5(fn(spark, sf))
        base_dt = time.perf_counter() - t0

        killed = {"pid": None}

        def assassin() -> None:
            time.sleep(max(0.3, 0.3 * base_dt))
            pids = executor_pids(me, app_id)
            if pids:
                victim = pids[-1]
                try:
                    os.kill(victim, signal.SIGKILL)
                    killed["pid"] = victim
                except OSError:
                    pass

        th = threading.Thread(target=assassin, daemon=True)
        th.start()
        try:
            h_loss = frame_md5(fn(spark, sf))
        except Exception as e:  # noqa: BLE001
            print(f"{name} LOSS_FAILED {type(e).__name__}: {str(e)[:160]}")
            failures += 1
            th.join()
            continue
        th.join()
        tag = f"killed_pid={killed['pid']}" if killed["pid"] else "no_kill_window"
        if h_base == h_loss:
            print(f"{name} LOSS_OK {h_base} ({tag})")
        else:
            print(f"{name} LOSS_DIVERGED {h_base} {h_loss} ({tag})")
            failures += 1
        # give the worker a moment to relaunch the executor before the
        # next query's baseline
        time.sleep(3)
    print(f"executor-loss probe: {len(names)} queries, {failures} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
