"""Fault-injection determinism probe: task retries must not change any
query's driver hash (VERDICT r10 task 3).

The correctness analog of the reference's retry policy
(weather_dl/download_pipeline/util.py:58-69 retries failed fetches): a
100-TB job WILL lose tasks — preemptions, OOM-killed executors, disk
faults — and Spark re-runs them. If any operator's result depends on
how many attempts a task took (RNG seeded off attempt ids, accumulator
misuse, non-idempotent side effects), the recomputed partition diverges
and the job returns silently different data.

Mechanism: run in its own session with master local[8,3] (3 = task
maxFailures, the knob that makes retries survivable in local mode) and
monkeypatch ``catalog.load_table`` so every scan is wrapped in an
attempt-aware Arrow pass-through that RAISES on each task's first
attempt — every task in every stage that reads a table fails once and
is retried. The driver-style md5 of each query's sorted string frame is
then compared with/without injection: equal hashes = retry-determinism.

Float caveat is the registry's own contract: queries round float
aggregates before output precisely so partial-aggregation order (which
varies run-to-run even WITHOUT retries) can't flip a hash bit — this
probe verifies retries stay inside that contract.

Usage: python tools/retry_probe.py [sf_dir] [query ...]
Prints one line per query: ``name RETRY_OK <hash>`` or ``name
RETRY_DIVERGED <h_plain> <h_injected>``; exits 1 on any divergence.
"""

from __future__ import annotations

import hashlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_QUERIES = [
    # agg-heavy scan, joins + anti-join, float/window stats, LSH md5
    # lanes, ns-timestamp sessionization, and the localCheckpoint'd
    # two-pass prefix sum (checkpoint + retry interplay)
    "q1_pricing_summary",
    "q21_waiting_orders",
    "stats_spearman_corr",
    "dedup_minhash_lsh_pairs",
    "events_sessionization",
    "corpus_pack_sequences",
]

INJECT = {"on": False}


def frame_md5(df) -> str:
    cols = sorted(df.columns)
    rows = [tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect()]
    rows.sort()
    h = hashlib.md5()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or DEFAULT_QUERIES

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8,3]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from weather_tools_spark import catalog

    real_load = catalog.load_table

    def flaky_load(spark_, name, sf_dir=None):
        df = real_load(spark_, name, sf_dir)
        if not INJECT["on"]:
            return df
        schema = df.schema

        def first_attempt_fails(batches):
            from pyspark import TaskContext

            ctx = TaskContext.get()
            if ctx is not None and ctx.attemptNumber() == 0:
                raise RuntimeError(
                    "injected first-attempt task failure (retry_probe)"
                )
            yield from batches

        return df.mapInPandas(first_attempt_fails, schema)

    # the registry modules resolve load_table through the catalog module
    # at call time in some files and via direct import in others — patch
    # both surfaces
    catalog.load_table = flaky_load
    import weather_tools_spark.queries as Q

    patched = []
    import importlib
    import pkgutil

    for m in pkgutil.iter_modules(Q.__path__):
        mod = importlib.import_module(f"weather_tools_spark.queries.{m.name}")
        if getattr(mod, "load_table", None) is real_load:
            mod.load_table = flaky_load
            patched.append(m.name)

    from weather_tools_spark.queries import SPARK

    failures = 0
    for name in names:
        fn = SPARK[name]
        INJECT["on"] = False
        h_plain = frame_md5(fn(spark, sf))
        INJECT["on"] = True
        try:
            h_inj = frame_md5(fn(spark, sf))
        except Exception as e:  # noqa: BLE001
            print(f"{name} RETRY_FAILED {type(e).__name__}: {e}")
            failures += 1
            continue
        finally:
            INJECT["on"] = False
        if h_plain == h_inj:
            print(f"{name} RETRY_OK {h_plain}")
        else:
            print(f"{name} RETRY_DIVERGED {h_plain} {h_inj}")
            failures += 1
    print(f"retry probe: {len(names)} queries, {failures} divergence(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
