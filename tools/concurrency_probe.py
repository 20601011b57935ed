"""Concurrent-execution probe: N queries running SIMULTANEOUSLY in one
SparkSession must produce exactly the frames they produce sequentially.

Every correctness artifact so far ran queries one at a time; a shared
engine in production runs them concurrently — the BI-dashboard /
multi-tenant axis. Concurrency stresses what sequential sweeps cannot:
shared-session conf reads, broadcast-variable lifecycle under parallel
jobs, AQE re-optimization racing on runtime statistics, Python worker
pool reuse across simultaneous Arrow stages, and the FAIR scheduler's
task interleaving (partial-aggregate merge orders differ run to run —
exactly the exposure the integer-lattice determinism work exists to
absorb).

Mechanism: a representative 12-query set (shuffle-heavy aggregates,
broadcast joins, window functions, LSH audit lanes, iterative k-means,
prefix sums) runs once sequentially for baseline md5s, then all 12
launch at once from a thread pool (spark.scheduler.mode=FAIR, one pool
per thread) — three concurrent rounds, every hash compared to its
sequential baseline.

Usage: python tools/concurrency_probe.py [sf_dir] [query ...]
Prints ``name CONC_OK`` per query per round; exit 1 on any divergence.
"""

from __future__ import annotations

import hashlib
import os
import sys
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_QUERIES = [
    "q1_pricing_summary",          # shuffle-heavy money aggregate
    "q9_product_profit",           # multi-join + agg
    "q21_waiting_orders",          # semi/anti join stack
    "topk_orders_per_priority",    # window group limit
    "events_sessionization",       # window sessionization
    "stats_spearman_corr",         # float stats on the lattice
    "dedup_minhash_lsh_pairs",     # LSH lanes (rows-only operator)
    "sketch_kmv_setops",           # the fused WindowGroupLimit plan
    "ml_kmeans_cluster_summary",   # iterative
    "corpus_pack_sequences",       # distributed prefix sum
    "text_tfidf_keywords",         # token-scale text
    "stats_kruskal_wallis",        # probed cumulative ranks
]
ROUNDS = 3


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
        SparkSession.builder.master("local[16]")
        .config("spark.ui.enabled", "false")
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.shuffle.partitions", "16")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from weather_tools_spark.queries import SPARK

    print(f"sequential baseline over {len(names)} queries ...", file=sys.stderr)
    base = {n: frame_md5(SPARK[n](spark, sf)) for n in names}

    failures = 0
    for rnd in range(1, ROUNDS + 1):

        def one(name: str) -> tuple[str, str | None, str]:
            # one FAIR pool per thread so the scheduler actually
            # interleaves the jobs instead of FIFO-queueing them
            spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", f"pool_{name}"
            )
            try:
                return name, frame_md5(SPARK[name](spark, sf)), ""
            except Exception as e:  # noqa: BLE001
                return name, None, f"{type(e).__name__}: {str(e)[:120]}"

        with ThreadPoolExecutor(max_workers=len(names)) as pool:
            results = list(pool.map(one, names))
        for name, h, err in results:
            if h is None:
                print(f"{name} CONC_FAILED round={rnd} {err}")
                failures += 1
            elif h != base[name]:
                print(f"{name} CONC_DIVERGED round={rnd} {base[name]} {h}")
                failures += 1
        ok = sum(1 for n, h, _ in results if h == base[n])
        print(f"round {rnd}: {ok}/{len(names)} hash-identical", file=sys.stderr)

    if failures == 0:
        for n in names:
            print(f"{n} CONC_OK {base[n]}")
    print(f"concurrency probe: {len(names)} queries x {ROUNDS} concurrent rounds, {failures} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
