"""Driver-grade correctness sweep: every registry query vs its DuckDB
oracle under the driver's EXACT comparison semantics — string-form
equality of the sorted-column frame (no numeric tolerance, no dtype
forgiveness).

This is deliberately stricter than tests/oracle_utils.assert_frames_match
(which coerces floats before comparing): a DECIMAL-typed Spark column
string-prints "0.125000" where DuckDB's DOUBLE prints "0.125" — equal
numerically, fatal to the driver's value hash. This sweep caught exactly
that class of bug in dedup_minhash_md5_audit; run it before shipping any
round.

Usage:
    python tools/strict_sweep.py [sf_dir]     # default /root/testdata/sf0.01
    python tools/strict_sweep.py .scaledata/sfx1.0 --headline \
        --out .scaledata/strict_sf1.json --resume
Options:
    --headline      restrict to bench.py's HEADLINE set (the sfx1.0
                    correctness run — VERDICT r9 task 1; the full-registry
                    audit twins are CI-scale instruments, not 100x jobs)
    --only A B ...  restrict to the named queries
    --exclude A ... drop the named queries from the selected set
    --out PATH      write {name: {ok, sec, detail}} json per query
    --resume        skip names already green in --out (crash-resumable)
Exit code 1 on any failure; prints one line per failure and a summary.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--headline", action="store_true")
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument("--exclude", nargs="*", default=[])
    ap.add_argument("--out", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument(
        "--master",
        default="local[32]",
        help="Spark master; e.g. local-cluster[2,8,8192] runs the sweep "
        "across REAL separate executor JVMs (network shuffle, broadcast "
        "serialization, per-executor Python workers) — the multi-process "
        "axis a local[N] single JVM never exercises (VERDICT r10 task 1)",
    )
    args = ap.parse_args()
    sf = args.sf_dir
    sys.path.insert(0, REPO)

    import duckdb
    from pyspark.sql import SparkSession

    # vanilla session on purpose: the engine must self-configure exactly
    # as it does under the external driver. Driver heap is the ONE knob
    # set here: Spark's 1g default is a laptop default, not a harness
    # property — at sf0.1 the heavyweight md5/recall audits OOM a 1g
    # single-JVM local[32] heap (driver+executors share it in local
    # mode). The external driver runs correctness at sf0.01, where the
    # sweep is green even on the 1g default.
    builder = (
        SparkSession.builder.master(args.master)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
    )
    if args.master.startswith("local-cluster"):
        # separate executor JVMs spawn their own Python workers, which
        # must import weather_tools_spark (driver-side sys.path edits
        # don't propagate across the process boundary)
        builder = builder.config("spark.executorEnv.PYTHONPATH", REPO).config("spark.executor.memory", "6g")
    spark = builder.getOrCreate()
    # Silence ONLY the WindowExec "No Partition Defined" advisory
    # (VERDICT r11 item 8): every unpartitioned window a registry query
    # plans sits behind a measured <=100k-row cardinality probe
    # (operators/prefix_sum.cumulative_sums) or a structurally bounded
    # frame (one row per calendar day/group), so the "serious
    # performance degradation" warning is a false alarm at audit scale
    # — left at WARN it reads like a scale bug in the sweep artifact.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
        print(
            "[log] WindowExec advisory suppressed: unpartitioned windows "
            "in this registry are cardinality-probed or structurally "
            "bounded (see operators/prefix_sum.py)",
            file=sys.stderr,
        )
    except Exception:  # non-log4j2 deployment: warning is cosmetic
        pass
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    if args.headline:
        import bench

        keep = set(bench.HEADLINE)
        queries = {n: f for n, f in queries.items() if n in keep}
    if args.only:
        missing = [n for n in args.only if n not in queries]
        if missing:
            print(f"unknown queries: {missing}", file=sys.stderr)
            return 2
        queries = {n: queries[n] for n in args.only}
    for n in args.exclude:
        queries.pop(n, None)

    results: dict[str, dict] = {}
    if args.out and args.resume and os.path.exists(args.out):
        with open(args.out) as f:
            results = json.load(f)

    con = duckdb.connect()
    from weather_tools_spark.catalog import TABLES

    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    def _flush() -> None:
        if args.out:
            with open(args.out, "w") as f:
                json.dump(results, f, indent=1)
                f.write("\n")

    t0 = time.time()
    failures: list[tuple[str, str]] = []
    for name, fn in queries.items():
        if args.resume and results.get(name, {}).get("ok"):
            continue
        tq = time.time()
        ok, detail = True, ""
        try:
            sdf = fn(spark, sf).toPandas()
            if name not in oracles:
                if len(sdf.columns) == 0:
                    ok, detail = False, "rows-only query returned no columns"
            else:
                odf = con.execute(oracles[name]).df()
                s = sdf[sorted(sdf.columns)].astype(str).reset_index(drop=True)
                o = odf[sorted(odf.columns)].astype(str).reset_index(drop=True)
                if not s.equals(o):
                    ok = False
                    detail = f"rows {len(s)} vs {len(o)}"
                    if len(s) == len(o) and list(s.columns) == list(o.columns):
                        neq = (s != o).any(axis=1)
                        detail += (
                            f"; {int(neq.sum())} mismatched rows, "
                            f"first at index {int(neq.idxmax())}"
                        )
        except Exception as exc:  # noqa: BLE001 — report and continue the sweep
            ok, detail = False, repr(exc)[:200]
        if not ok:
            failures.append((name, detail))
            print(f"FAIL {name}: {detail}"[:300], file=sys.stderr)
        results[name] = {
            "ok": ok,
            "sec": round(time.time() - tq, 2),
            "oracle": name in oracles,
            **({"detail": detail} if detail else {}),
        }
        _flush()

    prior_fail = [
        (n, r.get("detail", "")) for n, r in results.items()
        if not r.get("ok") and n not in dict(failures) and n in queries
    ]
    failures.extend(prior_fail)
    dt = time.time() - t0
    print(
        f"strict sweep: {len(queries)} queries ({sum(n in oracles for n in queries)} "
        f"oracle-backed) at {sf} in {dt:.1f}s — {len(failures)} failure(s)"
        + (": " + ", ".join(n for n, _ in failures) if failures else "")
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
