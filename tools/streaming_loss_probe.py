"""Streaming fault-tolerance probe: executor loss and checkpoint
restart must not change a Structured Streaming aggregation's result.

The batch engine's fault story is covered by tools/retry_probe.py
(task retries) and tools/executor_loss_probe.py (executor SIGKILL).
This probe covers the STREAMING side — the two failure classes a
100-TB ingest pipeline actually meets:

1. **Executor loss mid-stream**: SIGKILL a live executor JVM while a
   file-source windowed aggregation is consuming micro-batches on a
   real local-cluster (two executor processes). The worker relaunches
   the executor, in-flight tasks resubmit, and the parquet sink +
   checkpoint must deliver the exact same finalized windows.
2. **Query restart from checkpoint**: stop the query mid-stream
   (after ~half the micro-batches), start a NEW query on the same
   checkpoint + sink, let it finish. Offset tracking + the file
   sink's transaction log must produce the identical frame — no
   dropped batch, no duplicate batch.

Comparison contract: append-mode emission of the trailing window
depends on where the watermark lands at stream end, which is NOT
guaranteed identical across different micro-batch partitionings — so
every run's sink is filtered to the deterministic prefix (window end
<= global max event time - watermark delay) before hashing. Within
that prefix, emission is exactly-once by construction; any
divergence is a real fault-tolerance defect.

Usage: python tools/streaming_loss_probe.py [sf_dir]
Prints one line per scenario (BASELINE / LOSS_OK / RESTART_OK …);
exit 1 on any divergence or query failure.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import signal
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_SOURCE_FILES = 20
WATERMARK = "1 hour"
WINDOW = "1 day"


def executor_pids(driver_pid: int, app_id: str) -> list[int]:
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


def frame_md5(df) -> str:
    cols = sorted(df.columns)
    rows = [tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect()]
    rows.sort()
    h = hashlib.md5()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main() -> int:  # noqa: PLR0915
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local-cluster[2,4,2048]")
        .config("spark.ui.enabled", "false")
        .config("spark.executor.memory", "1500m")
        .config("spark.executorEnv.PYTHONPATH", REPO)
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    me = os.getpid()
    app_id = spark.sparkContext.applicationId

    from weather_tools_spark.catalog import load_table

    work = tempfile.mkdtemp(prefix="stream_loss_")
    src_dir = os.path.join(work, "source")
    ev = load_table(spark, "events", sf).select("ts", "event_type", "value")
    # re-shard so the stream sees many micro-batches (ns->us conversion
    # already applied by load_table; the stream reads clean timestamps)
    ev.repartition(N_SOURCE_FILES).write.mode("overwrite").parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    # the deterministic prefix: windows fully below max event time - delay
    max_ts = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    cutoff = max_ts.timestamp() - 3600  # WATERMARK seconds

    def streaming_df():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .withWatermark("ts", WATERMARK)
            .groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 1_000_000, 0).cast("long")).alias(
                    "vsum_micro"
                ),
            )
            .select(
                F.col("w.start").alias("ws"),
                F.col("w.end").alias("we"),
                "event_type",
                "n",
                "vsum_micro",
            )
        )

    def run(tag: str, kill_frac: float | None = None, restart_frac: float | None = None):
        """Run the stream to completion; return the prefix md5."""
        sink = os.path.join(work, f"sink_{tag}")
        ckpt = os.path.join(work, f"ckpt_{tag}")
        q = (
            streaming_df()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        killed = {"pid": None}
        if kill_frac is not None:

            def assassin() -> None:
                time.sleep(kill_frac)
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
        if restart_frac is not None:
            time.sleep(restart_frac)
            q.stop()
            q.awaitTermination()
            # NEW query object, same checkpoint + sink: offsets + the
            # file-sink transaction log must resume exactly-once
            q = (
                streaming_df()
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination()
        out = spark.read.parquet(sink).filter(
            F.col("we") <= F.lit(cutoff).cast("timestamp")
        )
        n = out.count()
        return frame_md5(out), n, killed["pid"]

    failures = 0
    h_base, n_base, _ = run("base")
    if n_base == 0:
        print("BASELINE_EMPTY: no finalized windows below the cutoff")
        return 1
    print(f"BASELINE {h_base} rows={n_base}")

    try:
        h_loss, n_loss, pid = run("loss", kill_frac=4.0)
    except Exception as e:  # noqa: BLE001
        print(f"LOSS_FAILED {type(e).__name__}: {str(e)[:160]}")
        failures += 1
    else:
        tag = f"killed_pid={pid}" if pid else "no_kill_window"
        if h_loss == h_base:
            print(f"LOSS_OK {h_loss} rows={n_loss} ({tag})")
        else:
            print(f"LOSS_DIVERGED {h_base} {h_loss} ({tag})")
            failures += 1
    time.sleep(3)

    try:
        h_rs, n_rs, _ = run("restart", restart_frac=5.0)
    except Exception as e:  # noqa: BLE001
        print(f"RESTART_FAILED {type(e).__name__}: {str(e)[:160]}")
        failures += 1
    else:
        if h_rs == h_base:
            print(f"RESTART_OK {h_rs} rows={n_rs}")
        else:
            print(f"RESTART_DIVERGED {h_base} {h_rs}")
            failures += 1

    shutil.rmtree(work, ignore_errors=True)
    print(f"streaming-loss probe: {failures} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
