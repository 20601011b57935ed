"""EarthEngine connector (sources/earthengine.py) under the mocked
client: ee:// open end-to-end (asset metadata → chunk manifest →
executor-side pixel fetch → long-format rows) and the COG/CSV
asset-conversion + ingestion manifests (reference ee.py:854-970).
The real-client gate (no earthengine-api in this container) must stay
byte-for-byte useful."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from weather_tools_spark.sources import earthengine as EE
from weather_tools_spark.sources import opener as OP


def test_open_ee_reassembles_hypercube_exactly(spark):
    """Chunked fetches must reassemble the full (time, band, y, x)
    hypercube with the fake's closed-form pixel values, regardless of
    tile size (chunk=2 forces many partial tiles on a 5x6 grid)."""
    fake = EE.FakeEEClient()
    df = EE.open_ee(spark, "ee://ECMWF/ERA5/TEST", EE.FakeEEClient, chunk=2)
    rows = df.collect()
    info = fake.get_asset_info("ECMWF/ERA5/TEST")
    n_expected = len(info["times"]) * len(info["bands"]) * 5 * 6
    assert len(rows) == n_expected
    ox, oy = info["grid"]["origin"]
    px, py = info["grid"]["pixel"]
    for r in rows:
        t_index = info["times"].index(int(r.time.timestamp()))
        bi = info["bands"].index(r.band)
        y = round((r.latitude - oy) / py)
        x = round((r.longitude - ox) / px)
        want = 100.0 * bi + 10.0 * t_index + y + 0.01 * x
        assert abs(r.value - want) < 1e-9, (r, want)


def test_open_dataset_dispatches_ee_with_filters(spark):
    """The single open_dataset entrypoint must route ee:// through the
    connector and apply range filters + view registration like every
    other format."""
    df = OP.open_dataset(
        spark,
        "ee://ECMWF/ERA5/TEST",
        lat_range=(49.0, 50.0),
        client_factory=EE.FakeEEClient,
        view="ee_test",
    )
    assert df.filter(~F.col("latitude").between(49.0, 50.0)).count() == 0
    assert spark.sql("SELECT count(*) AS n FROM ee_test").first().n == df.count()


def test_ee_gate_unchanged_without_package():
    """No earthengine-api in the container: detect() and the default
    open_dataset path must keep the canonical gated error."""
    with pytest.raises(NotImplementedError, match="earthengine-api"):
        OP.detect("ee://ECMWF/ERA5/HOURLY")
    with pytest.raises(NotImplementedError, match="earthengine-api"):
        EE.RealEEClient()


def test_cog_ingest_chain_builds_reference_manifest(spark, tmp_path):
    """convert→upload→register (reference ConvertToAsset + IngestIntoEE):
    one band pivots to a dense grid, writes a readable COG, and the
    recorded imageManifest has the reference's payload shape
    (name under the asset collection, single tileset with the COG URI)."""
    from weather_tools_spark.sources.geotiff import gtiff_decode

    fake = EE.FakeEEClient(n_time=1, height=4, width=4, bands=("t2m",))
    src = EE.open_ee(spark, "ee://SRC", lambda: fake, chunk=4)
    cog = str(tmp_path / "t2m.tif")
    asset_id = EE.to_cog_then_ingest(
        src, "t2m", cog, fake, "projects/p/assets/col", "t2m_2024060100"
    )
    assert asset_id == "projects/p/assets/col/t2m_2024060100"
    assert len(fake.ingested) == 1
    rec = fake.ingested[0]
    assert rec["type"] == "IMAGE"
    m = rec["manifest"]
    assert m["tilesets"] == [{"id": "0", "sources": [{"uris": [cog]}]}]
    # the written COG must decode back to the same values
    back = gtiff_decode(cog)
    got = sorted(back["value"].tolist())
    want = sorted(r.value for r in src.collect())
    assert np.allclose(got, want)


def test_table_ingest_manifest(tmp_path):
    fake = EE.FakeEEClient()
    csv = str(tmp_path / "obs.csv")
    with open(csv, "w") as f:
        f.write("lat,lon,v\n49.0,2.0,1.5\n")
    asset_id = EE.ingest_table_asset(
        fake, "projects/p/assets/tables", EE.AssetData(name="obs", target_path=csv)
    )
    assert asset_id == "projects/p/assets/tables/obs"
    assert fake.ingested[0]["type"] == "TABLE"
    assert fake.ingested[0]["manifest"]["sources"] == [{"uris": [csv]}]


def test_time_range_prunes_manifest_not_just_rows(spark):
    """time_range must prune CHUNK MANIFEST rows (no pixel fetch for
    out-of-range images — the zarr chunk-pruning analog), and the
    pruned result must equal the post-filtered unpruned one."""
    fake = EE.FakeEEClient(n_time=4)
    info = fake.get_asset_info("A")
    import pandas as pd

    t1 = pd.Timestamp(info["times"][1], unit="s")
    t3 = pd.Timestamp(info["times"][3], unit="s")
    full = EE.chunk_manifest(info)
    pruned = EE.chunk_manifest(info, time_range=(str(t1), str(t3)))
    assert len(pruned) == len(full) // 2  # 2 of 4 time steps survive
    got = sorted(
        (r.time, r.band, r.latitude, r.longitude, r.value)
        for r in EE.open_ee(
            spark, "ee://A", EE.FakeEEClient, time_range=(str(t1), str(t3))
        ).collect()
    )
    want = sorted(
        (r.time, r.band, r.latitude, r.longitude, r.value)
        for r in EE.open_ee(spark, "ee://A", EE.FakeEEClient)
        .filter((F.col("time") >= F.lit(str(t1))) & (F.col("time") < F.lit(str(t3))))
        .collect()
    )
    assert got == want and len(got) > 0
    # empty prune window → empty frame with the stable schema, no RPCs
    empty = EE.open_ee(
        spark, "ee://A", EE.FakeEEClient, time_range=("1990-01-01", "1990-01-02")
    )
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "time", "latitude", "longitude", "band", "value",
    ]


def test_task_queue_backpressure_waits_for_space():
    """wait_for_task_queue (reference ee.py:839-846): with >= num_shards
    active tasks the worker sleeps; each poll advances the scripted task
    clock until enough tasks complete, then ingestion proceeds."""
    fake = EE.FakeEEClient()
    # 3 active tasks, queue capacity num_shards=2: must wait until at
    # most 1 is still active (two of them complete after 2 polls)
    fake.script_task("a", ["RUNNING", "RUNNING", "COMPLETED"])
    fake.script_task("b", ["READY", "RUNNING", "COMPLETED"])
    fake.script_task("c", ["RUNNING", "RUNNING", "RUNNING", "RUNNING"])
    sleeps: list[float] = []
    waits = EE.wait_for_task_queue(
        fake, num_shards=2, wait_time=120.0, sleep=sleeps.append
    )
    assert waits == 2
    assert sleeps == [120.0, 120.0]  # the reference's TASK_QUEUE_WAIT_TIME
    assert EE.ee_tasks_remaining(fake) == 1  # only 'c' still active
    # bounded variant: a queue that never drains raises instead of
    # spinning forever
    stuck = EE.FakeEEClient()
    for i in range(3):
        stuck.script_task(f"s{i}", ["RUNNING"])
    with pytest.raises(TimeoutError, match="task queue"):
        EE.wait_for_task_queue(
            stuck, num_shards=2, wait_time=1.0, sleep=lambda _s: None, max_waits=3
        )


def test_wait_for_task_polls_to_terminal_and_raises_on_failure():
    fake = EE.FakeEEClient()
    fake.script_task("ok", ["UNSUBMITTED", "RUNNING", "RUNNING", "COMPLETED"])
    sleeps: list[float] = []
    status = EE.wait_for_task(fake, "ok", poll_interval=120.0, sleep=sleeps.append)
    assert status["state"] == "COMPLETED"
    assert len(sleeps) == 3  # one sleep per non-terminal poll
    fake.script_task("bad", ["RUNNING", "FAILED"])
    with pytest.raises(EE.EETaskFailed, match="FAILED"):
        EE.wait_for_task(fake, "bad", sleep=lambda _s: None)
    fake.script_task("hung", ["RUNNING"])
    with pytest.raises(TimeoutError, match="still RUNNING"):
        EE.wait_for_task(fake, "hung", sleep=lambda _s: None, max_polls=2)


def test_start_ingestion_retries_with_reference_backoff():
    """start_ingestion wraps the import in the 10-retry / 1 s-initial /
    600 s-cap exponential backoff (reference sinks.py:46-49 constants,
    shared RetryPolicy): scripted transient failures are retried with
    doubling delays, then the import lands exactly once."""
    fake = EE.FakeEEClient()
    fake.fail_next_imports = 3
    sleeps: list[float] = []
    name = EE.start_ingestion(
        fake,
        "projects/p/assets/col",
        EE.AssetData(name="img1", target_path="/tmp/x.tif"),
        sleep=sleeps.append,
    )
    assert name == "projects/p/assets/col/img1"
    assert fake.n_import_attempts == 4  # 3 scripted failures + 1 success
    assert sleeps == [1.0, 2.0, 4.0]  # exponential from the 1 s initial
    assert len(fake.ingested) == 1  # exactly-once despite retries
    # a permanently failing import re-raises after the retry budget
    dead = EE.FakeEEClient()
    dead.fail_next_imports = 10 ** 6
    with pytest.raises(RuntimeError, match="transient EE import failure"):
        EE.start_ingestion(
            dead, "projects/p/assets/col",
            EE.AssetData(name="img2", target_path="/tmp/y.tif"),
            sleep=lambda _s: None,
        )
    assert dead.n_import_attempts == 10  # the RetryPolicy's full budget


def test_cog_ingest_chain_with_queue_and_completion(spark, tmp_path):
    """to_cog_then_ingest routes through the queue guard and can poll
    the spawned ingestion task to COMPLETED."""
    fake = EE.FakeEEClient(n_time=1, height=3, width=4, bands=("t2m",))
    fake.default_task_states = ["RUNNING", "RUNNING", "COMPLETED"]
    df = EE.open_ee(spark, "ee://asset/x", EE.FakeEEClient)
    out = str(tmp_path / "band.tif")
    sleeps: list[float] = []
    name = EE.to_cog_then_ingest(
        df, "t2m", out, fake, "projects/p/assets/col", "imgQ",
        sleep=sleeps.append, wait_for_completion=True,
    )
    assert name == "projects/p/assets/col/imgQ"
    assert len(fake.ingested) == 1
    # the spawned task was polled to its terminal state
    assert fake.tasks["task-1"] == ["COMPLETED"]
    assert sleeps  # at least one RUNNING poll slept


def test_ingest_assets_rate_limited_shards_and_ingests(spark, tmp_path):
    """Bulk ingestion through pipeline/ratelimit.py: the reference's
    shard formula bounds concurrency and every asset row goes through
    the queue-guarded, backoff-retried start_ingestion exactly once.
    Ingestions run inside Python worker PROCESSES (foreachPartition),
    so the audit log is the filesystem — one file per manifest."""
    import os

    from weather_tools_spark.pipeline.ratelimit import num_shards

    assert num_shards(10.0, 0.5, 10) == 5  # reference formula int(10*0.5)
    rows = [(f"img{i}", f"/tmp/cog{i}.tif") for i in range(4)]
    df = spark.createDataFrame(rows, "name string, target_path string")
    audit_dir = str(tmp_path / "audit")
    os.makedirs(audit_dir)

    class _Audit(EE.FakeEEClient):
        out_dir = audit_dir

        def import_image(self, manifest):
            name = super().import_image(manifest)
            fn = manifest["name"].replace("/", "_")
            with open(os.path.join(self.out_dir, fn), "w") as fh:
                fh.write(manifest["name"])
            return name

    EE.ingest_assets_rate_limited(
        df, _Audit, "projects/p/assets/col", qps=10_000.0, latency_sec=0.5,
        max_concurrent=4,
    )
    got = sorted(
        open(os.path.join(audit_dir, f)).read() for f in os.listdir(audit_dir)
    )
    assert got == [f"projects/p/assets/col/img{i}" for i in range(4)]


def test_completion_poll_targets_own_task_under_concurrency(spark, tmp_path):
    """Review fix: wait_for_completion polls the task THIS ingestion
    spawned (client.last_task_id), not whichever project task happens
    to be last in the list — a concurrent worker's RUNNING task must
    not be waited on (or raise for someone else's failure)."""
    fake = EE.FakeEEClient(n_time=1, height=2, width=2, bands=("t2m",))
    # someone else's task: active, and would FAIL if polled
    fake.script_task("other-workers-task", ["RUNNING", "RUNNING", "FAILED"])
    fake.default_task_states = ["RUNNING", "COMPLETED"]
    df = EE.open_ee(spark, "ee://asset/x", EE.FakeEEClient)
    out = str(tmp_path / "own.tif")
    name = EE.to_cog_then_ingest(
        df, "t2m", out, fake, "projects/p/assets/col", "imgOwn",
        sleep=lambda _s: None, wait_for_completion=True,
    )
    assert name == "projects/p/assets/col/imgOwn"
    assert fake.last_task_id == "task-1"
    assert fake.tasks["task-1"] == ["COMPLETED"]  # own task polled to done
    # the foreign task was NOT consumed past its own clock by our poll
    assert "FAILED" in fake.tasks["other-workers-task"]


def test_time_range_open_end_gets_every_image_from_t_on(spark):
    """``time_range=(t, None)`` keeps every image from ``t`` on, in the
    manifest and through ``open_dataset``; ``(None, t)`` every image
    before ``t``."""
    import pandas as pd

    info = EE.FakeEEClient().get_asset_info("A")  # the factory's two images
    t1 = str(pd.Timestamp(info["times"][1], unit="s"))
    assert list(EE.chunk_manifest(info, time_range=(t1, None))["t_index"].unique()) == [1]
    assert list(EE.chunk_manifest(info, time_range=(None, t1))["t_index"].unique()) == [0]
    rows = OP.open_dataset(
        spark, "ee://A", client_factory=EE.FakeEEClient, time_range=(t1, None)
    ).collect()
    every = EE.open_ee(spark, "ee://A", EE.FakeEEClient).collect()
    assert sorted(rows) == sorted(r for r in every if r.time >= pd.Timestamp(t1))
    assert {r.time for r in rows} == {pd.Timestamp(info["times"][1], unit="s")}
