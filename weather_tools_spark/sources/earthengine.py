"""EarthEngine connector — the reference's ``ee://`` open branch
(xql/src/xql/open.py:85-89: ``ee.Initialize`` + xarray ``engine="ee"``)
and the asset-ingestion step (weather_mv loader_pipeline/ee.py:854-970:
COG image manifest → ``image:importExternal``; CSV table →
``startTableIngestion``), re-expressed for Spark.

The earthengine-api package and live credentials are NOT in this
container, so the connector is built against a small client protocol
(:class:`EEClient`) that captures exactly what the real API provides:

- ``get_asset_info(asset_id)``  → bands, grid (origin/pixel/size),
  time axis (what ``xee`` reads from ImageCollection metadata)
- ``get_pixels(asset_id, band, t_index, x0, y0, w, h)`` → numpy block
  (the ``computePixels``-shaped chunked fetch)
- ``import_image(manifest)`` / ``start_table_ingestion(manifest)``
  (the two ingestion RPCs the reference issues)

``RealEEClient`` adapts the actual earthengine-api behind an optional
import and raises the SAME gated ``NotImplementedError`` the opener
always raised when the package is absent — the error surface is
unchanged; :class:`FakeEEClient` is the deterministic test double the
end-to-end tests drive.

Scale shape: the asset's (time × chunk-grid) manifest is a small
DataFrame; each row becomes one executor-side ``get_pixels`` fetch
inside ``mapInArrow``, its block one ``cells.Cube`` whose rows
``cells.batches`` builds (client built per executor from a picklable
factory — no driver-side pixel traffic, same topology as the zarr
chunk scan). At 100 TB this is the standard hypercube ingest plan:
manifest rows ≈ chunks, partition count follows the manifest, decode
is Arrow-batched.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .cells import Cube, batches

_GATE_MSG = (
    "ee:// datasets require the earthengine-api client (reference "
    "branch xql/src/xql/open.py:85-89); install it and pass "
    "client_factory=RealEEClient — every other opener path is library-free"
)


class EEClient:
    """Protocol for the EarthEngine surface this connector consumes.
    ``last_task_id`` records the most recent ingestion's task id on
    THIS client instance, so completion polling targets its own task."""

    last_task_id: str | None = None

    def get_asset_info(self, asset_id: str) -> dict:  # pragma: no cover
        raise NotImplementedError

    def get_pixels(
        self, asset_id: str, band: str, t_index: int, x0: int, y0: int, w: int, h: int
    ) -> np.ndarray:  # pragma: no cover
        raise NotImplementedError

    def import_image(self, manifest: dict) -> str:  # pragma: no cover
        raise NotImplementedError

    def start_table_ingestion(self, manifest: dict) -> str:  # pragma: no cover
        raise NotImplementedError

    # -- task queue (reference ee.py:834-853) -------------------------------
    def get_task_list(self) -> list[dict]:  # pragma: no cover
        """Every task the project owns, each a dict with ``id``/``state``."""
        raise NotImplementedError

    def get_task_status(self, task_id: str) -> dict:  # pragma: no cover
        """One task's current ``{'id', 'state', ...}``."""
        raise NotImplementedError


class RealEEClient(EEClient):
    """Adapter over the actual earthengine-api, optional-imported.

    Instantiation initializes the high-volume endpoint exactly like the
    reference (open.py:87 ``opt_url='https://earthengine-highvolume.
    googleapis.com'``). Kept thin: each method maps 1:1 to an ee.data /
    session call; untestable in this container, so the body stays an
    import + dispatch with no logic to get wrong.
    """

    def __init__(self) -> None:
        try:
            import ee  # noqa: F401
        except ImportError as exc:
            raise NotImplementedError(_GATE_MSG) from exc
        import ee

        ee.Initialize(opt_url="https://earthengine-highvolume.googleapis.com")
        self._ee = ee

    def get_asset_info(self, asset_id: str) -> dict:
        return self._ee.data.getAsset(asset_id)

    def get_pixels(self, asset_id, band, t_index, x0, y0, w, h):
        return self._ee.data.computePixels(
            {
                "expression": self._ee.Image(f"{asset_id}/{t_index}").select(band),
                "fileFormat": "NUMPY_NDARRAY",
                "grid": {
                    "dimensions": {"width": w, "height": h},
                    "affineTransform": {"translateX": x0, "translateY": y0},
                },
            }
        )

    def import_image(self, manifest: dict) -> str:
        # reference ee.py:905-918: image:importExternal with an
        # imageManifest payload; ee.data.startIngestion is the client
        # wrapper for the same RPC family. The spawned task id is kept
        # on the client so completion polling targets THIS ingestion,
        # never another worker's task.
        task_id = self._ee.data.newTaskId(1)[0]
        self._ee.data.startIngestion(task_id, manifest)
        self.last_task_id = task_id
        return manifest["name"]

    def start_table_ingestion(self, manifest: dict) -> str:
        task_id = self._ee.data.newTaskId(1)[0]
        self._ee.data.startTableIngestion(task_id, manifest)
        self.last_task_id = task_id
        return manifest["name"]

    def get_task_list(self) -> list[dict]:
        return self._ee.data.getTaskList()

    def get_task_status(self, task_id: str) -> dict:
        (status,) = self._ee.data.getTaskStatus(task_id)
        return status


class FakeEEClient(EEClient):
    """Deterministic in-memory EarthEngine double for tests.

    Pixel values are a pure function of (band, time, y, x) so any chunk
    tiling reassembles the identical hypercube; ingestion records the
    manifests it receives (the assertions' audit log).

    Task-queue double: ``script_task(id, states)`` preloads a state
    SEQUENCE (e.g. ``["RUNNING", "RUNNING", "COMPLETED"]``); every poll
    (``get_task_list`` / ``get_task_status``) observes the head and
    advances non-terminal sequences by one — a deterministic clock, so
    queue-wait and poll-until-done paths are testable without time.
    ``fail_next_imports`` makes the next N ``import_image`` calls raise
    (the retry-path injection, same idea as pipeline.clients.FakeClient).
    Each successful ingestion auto-registers a task following
    ``default_task_states``.
    """

    def __init__(
        self,
        n_time: int = 2,
        height: int = 5,
        width: int = 6,
        bands: tuple[str, ...] = ("t2m", "tp"),
        origin: tuple[float, float] = (10.0, 50.0),
        pixel: tuple[float, float] = (0.25, -0.25),
        t0: int = 1_700_000_000,
    ) -> None:
        self.n_time, self.height, self.width = n_time, height, width
        self.bands, self.origin, self.pixel, self.t0 = bands, origin, pixel, t0
        self.ingested: list[dict] = []
        self.tasks: dict[str, list[str]] = {}
        self.default_task_states: list[str] = ["COMPLETED"]
        self.fail_next_imports: int = 0
        self.n_import_attempts: int = 0
        self.last_task_id: str | None = None

    def get_asset_info(self, asset_id: str) -> dict:
        return {
            "id": asset_id,
            "bands": list(self.bands),
            "grid": {
                "origin": list(self.origin),
                "pixel": list(self.pixel),
                "width": self.width,
                "height": self.height,
            },
            "times": [self.t0 + 3600 * i for i in range(self.n_time)],
        }

    def get_pixels(self, asset_id, band, t_index, x0, y0, w, h):
        bi = list(self.bands).index(band)
        yy, xx = np.mgrid[y0 : y0 + h, x0 : x0 + w]
        return (100.0 * bi + 10.0 * t_index + yy + 0.01 * xx).astype(np.float64)

    def import_image(self, manifest: dict) -> str:
        self.n_import_attempts += 1
        if self.fail_next_imports > 0:
            self.fail_next_imports -= 1
            raise RuntimeError("transient EE import failure (scripted)")
        self.ingested.append({"type": "IMAGE", "manifest": manifest})
        self.last_task_id = f"task-{len(self.ingested)}"
        self.script_task(self.last_task_id, self.default_task_states)
        return manifest["name"]

    def start_table_ingestion(self, manifest: dict) -> str:
        self.ingested.append({"type": "TABLE", "manifest": manifest})
        self.last_task_id = f"task-{len(self.ingested)}"
        self.script_task(self.last_task_id, self.default_task_states)
        return manifest["name"]

    # -- scriptable task queue ----------------------------------------------
    def script_task(self, task_id: str, states: list[str]) -> None:
        if not states:
            raise ValueError("a task needs at least one state")
        self.tasks[task_id] = list(states)

    def _advance(self, seq: list[str]) -> None:
        if len(seq) > 1:
            seq.pop(0)

    def get_task_list(self) -> list[dict]:
        snapshot = [{"id": t, "state": seq[0]} for t, seq in self.tasks.items()]
        for seq in self.tasks.values():
            self._advance(seq)
        return snapshot

    def get_task_status(self, task_id: str) -> dict:
        seq = self.tasks[task_id]
        state = seq[0]
        self._advance(seq)
        return {"id": task_id, "state": state}


def chunk_manifest(
    info: dict,
    chunk: int = 256,
    time_range: tuple[str | None, str | None] | None = None,
    bands: list[str] | None = None,
) -> pd.DataFrame:
    """Asset metadata → chunk manifest: one row per (time, band, tile).
    The xee engine does the same tiling driver-side; here the manifest
    IS the parallelism unit, so chunk count ≈ task count.

    ``time_range`` / ``bands`` prune MANIFEST rows — no pixel RPC is
    ever issued for an out-of-range image (the EE analog of the zarr
    chunk-range pruning; a residual cell filter is unnecessary because
    EE images are whole time steps). Time is kept in ``[start, end)``
    with a ``None`` end open, read as ``zarr_scan.prune_chunks`` reads
    it: a bound that is not a plain timestamp prunes nothing (it is
    left to ``open_dataset``'s residual filter)."""
    from .cells import _time_bounds

    lo, hi = (
        None if t is None else t.timestamp()  # naive bounds are UTC, as image times are
        for t in _time_bounds(time_range) or (None, None)
    )
    rows = []
    for ti in range(len(info["times"])):
        t = info["times"][ti]
        if (lo is not None and t < lo) or (hi is not None and t >= hi):
            continue
        for band in bands if bands is not None else info["bands"]:
            for y0 in range(0, info["grid"]["height"], chunk):
                for x0 in range(0, info["grid"]["width"], chunk):
                    rows.append(
                        {
                            "asset_id": info["id"],
                            "band": band,
                            "t_index": ti,
                            "t_epoch": info["times"][ti],
                            "x0": x0,
                            "y0": y0,
                            "w": min(chunk, info["grid"]["width"] - x0),
                            "h": min(chunk, info["grid"]["height"] - y0),
                        }
                    )
    return pd.DataFrame(rows)


def open_ee(
    spark: SparkSession,
    uri: str,
    client_factory: Callable[[], EEClient] | None = None,
    chunk: int = 256,
    time_range: tuple[str | None, str | None] | None = None,
    bands: list[str] | None = None,
) -> DataFrame:
    """Open an ``ee://`` asset as a long-format DataFrame
    (time, latitude, longitude, band, value) — the Spark analog of the
    reference's ``xr.open_dataset(uri, engine='ee')``.

    ``client_factory`` must be PICKLABLE (a class or top-level
    function): it is shipped to executors and each decode task builds
    its own client, so pixel traffic never routes through the driver.
    Default is :class:`RealEEClient`, which gates cleanly when the
    earthengine-api package is absent.
    """
    factory = client_factory or RealEEClient
    asset_id = uri[len("ee://") :] if uri.startswith("ee://") else uri
    info = factory().get_asset_info(asset_id)
    manifest = chunk_manifest(info, chunk=chunk, time_range=time_range, bands=bands)
    schema = T.StructType(
        [T.StructField("time", T.TimestampType())]
        + [T.StructField(c, T.DoubleType()) for c in ("latitude", "longitude")]
        + [T.StructField("band", T.StringType()), T.StructField("value", T.DoubleType())]
    )
    if manifest.empty:
        return spark.createDataFrame([], schema)
    ox, oy = info["grid"]["origin"]
    px, py = info["grid"]["pixel"]
    mdf = spark.createDataFrame(manifest).repartition(
        max(1, min(len(manifest), spark.sparkContext.defaultParallelism))
    )
    arrow_schema = to_arrow_schema(schema)
    tz = spark.conf.get("spark.sql.session.timeZone")

    def gen(manifest_batches):
        client = factory()
        for b in manifest_batches:
            for r in b.to_pylist():
                x0, y0, w, h = (int(r[k]) for k in ("x0", "y0", "w", "h"))
                block = client.get_pixels(r["asset_id"], r["band"], int(r["t_index"]), x0, y0, w, h)
                cube = Cube(
                    pd.DatetimeIndex([pd.Timestamp(int(r["t_epoch"]), unit="s")]),
                    oy + py * np.arange(y0, y0 + h), ox + px * np.arange(x0, x0 + w),
                    {"value": np.asarray(block, np.float64)[None]}, scalars={"band": r["band"]},
                )
                yield from batches([cube], arrow_schema, tz)

    return mdf.mapInArrow(gen, schema)


@dataclass
class AssetData:
    """Reference ee.py AssetData: what one ingestion needs to know."""

    name: str
    target_path: str
    start_time: str | None = None
    end_time: str | None = None
    properties: dict = field(default_factory=dict)


def ingest_image_asset(
    client: EEClient, ee_asset: str, asset: AssetData, virtual: bool = False
) -> str:
    """COG-backed IMAGE ingestion (reference ee.py:854-918): build the
    imageManifest payload — name, single tileset pointing at the COG
    URI, time bounds, properties — and issue the import. The COG itself
    comes from geotiff.write_cog (sinks §2.1)."""
    manifest = {
        "name": f"{ee_asset.rstrip('/')}/{asset.name}",
        "tilesets": [{"id": "0", "sources": [{"uris": [asset.target_path]}]}],
        "startTime": asset.start_time,
        "endTime": asset.end_time,
        "properties": dict(asset.properties),
        "mode": "VIRTUAL" if virtual else "EXTERNAL",
    }
    # the reference json-serializes the manifest for the RPC body; do
    # the same round-trip so non-serializable properties fail HERE, not
    # inside a retry loop
    json.dumps(manifest)
    return client.import_image(manifest)


def ingest_table_asset(client: EEClient, ee_asset: str, asset: AssetData) -> str:
    """CSV-backed TABLE ingestion (reference ee.py:920-940)."""
    manifest = {
        "name": f"{ee_asset.rstrip('/')}/{asset.name}",
        "sources": [{"uris": [asset.target_path]}],
        "properties": dict(asset.properties),
    }
    json.dumps(manifest)
    return client.start_table_ingestion(manifest)


# ---------------------------------------------------------------------------
# Task-queue backpressure + rate-limited ingestion (reference ee.py:834-853:
# 120 s queue polls; retry.with_exponential_backoff(10 retries, 1 s initial,
# 600 s cap); rate limits ee.py:389-394 via util.py RateLimit)
# ---------------------------------------------------------------------------

_ACTIVE_STATES = frozenset({"UNSUBMITTED", "READY", "RUNNING"})
_TERMINAL_STATES = frozenset({"COMPLETED", "SUCCEEDED", "FAILED", "CANCELLED"})
TASK_QUEUE_WAIT_TIME = 120.0  # reference ee.py:54


class EETaskFailed(RuntimeError):
    """An EE ingestion task reached FAILED/CANCELLED."""


def ee_tasks_remaining(client: EEClient) -> int:
    """Active (UNSUBMITTED/READY/RUNNING) tasks in the project queue —
    reference ``ee_tasks_remaining`` (ee.py:834-837)."""
    return sum(1 for t in client.get_task_list() if t.get("state") in _ACTIVE_STATES)


def wait_for_task_queue(
    client: EEClient,
    num_shards: int,
    wait_time: float = TASK_QUEUE_WAIT_TIME,
    sleep=None,
    max_waits: int | None = None,
) -> int:
    """Block until the task queue has space for this worker's shard —
    reference ``wait_for_task_queue`` (ee.py:839-846): every project
    has a bounded ingestion queue, so each of the ``num_shards``
    concurrent ingestion tasks waits while ``remaining >= num_shards``,
    polling every ``wait_time`` seconds (120 s in the reference).

    ``max_waits`` bounds the loop (None = reference behavior, wait
    forever); returns the number of sleeps taken."""
    import time as _time

    sleep = sleep or _time.sleep
    waits = 0
    while ee_tasks_remaining(client) >= num_shards:
        if max_waits is not None and waits >= max_waits:
            raise TimeoutError(
                f"EE task queue still has >= {num_shards} active tasks "
                f"after {waits} polls of {wait_time}s"
            )
        sleep(wait_time)
        waits += 1
    return waits


def wait_for_task(
    client: EEClient,
    task_id: str,
    poll_interval: float = TASK_QUEUE_WAIT_TIME,
    sleep=None,
    max_polls: int | None = None,
) -> dict:
    """Poll one ingestion task until a terminal state; returns the
    final status dict. FAILED/CANCELLED raises :class:`EETaskFailed`
    (the reference surfaces the task error in its monitoring loop;
    here the caller's retry/backoff owns the failure)."""
    import time as _time

    sleep = sleep or _time.sleep
    polls = 0
    while True:
        status = client.get_task_status(task_id)
        state = status.get("state")
        if state in ("FAILED", "CANCELLED"):
            raise EETaskFailed(f"EE task {task_id} ended {state}: {status}")
        if state in _TERMINAL_STATES:
            return status
        if max_polls is not None and polls >= max_polls:
            raise TimeoutError(f"EE task {task_id} still {state} after {polls} polls")
        sleep(poll_interval)
        polls += 1


def start_ingestion(
    client: EEClient,
    ee_asset: str,
    asset: AssetData,
    asset_type: str = "IMAGE",
    virtual: bool = False,
    num_shards: int = 10,
    queue_wait_time: float = TASK_QUEUE_WAIT_TIME,
    sleep=None,
    max_queue_waits: int | None = None,
) -> str:
    """The reference's guarded ingestion entry (ee.py:848-918):
    wait for task-queue space, then issue the import under the 10-retry
    / 1 s-initial / 600 s-cap exponential backoff (the same RetryPolicy
    the download clients use, pipeline/clients.py — reference
    sinks.py:46-49 constants). Returns the asset name."""
    from weather_tools_spark.pipeline.clients import RetryPolicy, with_retries

    wait_for_task_queue(
        client, num_shards, wait_time=queue_wait_time, sleep=sleep,
        max_waits=max_queue_waits,
    )
    if asset_type == "IMAGE":
        fn = lambda: ingest_image_asset(client, ee_asset, asset, virtual=virtual)  # noqa: E731
    elif asset_type == "TABLE":
        fn = lambda: ingest_table_asset(client, ee_asset, asset)  # noqa: E731
    else:
        raise ValueError(f"unknown asset_type {asset_type!r} (IMAGE|TABLE)")
    return with_retries(fn, RetryPolicy(), sleep=sleep or __import__("time").sleep)


def ingest_assets_rate_limited(
    df: DataFrame,
    client_factory: Callable[[], EEClient],
    ee_asset: str,
    asset_type: str = "IMAGE",
    qps: float = 10.0,
    latency_sec: float = 0.5,
    max_concurrent: int = 10,
    num_shards: int | None = None,
    queue_wait_time: float = TASK_QUEUE_WAIT_TIME,
) -> None:
    """Bulk ingestion with the reference's EE rate limits
    (ee.py:389-394 defaults: 10 qps, 0.5 s latency, 10 concurrent):
    ``df`` is a frame of asset rows (``name``, ``target_path``,
    optional ``start_time``/``end_time``), sharded by
    pipeline/ratelimit.py's reference-exact shard formula and paced by
    a per-shard token bucket; each row goes through the queue-guarded,
    backoff-retried :func:`start_ingestion`. Executors build their own
    client from the picklable factory — no driver-side RPC traffic."""
    from weather_tools_spark.pipeline.ratelimit import num_shards as _shards
    from weather_tools_spark.pipeline.ratelimit import rate_limited_foreach

    shards = num_shards if num_shards is not None else _shards(
        qps, latency_sec, max_concurrent
    )

    def ingest_one(row: dict) -> None:
        client = client_factory()
        start_ingestion(
            client,
            ee_asset,
            AssetData(
                name=row["name"],
                target_path=row["target_path"],
                start_time=row.get("start_time"),
                end_time=row.get("end_time"),
            ),
            asset_type=asset_type,
            num_shards=shards,
            queue_wait_time=queue_wait_time,
        )

    rate_limited_foreach(
        df, ingest_one, qps=qps, latency_sec=latency_sec,
        max_concurrent=max_concurrent,
    )


def to_cog_then_ingest(
    df: DataFrame,
    band: str,
    out_path: str,
    client: EEClient,
    ee_asset: str,
    asset_name: str,
    num_shards: int = 10,
    queue_wait_time: float = TASK_QUEUE_WAIT_TIME,
    sleep=None,
    wait_for_completion: bool = False,
) -> str:
    """The reference's convert→upload→register chain (ee.py
    ConvertToAsset + IngestIntoEE): pivot one band of the long-format
    frame to a dense grid, write it as a COG, ingest as an IMAGE —
    through the queue-guarded, backoff-retried :func:`start_ingestion`
    (reference ee.py:839-918). ``wait_for_completion`` additionally
    polls the spawned ingestion task to a terminal state."""
    from .geotiff import write_cog

    from weather_tools_spark.operators.bounded import bounded_pandas

    pdf = bounded_pandas(
        df.filter(F.col("band") == band)
        .groupBy("latitude")
        .pivot("longitude")
        .agg(F.first("value"))
        .orderBy(F.col("latitude").desc()),
        65536,
        "one band pivoted to a driver-written COG grid — one row per "
        "latitude, bounded by the asset grid height (a taller asset "
        "should go through the distributed COG writer)",
    ).set_index("latitude")
    pdf = pdf[sorted(pdf.columns, key=float)]
    lats = pdf.index.to_numpy(dtype=np.float64)
    lons = np.array([float(c) for c in pdf.columns])
    arr = pdf.to_numpy(dtype=np.float64)
    write_cog(
        out_path,
        arr,
        origin=(float(lons[0]), float(lats[0])),
        pixel=(
            float(lons[1] - lons[0]) if len(lons) > 1 else 1.0,
            float(lats[1] - lats[0]) if len(lats) > 1 else -1.0,
        ),
    )
    name = start_ingestion(
        client,
        ee_asset,
        AssetData(name=asset_name, target_path=out_path),
        asset_type="IMAGE",
        num_shards=num_shards,
        queue_wait_time=queue_wait_time,
        sleep=sleep,
    )
    if wait_for_completion:
        # poll the task THIS ingestion spawned (the client records its
        # id at import time) — never the project-wide task list, which
        # under concurrent workers would wait on someone else's task
        task_id = getattr(client, "last_task_id", None)
        if task_id is not None:
            wait_for_task(
                client, task_id, poll_interval=queue_wait_time, sleep=sleep
            )
    return name
