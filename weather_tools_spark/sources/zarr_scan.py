"""Chunk-manifest scan for chunked array stores (Zarr-model).

The reference reads Zarr lazily and re-chunks work to match storage
chunks (xql/src/xql/open.py:30-66, apply.py:285-286; xbeam
DatasetToChunks in bq.py:419). Spark has no zarr datasource, so the
engine plans scans the same way a columnar reader plans row-groups:

1. build a *chunk manifest* DataFrame — one row per chunk, carrying the
   coordinate ranges the chunk covers (min/max per dimension);
2. prune it with ordinary Catalyst predicates (compare the query's
   coordinate ranges against chunk ranges — the zarr analog of parquet
   row-group min/max pruning, SURVEY.md §4 'chunk-range pruning');
3. hand surviving chunk specs to ``mapInPandas`` tasks that each decode
   N whole chunks (one task = whole chunks, never a partial chunk).

The decode step needs a zarr reader, absent here — it is stubbed with a
deterministic fake; planning, pruning and batch plumbing are real.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass
class ChunkedDatasetMeta:
    """Store metadata: coordinate axes + chunk shape (what
    ``xr.open_zarr(...).chunks`` exposes)."""

    uri: str
    times: list[str]  # ISO timestamps, ascending
    lats: list[float]  # may be descending (ERA5 convention)
    lons: list[float]
    chunk_time: int
    chunk_lat: int
    chunk_lon: int
    variables: tuple[str, ...] = ("d2m", "u10", "v10")


CHUNK_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("uri", T.StringType()),
        T.StructField("t_idx", T.IntegerType()),
        T.StructField("lat_idx", T.IntegerType()),
        T.StructField("lon_idx", T.IntegerType()),
        T.StructField("time_min", T.TimestampType()),
        T.StructField("time_max", T.TimestampType()),
        T.StructField("lat_min", T.DoubleType()),
        T.StructField("lat_max", T.DoubleType()),
        T.StructField("lon_min", T.DoubleType()),
        T.StructField("lon_max", T.DoubleType()),
    ]
)


def chunk_manifest(spark: SparkSession, meta: ChunkedDatasetMeta) -> DataFrame:
    """Enumerate chunk keys with their coordinate min/max ranges."""
    rows = []
    nt, nla, nlo = len(meta.times), len(meta.lats), len(meta.lons)
    times = pd.to_datetime(meta.times)
    for ti in range(0, nt, meta.chunk_time):
        tchunk = times[ti : ti + meta.chunk_time]
        for lai in range(0, nla, meta.chunk_lat):
            lachunk = meta.lats[lai : lai + meta.chunk_lat]
            for loi in range(0, nlo, meta.chunk_lon):
                lochunk = meta.lons[loi : loi + meta.chunk_lon]
                rows.append(
                    (
                        meta.uri,
                        ti // meta.chunk_time,
                        lai // meta.chunk_lat,
                        loi // meta.chunk_lon,
                        tchunk.min().to_pydatetime(),
                        tchunk.max().to_pydatetime(),
                        float(min(lachunk)),
                        float(max(lachunk)),
                        float(min(lochunk)),
                        float(max(lochunk)),
                    )
                )
    return spark.createDataFrame(rows, CHUNK_MANIFEST_SCHEMA)


def prune_chunks(
    manifest: DataFrame,
    time_range: tuple[str, str] | None = None,
    lat_range: tuple[float, float] | None = None,
    lon_range: tuple[float, float] | None = None,
) -> DataFrame:
    """Range-overlap pruning: a chunk survives iff its [min,max] range
    intersects the predicate range on every constrained dimension —
    exactly parquet row-group min/max semantics applied to chunks."""
    out = manifest
    if time_range is not None:
        lo, hi = time_range
        out = out.filter(
            (F.col("time_max") >= F.lit(lo).cast("timestamp"))
            & (F.col("time_min") < F.lit(hi).cast("timestamp"))
        )
    if lat_range is not None:
        lo, hi = lat_range
        out = out.filter((F.col("lat_max") >= lo) & (F.col("lat_min") <= hi))
    if lon_range is not None:
        lo, hi = lon_range
        out = out.filter((F.col("lon_max") >= lo) & (F.col("lon_min") <= hi))
    return out


def filter_cells(
    rows: DataFrame,
    time_range: tuple[str, str] | None = None,
    lat_range: tuple[float, float] | None = None,
    lon_range: tuple[float, float] | None = None,
) -> DataFrame:
    """The residual cell-level range filter applied after decode: time
    in ``[start, end)``, latitude and longitude within their closed
    ranges. Frames without a time axis (GeoTIFF) ignore ``time_range``."""
    if time_range is not None and "time" in rows.columns:
        rows = rows.filter(
            (F.col("time") >= F.lit(time_range[0]).cast("timestamp"))
            & (F.col("time") < F.lit(time_range[1]).cast("timestamp"))
        )
    if lat_range is not None:
        rows = rows.filter(F.col("latitude").between(*lat_range))
    if lon_range is not None:
        rows = rows.filter(F.col("longitude").between(*lon_range))
    return rows


def row_schema(meta: ChunkedDatasetMeta, include_uri: bool = True):
    """Long-format scan schema for a store template: coordinate axes +
    one double column per data variable."""
    fields = [
        T.StructField("time", T.TimestampType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        *[T.StructField(v, T.DoubleType()) for v in meta.variables],
    ]
    if include_uri:
        fields.append(T.StructField("data_uri", T.StringType()))
    return T.StructType(fields)


ROW_SCHEMA = T.StructType(
    [
        T.StructField("time", T.TimestampType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("d2m", T.DoubleType()),
        T.StructField("u10", T.DoubleType()),
        T.StructField("v10", T.DoubleType()),
        T.StructField("data_uri", T.StringType()),
    ]
)


def _fake_chunk_decode(spec: pd.Series, meta: ChunkedDatasetMeta) -> pd.DataFrame:
    """Deterministic fake chunk reader (no zarr lib in container): values
    are a pure function of (uri, chunk key, cell), so full-scan vs
    pruned-scan equivalence is testable."""
    times = pd.to_datetime(meta.times)
    t0 = spec.t_idx * meta.chunk_time
    la0 = spec.lat_idx * meta.chunk_lat
    lo0 = spec.lon_idx * meta.chunk_lon
    tchunk = times[t0 : t0 + meta.chunk_time]
    lachunk = meta.lats[la0 : la0 + meta.chunk_lat]
    lochunk = meta.lons[lo0 : lo0 + meta.chunk_lon]
    seed = int(
        hashlib.md5(f"{meta.uri}:{spec.t_idx}:{spec.lat_idx}:{spec.lon_idx}".encode()).hexdigest()[:8],
        16,
    )
    rng = np.random.RandomState(seed)
    tt, la, lo = np.meshgrid(tchunk, lachunk, lochunk, indexing="ij")
    n = tt.size
    return pd.DataFrame(
        {
            "time": tt.ravel(),
            "latitude": np.asarray(la.ravel(), dtype=float),
            "longitude": np.asarray(lo.ravel(), dtype=float),
            "d2m": (rng.rand(n) * 150 + 180).round(4),
            "u10": (rng.rand(n) * 60 - 30).round(4),
            "v10": (rng.rand(n) * 60 - 30).round(4),
            "data_uri": meta.uri,
        }
    )


def _decode_specs(meta: ChunkedDatasetMeta, decoder: str, include_uri: bool = True):
    """Shared chunk-spec → rows generator for the batch scan and the
    streaming ingest.

    - ``"fake"`` — deterministic synthetic values (test plumbing);
    - ``"zarr2"`` — REAL Zarr v2 chunk decode, stdlib-only (JSON
      metadata + zlib/raw codec + ``np.frombuffer``); ``meta.uri``
      must point at a v2 store (see sources/zarr_v2.py). This is the
      decode path the reference reaches through ``xr.open_zarr``
      (xql/src/xql/open.py:92);
    - anything else requires the zarr/xarray libs, absent here."""
    if decoder == "zarr2":
        from .zarr_v2 import zarr2_decode_specs

        return zarr2_decode_specs(meta, include_uri=include_uri)
    if decoder != "fake":  # pragma: no cover
        raise NotImplementedError("real zarr decoding requires the zarr/xarray libs")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, spec in pdf.iterrows():
                out = _fake_chunk_decode(spec, meta)
                yield out if include_uri else out.drop(columns=["data_uri"])

    return run


CONSOLIDATED_METADATA = "_consolidated_metadata.json"


def template_dict(meta: ChunkedDatasetMeta) -> dict:
    """Canonical JSON-able form of the store template: axes, chunk
    geometry, variables — what zarr consolidates into ``.zmetadata``."""
    return {
        "uri": meta.uri,
        "times": [str(t) for t in pd.to_datetime(meta.times)],
        "lats": list(map(float, meta.lats)),
        "lons": list(map(float, meta.lons)),
        "chunks": {
            "time": meta.chunk_time,
            "latitude": meta.chunk_lat,
            "longitude": meta.chunk_lon,
        },
        "variables": list(meta.variables),
    }


def write_consolidated_metadata(out_dir: str, meta: ChunkedDatasetMeta) -> None:
    import json
    import os

    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, CONSOLIDATED_METADATA), "w") as f:
        json.dump(template_dict(meta), f, sort_keys=True)


def read_consolidated_metadata(out_dir: str) -> ChunkedDatasetMeta:
    """Template read-back: one metadata file open instead of listing the
    store — the point of zarr's consolidated metadata on object stores,
    where directory listings are slow and unatomic."""
    import json
    import os

    with open(os.path.join(out_dir, CONSOLIDATED_METADATA)) as f:
        d = json.load(f)
    return ChunkedDatasetMeta(
        uri=d["uri"],
        times=d["times"],
        lats=d["lats"],
        lons=d["lons"],
        chunk_time=d["chunks"]["time"],
        chunk_lat=d["chunks"]["latitude"],
        chunk_lon=d["chunks"]["longitude"],
        variables=tuple(d["variables"]),
    )


def write_chunked(
    rows: DataFrame,
    out_dir: str,
    meta: ChunkedDatasetMeta,
    strict: bool = True,
) -> int:
    """Chunked store *sink* against a precomputed template — the engine
    analog of xbeam.ChunksToZarr with a template dataset (weather_mv
    regrid.py:384-390): every row is assigned its chunk key from the
    template's chunk geometry (pure arithmetic against the broadcast
    axis arrays), and the partitioned write produces one directory per
    chunk — the same physical layout contract (aligned whole chunks, no
    partial files) a Zarr store requires, materialized as parquet so
    this container needs no zarr library. The template itself is written
    as consolidated metadata next to the chunks, so readers plan from
    ONE file instead of listing the store.

    Rows whose coordinates fall outside the template axes have no chunk
    (the reference's template write would corrupt or error): they are
    counted via ``observe`` (no extra job), excluded from the store, and
    ``strict=True`` raises after the write reporting the count. Returns
    the number of off-template rows (0 in the healthy path).

    Read-back contract: ``scan``'s pruning semantics apply to the
    written store by construction (directory = chunk)."""
    times = {str(t): i for i, t in enumerate(pd.to_datetime(meta.times))}
    lats = {v: i for i, v in enumerate(meta.lats)}
    lons = {v: i for i, v in enumerate(meta.lons)}
    t_map = F.create_map(*[x for kv in times.items() for x in (F.lit(kv[0]), F.lit(kv[1]))])
    la_map = F.create_map(*[x for kv in lats.items() for x in (F.lit(kv[0]), F.lit(kv[1]))])
    lo_map = F.create_map(*[x for kv in lons.items() for x in (F.lit(kv[0]), F.lit(kv[1]))])
    keyed = (
        rows.withColumn("t_idx", (t_map[F.col("time").cast("string")] / meta.chunk_time).cast("int"))
        .withColumn("lat_idx", (la_map[F.col("latitude")] / meta.chunk_lat).cast("int"))
        .withColumn("lon_idx", (lo_map[F.col("longitude")] / meta.chunk_lon).cast("int"))
    )
    off_template = (
        F.col("t_idx").isNull() | F.col("lat_idx").isNull() | F.col("lon_idx").isNull()
    )
    from pyspark.sql import Observation

    obs = Observation("chunk_sink")
    keyed = keyed.observe(
        obs, F.sum(F.when(off_template, 1).otherwise(0)).alias("n_off_template")
    ).filter(~off_template)
    keyed.write.mode("overwrite").partitionBy("t_idx", "lat_idx", "lon_idx").parquet(out_dir)
    write_consolidated_metadata(out_dir, meta)
    n_bad = int(obs.get["n_off_template"] or 0)
    if strict and n_bad:
        raise ValueError(
            f"{n_bad} rows fall outside the store template axes; "
            "they were excluded from the written store"
        )
    return n_bad


def read_chunked(spark: SparkSession, path: str) -> DataFrame:
    """Read a chunked store written by ``write_chunked`` (partition
    columns give Catalyst chunk-level pruning for free)."""
    return spark.read.parquet(path)


def stream_ingest(
    spark: SparkSession,
    meta: ChunkedDatasetMeta,
    manifest_dir: str,
    sink_fn,
    max_chunks_per_trigger: int = 4,
    decoder: str = "fake",
    checkpoint_dir: str | None = None,
):
    """Streaming chunk ingest — the reference's Zarr→rows streaming path
    (xbeam.DatasetToChunks + 60 s fixed windows, bq.py:406-423) as
    Structured Streaming:

    chunk specs arrive as JSON files in ``manifest_dir`` (one file per
    chunk — see write_chunk_specs — so ``maxFilesPerTrigger`` bounds
    chunks per micro-batch), and each micro-batch decodes its chunks
    with the same kernel the batch ``scan`` uses, handing the decoded
    rows to ``sink_fn(df, batch_id)`` via foreachBatch. Pass
    ``checkpoint_dir`` for a durable offset log — without it Spark uses
    a throwaway temp checkpoint and a restarted query re-reads (and the
    sink re-appends) every chunk.

    Returns the started StreamingQuery (caller drives/stops it).
    """
    spec_schema = (
        "uri string, t_idx int, lat_idx int, lon_idx int"
    )
    specs = (
        spark.readStream.schema(spec_schema)
        .option("maxFilesPerTrigger", max_chunks_per_trigger)
        .json(manifest_dir)
    )
    run = _decode_specs(meta, decoder)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.repartition(
            max(1, batch_df.sparkSession.sparkContext.defaultParallelism)
        ).mapInPandas(run, schema=row_schema(meta))
        sink_fn(rows, batch_id)

    writer = specs.writeStream.foreachBatch(process).trigger(availableNow=True)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def write_chunk_specs(spark: SparkSession, meta: ChunkedDatasetMeta, manifest_dir: str) -> int:
    """Materialize the chunk manifest as JSON spec files — ONE file per
    chunk, so the streaming reader's ``maxFilesPerTrigger`` genuinely
    bounds chunks per micro-batch. Returns the chunk count (computed
    from the template geometry, no extra job)."""
    import math

    n_chunks = (
        math.ceil(len(meta.times) / meta.chunk_time)
        * math.ceil(len(meta.lats) / meta.chunk_lat)
        * math.ceil(len(meta.lons) / meta.chunk_lon)
    )
    m = chunk_manifest(spark, meta).select("uri", "t_idx", "lat_idx", "lon_idx")
    m.repartition(n_chunks).write.mode("overwrite").json(manifest_dir)
    return n_chunks


def scan(
    spark: SparkSession,
    meta: ChunkedDatasetMeta,
    time_range: tuple[str, str] | None = None,
    lat_range: tuple[float, float] | None = None,
    lon_range: tuple[float, float] | None = None,
    decoder: str = "fake",
    include_uri: bool = True,
) -> DataFrame:
    """Pruned chunk scan → long-format rows. Residual cell-level filters
    are applied after decode (chunks overlap range boundaries).

    ``include_uri=False`` drops the per-row ``data_uri`` string at the
    DECODE, not after: the column is constant per store, and carrying
    it through the Arrow boundary costs ~40 B/row — at a month of ERA5
    (747M rows) that is ~30 GB of serialized strings the consumer
    (open_dataset) previously dropped one operator later."""
    manifest = prune_chunks(chunk_manifest(spark, meta), time_range, lat_range, lon_range)
    rows = manifest.repartition(spark.sparkContext.defaultParallelism).mapInPandas(
        _decode_specs(meta, decoder, include_uri=include_uri),
        schema=row_schema(meta, include_uri=include_uri),
    )
    return filter_cells(rows, time_range, lat_range, lon_range)
