"""Chunk-manifest scan for chunked array stores (Zarr-model).

The reference reads Zarr lazily and re-chunks work to match storage
chunks (xql/src/xql/open.py:30-66, apply.py:285-286; xbeam
DatasetToChunks in bq.py:419). Spark has no zarr datasource, so the
engine plans scans the same way a columnar reader plans row-groups:

1. build a *chunk manifest* — one row per chunk, carrying the
   coordinate ranges the chunk covers (min/max per dimension);
2. prune it by comparing the query's coordinate ranges against chunk
   ranges — the zarr analog of parquet row-group min/max pruning,
   SURVEY.md §4 'chunk-range pruning';
3. spread the surviving chunk keys over ``mapInArrow`` tasks, with no
   exchange in front, that each decode whole chunks (never a partial
   chunk) into cubes and build their in-range rows
   (``cells.batches``).

The manifest is a small pandas frame built and pruned on the driver
(``chunk_manifest`` gives it as a Spark DataFrame for the streaming
spec files); chunks decode from real Zarr v2/v3 stores
(``zarr_v2.zarr2_chunk_decoder``).

The range rule lives in ``cells`` (the task-side axis mask, the
``filter_cells`` residual); :func:`prune_chunks` applies it here to the
chunk manifest's min/max ranges.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .cells import Ranges, _time_bounds, batches, filter_cells


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


def chunk_table(meta: ChunkedDatasetMeta) -> pd.DataFrame:
    """The chunk manifest on the driver: one :data:`CHUNK_MANIFEST_SCHEMA`
    row per chunk, its key and the coordinate min/max ranges it covers."""
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
                        tchunk.min(),
                        tchunk.max(),
                        float(min(lachunk)),
                        float(max(lachunk)),
                        float(min(lochunk)),
                        float(max(lochunk)),
                    )
                )
    return pd.DataFrame(rows, columns=CHUNK_MANIFEST_SCHEMA.names)


def chunk_manifest(spark: SparkSession, meta: ChunkedDatasetMeta) -> DataFrame:
    """:func:`chunk_table` as a Spark DataFrame."""
    return spark.createDataFrame(chunk_table(meta), CHUNK_MANIFEST_SCHEMA)


def prune_chunks(
    manifest: pd.DataFrame,
    time_range: tuple[str | None, str | None] | None = None,
    lat_range: tuple[float, float] | None = None,
    lon_range: tuple[float, float] | None = None,
) -> pd.DataFrame:
    """Range-overlap pruning of a :func:`chunk_table`, on the driver: a
    chunk survives iff its [min,max] range intersects the predicate
    range on every constrained dimension — exactly parquet row-group
    min/max semantics applied to chunks. A time bound that is not a
    plain timestamp prunes nothing."""
    keep = pd.Series(True, index=manifest.index)
    lo, hi = _time_bounds(time_range) or (None, None)
    if lo is not None:
        keep &= manifest["time_max"] >= lo
    if hi is not None:
        keep &= manifest["time_min"] < hi
    if lat_range is not None:
        keep &= (manifest["lat_max"] >= lat_range[0]) & (manifest["lat_min"] <= lat_range[1])
    if lon_range is not None:
        keep &= (manifest["lon_max"] >= lon_range[0]) & (manifest["lon_min"] <= lon_range[1])
    return manifest[keep]


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


def time_micros_sql(col: str) -> str:
    """SQL for microseconds since 1970-01-01 00:00 of ``col``'s
    wall-clock time in the session time zone: epoch microseconds in a
    UTC session, and in any zone the value a naive ISO time of
    :class:`ChunkedDatasetMeta` denotes. It never depends on the driver
    process's own time zone."""
    return (
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', "
        f"CAST({col} AS TIMESTAMP_NTZ))"
    )


def axis_positions_sql(meta: ChunkedDatasetMeta) -> tuple[str, str, str]:
    """SQL for a row's 0-based position on ``meta``'s time, latitude and
    longitude axes, NULL when the coordinate is not on the axis. Each
    axis is one ``array_position`` over its literals (times as
    :func:`time_micros_sql` values, doubles spelled by ``repr`` so they
    round-trip exactly), so the plan costs the same few py4j calls
    however long the axes are."""
    micros = pd.to_datetime(meta.times).asi8 // 1000

    def position(col: str, literals) -> str:
        return f"(nullif(array_position(array({', '.join(literals)}), {col}), 0) - 1)"

    return (
        position(time_micros_sql("time"), (f"{m}L" for m in micros)),
        position("CAST(latitude AS DOUBLE)", (f"{float(v)!r}D" for v in meta.lats)),
        position("CAST(longitude AS DOUBLE)", (f"{float(v)!r}D" for v in meta.lons)),
    )


def stream_ingest(
    spark: SparkSession,
    meta: ChunkedDatasetMeta,
    manifest_dir: str,
    sink_fn,
    max_chunks_per_trigger: int = 4,
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
    from .opener import map_files
    from .zarr_v2 import zarr2_chunk_decoder

    spec_schema = (
        "uri string, t_idx int, lat_idx int, lon_idx int"
    )
    specs = (
        spark.readStream.schema(spec_schema)
        .option("maxFilesPerTrigger", max_chunks_per_trigger)
        .json(manifest_dir)
    )
    decode = zarr2_chunk_decoder(meta)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        keys = [tuple(r) for r in batch_df.collect()]
        rows = map_files(
            batch_df.sparkSession, keys,
            lambda key, schema, tz: batches(decode(key), schema, tz), row_schema(meta),
        )
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
    time_range: tuple[str | None, str | None] | None = None,
    lat_range: tuple[float, float] | None = None,
    lon_range: tuple[float, float] | None = None,
    include_uri: bool = True,
) -> DataFrame:
    """Pruned chunk scan → long-format rows. The chunk list is built
    and pruned on the driver, and its kept keys spread over the decode
    tasks with no exchange (``opener.map_files``). Each task builds its
    chunks' in-range rows (``cells.batches``); the residual cell-level
    filters are applied after decode.

    ``include_uri=False`` leaves the per-row ``data_uri`` string out of
    the decode's schema, not after it: the column is constant per
    store, and carrying it through the Arrow boundary costs ~40 B/row —
    at a month of ERA5 (747M rows) that is ~30 GB of serialized strings
    the consumer (open_dataset) would drop one operator later."""
    from .opener import map_files
    from .zarr_v2 import zarr2_chunk_decoder

    kept = prune_chunks(chunk_table(meta), time_range, lat_range, lon_range)
    keys = list(kept[["uri", "t_idx", "lat_idx", "lon_idx"]].itertuples(index=False, name=None))
    decode = zarr2_chunk_decoder(meta)
    ranges = Ranges.of(time_range, lat_range, lon_range)
    rows = map_files(
        spark, keys, lambda key, schema, tz: batches(decode(key), schema, tz, ranges),
        row_schema(meta, include_uri=include_uri),
    )
    return filter_cells(rows, time_range, lat_range, lon_range)
