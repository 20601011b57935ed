"""Hypercube → long-format rows: the engine's ingest operator.

Reference behavior being re-expressed (weather-mv, SURVEY.md §3.2):
- engine-dispatch file open (zarr/tif/netcdf/grib with edition fallback,
  sinks.py:437-519) → ``decode_auto``: ``opener.detect`` by magic
  bytes, then the codec of the ``opener.FORMATS`` entry;
- variable projection incl. normalized-name prefix/suffix matching
  (util.py:159-191) → ``select_variables``;
- GRIB schema normalization to ``<level>_<height>_<stepType>_<var>``
  wide columns (sinks.py:251-342, height rule :303-308)
  → ``normalized_var_name`` (pure) applied during decode;
- coordinate-space explosion to rows (util.py:207-237, bq.py:338-386)
  → decoders return grid cubes and ``cells.batches`` builds their
  long-format Arrow rows in ``mapInArrow``;
- area/time filter (bq.py:332-335) → ``IngestOptions`` become the
  ``(time_range, lat_range, lon_range)`` every read path uses: the
  builder masks the cubes' axes inside the decode task and
  ``cells.filter_cells`` is the exact residual (decoders only decode
  and project);
- geo columns via broadcast join against the grid lookup
  (bq.py:197-238, 344-375) → ``attach_geo``;
- system columns data_import_time / data_uri / data_first_step
  (bq.py:49-54, 377-379) → ``with_system_columns``.

Spark plan shape: range over the path list → mapInArrow(decode)
(``opener.map_files``) → [filters] → join(broadcast(geo)) → sink.
Whole files (or whole zarr chunks) per task; no shuffle until an
explicit sink/agg asks for one.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from weather_tools_spark.functions.geo import build_geo_lookup

from .cells import Cube, Ranges, batches, filter_cells, frame_batch, mask
from .opener import FORMATS, detect, map_files

# Canonical coordinate column set (mirrors the reference's
# frozenset(('latitude','time','step','valid_time','longitude','number')),
# sinks.py:44).
COORD_COLUMNS = ("time", "valid_time", "step", "number", "latitude", "longitude")


def normalized_var_name(level: str, height: float, step_type: str, var: str) -> str:
    """GRIB → wide-column name ``<level>_<height>_<stepType>_<var>``.

    Height rule (sinks.py:302-306): values ≥ 10 render as rounded
    integers (``{height:.0f}``); smaller values keep 2 decimals with the
    decimal point rendered as ``_`` (``{height:.2f}`` → ``1_50``).
    """
    if height >= 10:
        h = f"{height:.0f}"
    else:
        h = f"{height:.2f}".replace(".", "_")
    return f"{level}_{h}_{step_type}_{var}"


def merge_normalized(
    frames: list[tuple[str, float, str, str, DataFrame]],
    coord_cols: tuple[str, ...] = ("time", "latitude", "longitude"),
    value_col: str = "value",
) -> DataFrame:
    """GRIB schema normalization, merge step (sinks.py:251-342): N
    single-variable hypercubes (one per level/height/stepType/var)
    align on the coordinate axes into ONE wide dataset whose columns
    carry the synthesized ``<level>_<height>_<stepType>_<var>`` names.

    Spark-first: rename each frame's value column to its normalized
    name, then a coalescing full-outer multi-way join on the coordinate
    key (grids that don't cover a coordinate leave NULLs — the same
    NaN-alignment xr.merge produces). Coordinate-key joins co-partition
    after the first shuffle, so the k-way merge costs one exchange per
    side, not per pair.
    """
    renamed = [
        df.select(
            *coord_cols,
            F.col(value_col).alias(normalized_var_name(level, height, step_type, var)),
        )
        for level, height, step_type, var, df in frames
    ]
    out = renamed[0]
    for nxt in renamed[1:]:
        out = out.join(nxt, list(coord_cols), "full_outer")
    return out


def matches_variable(column: str, requested: str) -> bool:
    """Projection match incl. normalized names: exact, prefix ``var_*``
    or suffix ``*_var`` (util.py:133-136,159-191 semantics)."""
    return (
        column == requested
        or column.startswith(requested + "_")
        or column.endswith("_" + requested)
    )


def select_variables(df: DataFrame, requested: list[str] | None) -> DataFrame:
    """Keep coordinate/system columns plus any data column matching a
    requested variable name."""
    if not requested:
        return df
    keep = [
        c
        for c in df.columns
        if c in COORD_COLUMNS
        or c.startswith("data_")
        or c in ("geo_point", "geo_polygon")
        or any(matches_variable(c, r) for r in requested)
    ]
    return df.select(*keep)


@dataclass
class IngestOptions:
    variables: list[str] | None = None
    area: tuple[float, float, float, float] | None = None  # N, W, S, E
    start_time: str | None = None
    end_time: str | None = None


def _fake_grid_decode(path: str, opts: IngestOptions) -> list[Cube]:
    """Deterministic fake decoder (container has no xarray/cfgrib): one
    small regular grid cube derived from the path hash. Stands in for
    the real decode so the ingest plumbing is exercised end-to-end.
    """
    seed = int(hashlib.md5(path.encode()).hexdigest()[:8], 16)
    rng = np.random.RandomState(seed)
    lats = np.arange(49.0, 44.0, -1.0)  # descending, like ERA5 grids
    lons = np.arange(-108.0, -103.0, 1.0)
    times = pd.date_range("2018-01-02T06:00:00", periods=3, freq="6h")
    shape = (len(times), len(lats), len(lons))
    n = int(np.prod(shape))
    values = {
        "d2m": (rng.rand(n) * 150 + 180).round(4).reshape(shape),
        "u10": (rng.rand(n) * 60 - 30).round(4).reshape(shape),
        "v10": (rng.rand(n) * 60 - 30).round(4).reshape(shape),
    }
    return [Cube(times, lats, lons, values)]


def _xarray_decode(path: str, opts: IngestOptions) -> pd.DataFrame:
    """Library-backed decoder: xarray engine-dispatch (zarr → rasterio
    → netcdf → cfgrib-with-edition-fallback; the reference's
    weather_mv/loader_pipeline/sinks.py:437-519). Engine selection is
    by store layout / extension and ``opener.detect``; GRIB
    retries edition 1 the way the reference retries cfgrib with
    ``{'edition': 1}``. Gates with NotImplementedError when xarray is
    absent (this container); when the libraries ARE present,
    tests/test_conformance_optional.py asserts cell-level equality of
    this branch against every stdlib codec."""
    try:
        import xarray as xr  # type: ignore
    except ImportError as e:
        raise NotImplementedError(
            "xarray not installed in this environment; the stdlib codecs "
            "(netcdf3/netcdf4/grib1/grib2) cover the standard layouts"
        ) from e
    import os as _os

    try:
        kind = detect(path)
    except ValueError:
        kind = None  # no stdlib format: xarray picks the engine
    if _os.path.isdir(path) or path.rstrip("/").endswith(".zarr"):
        ds = xr.open_zarr(path)
    elif kind == "geotiff" or path.endswith((".tif", ".tiff")):
        ds = xr.open_dataset(path, engine="rasterio")
    elif kind in ("grib2", "grib1"):
        try:
            ds = xr.open_dataset(path, engine="cfgrib")
        except Exception:
            # reference edition fallback (sinks.py:370-389)
            ds = xr.open_dataset(
                path, engine="cfgrib",
                backend_kwargs={"filter_by_keys": {"edition": 1}},
            )
    else:
        ds = xr.open_dataset(path)
    variables = getattr(opts, "variables", None) if opts is not None else None
    if variables:
        ds = ds[[v for v in variables if v in ds.data_vars]]
    if opts is not None and (opts.start_time or opts.end_time):
        ds = ds.sel(time=slice(opts.start_time, opts.end_time))
    if opts is not None and opts.area:
        n, w, s, e = opts.area
        lat = ds["latitude"].values
        lat_slice = slice(n, s) if len(lat) > 1 and lat[0] > lat[-1] else slice(s, n)
        ds = ds.sel(latitude=lat_slice, longitude=slice(w, e))
    pdf = ds.to_dataframe().reset_index()
    # normalize to the long-format contract the stdlib codecs emit
    order = [c for c in ("time", "latitude", "longitude") if c in pdf.columns]
    rest = [c for c in pdf.columns if c not in order]
    return pdf[order + sorted(rest)]


def decode_auto(uri: str, opts: IngestOptions) -> list[Cube] | pd.DataFrame:
    """Per-URI dispatch (the reference's engine-dispatch open,
    sinks.py:437-519): synthetic mem:// URIs always decode with the
    deterministic fake (they have no on-disk bytes for a real library
    to open); anything ``opener.detect`` recognises decodes with its
    stdlib codec into cubes; the rest (a zarr store, a file no probe
    recognises) goes to the xarray branch, which returns a long frame,
    when xarray is importable, else raises ``detect``'s ValueError."""
    import importlib.util

    if uri.startswith("mem://"):
        return _fake_grid_decode(uri, opts)
    try:
        fmt = FORMATS.get(detect(uri))
    except ValueError:
        if importlib.util.find_spec("xarray") is None:
            raise
        fmt = None
    return (fmt.decode if fmt is not None else _xarray_decode)(uri, opts)


def decode_batches(uri: str, opts: IngestOptions, schema, tz: str, ranges: Ranges = Ranges()):
    """:func:`decode_auto` → the ``RecordBatch``es of its rows in
    ``schema`` that ``ranges`` keeps (``cells.batches``; the xarray
    branch's frame, already sliced by ``opts``, through
    ``cells.frame_batch``). ``data_uri`` is ``uri`` and
    ``data_first_step`` the earliest time kept."""
    out = decode_auto(uri, opts)
    if isinstance(out, pd.DataFrame):
        first = out["time"].min() if "time" in out.columns and len(out) else None
        return [frame_batch(out, schema, tz, {"data_uri": uri, "data_first_step": first})]
    cubes = [mask(c, ranges, tz) for c in out]
    times = [c.times for c in cubes if c.times is not None and len(c.times) * len(c.lats) * len(c.lons)]
    first = min(t.min() for t in times) if times else None
    return batches(cubes, schema, tz, constants={"data_uri": uri, "data_first_step": first})


ROW_SCHEMA = T.StructType(
    [
        T.StructField("time", T.TimestampType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("d2m", T.DoubleType()),
        T.StructField("u10", T.DoubleType()),
        T.StructField("v10", T.DoubleType()),
        T.StructField("data_uri", T.StringType()),
        T.StructField("data_first_step", T.TimestampType()),
    ]
)


def ingest(
    spark: SparkSession,
    uris: list[str],
    opts: IngestOptions | None = None,
    schema: T.StructType = ROW_SCHEMA,
) -> DataFrame:
    """File URIs → long-format row DataFrame.

    The paths spread over the tasks so each task decodes whole files
    (the unit of I/O parallelism, exactly one shuffle-free stage) with
    :func:`decode_batches`, whose Arrow batches ``mapInArrow`` hands to
    Spark. The area and time options apply as they do in
    ``opener.open_dataset``: masked in the task, before
    ``data_first_step`` is taken, with ``filter_cells`` as the
    residual; a column of ``schema`` the file lacks (a GeoTIFF's
    ``time``) is null. At cluster scale the same plan applies with
    thousands of files per job.
    """
    opts = opts or IngestOptions()
    time_range = lat_range = lon_range = None
    if opts.start_time is not None or opts.end_time is not None:
        time_range = (opts.start_time, opts.end_time)  # None leaves an end open
    if opts.area is not None:
        n, w, s, e = opts.area
        lat_range, lon_range = (s, n), (w, e)
    ranges = Ranges.of(time_range, lat_range, lon_range)
    rows = map_files(
        spark, uris,
        lambda uri, arrow_schema, tz: decode_batches(uri, opts, arrow_schema, tz, ranges), schema,
    )
    return select_variables(filter_cells(rows, time_range, lat_range, lon_range), opts.variables)


def with_system_columns(df: DataFrame, import_time: str | None = None) -> DataFrame:
    """data_import_time: fixed for batch runs (epoch 0 in reference
    tests, bq.py:49), current_timestamp() in streaming (bq.py:325-327)."""
    col = (
        F.lit(import_time).cast("timestamp")
        if import_time is not None
        else F.current_timestamp()
    )
    return df.withColumn("data_import_time", col)


def attach_geo(df: DataFrame, lat_res: float, lon_res: float) -> DataFrame:
    """Broadcast-join the geo lookup (geo_point / geo_polygon GeoJSON) by
    grid position — bq.py:344-375 as a real broadcast equi-join."""
    grid = df.select("latitude", "longitude").distinct()
    lookup = build_geo_lookup(grid, lat_res, lon_res)
    return df.join(F.broadcast(lookup), ["latitude", "longitude"], "left")
