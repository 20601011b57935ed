"""Grid cubes → rows: the range rule and the one row builder of every
read path.

The reference's data model is one flattening: a hypercube's coordinate
space exploded into long rows (weather_mv util.py:207-237,
bq.py:338-386). Every stdlib decoder returns :class:`Cube` blocks: 1-D
time, latitude and longitude axes (or a points axis with per-point
coordinates), the block's scalar coordinates and one array per
variable. :func:`batches` is the one place a cube becomes rows. It
masks the axes to the read's :class:`Ranges` (``np.ix_`` on a
cross-product grid, a point mask on a paired one), builds the columns
with ``np.repeat``/``np.tile`` and yields ``pyarrow.RecordBatch``es in
the declared schema, a column the cube lacks as typed nulls and NaN as
null. ``opener.map_files`` (``mapInArrow``) and ``format("weather")``
hand those batches to Spark; :func:`frame` turns the same batches into
the pandas frame of the public ``*_decode`` functions.

**Time.** Decoded times are naive wall-clock values, and an Arrow batch
carries instants. :func:`batches` localizes each time axis once, with
the session time zone of the read, by pyspark's own rule for pandas
input (``tz_localize(tz, ambiguous=False)``,
pyspark/sql/pandas/types.py), so ``CAST(time AS STRING)`` shows the
file's wall-clock time on every read path in any session zone.

**The range rule.** Time is kept in ``[start, end)``, a ``None`` end
open; latitude and longitude in closed ranges. :func:`filter_cells` is
the exact Catalyst residual (its time clause :func:`in_time_range` is
also the GRIB manifest's), :func:`mask_axes` applies the rule to axes
read from file headers on the driver, and :func:`batches` applies it
in the decode task, comparing instants exactly as the residual does.
``zarr_scan.prune_chunks`` applies it to chunk min/max ranges.
"""

from __future__ import annotations

from typing import Iterable, Iterator, NamedTuple
from zoneinfo import ZoneInfo

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class Cube(NamedTuple):
    """One decoded block. ``values[v]`` has shape ``(time, latitude,
    longitude)`` over the axes, or ``(time, point)`` when ``paired``
    (``lats[i], lons[i]`` is point ``i``: Lambert, polar and reduced
    Gaussian grids); a block without a time axis (``times=None``, a
    GeoTIFF) drops the leading dimension. ``scalars`` are the block's
    constant columns (GRIB ``step``, ``valid_time``, ``number``,
    ``level``; a Zarr chunk's ``data_uri``)."""

    times: pd.DatetimeIndex | None
    lats: np.ndarray
    lons: np.ndarray
    values: dict
    paired: bool = False
    scalars: dict = {}


class Ranges(NamedTuple):
    """A read's ranges: ``time`` as ``(lo, hi)`` timestamps, ``None``
    for an open end (naive bounds are wall-clock times, zoned ones
    instants); ``lat`` and ``lon`` closed ``(lo, hi)``. ``None`` leaves
    an axis unconstrained."""

    time: tuple | None = None
    lat: tuple | None = None
    lon: tuple | None = None

    @classmethod
    def of(cls, time_range=None, lat_range=None, lon_range=None) -> "Ranges":
        """The ranges of ``open_dataset``-style arguments; a time bound
        that is not a plain timestamp masks no time in the task (it is
        left to :func:`filter_cells`)."""
        return cls(_time_bounds(time_range), lat_range, lon_range)


def _time_bounds(time_range: tuple[str | None, str | None] | None):
    """``time_range`` as tz-naive pandas timestamps widened to whole
    microseconds, for masks and pruning on the driver and in the task,
    with ``None`` for an open end; ``None`` when there is no range, or
    a bound carries a zone or does not parse (time is then left to
    :func:`filter_cells`)."""
    if time_range is None:
        return None
    try:
        lo, hi = (None if t is None else pd.Timestamp(t) for t in time_range)
    except (TypeError, ValueError):
        return None
    if any(t is not None and t.tzinfo is not None for t in (lo, hi)):
        return None
    return (None if lo is None else lo.floor("us")), (None if hi is None else hi.ceil("us"))


def in_time_range(col: str, time_range: tuple[str | None, str | None]) -> Column:
    """``col`` in ``[start, end)`` as a Catalyst predicate, each bound
    cast to a timestamp in the session time zone; a ``None`` end is
    open."""
    start, end = time_range
    cond = F.lit(True)
    if start is not None:
        cond &= F.col(col) >= F.lit(start).cast("timestamp")
    if end is not None:
        cond &= F.col(col) < F.lit(end).cast("timestamp")
    return cond


def filter_cells(
    rows: DataFrame,
    time_range: tuple[str | None, str | None] | None = None,
    lat_range: tuple[float, float] | None = None,
    lon_range: tuple[float, float] | None = None,
) -> DataFrame:
    """The residual cell-level range filter applied after decode: time
    in ``[start, end)`` (``None`` leaves that end open), latitude and
    longitude within their closed ranges. Frames without a time axis
    (GeoTIFF) ignore ``time_range``."""
    if time_range is not None and "time" in rows.columns:
        rows = rows.filter(in_time_range("time", time_range))
    if lat_range is not None:
        rows = rows.filter(F.col("latitude").between(*lat_range))
    if lon_range is not None:
        rows = rows.filter(F.col("longitude").between(*lon_range))
    return rows


def mask_axes(
    times,
    lats: np.ndarray,
    lons: np.ndarray,
    paired: bool,
    time_range: tuple[str | None, str | None] | None = None,
    lat_range: tuple[float, float] | None = None,
    lon_range: tuple[float, float] | None = None,
) -> tuple[pd.DatetimeIndex, np.ndarray, np.ndarray]:
    """The range rule on a grid's coordinates instead of its cells: the
    time, latitude and longitude values of the cells ``times × grid``
    that :func:`filter_cells` keeps (:func:`mask` of a cube without
    values). The grid is the cross product of ``lats`` and ``lons``,
    or, when ``paired``, the points ``(lats[i], lons[i])``; a range
    that leaves no cell leaves all three empty. Times are whole
    microseconds, as Spark holds them. A time bound must be a plain
    timestamp: the session time zone that would place any other is not
    known here."""
    ranges = Ranges.of(time_range, lat_range, lon_range)
    if time_range is not None and ranges.time is None:
        raise ValueError(f"time bounds must be plain timestamps, got {time_range!r}")
    grid = Cube(
        pd.DatetimeIndex(times).floor("us"), np.asarray(lats, "f8"), np.asarray(lons, "f8"), {}, paired
    )
    kept = mask(grid, ranges)
    if not (len(kept.times) and len(kept.lats) and len(kept.lons)):
        return grid.times[:0], grid.lats[:0], grid.lons[:0]
    return kept.times, kept.lats, kept.lons


def _instants(times: pd.DatetimeIndex, tz: str | None) -> pd.DatetimeIndex:
    """Naive wall-clock times → UTC instants in zone ``tz``, by
    pyspark's rule for pandas input: an ambiguous time is standard
    time, a time in a gap raises. Zoned times, or no zone, pass."""
    if tz is None or times.tz is not None:
        return times
    return times.tz_localize(tz, ambiguous=False).tz_convert("UTC")


def _instant(bound: pd.Timestamp | None, tz: str | None) -> pd.Timestamp | None:
    """A time bound as the instant Spark's ``CAST(bound AS TIMESTAMP)``
    gives in zone ``tz``: a zoned bound as it is; a naive one with the
    earlier offset in a fold and the offset before a gap (java.time's
    rule, which PEP 495's ``fold=0`` follows)."""
    if bound is None or bound.tzinfo is not None:
        return bound if bound is None else bound.tz_convert("UTC")
    if tz is None:
        return bound
    try:
        zone = ZoneInfo(tz)
    except (KeyError, ValueError):  # a fixed offset such as "+05:00": no folds or gaps
        return bound.tz_localize(tz).tz_convert("UTC")
    return pd.Timestamp(bound.to_pydatetime().replace(tzinfo=zone)).tz_convert("UTC")


def mask(cube: Cube, ranges: Ranges, tz: str | None = None) -> Cube:
    """The cube of ``cube``'s cells that ``ranges`` keeps. With a
    session zone ``tz`` its times become UTC instants (each axis
    localized once) and the time range is compared as instants, exactly
    as :func:`filter_cells` compares; without one times stay naive and
    naive bounds compare as wall-clock times."""
    times = None if cube.times is None else _instants(cube.times, tz)
    kt = None
    if ranges.time is not None and times is not None:
        lo, hi = (_instant(b, tz) for b in ranges.time)
        kt = np.ones(len(times), bool)
        if lo is not None:
            kt &= times >= lo
        if hi is not None:
            kt &= times < hi
    kla, klo = (
        None if closed is None else (values >= closed[0]) & (values <= closed[1])
        for values, closed in ((cube.lats, ranges.lat), (cube.lons, ranges.lon))
    )
    if cube.paired and not (kla is None and klo is None):  # one point mask
        kla = klo = np.logical_and(
            *(np.ones(len(cube.lats), bool) if k is None else k for k in (kla, klo))
        )
    keeps = (kt, kla, klo)
    if all(k is None for k in keeps):
        return cube._replace(times=times)
    dims = ((kt, len(times)),) if times is not None else ()
    dims += ((kla, len(cube.lats)),) if cube.paired else ((kla, len(cube.lats)), (klo, len(cube.lons)))
    index = np.ix_(*(np.ones(n, bool) if k is None else k for k, n in dims))
    return Cube(
        times if kt is None else times[kt],
        cube.lats if kla is None else cube.lats[kla],
        cube.lons if klo is None else cube.lons[klo],
        {v: values[index] for v, values in cube.values.items()},
        cube.paired,
        cube.scalars,
    )


_NS = {"s": 10**9, "ms": 10**6, "us": 10**3, "ns": 1}


def _ints(times: pd.DatetimeIndex, type: pa.DataType) -> np.ndarray:
    """Times as the integers of a timestamp ``type``, floored to its
    unit."""
    have, want = _NS[times.unit], _NS[type.unit]
    return times.asi8 * (have // want) if have >= want else times.asi8 // (want // have)


def _constant(value, n: int, type: pa.DataType, tz: str | None) -> pa.Array:
    """``n`` copies of a scalar column value; a naive timestamp is
    localized as a time axis is."""
    if value is None or pd.isna(value):
        return pa.nulls(n, type)
    if pa.types.is_timestamp(type):
        return pa.array(np.full(n, _ints(_instants(pd.DatetimeIndex([value]), tz), type)[0]), type)
    return pa.array([value], type).take(np.zeros(n, np.int32))


def batches(
    cubes: Iterable[Cube],
    schema: pa.Schema,
    tz: str | None = None,
    ranges: Ranges = Ranges(),
    constants: dict | None = None,
) -> Iterator[pa.RecordBatch]:
    """The one row builder: the cells of each cube that ``ranges``
    keeps (:func:`mask`), one ``RecordBatch`` in ``schema`` per cube
    that keeps any. Cells run time-major, then latitude, then
    longitude (or point). A column comes from the time or a coordinate
    axis, a cube scalar, ``constants`` or a variable, in that order, and
    is typed nulls when none has it; NaN is null. With a session zone
    ``tz`` every time is a UTC instant, without one (:func:`frame`)
    times stay naive."""
    constants = constants or {}
    for cube in cubes:
        cube = mask(cube, ranges, tz)
        times, lats, lons = cube.times, cube.lats, cube.lons
        nt = 1 if times is None else len(times)
        inner = len(lats) if cube.paired else len(lats) * len(lons)
        n = nt * inner
        if n == 0:
            continue
        columns = []
        for name, type in zip(schema.names, schema.types):
            if name == "time" and times is not None:
                col = pa.array(np.repeat(_ints(times, type), inner), type)
            elif name == "latitude":
                la = lats if cube.paired else np.repeat(lats, len(lons))
                col = pa.array(np.tile(la, nt), type, from_pandas=True)
            elif name == "longitude":
                col = pa.array(np.tile(lons, n // len(lons)), type, from_pandas=True)
            elif name in cube.scalars or name in constants:
                value = cube.scalars[name] if name in cube.scalars else constants[name]
                col = _constant(value, n, type, tz)
            elif name in cube.values:
                col = pa.array(np.ravel(cube.values[name]), type, from_pandas=True)
            else:
                col = pa.nulls(n, type)
            columns.append(col)
        yield pa.RecordBatch.from_arrays(columns, schema=schema)


def _frame_schema(cubes: list[Cube]) -> pa.Schema:
    """The columns of :func:`frame`: ``time`` when the cubes have a
    time axis, their scalars, ``latitude``, ``longitude`` and their
    variables, each in order of first appearance."""
    scalars = dict(kv for c in cubes for kv in c.scalars.items())

    def kind(value) -> pa.DataType:
        if isinstance(value, pd.Timestamp):
            return pa.timestamp(value.unit)
        return pa.string() if isinstance(value, str) else pa.array([value]).type

    times = cubes[0].times
    return pa.schema(
        ([] if times is None else [("time", pa.timestamp(times.unit))])
        + [(name, kind(value)) for name, value in scalars.items()]
        + [("latitude", pa.float64()), ("longitude", pa.float64())]
        + [(v, pa.float64()) for v in dict.fromkeys(v for c in cubes for v in c.values)]
    )


def frame(cubes: Iterable[Cube]) -> pd.DataFrame:
    """Cubes → the long pandas frame of the public ``*_decode``
    functions, through :func:`batches` with naive times in the unit
    the decoder gave them: every cell, no mask. No cube gives an empty
    frame of the three coordinates."""
    cubes = list(cubes)
    if not cubes:
        return pd.DataFrame({"time": [], "latitude": [], "longitude": []})
    schema = _frame_schema(cubes)
    return pa.Table.from_batches(list(batches(cubes, schema)), schema).to_pandas()


def frame_batch(
    pdf: pd.DataFrame, schema: pa.Schema, tz: str | None, constants: dict | None = None
) -> pa.RecordBatch:
    """A long frame (the xarray decode branch, the one decoder that
    does not return cubes) plus ``constants`` → one ``RecordBatch`` in
    ``schema``, its times localized as :func:`batches` localizes an
    axis, NaN as null and a column it lacks typed nulls."""
    pdf = pdf.assign(**(constants or {}))
    columns = []
    for field in schema:
        if field.name not in pdf.columns:
            columns.append(pa.nulls(len(pdf), field.type))
        elif pa.types.is_timestamp(field.type):
            times = _instants(pd.DatetimeIndex(pdf[field.name]), tz)
            columns.append(pa.array(_ints(times, field.type), field.type, mask=times.isna()))
        else:
            columns.append(pa.array(pdf[field.name], field.type, from_pandas=True))
    return pa.RecordBatch.from_arrays(columns, schema=schema)
