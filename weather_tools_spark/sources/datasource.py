"""``spark.read.format("weather")`` — the stdlib codecs as a first-class
PySpark 4 Python DataSource.

The opener (:mod:`weather_tools_spark.sources.opener`) gives the
functional path (``open_dataset``); this module plugs the SAME codecs
into Spark's DataSource API so the engine composes with everything that
expects a format string::

    from weather_tools_spark.sources.datasource import register
    register(spark)
    df = spark.read.format("weather").load("/data/era5-*.grib2")

Spark-native integration points implemented (not just ``read``):

- **partition planning**: one input partition per matched file — whole
  files are the unit of parallelism, exactly like the mapInArrow plan
  the opener builds, but visible to Spark's scheduler as a real scan;
- **filter pushdown** (``pushFilters``): the comparisons the range rule
  of ``cells`` applies exactly — ``>=``, ``<=`` and ``=`` on
  ``latitude`` / ``longitude``, ``>=`` and ``<`` on ``time`` — are
  absorbed into the read's ``cells.Ranges`` and applied to the decoded
  axes inside the task; every other filter is returned, so Catalyst
  re-applies only those;
- **column pruning** (``.option("columns", "d2m,u10")``): the source
  schema narrows to coordinates + the requested data variables, and the
  pruned variables are never decoded — GRIB messages for them are
  skipped at the section-1 header (read_grib2's ``want`` filter), HDF5
  chunks are never inflated, NetCDF-3 payloads never CF-unpacked.
  Spark 4.1's Python DataSource has no ``pruneColumns`` hook — the
  reader receives the FULL schema even under a narrow ``select()``
  (verified empirically: ``BatchScan`` ReadSchema keeps every column) —
  so projection is pushed explicitly via the option, mirroring the
  reference's ``_only_target_vars``
  (weather_mv/loader_pipeline/util.py:159-191, applied bq.py:317,331);
- **Arrow hand-off**: ``read`` yields the ``pyarrow.RecordBatch``es of
  ``cells.batches``, the builder of every read path, with times
  localized in the session time zone of the query (a task-local
  property of the job) — the columnar boundary, no per-row Python
  objects. The streaming reader plans one partition per new file and
  reads it the same way.

The reference's analog is the xarray engine dispatch in
``xql/src/xql/open.py:68-98`` + the Beam file ingest
(``weather_mv/loader_pipeline/sinks.py``); here it is the idiomatic
Spark-4 surface over the same byte-level codecs.
"""

from __future__ import annotations

import math
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from .cells import Ranges, batches
from .opener import _decoder_for, detect, expand, long_schema

_COORD_COLS = ("time", "latitude", "longitude")


def _absorb(ranges: Ranges, f: Filter, columns: list[str]) -> Ranges | None:
    """``ranges`` narrowed by ``f`` when the range rule applies ``f``
    exactly — a closed bound or equality on latitude or longitude, a
    ``>=`` or ``<`` bound on time — else ``None``."""
    import pandas as pd

    attribute = getattr(f, "attribute", ())
    col = attribute[0] if len(attribute) == 1 and attribute[0] in columns else None
    value = getattr(f, "value", None)
    closed = (GreaterThanOrEqual, LessThanOrEqual, EqualTo)
    if col in ("latitude", "longitude") and isinstance(f, closed):
        if not isinstance(value, (int, float)) or value != value:  # NaN orders last in Spark
            return None
        lo, hi = getattr(ranges, col[:3]) or (-math.inf, math.inf)
        if not isinstance(f, LessThanOrEqual):
            lo = max(lo, value)
        if not isinstance(f, GreaterThanOrEqual):
            hi = min(hi, value)
        return ranges._replace(**{col[:3]: (lo, hi)})
    if col == "time" and isinstance(f, (GreaterThanOrEqual, LessThan)) and value is not None:
        t = pd.Timestamp(value)  # a pushed timestamp is an instant
        t = t.tz_localize("UTC") if t.tzinfo is None else t.tz_convert("UTC")
        lo, hi = ranges.time or (None, None)
        if isinstance(f, GreaterThanOrEqual):
            lo = t if lo is None else max(lo, t)
        else:
            hi = t if hi is None else min(hi, t)
        return ranges._replace(time=(lo, hi))
    return None


def _file_batches(path: str, kind: str, columns: list[str], ranges: Ranges = Ranges()):
    """One file's rows in ``columns`` that ``ranges`` keeps, decoding
    only the data variables among ``columns`` (projection pushdown),
    with times in the session time zone of the running query."""
    from pyspark import TaskContext
    from pyspark.sql.pandas.types import _get_local_timezone, to_arrow_schema

    variables = [c for c in columns if c not in _COORD_COLS]
    decode_one, _ = _decoder_for(kind, path, variables, strict=False)
    # Spark hands an explicitly set session zone to the job's tasks as a
    # local property; otherwise the JVM's default, the host's zone
    tz = TaskContext.get().getLocalProperty("spark.sql.session.timeZone") or _get_local_timezone()
    return batches(decode_one(path), to_arrow_schema(long_schema(columns)), tz, ranges)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class WeatherReader(DataSourceReader):
    def __init__(self, paths: list[str], kind: str, columns: list[str]):
        self._paths = paths
        self._kind = kind
        self._columns = columns
        self._ranges = Ranges()

    # -- filter pushdown ---------------------------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            narrowed = _absorb(self._ranges, f, self._columns)
            if narrowed is None:
                yield f  # not applied exactly here — Catalyst keeps it
            else:
                self._ranges = narrowed

    # -- planning ----------------------------------------------------------
    def partitions(self) -> list[InputPartition]:
        return [_FilePartition(p) for p in self._paths]

    # -- execution ---------------------------------------------------------
    def read(self, partition: _FilePartition):
        return _file_batches(partition.path, self._kind, self._columns, self._ranges)


class WeatherDataSource(DataSource):
    """``format("weather")``: auto-detects GRIB1/GRIB2/NetCDF-3/
    NetCDF-4/GeoTIFF by magic bytes (zarr stores go through
    ``open_dataset`` — a chunked store is not a file glob)."""

    @classmethod
    def name(cls) -> str:
        return "weather"

    def schema(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError('format("weather") needs .load(path)')
        uris = expand(path)
        kind = detect(uris[0])
        requested = self.options.get("columns")
        variables = (
            [c.strip() for c in requested.split(",") if c.strip()]
            if requested is not None
            else None
        )
        _, cols = _decoder_for(kind, uris[0], variables)
        return long_schema(cols)

    def reader(self, schema: StructType) -> WeatherReader:
        uris = expand(self.options["path"])
        kinds = {detect(u) for u in uris}
        if len(kinds) > 1:
            raise ValueError(f"mixed formats: {sorted(kinds)}")
        return WeatherReader(uris, kinds.pop(), [f.name for f in schema.fields])

    def writer(self, schema: StructType, overwrite: bool) -> "WeatherWriter":
        return WeatherWriter(self.options, schema, overwrite)

    def streamReader(self, schema: StructType) -> "WeatherStreamReader":
        return WeatherStreamReader(self.options, schema)


def register(spark) -> None:
    """Register ``format("weather")`` on a session (idempotent). Also
    flips on Python-source filter pushdown — a runtime SQL conf, so it
    works on driver-provided vanilla sessions too."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(WeatherDataSource)


# ---------------------------------------------------------------------------
# Writer: df.write.format("weather").save(dir) → partitioned GRIB2
# ---------------------------------------------------------------------------


class _WroteFiles(WriterCommitMessage):
    def __init__(self, paths: list[str]):
        self.paths = paths


class WeatherWriter(DataSourceWriter):
    """Each Spark write task serializes its rows as whole GRIB2 files —
    one multi-message file per time slice seen in the partition (the
    ``write_grib2_partitioned`` layout, WMO sections + simple packing),
    gridded on the lat/lon values the task holds for that slice; a cell
    absent there is written as missing (bitmap). Input must be
    repartitioned by time slice to get one file per slice: otherwise
    every task holding rows of a slice writes its own task-tagged file,
    and each file carries missing cells where other tasks hold the
    values. ``commit`` writes a _MANIFEST json listing every committed
    file — the all-or-nothing marker."""

    def __init__(self, options, schema: StructType, overwrite: bool):
        self._dir = options.get("path")
        if not self._dir:
            raise ValueError('format("weather") write needs .save(path)')
        self._cols = [f.name for f in schema.fields]
        for required in ("time", "latitude", "longitude"):
            if required not in self._cols:
                raise ValueError(f"weather write needs a {required!r} column")
        self._vars = [c for c in self._cols if c not in ("time", "latitude", "longitude")]
        import os
        import shutil

        if overwrite and os.path.isdir(self._dir):
            shutil.rmtree(self._dir)
        os.makedirs(self._dir, exist_ok=True)

    def write(self, iterator) -> "_WroteFiles":
        import os
        import uuid

        import pandas as pd

        from .grib2 import grib_messages, write_grib2

        rows = list(iterator)
        if not rows:
            return _WroteFiles([])
        pdf = pd.DataFrame(rows, columns=self._cols)
        tag = uuid.uuid4().hex[:8]
        out: list[str] = []
        for ts, g in pdf.groupby(pdf["time"].astype("datetime64[us]")):
            path = os.path.join(
                self._dir, f"{pd.Timestamp(ts).strftime('%Y-%m-%dT%H%M')}-{tag}.grib2"
            )
            write_grib2(path, grib_messages(g, self._vars))
            out.append(path)
        return _WroteFiles(out)

    def commit(self, messages):
        import json
        import os

        files = sorted(p for m in messages for p in getattr(m, "paths", []))
        with open(os.path.join(self._dir, "_MANIFEST"), "w") as fh:
            json.dump({"files": [os.path.basename(p) for p in files]}, fh)

    def abort(self, messages):
        import os

        for m in messages:
            for p in getattr(m, "paths", []) or []:
                try:
                    os.remove(p)
                except OSError:
                    pass


# ---------------------------------------------------------------------------
# Streaming source: spark.readStream.format("weather")
# ---------------------------------------------------------------------------


class WeatherStreamReader(DataSourceStreamReader):
    """File-monitor streaming source over the same codecs: each
    micro-batch reads the files that appeared since the last offset,
    one partition per file, as :class:`WeatherReader` reads a file. The
    offset is the sorted list of file names seen — replayable, so a
    restarted query re-plans exactly the delta of an uncommitted batch
    (files are immutable once written, the property every file-based
    exactly-once source relies on)."""

    def __init__(self, options, schema: StructType):
        self._path = options.get("path")
        if not self._path:
            raise ValueError('streaming format("weather") needs .load(path)')
        self._columns = [f.name for f in schema.fields]

    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        try:
            return {"files": expand(self._path)}
        except ValueError:  # nothing yet — an empty directory is a valid stream start
            return {"files": []}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        return [_FilePartition(p) for p in sorted(set(end["files"]) - set(start["files"]))]

    def read(self, partition: _FilePartition):
        return _file_batches(partition.path, detect(partition.path), self._columns)

    def commit(self, end: dict) -> None:
        pass
