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
  files are the unit of parallelism, exactly like the mapInPandas plan
  the opener builds, but visible to Spark's scheduler as a real scan;
- **filter pushdown** (``pushFilters``): comparison predicates on
  ``latitude`` / ``longitude`` / ``time`` are absorbed by the source and
  applied inside the decode task before rows reach Spark (and the
  remaining filters are returned so Catalyst re-applies only those);
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
- **Arrow hand-off**: ``read`` yields ``pyarrow.RecordBatch`` — the
  columnar boundary, no per-row Python objects.

The reference's analog is the xarray engine dispatch in
``xql/src/xql/open.py:68-98`` + the Beam file ingest
(``weather_mv/loader_pipeline/sinks.py``); here it is the idiomatic
Spark-4 surface over the same byte-level codecs.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    SimpleDataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from .opener import _decoder_for, detect, expand, long_schema

_PUSHABLE_COLS = ("latitude", "longitude", "time")
_COORD_COLS = ("time", "latitude", "longitude")


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class WeatherReader(DataSourceReader):
    def __init__(self, paths: list[str], kind: str, columns: list[str]):
        self._paths = paths
        self._kind = kind
        self._columns = columns
        self._ranges: list[tuple[str, str, float]] = []  # (col, op, value)

    # -- filter pushdown ---------------------------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            col = f.attribute[0] if hasattr(f, "attribute") else None
            if (
                isinstance(f, (GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, EqualTo))
                and col in _PUSHABLE_COLS
                and col in self._columns
            ):
                op = {
                    GreaterThan: ">",
                    GreaterThanOrEqual: ">=",
                    LessThan: "<",
                    LessThanOrEqual: "<=",
                    EqualTo: "==",
                }[type(f)]
                self._ranges.append((col, op, f.value))
            else:
                yield f  # not ours — Catalyst keeps it

    # -- planning ----------------------------------------------------------
    def partitions(self) -> list[InputPartition]:
        return [_FilePartition(p) for p in self._paths]

    # -- execution ---------------------------------------------------------
    def read(self, partition: _FilePartition):
        import pandas as pd
        import pyarrow as pa

        # projection pushdown: decode exactly the data variables in this
        # reader's schema — a schema narrowed by .option("columns", ...)
        # means the pruned variables never decode in-task
        variables = [c for c in self._columns if c not in _COORD_COLS]
        decode_one, _ = _decoder_for(self._kind, partition.path, variables, strict=False)
        pdf = decode_one(partition.path).reindex(columns=self._columns)
        for col, op, val in self._ranges:
            if col == "time":
                val = pd.Timestamp(val)
            series = pdf[col]
            mask = {
                ">": series > val,
                ">=": series >= val,
                "<": series < val,
                "<=": series <= val,
                "==": series == val,
            }[op]
            pdf = pdf[mask]
        # Arrow hand-off with the exact declared schema (µs timestamps,
        # float64 data columns)
        fields = []
        for c in self._columns:
            if c == "time":
                fields.append(pa.field(c, pa.timestamp("us")))
                pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")
            else:
                fields.append(pa.field(c, pa.float64()))
                pdf[c] = pdf[c].astype("float64")
        table = pa.Table.from_pandas(pdf, schema=pa.schema(fields), preserve_index=False)
        yield from table.to_batches()


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

    def simpleStreamReader(self, schema: StructType) -> "WeatherStreamReader":
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


class WeatherStreamReader(SimpleDataSourceStreamReader):
    """File-monitor streaming source over the same codecs: each
    micro-batch decodes the files that appeared since the last offset.
    The offset is the sorted list of consumed file names — replayable,
    so ``readBetweenOffsets`` re-decodes exactly the delta on recovery
    (files are immutable once written, the property every file-based
    exactly-once source relies on)."""

    def __init__(self, options, schema: StructType):
        self._path = options.get("path")
        if not self._path:
            raise ValueError('streaming format("weather") needs .load(path)')
        self._columns = [f.name for f in schema.fields]

    def _current(self) -> list[str]:
        try:
            return expand(self._path)
        except ValueError:  # nothing yet — an empty directory is a valid stream start
            return []

    def initialOffset(self) -> dict:
        return {"files": []}

    def _decode_files(self, files: list[str]) -> list[tuple]:
        # a concrete list, not a generator: Spark's prefetching offset
        # cache copies (and may pickle) the returned iterator
        variables = [c for c in self._columns if c not in _COORD_COLS]
        rows: list[tuple] = []
        for p in files:
            decode_one, _ = _decoder_for(detect(p), p, variables, strict=False)
            pdf = decode_one(p).reindex(columns=self._columns)
            if "time" in pdf.columns:
                # Spark's tuple converter localizes timestamps — hand it
                # tz-aware UTC datetimes (session tz is UTC)
                import pandas as pd

                pdf["time"] = pd.to_datetime(pdf["time"]).dt.tz_localize("UTC")
            rows.extend(tuple(r) for r in pdf.itertuples(index=False))
        return rows

    def read(self, start: dict):
        seen = set(start.get("files", []))
        new = sorted(set(self._current()) - seen)
        end = {"files": sorted(seen | set(new))}
        return self._decode_files(new), end

    def readBetweenOffsets(self, start: dict, end: dict):
        delta = sorted(set(end.get("files", [])) - set(start.get("files", [])))
        return self._decode_files(delta)
