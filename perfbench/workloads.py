"""The benchmark's two closed-loop workloads.

A workload prepares its seeded inputs (with ``warm=True``, smaller and
different ones for the untimed warm-up pass) and yields ops in passes:
every pass holds each of its ops once, in an order drawn from the seed.
``run`` times one op as *build* (the lazy DataFrame is constructed;
eager build-time jobs run here) and *deliver* (the action that produces
the op's output: a result collect for queries, the CLI sink call for
ingest). ``check`` compares the op's output
with the expected one afterwards, outside the timing.
"""

from __future__ import annotations

import glob
import itertools
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from . import fixtures
from .spans import catalyst_phases, decode_units

XQL = "SELECT time_date, AVG('d2m') FROM {view} GROUP BY time_date"


@dataclass
class Op:
    name: str  # weather format or sink
    scan: str | None  # "full", "pruned", or None: one op of each per pass
    arg: object = None  # ingest day


@dataclass
class Result:
    op: Op
    wall: float = 0.0
    deliver: float = 0.0
    cells: float = 0.0
    bytes_out: float = 0.0
    output: object = None
    error: str | None = None
    layers: dict = field(default_factory=dict)


class Workload:
    """Shared pass scheduling and op timing. A run executes one pass
    per ``pass_seconds`` it is given, at least one. ``warm=True`` builds
    the warm-up variant: the same ops on smaller, different inputs."""

    name = ""

    def __init__(self, work: str, seed: int, warm: bool = False) -> None:
        self.work, self.seed = work, seed

    def pass_ops(self) -> list[Op]:
        """One pass: every op of ``self.ops``, those whose scan is
        ``None`` both full and pruned."""
        return [Op(op.name, scan, op.arg) for op in self.ops
                for scan in ((op.scan,) if op.scan else ("full", "pruned"))]

    def passes(self):
        """Ops forever in passes, each pass in a seeded order that
        alternates full and pruned ops: every run measures the same ops."""
        rng = random.Random(self.seed)
        for _ in itertools.count():
            batch = self.pass_ops()
            full = [op for op in batch if op.scan == "full"]
            pruned = [op for op in batch if op.scan == "pruned"]
            rng.shuffle(full)
            rng.shuffle(pruned)
            for i in range(max(len(full), len(pruned))):
                yield from full[i:i + 1] + pruned[i:i + 1]

    def deliver(self, spark, op, df, tracer):
        """A query op's output: its result, collected as Arrow."""
        with tracer.span("exec"):
            return df.toArrow()

    def close(self) -> None:
        pass

    def run(self, spark, op: Op, tracer) -> Result:
        res = Result(op)
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                df = self.build(spark, op, tracer)
                res.layers["build_end_ms"] = time.time() * 1000
                if self.plans_queries and tracer.op is not None:
                    with tracer.span("catalyst"):
                        df._jdf.queryExecution().executedPlan()
                t1 = time.perf_counter()
                res.output = self.deliver(spark, op, df, tracer)
                res.deliver = time.perf_counter() - t1
        except Exception as e:  # counted as a failed op
            res.error = f"{type(e).__name__}: {e}"[:500]
        res.wall = time.perf_counter() - t0
        if res.error is None and tracer.op is not None and self.plans_queries:
            res.layers.update(catalyst_phases(df))
            res.layers["decode_units"] = decode_units(df)
        return res


class WeatherQuery(Workload):
    """xql daily average over one store per format, full and pruned to
    the city bbox at open."""

    name = "weather_query"
    plans_queries = True
    # 14 short ops (about 1 s each, ±20 %): two passes per run
    pass_seconds = 12.5

    def __init__(self, work: str, seed: int, warm: bool = False) -> None:
        super().__init__(work, seed)
        coarsen = fixtures.WARM_COARSEN if warm else 1
        self.stores = fixtures.weather_stores(os.path.join(work, "stores"), seed, coarsen)
        self.ops = [Op(f, None) for f in sorted(self.stores)]

    def build(self, spark, op, tracer):
        from weather_tools_spark.plans import xql
        from weather_tools_spark.sources.opener import open_dataset

        view = f"wx_{op.name}"
        ranges = {}
        if op.scan == "pruned":
            ranges = {"lat_range": fixtures.CITY_LAT, "lon_range": fixtures.CITY_LON}
        open_dataset(spark, self.stores[op.name]["uri"], view=view, **ranges)
        with tracer.span("plans.xql"):
            return xql.run_query(spark, XQL.format(view=view))

    def finish(self, res: Result) -> None:
        res.bytes_out = res.output.nbytes
        s = self.stores[res.op.name]
        res.cells = s["cells"] * (s["kept_frac"] if res.op.scan == "pruned" else 1.0)

    def check(self, res: Result) -> None:
        s = self.stores[res.op.name]
        want = s[res.op.scan]
        got = {r["time_date"]: r["avg_d2m"] for r in res.output.to_pylist()}
        assert set(got) == set(want), f"days {sorted(got)} != {sorted(want)}"
        for day, v in want.items():
            assert abs(got[day] - v) <= s["tol"], f"{res.op.name} {day}: {got[day]} != {v}"


class WeatherIngest(Workload):
    """One seeded day of GRIB2 files through one CLI sink per op, over
    the whole grid or restricted to an area (weather-mv --area)."""

    name = "weather_ingest"
    plans_queries = False
    # 4 sink jobs of 0.6-5 s: three passes per run
    pass_seconds = 8.0

    def __init__(self, work: str, seed: int, warm: bool = False) -> None:
        super().__init__(work, seed)
        coarsen = fixtures.WARM_COARSEN if warm else 1
        self.days = fixtures.ingest_days(os.path.join(work, "days"), seed, coarsen)
        self.out = os.path.join(work, "out")
        # the file-native splitter has no area restriction; of the rest,
        # the two cheap sinks take the area, the Zarr shuffle the grid
        self.ops = [Op("parquet", "pruned"), Op("zarr", "full"), Op("nc3", "pruned"),
                    Op("split", "full")]
        self._ids = itertools.count()  # one output directory per op

    def passes(self):
        for k, op in enumerate(super().passes()):
            yield Op(op.name, op.scan, (self.seed + k) % len(self.days))

    def build(self, spark, op, tracer):
        return None  # the CLI opens its input itself

    def deliver(self, spark, op, df, tracer):
        """The sink job as a user runs it: ``cli.main`` with weather-mv
        or weather-sp arguments."""
        from weather_tools_spark import cli

        out = os.path.join(self.out, f"op{next(self._ids)}")
        uri = self.days[op.arg]["uri"]
        if op.name == "split":
            argv = ["sp", "--input-pattern", uri, "--output-dir", out]
        else:
            argv = ["mv", "--uris", uri, "--output", out] + _MV_FLAGS[op.name]
            if op.scan == "pruned":
                (s, n), (w, e) = fixtures.AREA_LAT, fixtures.AREA_LON
                argv += ["--area", str(n), str(w), str(s), str(e)]
        with tracer.span(f"pipeline.sink.{op.name}"):
            code = cli.main(argv)
        if code != 0:
            raise RuntimeError(f"cli {' '.join(argv)} exited {code}")
        return out

    def finish(self, res: Result) -> None:
        day = self.days[res.op.arg]
        rows = day["area_rows" if res.op.scan == "pruned" else "rows"]
        res.cells = rows * len(fixtures.INGEST_VARS)
        files = [p for p in glob.glob(os.path.join(res.output, "**"), recursive=True)
                 if os.path.isfile(p)]
        res.bytes_out = sum(os.path.getsize(p) for p in files)
        res.layers["files_written"] = len(files)

    def check(self, res: Result) -> None:
        day = self.days[res.op.arg]
        pruned = res.op.scan == "pruned"
        want_rows = day["area_rows" if pruned else "rows"]
        want_sum = day["area_sum" if pruned else "sum"]
        rows, sums = _READBACK[res.op.name](res.output)
        assert rows == want_rows, f"{res.op.name}: {rows} rows != {want_rows}"
        for v, s in want_sum.items():
            assert abs(sums[v] - s) <= 1e-6 * want_rows, f"{res.op.name} {v}: {sums[v]} != {s}"

    def close(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)


# weather-mv sink flags; the Zarr sink keeps the CLI's default chunks
_MV_FLAGS = {"parquet": [], "zarr": ["--zarr"], "nc3": ["--netcdf"]}


def _sum_cells(arrays: dict) -> tuple[int, dict]:
    rows = int(np.isfinite(next(iter(arrays.values()))).sum())
    return rows, {v: float(np.nansum(a)) for v, a in arrays.items()}


def _read_parquet(out):
    import pyarrow.parquet as pq

    tbl = pq.read_table(out)
    return tbl.num_rows, {v: float(np.nansum(tbl[v].to_numpy())) for v in fixtures.INGEST_VARS}


def _read_zarr(out):
    from weather_tools_spark.sources.zarr_v2 import decode_chunk, open_zarr_v2, read_store_metadata

    meta, md = open_zarr_v2(out), read_store_metadata(out)
    shape = (len(meta.times), len(meta.lats), len(meta.lons))
    arrays = {}
    for v in meta.variables:
        za = md[f"{v}/.zarray"]
        c = za["chunks"]
        full = np.full([-(-s // k) * k for s, k in zip(shape, c)], np.nan)
        for key in glob.glob(os.path.join(out, v, "*.*.*")):
            i, j, k = (int(x) for x in os.path.basename(key).split("."))
            full[i * c[0]:(i + 1) * c[0], j * c[1]:(j + 1) * c[1], k * c[2]:(k + 1) * c[2]] = (
                decode_chunk(out, v, za, (i, j, k)))
        arrays[v] = full[:shape[0], :shape[1], :shape[2]]
    return _sum_cells(arrays)


def _read_nc3(out):
    from weather_tools_spark.sources.netcdf3 import read_netcdf3

    parts = [read_netcdf3(p)[1] for p in sorted(glob.glob(os.path.join(out, "*.nc")))]
    arrays = {v: np.concatenate([p[v].ravel() for p in parts]) for v in fixtures.INGEST_VARS}
    return _sum_cells(arrays)


def _read_split(out):
    from weather_tools_spark.sources.grib2 import grib2_decode

    arrays: dict = {}
    for p in sorted(glob.glob(os.path.join(out, "*.grib2"))):
        pdf = grib2_decode(p)
        for v in fixtures.INGEST_VARS:
            if v in pdf:
                arrays.setdefault(v, []).append(pdf[v].to_numpy())
    return _sum_cells({v: np.concatenate(a) for v, a in arrays.items()})


_READBACK = {"parquet": _read_parquet, "zarr": _read_zarr, "nc3": _read_nc3, "split": _read_split}


WORKLOADS = {w.name: w for w in (WeatherQuery, WeatherIngest)}
