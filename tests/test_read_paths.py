"""Every read path takes its rows from one builder (``cells.batches``):
the same grid written as GRIB2, NetCDF-3 and a Zarr store reads back
with the same cells through ``open_dataset``, ``ingest``,
``format("weather")`` (batch and stream), ``ee://`` and the GRIB
manifest scan, for the same range cases and in any session time zone."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from weather_tools_spark.sources import earthengine as EE
from weather_tools_spark.sources import grib_manifest as GM
from weather_tools_spark.sources import hypercube as H
from weather_tools_spark.sources import opener as OP
from weather_tools_spark.sources.cells import filter_cells
from weather_tools_spark.sources.datasource import register

# FakeEEClient's grid and its band "t2m": value = 10·t + y + 0.01·x
_EE = EE.FakeEEClient()
_INFO = _EE.get_asset_info("X")
LATS = 50.0 - 0.25 * np.arange(5)
LONS = 10.0 + 0.25 * np.arange(6)


def _values(nt: int) -> np.ndarray:
    t, y, x = np.meshgrid(np.arange(nt), np.arange(5), np.arange(6), indexing="ij")
    return 10.0 * t + y + 0.01 * x


def _sources(spark, tmp_path, times: pd.DatetimeIndex) -> dict[str, str]:
    """The grid at ``times`` (naive wall-clock) as GRIB2 files, one
    NetCDF-3 file and a Zarr store, variable ``d2m``."""
    from weather_tools_spark.sources import zarr_v2 as Z2
    from weather_tools_spark.sources.grib2 import write_grib2
    from weather_tools_spark.sources.netcdf3 import write_netcdf3
    from weather_tools_spark.sources.zarr_scan import ChunkedDatasetMeta

    cube = _values(len(times))
    for i, t in enumerate(times):
        write_grib2(str(tmp_path / f"g{i}.grib2"), [
            {"param": "d2m", "ref_time": t.isoformat(), "lats": LATS, "lons": LONS, "values": cube[i]}
        ])
    nc = str(tmp_path / "grid.nc")
    secs = (times - pd.Timestamp("1970-01-01")) // pd.Timedelta(seconds=1)
    write_netcdf3(nc, {"time": np.asarray(secs, "i4"), "latitude": LATS, "longitude": LONS},
                  {"d2m": cube})
    store = str(tmp_path / "grid.zarr")
    tt, la, lo = np.meshgrid(times, LATS, LONS, indexing="ij")
    rows = spark.createDataFrame(pd.DataFrame(
        {"time": tt.ravel(), "latitude": la.ravel(), "longitude": lo.ravel(), "d2m": cube.ravel()}
    ))
    Z2.write_zarr_v2(rows, store, ChunkedDatasetMeta(
        uri=store, times=[t.isoformat() for t in times], lats=LATS.tolist(), lons=LONS.tolist(),
        chunk_time=1, chunk_lat=2, chunk_lon=4, variables=("d2m",),
    ))
    return {"grib": str(tmp_path / "g*.grib2"), "nc": nc, "zarr": store}


def _cells(df, value: str = "d2m") -> set:
    rows = df.selectExpr("CAST(time AS STRING)", "latitude", "longitude", value).collect()
    return {(t, la, lo, round(v, 3)) for t, la, lo, v in rows}


def _expected(times: pd.DatetimeIndex, tr, lar, lor) -> set:
    cube, out = _values(len(times)), set()
    lo_t, hi_t = (None if b is None else pd.Timestamp(b) for b in (tr or (None, None)))
    for i, t in enumerate(times):
        for y, la in enumerate(LATS):
            for x, lo in enumerate(LONS):
                if ((lo_t is None or t >= lo_t) and (hi_t is None or t < hi_t)
                        and (lar is None or lar[0] <= la <= lar[1])
                        and (lor is None or lor[0] <= lo <= lor[1])):
                    out.add((str(t), la, lo, round(cube[i, y, x], 3)))
    return out


def _weather_filter(df, tr, lar, lor):
    if tr is not None and tr[0] is not None:
        df = df.filter(F.col("time") >= F.lit(tr[0]).cast("timestamp"))
    if tr is not None and tr[1] is not None:
        df = df.filter(F.col("time") < F.lit(tr[1]).cast("timestamp"))
    for col, closed in (("latitude", lar), ("longitude", lor)):
        if closed is not None:
            df = df.filter((F.col(col) >= closed[0]) & (F.col(col) <= closed[1]))
    return df


EE_TIMES = pd.to_datetime(_INFO["times"], unit="s")
T0, T1 = (str(t) for t in EE_TIMES)
CASES = [
    (None, None, None),
    ((T0, None), None, None),  # open end
    ((None, T1), (49.25, 49.75), None),  # open start
    ((T0, T1), (49.0, 50.0), (10.5, 11.0)),
    (("2023-11-14 22:00:00", "2023-11-14 23:59:00"), None, (10.25, 10.25)),
    ((T0, T1), (60.0, 70.0), None),  # empty selection
]


def test_range_cases_give_identical_cells_on_every_read_path(spark, tmp_path):
    register(spark)
    src = _sources(spark, tmp_path, EE_TIMES)
    manifest = GM.build_grib_manifest(spark, sorted(str(p) for p in tmp_path.glob("g*.grib2")))
    for tr, lar, lor in CASES:
        want = _expected(EE_TIMES, tr, lar, lor)
        area = None
        if lar is not None or lor is not None:
            (s, n), (w, e) = lar or (-90.0, 90.0), lor or (-1e9, 1e9)
            area = (n, w, s, e)
        opts = H.IngestOptions(start_time=(tr or (None,))[0], end_time=(tr or (None, None))[1],
                               area=area)
        got = {
            "open_grib": _cells(OP.open_dataset(spark, src["grib"], tr, lar, lor)),
            "open_nc": _cells(OP.open_dataset(spark, src["nc"], tr, lar, lor)),
            "open_zarr": _cells(OP.open_dataset(spark, src["zarr"], tr, lar, lor)),
            "ingest": _cells(H.ingest(spark, [src["nc"]], opts)),
            "weather": _cells(_weather_filter(spark.read.format("weather").load(src["grib"]),
                                              tr, lar, lor)),
            "ee": _cells(OP.open_dataset(spark, "ee://X", tr, lar, lor,
                                         client_factory=EE.FakeEEClient, variables=["t2m"]),
                         "value"),
            "manifest": _cells(filter_cells(
                GM.scan_grib_manifest(spark, manifest, params=["d2m"], time_range=tr),
                None, lar, lor,
            ), "value"),
        }
        for name, cells in got.items():
            assert cells == want, (name, tr, lar, lor, sorted(cells ^ want)[:4])


@pytest.mark.parametrize("zone", ["UTC", "America/New_York"])
def test_times_read_the_same_on_every_path_in_any_session_zone(spark, tmp_path, zone):
    """A naive 06:00 reads as 06:00 on every path in any session zone —
    ``mapInArrow`` and a Python data source carry instants, so the
    builder localizes each time axis with the session zone, including
    the DST-ambiguous wall time 2015-11-01 01:30 in New York."""
    register(spark)
    times = pd.DatetimeIndex(["2015-11-01 01:30", "2024-01-01 06:00"])
    src = _sources(spark, tmp_path, times)
    want = {"2015-11-01 01:30:00", "2024-01-01 06:00:00"}
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    for p in tmp_path.glob("g*.grib2"):
        (stream_dir / p.name).write_bytes(p.read_bytes())
    before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        frames = {
            "open_grib": OP.open_dataset(spark, src["grib"]),
            "open_nc": OP.open_dataset(spark, src["nc"]),
            "open_zarr": OP.open_dataset(spark, src["zarr"]),
            "ingest": H.ingest(spark, [src["nc"], *sorted(map(str, tmp_path.glob("g*.grib2")))]),
            "weather_grib": spark.read.format("weather").load(src["grib"]),
            "weather_nc": spark.read.format("weather").load(src["nc"]),
        }
        got = {
            name: {r[0] for r in df.selectExpr("CAST(time AS STRING)").distinct().collect()}
            for name, df in frames.items()
        }
        name = f"weather_stream_{zone.replace('/', '_')}"
        q = (
            spark.readStream.format("weather").load(str(stream_dir / "*.grib2"))
            .writeStream.format("memory").queryName(name)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got["weather_stream"] = {
            r[0] for r in spark.sql(f"SELECT DISTINCT CAST(time AS STRING) FROM {name}").collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)
    for path, times_read in got.items():
        assert times_read == want, (zone, path, times_read)


def test_xarray_frame_takes_the_same_time_rule():
    """The xarray branch, the one decoder that returns a long frame,
    reaches Spark through ``cells.frame_batch``: times localized by the
    builder's rule (an ambiguous wall time is standard time), NaN and
    absent columns null, the declared schema exactly."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from weather_tools_spark.sources.cells import frame_batch

    schema = to_arrow_schema(H.ROW_SCHEMA)
    pdf = pd.DataFrame({"time": pd.to_datetime(["2015-11-01 01:30"]), "latitude": [1.0],
                        "longitude": [2.0], "d2m": [np.nan]})
    b = frame_batch(pdf, schema, "America/New_York",
                    {"data_uri": "x.nc", "data_first_step": pdf["time"].min()})
    assert b.schema == schema
    assert b.column("time")[0].value == pd.Timestamp("2015-11-01 06:30Z").value // 1000
    assert b.column("data_first_step").equals(b.column("time"))
    assert b.column("d2m").null_count == b.column("u10").null_count == 1
