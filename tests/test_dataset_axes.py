"""opener.dataset_axes: the store axes of ``mv --zarr`` read from file
headers on the driver. On every format, range and projection they must
equal the distinct time, latitude and longitude values of the rows
``open_dataset`` yields with the same arguments, which is what the
Zarr sink derived before with one aggregate job over a held decode."""

from __future__ import annotations

import glob

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from weather_tools_spark.cli import main
from weather_tools_spark.sources import grib1 as G1
from weather_tools_spark.sources import grib2 as G2
from weather_tools_spark.sources import opener as OP
from weather_tools_spark.sources.zarr_scan import time_micros_sql

TIMES = ("2024-01-01T00:00", "2024-01-01T06:00", "2024-01-02T12:00")


def _row_axes(spark, uri, **ranges) -> tuple[list, list, list]:
    """The aggregate the Zarr sink ran over the decoded rows."""
    df = OP.open_dataset(spark, uri, **ranges)
    axes = (F.expr(time_micros_sql("time")), "latitude", "longitude")
    times, lats, lons = df.agg(*(F.array_sort(F.collect_set(c)) for c in axes)).first()
    return list(pd.to_datetime(times, unit="us")), lats, lons


def _header_axes(uri, **ranges) -> tuple[list, list, list]:
    times, lats, lons = OP.dataset_axes(uri, **ranges)
    return list(times), lats.tolist(), lons.tolist()


def _cases(uri) -> list[dict]:
    """No range; an area holding part of the grid, its bounds on grid
    values; a projection; both; an area holding no grid point; and a
    time range with an open end."""
    _, lats, lons = OP.dataset_axes(uri)
    area = {
        "lat_range": (lats[len(lats) // 4], lats[(3 * len(lats)) // 4]),
        "lon_range": (lons[len(lons) // 4], lons[(3 * len(lons)) // 4]),
    }
    return [
        {},
        area,
        {"variables": ["u10"]},
        {**area, "variables": ["u10"]},
        {"lat_range": (-89.0, -88.5), "lon_range": (-179.0, -178.5)},
        {"time_range": (TIMES[1], None)},
    ]


def _messages(grid_of) -> list[dict]:
    """d2m at the first two times, u10 at the last two, so projecting
    to u10 changes the time axis. ``grid_of(param)`` gives each
    message's grid keys."""
    return [
        {"param": p, "ref_time": t, **grid_of(p)}
        for p, times in (("d2m", TIMES[:2]), ("u10", TIMES[1:]))
        for t in times
    ]


def _values(shape, seed) -> np.ndarray:
    return np.random.RandomState(seed).randint(-9000, 9000, shape) / 1000.0


LATS, LONS = np.array([50.0, 49.5, 49.0, 48.5]), np.array([10.0, 10.5, 11.0, 11.5, 12.0])
GAUSS = G2.gaussian_latitudes(24)[5:12]
COUNTS = [20, 24, 28, 30, 28, 24, 20]


def _grib2_grids() -> dict[str, callable]:
    def regular(p):
        return {"lats": LATS, "lons": LONS, "values": _values((4, 5), 1)}

    def with_bitmap(p):
        vals = _values((4, 5), 2)
        vals[[0, 3], [4, 0]] = np.nan
        return {"lats": LATS, "lons": LONS, "values": vals}

    def two_grids(p):  # each parameter on its own grid, in one file
        if p == "d2m":
            return regular(p)
        return {"lats": LATS[:2] + 0.25, "lons": LONS[1:], "values": _values((2, 4), 3)}

    def projected(grid, shape):
        return lambda p: {"grid": grid, "values": _values(shape, 4)}

    return {
        "latlon": regular,
        "bitmap": with_bitmap,
        "two_grids": two_grids,
        "mercator": projected({"type": "mercator", "lat1": -10.0, "lon1": 100.0, "lad": 20.0,
                               "dx_m": 50_000.0, "dy_m": 60_000.0}, (4, 5)),
        "polar": projected({"type": "polar", "lat1": 60.0, "lon1": -105.0, "dx_m": 25000.0,
                            "dy_m": 25000.0, "lad": 60.0, "lov": -80.0}, (5, 7)),
        "lambert": projected({"lat1": 21.138, "lon1": -122.72, "dx_m": 3000.0, "dy_m": 3000.0,
                              "lad": 38.5, "lov": -97.5, "lat_1": 38.5, "lat_2": 38.5}, (6, 8)),
        "gaussian": projected({"type": "gaussian", "n": 24, "lat1": float(GAUSS[0]), "lon1": 0.0,
                               "lat2": float(GAUSS[-1]), "lon2": 345.0, "di": 15.0}, (7, 24)),
        "reduced_gaussian": projected(
            {"type": "gaussian_reduced", "n": 24, "lat1": float(GAUSS[0]),
             "lat2": float(GAUSS[-1]), "counts": COUNTS},
            sum(COUNTS),
        ),
    }


@pytest.mark.parametrize("name", sorted(_grib2_grids()))
def test_grib2_header_axes_equal_the_rows_axes(spark, tmp_path, name):
    path = str(tmp_path / f"{name}.grib2")
    G2.write_grib2(path, _messages(_grib2_grids()[name]))
    for ranges in _cases(path):
        assert _header_axes(path, **ranges) == _row_axes(spark, path, **ranges), ranges


def _write_grids(tmp_path, kind: str) -> str:
    """Two files of one format over the same grid, the second a day
    later; returns their glob."""
    from weather_tools_spark.sources.hdf5 import write_netcdf4
    from weather_tools_spark.sources.netcdf3 import write_netcdf3

    for day in (0, 1):
        if kind == "grib1":
            msgs = _messages(lambda p: {"lats": LATS, "lons": LONS, "values": _values((4, 5), 5)})
            for m in msgs:
                m["ref_time"] = pd.Timestamp(m["ref_time"]) + pd.Timedelta(days=day)
            G1.write_grib1(str(tmp_path / f"in-{day}.grib"), msgs)
            continue
        times = pd.to_datetime(TIMES) + pd.Timedelta(days=day)
        secs = times.asi8 // 1_000_000_000
        cubes = {v: _values((3, 4, 5), k) for k, v in enumerate(("d2m", "u10"))}
        if kind == "netcdf3":
            coords = {"time": secs.astype(">i4"), "latitude": LATS, "longitude": LONS}
            write_netcdf3(str(tmp_path / f"in-{day}.nc"), coords, cubes)
        else:
            coords = {"time": secs, "latitude": LATS, "longitude": LONS}
            write_netcdf4(str(tmp_path / f"in-{day}.nc4"), coords, cubes)
    return str(tmp_path / "in-*")


@pytest.mark.parametrize("kind", ["grib1", "netcdf3", "netcdf4"])
def test_file_header_axes_equal_the_rows_axes(spark, tmp_path, kind):
    uri = _write_grids(tmp_path, kind)
    assert {OP.detect(p) for p in glob.glob(uri)} == {kind}
    for ranges in _cases(uri):
        assert _header_axes(uri, **ranges) == _row_axes(spark, uri, **ranges), ranges


def test_zarr_store_axes_equal_the_rows_axes(spark, tmp_path):
    grib = str(tmp_path / "in.grib2")
    G2.write_grib2(grib, _messages(_grib2_grids()["latlon"]))
    store = str(tmp_path / "in.zarr")
    assert main(["mv", "--uris", grib, "--output", store, "--zarr", "--chunks", "2,3,2"]) == 0
    for ranges in _cases(store):
        assert _header_axes(store, **ranges) == _row_axes(spark, store, **ranges), ranges
    with pytest.raises(ValueError, match="unknown variables"):
        OP.dataset_axes(store, variables=["t2m"])


def _garble_data_sections(path: str) -> None:
    """Overwrite the payload of every GRIB2 section 7 and GRIB1 BDS
    with random bytes, keeping every length field."""
    buf = bytearray(open(path, "rb").read())
    rng = np.random.RandomState(0)
    p = 0
    while p < len(buf):
        if buf[p + 7] == 2:
            total = int.from_bytes(buf[p + 8 : p + 16], "big")
            q = p + 16
            while q < p + total - 4:
                slen = int.from_bytes(buf[q : q + 4], "big")
                if buf[q + 4] == 7:
                    buf[q + 5 : q + slen] = rng.bytes(slen - 5)
                q += slen
        else:
            total = int.from_bytes(buf[p + 4 : p + 7], "big")
            q = p + 8
            flags = buf[q + 7]
            for present in (True, bool(flags & 0x80), bool(flags & 0x40)):  # PDS, GDS, BMS
                if present:
                    q += int.from_bytes(buf[q : q + 3], "big")
            bds_end = p + total - 4
            buf[q + 11 : bds_end] = rng.bytes(bds_end - q - 11)  # packed values
        p += total
    open(path, "wb").write(bytes(buf))


@pytest.mark.parametrize("name", ["latlon", "bitmap", "lambert", "reduced_gaussian", "grib1"])
def test_grib_axes_never_read_a_data_section(tmp_path, name):
    """The axes come from sections 1, 3 and 4 (GRIB1: PDS and GDS):
    garbage in every data section leaves them unchanged."""
    if name == "grib1":
        path = _write_grids(tmp_path, "grib1").replace("*", "0.grib")
    else:
        path = str(tmp_path / f"{name}.grib2")
        G2.write_grib2(path, _messages(_grib2_grids()[name]), packing="complex_diff1")
    decode = G1.read_grib1 if name == "grib1" else G2.read_grib2
    values = [m["values"] for m in decode(path)]
    want = [_header_axes(path, **ranges) for ranges in _cases(path)]
    _garble_data_sections(path)
    assert [_header_axes(path, **ranges) for ranges in _cases(path)] == want
    try:
        garbled = [m["values"] for m in decode(path)]
    except Exception:  # noqa: BLE001 — garbage need not decode at all
        garbled = None
    assert garbled is None or any(
        not np.array_equal(a, b, equal_nan=True) for a, b in zip(values, garbled)
    )


def test_walk_messages_reads_only_the_sections_asked_for(tmp_path):
    path = str(tmp_path / "in.grib2")
    G2.write_grib2(path, _messages(_grib2_grids()["bitmap"]))
    msgs = list(G2.walk_messages(path, (1, 3)))
    assert [set(m.sections) for m in msgs] == [{1, 3}] * 4
    assert [m.edition for m in msgs] == [2] * 4
    assert sum(m.length for m in msgs) == len(open(path, "rb").read())
    assert G2.list_params(path) == ["d2m", "d2m", "u10", "u10"]


def test_axes_fail_clearly_without_a_time_axis_or_headers(tmp_path):
    from weather_tools_spark.sources.geotiff import write_geotiff

    tif = str(tmp_path / "dem.tif")
    write_geotiff(tif, _values((4, 5), 6), origin=(10.0, 50.0), pixel=(0.5, -0.5))
    with pytest.raises(ValueError, match="no time axis"):
        OP.dataset_axes(tif)
    with pytest.raises(ValueError, match="ee:// assets have no file headers"):
        OP.dataset_axes("ee://ECMWF/ERA5/HOURLY")
    with pytest.raises(ValueError, match="plain timestamps"):
        OP.dataset_axes(_write_grids(tmp_path, "netcdf3"), time_range=("2024-01-01T00:00Z", None))


def test_mv_zarr_rejects_ee_before_a_session(tmp_path, capsys, monkeypatch):
    from weather_tools_spark import cli

    monkeypatch.setattr(cli, "_spark", lambda app: pytest.fail("Spark started"))
    out = tmp_path / "out.zarr"
    assert main(["mv", "--uris", "ee://ECMWF/ERA5/HOURLY", "--output", str(out), "--zarr"]) == 2
    assert "ee:// assets have no file headers" in capsys.readouterr().err
    assert not out.exists()
