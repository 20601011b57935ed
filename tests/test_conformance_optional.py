"""Optional-library conformance channel for the stdlib codecs.

When the real geospatial decode stack (xarray / netCDF4 / cfgrib /
rasterio / zarr) IS installed, these tests decode the repo's own
fixture files with the real library and assert CELL-LEVEL equality
with the stdlib decoders (sources/netcdf3.py, hdf5.py, grib2.py,
geotiff.py, zarr_v2.py). In this container every library-backed test
skips (none of the libraries ship here — re-checked each round); on an
xarray-equipped cluster the same suite pins conformance instead of
trusting the stdlib implementations by construction alone.

This extends the numcodecs-bitshuffle optional gate (test_zarr_v2) to
the whole codec surface, and is the conformance half of the
``_xarray_decode`` branch (sources/hypercube.py) — the reference's
xarray engine dispatch (weather_mv/loader_pipeline/sinks.py:437-519).

The last test runs in EVERY environment: it pins that the xarray
branch either works (libraries present) or gates with the canonical
NotImplementedError (libraries absent) — never a silent wrong answer.
"""

from __future__ import annotations

import importlib.util

import numpy as np
import pandas as pd
import pytest


def _has(mod: str) -> bool:
    return importlib.util.find_spec(mod) is not None


def _nc3_fixture(path: str):
    """A classic-NetCDF fixture with CF time units and two variables."""
    from weather_tools_spark.sources.netcdf3 import write_netcdf3

    coords = {
        "time": np.array([0, 3600, 7200], dtype="i4"),
        "latitude": np.array([50.0, 49.5, 49.0]),
        "longitude": np.array([2.0, 2.5]),
    }
    variables = {
        "t2m": (np.arange(18, dtype="f8") / 4 + 280.0).reshape(3, 3, 2),
        "sp": (np.arange(18, dtype="f8") * 7 + 100000.0).reshape(3, 3, 2),
    }
    write_netcdf3(path, coords=coords, variables=variables)
    return coords, variables


def _assert_long_format_equal(a: pd.DataFrame, b: pd.DataFrame, value_cols):
    """Cell-level equality keyed on coordinates (row order independent)."""
    keys = [c for c in ("time", "latitude", "longitude") if c in a.columns]
    a = a.sort_values(keys).reset_index(drop=True)
    b = b.sort_values(keys).reset_index(drop=True)
    assert len(a) == len(b)
    for k in keys:
        if k == "time":
            assert (
                pd.to_datetime(a[k]).to_numpy() == pd.to_datetime(b[k]).to_numpy()
            ).all()
        else:
            np.testing.assert_allclose(
                a[k].to_numpy(dtype="f8"), b[k].to_numpy(dtype="f8")
            )
    for v in value_cols:
        np.testing.assert_allclose(
            a[v].to_numpy(dtype="f8"), b[v].to_numpy(dtype="f8"), rtol=1e-12
        )


@pytest.mark.skipif(not _has("netCDF4"), reason="netCDF4 library not installed")
def test_netcdf3_codec_vs_netcdf4_library(tmp_path):
    """sources/netcdf3.py vs the real netCDF4-python decode of the same
    classic file: coordinate axes and every variable grid byte-exact."""
    import netCDF4 as nc  # type: ignore

    p = str(tmp_path / "conf.nc")
    coords, variables = _nc3_fixture(p)
    ds = nc.Dataset(p)
    try:
        for name, axis in coords.items():
            np.testing.assert_array_equal(np.asarray(ds.variables[name][:]), axis)
        for name, grid in variables.items():
            np.testing.assert_allclose(
                np.asarray(ds.variables[name][:], dtype="f8"), grid, rtol=0
            )
    finally:
        ds.close()


@pytest.mark.skipif(not _has("xarray"), reason="xarray not installed")
def test_netcdf3_codec_vs_xarray(tmp_path):
    """nc3_decode's long-format frame vs xarray's decode of the same
    file (CF time decode included)."""
    import xarray as xr  # type: ignore

    from weather_tools_spark.sources.netcdf3 import nc3_decode

    p = str(tmp_path / "conf.nc")
    _nc3_fixture(p)
    ours = nc3_decode(p, None)
    theirs = xr.open_dataset(p).to_dataframe().reset_index()
    _assert_long_format_equal(ours, theirs, ["t2m", "sp"])


@pytest.mark.skipif(not _has("h5py"), reason="h5py not installed")
def test_netcdf4_codec_vs_h5py(tmp_path):
    """sources/hdf5.py (read_hdf5) vs the real h5py decode of the same
    chunked+shuffled+deflated NetCDF-4 file."""
    import h5py  # type: ignore

    from weather_tools_spark.sources.hdf5 import read_hdf5, write_netcdf4

    p = str(tmp_path / "conf.h5")
    coords = {
        "time": np.array([0, 3600], dtype="i8"),
        "latitude": np.array([10.0, 20.0, 30.0]),
        "longitude": np.array([100.0, 110.0]),
    }
    variables = {"q": np.arange(12, dtype="f8").reshape(2, 3, 2) * 1.5}
    write_netcdf4(p, coords=coords, variables=variables)
    datasets, _ = read_hdf5(p)
    with h5py.File(p, "r") as f:
        for name in list(coords) + list(variables):
            np.testing.assert_array_equal(np.asarray(f[name][...]), datasets[name])


@pytest.mark.skipif(
    not (_has("xarray") and _has("cfgrib")), reason="cfgrib not installed"
)
def test_grib2_codec_vs_cfgrib(tmp_path):
    """sources/grib2.py roundtrip vs cfgrib's decode of the same GRIB2
    file: values equal within simple-packing precision."""
    import xarray as xr  # type: ignore

    from weather_tools_spark.sources.grib2 import grib2_decode, write_grib2

    lats = np.array([50.0, 49.0, 48.0])
    lons = np.array([10.0, 11.0])
    vals = np.arange(6, dtype="f8").reshape(3, 2) / 3 + 250.0
    p = str(tmp_path / "conf.grib2")
    write_grib2(
        p,
        [{"param": "d2m", "ref_time": "2024-01-01T00:00", "lats": lats,
          "lons": lons, "values": vals}],
    )
    ours = grib2_decode(p, None)
    ds = xr.open_dataset(p, engine="cfgrib")
    theirs = ds.to_dataframe().reset_index()
    # cfgrib names 2m dewpoint 'd2m' via its cfVarName mapping
    got = theirs.sort_values(["latitude", "longitude"])["d2m"].to_numpy(dtype="f8")
    want = ours.sort_values(["latitude", "longitude"])["d2m"].to_numpy(dtype="f8")
    np.testing.assert_allclose(got, want, atol=1e-6)


@pytest.mark.skipif(not _has("rasterio"), reason="rasterio not installed")
def test_geotiff_codec_vs_rasterio(tmp_path):
    """sources/geotiff.py vs rasterio: pixel grid and geotransform."""
    import rasterio  # type: ignore

    from weather_tools_spark.sources.geotiff import read_geotiff, write_geotiff

    arr = np.arange(12, dtype="f8").reshape(3, 4) * 2.5
    p = str(tmp_path / "conf.tif")
    write_geotiff(p, arr, origin=(10.0, 50.0), pixel=(0.25, 0.25))
    ours, origin, pixel = read_geotiff(p)
    with rasterio.open(p) as src:
        theirs = src.read(1)
        t = src.transform
    np.testing.assert_allclose(np.asarray(theirs, dtype="f8"), ours, rtol=0)
    np.testing.assert_allclose((t.c, t.f), origin)
    np.testing.assert_allclose((t.a, -t.e), pixel)


@pytest.mark.skipif(not _has("zarr"), reason="zarr not installed")
def test_zarr_codec_vs_zarr_library(tmp_path, spark):
    """The distributed Zarr v2 sink + stdlib chunk decode vs the real
    zarr library opening the same store."""
    import zarr  # type: ignore

    from weather_tools_spark.sources.zarr_scan import ChunkedDatasetMeta
    from weather_tools_spark.sources.zarr_v2 import write_zarr_v2

    store = str(tmp_path / "conf.zarr")
    times = [f"2024-01-01T{h:02d}:00" for h in range(4)]
    lats, lons = [50.0, 49.5], [2.0, 2.5, 3.0]
    meta = ChunkedDatasetMeta(
        uri=store, times=times, lats=lats, lons=lons,
        chunk_time=2, chunk_lat=2, chunk_lon=2, variables=("d2m",),
    )
    rows = []
    for ti, t in enumerate(pd.to_datetime(times)):
        for la in lats:
            for lo in lons:
                rows.append((t.to_pydatetime(), la, lo, float(ti * 100 + la + lo)))
    df = spark.createDataFrame(
        rows, "time timestamp, latitude double, longitude double, d2m double"
    )
    write_zarr_v2(df, store, meta)
    g = zarr.open_group(store, mode="r")
    got = np.asarray(g["d2m"][...], dtype="f8")
    want = np.array(
        [[[ti * 100 + la + lo for lo in lons] for la in lats] for ti in range(4)]
    )
    np.testing.assert_allclose(got, want)


@pytest.mark.skipif(not _has("xarray"), reason="xarray not installed")
def test_decoders_xarray_branch_matches_stdlib(tmp_path):
    """``_xarray_decode`` (the library-backed hypercube branch) agrees
    with the stdlib netcdf3 branch on the same file — the conformance
    gate for decode_auto's probed default on xarray-equipped clusters."""
    from weather_tools_spark.sources.hypercube import IngestOptions, _xarray_decode
    from weather_tools_spark.sources.netcdf3 import nc3_decode

    p = str(tmp_path / "conf.nc")
    _nc3_fixture(p)
    ours = nc3_decode(p, None)
    theirs = _xarray_decode(p, IngestOptions())
    _assert_long_format_equal(ours, theirs, ["t2m", "sp"])
    # projection pushdown parity: the variables option narrows both
    narrowed = _xarray_decode(p, IngestOptions(variables=["t2m"]))
    assert "sp" not in narrowed.columns
    _assert_long_format_equal(
        nc3_decode(p, IngestOptions(variables=["t2m"])), narrowed, ["t2m"]
    )


def test_xarray_branch_gates_cleanly_or_works(tmp_path):
    """Runs in EVERY environment: with xarray absent the branch raises
    the canonical NotImplementedError (never a silent wrong answer);
    with xarray present it decodes (covered in depth above)."""
    from weather_tools_spark.sources.hypercube import IngestOptions, _xarray_decode

    p = str(tmp_path / "conf.nc")
    _nc3_fixture(p)
    if _has("xarray"):
        out = _xarray_decode(p, IngestOptions())
        assert {"time", "latitude", "longitude", "t2m", "sp"} <= set(out.columns)
    else:
        with pytest.raises(NotImplementedError, match="xarray not installed"):
            _xarray_decode(p, IngestOptions())
