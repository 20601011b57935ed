"""Golden tests for the stdlib classic-NetCDF codec
(sources/netcdf3.py): self-written CDF-1/CDF-2 bytes parse back
byte-identically, the header follows the public NetCDF-3 layout, and
the hypercube ingest auto-detects the format by magic bytes.
Reference semantics: xarray engine dispatch in weather_mv
loader_pipeline/sinks.py:437-519."""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pytest

from weather_tools_spark.sources import hypercube as H
from weather_tools_spark.sources import netcdf3 as N3


def _grid():
    times = np.array(
        [np.datetime64(f"2024-02-01T{h:02d}:00:00", "s") for h in range(3)]
    ).astype("int64").astype(">i4")
    lats = np.array([48.0, 47.75], dtype="f8")
    lons = np.array([11.0, 11.25, 11.5], dtype="f8")
    shape = (3, 2, 3)
    d2m = (np.arange(np.prod(shape), dtype="f8") + 0.5).reshape(shape)
    u10 = (np.arange(np.prod(shape), dtype="f8") * 2 - 7.25).reshape(shape)
    return times, lats, lons, d2m, u10


@pytest.mark.parametrize("version", [1, 2])
def test_roundtrip_byte_identical(tmp_path, version):
    times, lats, lons, d2m, u10 = _grid()
    path = str(tmp_path / "grid.nc")
    N3.write_netcdf3(
        path,
        {"time": times, "latitude": lats, "longitude": lons},
        {"d2m": d2m, "u10": u10},
        version=version,
    )
    # header golden: magic, numrecs=0, dim list tag+count
    buf = open(path, "rb").read()
    assert buf[:4] == (b"CDF\x01" if version == 1 else b"CDF\x02")
    assert struct.unpack_from(">i", buf, 4) == (0,)
    assert struct.unpack_from(">ii", buf, 8) == (N3.NC_DIMENSION, 3)

    coords, data, attrs = N3.read_netcdf3(path)
    assert np.array_equal(np.asarray(coords["time"], "i8"), np.asarray(times, "i8"))
    assert np.array_equal(coords["latitude"], lats)
    assert np.array_equal(coords["longitude"], lons)
    assert np.array_equal(data["d2m"], d2m)  # exact float64 — byte-identical
    assert np.array_equal(data["u10"], u10)
    assert attrs["time"]["units"].startswith("seconds since 1970")


def test_decode_long_format_and_filters(tmp_path):
    times, lats, lons, d2m, u10 = _grid()
    path = str(tmp_path / "grid.nc")
    N3.write_netcdf3(
        path, {"time": times, "latitude": lats, "longitude": lons}, {"d2m": d2m, "u10": u10}
    )
    pdf = N3.nc3_decode(path, None)
    assert len(pdf) == 18
    # cell (t=1, lat=0, lon=2) in C order = index 1*6 + 0*3 + 2 = 8
    row = pdf[(pdf.time == pd.Timestamp("2024-02-01 01:00:00"))
              & (pdf.latitude == 48.0) & (pdf.longitude == 11.5)]
    assert float(row.d2m.iloc[0]) == 8.5 and float(row.u10.iloc[0]) == 8.75

    opts = H.IngestOptions(start_time="2024-02-01 01:00:00", end_time="2024-02-01 02:00:00",
                           area=(48.0, 11.0, 47.9, 11.3))
    got = N3.nc3_decode(path, opts)
    assert set(got.time.dt.hour) == {1}
    assert set(got.latitude) == {48.0} and set(got.longitude) == {11.0, 11.25}


def test_ingest_auto_detects_classic_netcdf(spark, tmp_path):
    """End-to-end: ingest() with the default 'auto' decoder routes a
    real .nc file to the stdlib codec via magic bytes — no xarray —
    while mem:// URIs still use the fake."""
    times, lats, lons, d2m, u10 = _grid()
    path = str(tmp_path / "era5_slice.nc")
    v10 = d2m * 0.5
    N3.write_netcdf3(
        path,
        {"time": times, "latitude": lats, "longitude": lons},
        {"d2m": d2m, "u10": u10, "v10": v10},
    )
    assert N3.is_netcdf3(path)
    out = H.ingest(spark, [path]).collect()
    assert len(out) == 18
    got = {(pd.Timestamp(r.time), r.latitude, r.longitude): r.d2m for r in out}
    # values survive Spark round-trip exactly (cube index 8 = t1/lat0/lon2)
    assert got[(pd.Timestamp("2024-02-01 01:00:00"), 48.0, 11.5)] == 8.5
    assert got[(pd.Timestamp("2024-02-01 00:00:00"), 48.0, 11.0)] == 0.5
    assert all(r.data_uri == path for r in out)


def test_partitioned_sink_one_file_per_day(spark, tmp_path):
    """Distributed sink: one whole .nc file per calendar day written by
    executor tasks; reading the files back reproduces the rows."""
    from pyspark.sql import functions as F

    rows = []
    for day in (1, 2):
        for h in (0, 6):
            for la in (50.0, 49.75):
                for lo in (7.0, 7.25):
                    rows.append(
                        (pd.Timestamp(f"2024-03-{day:02d} {h:02d}:00:00").to_pydatetime(),
                         la, lo, float(day * 100 + h + la + lo))
                    )
    df = spark.createDataFrame(rows, "time timestamp, latitude double, longitude double, d2m double")
    out_dir = str(tmp_path / "nc_out")
    n = N3.write_netcdf3_partitioned(df, out_dir, ["d2m"])
    assert n == 2

    import os

    files = sorted(os.listdir(out_dir))
    assert files == ["2024-03-01.nc", "2024-03-02.nc"]
    back = N3.nc3_decode(os.path.join(out_dir, "2024-03-02.nc"), None)
    want = {(pd.Timestamp(t), la, lo): v for t, la, lo, v in rows if t.day == 2}
    assert len(back) == len(want)
    for _, r in back.iterrows():
        assert want[(r.time, r.latitude, r.longitude)] == r.d2m


def test_rejects_non_netcdf(tmp_path):
    p = tmp_path / "junk.nc"
    p.write_bytes(b"\x89HDF\r\n\x1a\n" + b"\x00" * 64)  # HDF5 magic
    assert not N3.is_netcdf3(str(p))
    with pytest.raises(ValueError):
        N3.read_netcdf3(str(p))


def test_cdf5_roundtrip_with_int64(tmp_path):
    """CDF-5 (64-bit data format): every NON_NEG size field widens to 8
    bytes and the int64 external type becomes available — time can be
    stored natively as int64 seconds (2038-safe)."""
    times64 = np.array([4102444800, 4102448400], dtype=">i8")  # 2100-01-01+
    lats = np.array([1.0, 0.5], dtype="f8")
    lons = np.array([7.0], dtype="f8")
    vals = np.arange(4, dtype="f8").reshape(2, 2, 1) + 0.75
    path = str(tmp_path / "big.nc")
    N3.write_netcdf3(
        path, {"time": times64, "latitude": lats, "longitude": lons}, {"d2m": vals},
        version=5,
    )
    buf = open(path, "rb").read()
    assert buf[:4] == b"CDF\x05"
    assert struct.unpack_from(">q", buf, 4) == (0,)  # numrecs is 8 bytes

    coords, data, attrs = N3.read_netcdf3(path)
    assert np.array_equal(np.asarray(coords["time"], "i8"), np.asarray(times64, "i8"))
    assert np.array_equal(data["d2m"], vals)

    # decode handles year-2100 timestamps; auto-detect routes CDF-5
    assert N3.list_variables(path) == ["d2m"]
    assert N3.is_netcdf3(path)
    pdf = N3.nc3_decode(path, None)
    assert str(pdf.time.min()) == "2100-01-01 00:00:00"
    assert len(pdf) == 4


def test_int64_type_rejected_outside_cdf5(tmp_path):
    with pytest.raises(ValueError, match="requires CDF-5"):
        N3.write_netcdf3(
            str(tmp_path / "x.nc"),
            {"time": np.array([1], dtype=">i8"), "latitude": np.array([0.0]),
             "longitude": np.array([0.0])},
            {"d2m": np.zeros((1, 1, 1))},
            version=1,
        )


@pytest.mark.parametrize("version", [1, 2, 5])
def test_record_dimension_roundtrip(tmp_path, version):
    """UNLIMITED (record) time dimension: dim length 0 + numrecs in the
    header, per-record slices of every record variable interleaved in
    the record section — the growable-time layout streaming NetCDF
    writers emit. Exact roundtrip including the record coordinate."""
    rng = np.random.RandomState(4)
    coords = {
        "time": (np.arange(5) * 3600).astype(">i4"),
        "latitude": np.linspace(60.0, 50.0, 3),
        "longitude": np.linspace(-5.0, 5.0, 4),
    }
    vars_ = {"d2m": rng.randn(5, 3, 4), "u10": rng.randn(5, 3, 4)}
    path = str(tmp_path / "rec.nc")
    N3.write_netcdf3(path, coords, vars_, version=version, record_dim="time")

    buf = open(path, "rb").read()
    numrecs = int.from_bytes(buf[4:8] if version != 5 else buf[4:12], "big")
    assert numrecs == 5  # real record count in the header, dim len 0

    c, d, _ = N3.read_netcdf3(path)
    np.testing.assert_array_equal(np.asarray(c["time"]), coords["time"].astype("i4"))
    for k in vars_:
        np.testing.assert_array_equal(d[k], vars_[k])
    assert N3.list_variables(path) == sorted(vars_)


def test_record_layout_decodes_long_format(tmp_path):
    rng = np.random.RandomState(5)
    coords = {
        "time": (np.arange(4) * 3600).astype(">i4"),
        "latitude": np.array([50.0, 49.0]),
        "longitude": np.array([1.0, 2.0, 3.0]),
    }
    va = {"d2m": rng.randn(4, 2, 3).round(3)}
    path = str(tmp_path / "rec.nc")
    N3.write_netcdf3(path, coords, va, record_dim="time")
    pdf = N3.nc3_decode(path, None)
    assert len(pdf) == 24
    np.testing.assert_allclose(pdf["d2m"].to_numpy().reshape(4, 2, 3), va["d2m"])
