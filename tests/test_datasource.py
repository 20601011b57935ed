"""Python DataSource integration (sources/datasource.py):
``spark.read.format("weather")`` must agree with the functional opener
on every format it claims, absorb pushable range filters (applied
in-source, remainder returned to Catalyst), and plan one partition per
matched file."""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from weather_tools_spark.sources.cells import Ranges
from weather_tools_spark.sources.datasource import (
    WeatherReader,
    register,
)


@pytest.fixture(scope="module")
def fmt(spark):
    register(spark)
    return "weather"


@pytest.fixture()
def grib_files(tmp_path):
    from weather_tools_spark.sources.grib2 import write_grib2

    lats = np.array([50.0, 49.0, 48.0])
    lons = np.array([10.0, 11.0, 12.0, 13.0])
    paths = []
    for i, ts in enumerate(["2024-01-01T00:00", "2024-01-01T06:00"]):
        vals = np.arange(12, dtype="f8").reshape(3, 4) / 4 + i
        p = str(tmp_path / f"f{i}.grib2")
        write_grib2(p, [{"param": "d2m", "ref_time": ts, "lats": lats, "lons": lons, "values": vals}])
        paths.append(p)
    return str(tmp_path / "f*.grib2")


def test_format_matches_opener(spark, fmt, grib_files):
    from weather_tools_spark.sources.opener import open_dataset

    via_fmt = spark.read.format(fmt).load(grib_files)
    via_open = open_dataset(spark, grib_files)
    a = {(r.time, r.latitude, r.longitude): round(r.d2m, 3) for r in via_fmt.collect()}
    b = {(r.time, r.latitude, r.longitude): round(r.d2m, 3) for r in via_open.collect()}
    assert a == b and len(a) == 24


def test_pushed_filters_applied_in_source(spark, fmt, grib_files):
    df = (
        spark.read.format(fmt)
        .load(grib_files)
        .filter((F.col("latitude") >= 49.0) & (F.col("longitude") < 12.0))
    )
    rows = df.collect()
    assert len(rows) == 2 * 2 * 2  # 2 files × lats{50,49} × lons{10,11}
    assert all(r.latitude >= 49.0 and r.longitude < 12.0 for r in rows)


def test_push_filters_partitioning_unit():
    r = WeatherReader(["a", "b", "c"], "grib2", ["time", "latitude", "longitude", "d2m"])
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, IsNotNull

    unsupported = list(
        r.pushFilters([
            GreaterThanOrEqual(("latitude",), 10.0),
            EqualTo(("d2m",), 1.0),       # non-pushable column
            IsNotNull(("latitude",)),      # non-pushable predicate type
        ])
    )
    # exactly the two non-range/-column filters come back to Catalyst
    assert len(unsupported) == 2
    assert r._ranges == Ranges(lat=(10.0, math.inf))
    assert len(r.partitions()) == 3  # one partition per file


def test_format_reads_netcdf(spark, fmt, tmp_path):
    from weather_tools_spark.sources.netcdf3 import write_netcdf3

    p = str(tmp_path / "x.nc")
    write_netcdf3(
        p,
        coords={
            "time": np.array([0, 3600], dtype="i4"),
            "latitude": np.array([10.0, 20.0]),
            "longitude": np.array([100.0, 110.0, 120.0]),
        },
        variables={"t2m": np.arange(12, dtype="f8").reshape(2, 2, 3) + 280.0},
    )
    df = spark.read.format(fmt).load(p)
    assert df.count() == 12
    got = df.agg(F.round(F.sum("t2m"), 3)).collect()[0][0]
    assert got == pytest.approx(12 * 280.0 + sum(range(12)), abs=1e-6)


def test_format_reads_variable_named_value(spark, fmt, tmp_path):
    """ADVICE r9 (medium): the reader's decode list used to exclude any
    column named 'value' for ALL formats — a NetCDF variable literally
    named 'value' decoded as all-NaN. Pin real values end-to-end."""
    from weather_tools_spark.sources.netcdf3 import write_netcdf3

    p = str(tmp_path / "v.nc")
    write_netcdf3(
        p,
        coords={
            "time": np.array([0], dtype="i4"),
            "latitude": np.array([10.0, 20.0]),
            "longitude": np.array([100.0, 110.0]),
        },
        variables={
            "value": np.arange(4, dtype="f8").reshape(1, 2, 2) + 1.0,
            "t2m": np.full((1, 2, 2), 280.0),
        },
    )
    df = spark.read.format(fmt).load(p)
    assert df.filter(F.col("value").isNull()).count() == 0
    assert df.agg(F.sum("value")).collect()[0][0] == pytest.approx(1 + 2 + 3 + 4)
    # and under projection: .option("columns") keeps 'value' decodable
    nar = spark.read.format(fmt).option("columns", "value").load(p)
    assert "t2m" not in nar.columns
    assert nar.agg(F.sum("value")).collect()[0][0] == pytest.approx(10.0)


def test_write_format_roundtrip(spark, fmt, tmp_path):
    import os

    out = str(tmp_path / "out")
    n_la, n_lo = 3, 4
    grid = (
        spark.range(2 * n_la * n_lo)
        .selectExpr(
            "timestamp(concat('2024-02-01 ', lpad(cast(cast(id / 12 as int) * 6 as string), 2, '0'), ':00:00')) AS time",
            "50.0 - cast(cast(id / 4 as int) % 3 as double) * 0.5 AS latitude",
            "8.0 + cast(id % 4 as double) * 0.5 AS longitude",
            "cast(id as double) / 8 + 273.0 AS d2m",
        )
        .repartition(2, "time")
    )
    grid.write.format(fmt).mode("overwrite").save(out)
    made = sorted(os.listdir(out))
    assert "_MANIFEST" in made
    gribs = [f for f in made if f.endswith(".grib2")]
    assert len(gribs) == 2  # one file per time slice (repartitioned by time)
    back = spark.read.format(fmt).load(os.path.join(out, "*.grib2"))
    a = {(r.time, r.latitude, r.longitude): round(r.d2m, 3) for r in back.collect()}
    b = {(r.time, r.latitude, r.longitude): round(r.d2m, 3) for r in grid.collect()}
    assert a == b and len(a) == 24
    # overwrite replaces, not appends
    grid.write.format(fmt).mode("overwrite").save(out)
    assert len([f for f in os.listdir(out) if f.endswith(".grib2")]) == 2


@pytest.fixture()
def two_var_grib(tmp_path):
    from weather_tools_spark.sources.grib2 import write_grib2

    lats = np.array([50.0, 49.0])
    lons = np.array([10.0, 11.0, 12.0])
    p = str(tmp_path / "two.grib2")
    write_grib2(
        p,
        [
            {"param": "d2m", "ref_time": "2024-01-01T00:00", "lats": lats,
             "lons": lons, "values": np.arange(6, dtype="f8").reshape(2, 3)},
            {"param": "u10", "ref_time": "2024-01-01T00:00", "lats": lats,
             "lons": lons, "values": np.arange(6, dtype="f8").reshape(2, 3) * 10},
        ],
    )
    return p


def test_columns_option_narrows_schema_and_matches_full_read(spark, fmt, two_var_grib):
    """.option('columns', 'd2m'): the scan schema is coords + exactly
    the requested variable, and the projected values agree with the
    unprojected read's d2m column."""
    narrow = spark.read.format(fmt).option("columns", "d2m").load(two_var_grib)
    assert narrow.columns == ["time", "latitude", "longitude", "d2m"]
    full = spark.read.format(fmt).load(two_var_grib)
    assert full.columns == ["time", "latitude", "longitude", "d2m", "u10"]
    a = {(r.time, r.latitude, r.longitude): round(r.d2m, 3) for r in narrow.collect()}
    b = {(r.time, r.latitude, r.longitude): round(r.d2m, 3) for r in full.collect()}
    assert a == b and len(a) == 6
    # composes with filter pushdown
    got = (
        spark.read.format(fmt).option("columns", "u10").load(two_var_grib)
        .filter(F.col("latitude") >= 49.5)
        .agg(F.round(F.sum("u10"), 3).alias("s"))
        .collect()[0].s
    )
    assert got == pytest.approx((0 + 1 + 2) * 10.0)


def test_columns_option_unknown_name_raises(spark, fmt, two_var_grib):
    with pytest.raises(Exception, match="unknown variables"):
        spark.read.format(fmt).option("columns", "nope").load(two_var_grib).schema


def test_grib2_projection_skips_messages_at_decode(two_var_grib, monkeypatch):
    """The decode-side pin: with columns=[...,'d2m'] the GRIB want-set
    contains ONLY d2m's (discipline, category, number) — u10's message
    is skipped at the section-1 header, never unpacked."""
    from weather_tools_spark.sources import grib2 as G2
    from weather_tools_spark.sources.cells import frame
    from weather_tools_spark.sources.datasource import _decoder_for

    seen_wants = []
    real = G2.read_grib2

    def spy(path, want=None):
        seen_wants.append(want)
        return real(path, want)

    monkeypatch.setattr(G2, "read_grib2", spy)
    decode_one, cols = _decoder_for("grib2", two_var_grib, ["d2m"])
    pdf = frame(decode_one(two_var_grib))
    assert cols == ["time", "latitude", "longitude", "d2m"]
    assert list(pdf.columns) == ["time", "latitude", "longitude", "d2m"]
    assert seen_wants == [{G2.PARAMS["d2m"]}]
    # strict=False (the per-file decode-task path): a variable absent
    # from THIS file is dropped from the want-set — the upstream
    # reindex backfills NaN, exactly like an unprojected read
    seen_wants.clear()
    decode_one, _ = _decoder_for("grib2", two_var_grib, ["d2m", "weird"], strict=False)
    decode_one(two_var_grib)
    assert seen_wants == [{G2.PARAMS["d2m"]}]
    # decoder-level conservative fallback: a requested name the param
    # table can't map decodes EVERYTHING (caller projects) rather than
    # silently blanking the variable
    from types import SimpleNamespace

    seen_wants.clear()
    G2.grib2_decode(two_var_grib, SimpleNamespace(variables=["unmappable_name"]))
    assert seen_wants == [None]
    # ...while the decoder's own p{d}_{c}_{n} spelling maps back exactly
    seen_wants.clear()
    G2.grib2_decode(two_var_grib, SimpleNamespace(variables=["p0_2_2"]))
    assert seen_wants == [{(0, 2, 2)}]


def test_netcdf3_projection_skips_unpack(tmp_path, monkeypatch):
    """nc3_decode(opts.variables=['a']): only the requested variable is
    CF-unpacked (call-counted), the other never materializes."""
    from types import SimpleNamespace

    from weather_tools_spark.sources import netcdf3 as N3

    p = str(tmp_path / "two.nc")
    N3.write_netcdf3(
        p,
        coords={
            "time": np.array([0], dtype="i4"),
            "latitude": np.array([1.0, 2.0]),
            "longitude": np.array([3.0, 4.0]),
        },
        variables={
            "a": np.arange(4, dtype="f8").reshape(1, 2, 2),
            "b": np.arange(4, dtype="f8").reshape(1, 2, 2) * 5,
        },
    )
    calls = []
    real = N3._cf_unpack

    def spy(arr, atts):
        calls.append(1)
        return real(arr, atts)

    monkeypatch.setattr(N3, "_cf_unpack", spy)
    pdf = N3.nc3_decode(p, SimpleNamespace(variables=["a"]))
    assert list(pdf.columns) == ["time", "latitude", "longitude", "a"]
    assert len(calls) == 1
    assert pdf["a"].tolist() == [0.0, 1.0, 2.0, 3.0]


def test_hdf5_projection_skips_datasets(tmp_path):
    """read_hdf5(want=...): pruned datasets are skipped before the
    payload walk — they never appear, the wanted ones decode exactly."""
    from types import SimpleNamespace

    from weather_tools_spark.sources.hdf5 import nc4_decode, read_hdf5, write_netcdf4

    p = str(tmp_path / "two.h5")
    write_netcdf4(
        p,
        coords={
            "time": np.array([0], dtype="i8"),
            "latitude": np.array([1.0, 2.0]),
            "longitude": np.array([3.0, 4.0]),
        },
        variables={
            "a": np.arange(4, dtype="f8").reshape(1, 2, 2),
            "b": np.arange(4, dtype="f8").reshape(1, 2, 2) * 7,
        },
    )
    datasets, _ = read_hdf5(p, want={"time", "latitude", "longitude", "a"})
    assert sorted(datasets) == ["a", "latitude", "longitude", "time"]
    pdf = nc4_decode(p, SimpleNamespace(variables=["a"]))
    assert list(pdf.columns) == ["time", "latitude", "longitude", "a"]
    assert pdf["a"].tolist() == [0.0, 1.0, 2.0, 3.0]


def test_open_dataset_variables_projection(spark, two_var_grib):
    """The opener's `variables` parameter is the same pushdown: narrow
    columns, equal values, unknown names raise."""
    from weather_tools_spark.sources.opener import open_dataset

    df = open_dataset(spark, two_var_grib, variables=["u10"])
    assert df.columns == ["time", "latitude", "longitude", "u10"]
    assert df.agg(F.sum("u10")).collect()[0][0] == pytest.approx(150.0)
    with pytest.raises(ValueError, match="unknown variables"):
        open_dataset(spark, two_var_grib, variables=["zzz"])


def test_stream_format_picks_up_new_files(spark, fmt, tmp_path):
    """spark.readStream.format('weather'): micro-batch 1 sees the
    existing file, a file added between runs arrives in the next
    availableNow pass through the checkpointed offset."""
    import os

    import numpy as np

    from weather_tools_spark.sources.grib2 import write_grib2

    lats = np.array([40.0, 39.0])
    lons = np.array([1.0, 2.0])
    indir = tmp_path / "in"; indir.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def add_file(i):
        vals = np.full((2, 2), float(i))
        write_grib2(str(indir / f"s{i}.grib2"),
                    [{"param": "d2m", "ref_time": f"2024-03-0{i+1}T00:00",
                      "lats": lats, "lons": lons, "values": vals}])

    add_file(0)
    # schema probe needs one existing file; the glob then keeps watching
    stream = spark.readStream.format(fmt).load(str(indir / "*.grib2"))
    assert stream.isStreaming

    out = str(tmp_path / "sink")

    def run_once():
        q = (
            stream.writeStream.outputMode("append").format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.processAllAvailable(); q.stop()
        return sorted(r.d2m for r in spark.read.parquet(out).select("d2m").collect())

    assert run_once() == [0.0] * 4
    add_file(1)
    # restart from the checkpoint: ONLY the new file lands in the sink
    assert run_once() == [0.0] * 4 + [1.0] * 4


def test_stream_format_columns_option_prunes(spark, fmt, tmp_path):
    """The streaming DataSource honors the same columns projection as
    the batch reader: the stream schema narrows and the decode skips
    the pruned variable's messages."""
    import numpy as np

    from weather_tools_spark.sources.grib2 import write_grib2

    lats, lons = np.array([40.0, 39.0]), np.array([1.0, 2.0])
    indir = tmp_path / "in"; indir.mkdir()
    write_grib2(
        str(indir / "a.grib2"),
        [
            {"param": "d2m", "ref_time": "2024-03-01T00:00", "lats": lats,
             "lons": lons, "values": np.full((2, 2), 7.0)},
            {"param": "u10", "ref_time": "2024-03-01T00:00", "lats": lats,
             "lons": lons, "values": np.full((2, 2), 9.0)},
        ],
    )
    stream = (
        spark.readStream.format(fmt).option("columns", "u10")
        .load(str(indir / "*.grib2"))
    )
    assert stream.columns == ["time", "latitude", "longitude", "u10"]
    out = str(tmp_path / "sink"); ckpt = str(tmp_path / "ckpt")
    q = (
        stream.writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.processAllAvailable(); q.stop()
    rows = spark.read.parquet(out).collect()
    assert sorted(r.u10 for r in rows) == [9.0] * 4
    assert spark.read.parquet(out).columns == ["time", "latitude", "longitude", "u10"]
