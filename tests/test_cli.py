"""CLI surface (weather_tools_spark/cli.py): the four reference verbs
driven end-to-end in-process — dl (config → fan-out → fake-client
fetch + skip-existing), mv (GRIB glob → long rows → parquet sink with
area filter + geo column), sp (file-native GRIB split), xql (--query
and the open-then-query flow)."""

from __future__ import annotations

import os

import numpy as np
import pytest

from weather_tools_spark.cli import main

CFG = """
[parameters]
client=fake
dataset=test-ds
target_path={dir}/out-{{year}}-{{month}}.nc
partition_keys=
    year
    month

[selection]
year=2020/to/2021
month=01/02
"""


@pytest.fixture()
def grib_file(tmp_path):
    from weather_tools_spark.sources.grib2 import write_grib2

    lats = np.array([50.0, 49.0, 48.0])
    lons = np.array([10.0, 11.0, 12.0, 13.0])
    vals = np.arange(12, dtype="f8").reshape(3, 4) / 4 + 1.0
    p = tmp_path / "era5-sample.grib2"
    write_grib2(
        str(p),
        [
            {"param": "d2m", "ref_time": "2024-01-01T00:00", "lats": lats, "lons": lons, "values": vals},
            {"param": "u10", "ref_time": "2024-01-01T00:00", "lats": lats, "lons": lons, "values": vals + 10},
        ],
    )
    return str(p)


def test_dl_dry_run_and_fetch(spark, tmp_path, capsys):
    cfg = tmp_path / "era5.cfg"
    cfg.write_text(CFG.format(dir=tmp_path))
    rc = main(["dl", str(cfg), "--dry-run"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "dry-run: 4 partition(s)" in out  # 2 years × 2 months
    # real fetch with the fake client materializes every target
    rc = main(["dl", str(cfg)])
    assert rc == 0
    made = sorted(os.listdir(tmp_path))
    assert sum(1 for f in made if f.startswith("out-")) == 4
    # second run: skip-existing leaves nothing to fetch
    rc = main(["dl", str(cfg), "--dry-run"])
    out = capsys.readouterr().out
    assert "dry-run: 0 partition(s)" in out


def test_mv_grib_to_parquet(spark, tmp_path, grib_file, capsys):
    out = str(tmp_path / "rows.parquet")
    rc = main([
        "mv", "--uris", grib_file, "--output", out,
        "--area", "50", "10", "49", "12", "--variables", "d2m", "--geo",
    ])
    assert rc == 0
    df = spark.read.parquet(out)
    assert set(df.columns) == {"time", "latitude", "longitude", "d2m", "geo_point"}
    # area N=50 W=10 S=49 E=12 keeps lats {50,49} × lons {10,11,12}
    assert df.count() == 6
    assert df.filter("latitude < 49 or longitude > 12").count() == 0


def test_mv_parquet_append_reports_rows_written(spark, tmp_path, grib_file, capsys):
    """mv prints the rows this run wrote, not the output directory's
    total: two appends of the 12-row file each report 12."""
    out = str(tmp_path / "rows.parquet")
    for _ in range(2):
        assert main(["mv", "--uris", grib_file, "--output", out, "--mode", "append"]) == 0
        assert f"wrote 12 row(s) -> {out}" in capsys.readouterr().out
    assert spark.read.parquet(out).count() == 24


def test_sp_splits_grib_by_param(spark, tmp_path, grib_file, capsys):
    outdir = str(tmp_path / "split")
    rc = main(["sp", "--input-pattern", grib_file, "--output-dir", outdir])
    assert rc == 0
    made = sorted(os.listdir(outdir))
    assert len(made) == 2 and any("d2m" in f for f in made) and any("u10" in f for f in made)


def test_xql_query_over_store(spark, tmp_path, grib_file, capsys):
    rc = main([
        "xql",
        "--uri", grib_file,
        "--view", "weather",
        "--query",
        "SELECT round(avg(u10), 3) AS avg_u10 FROM weather",
    ])
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0] == "avg_u10"
    # mean of vals+10 = mean(0..11)/4 + 11 = 1.375 + 10 = 12.375
    assert abs(float(out[1]) - 12.375) < 1e-9


def test_cli_unknown_pattern_errors(tmp_path):
    rc = main(["sp", "--input-pattern", str(tmp_path / "nope-*.grib2"), "--output-dir", str(tmp_path)])
    assert rc == 2


def test_dl_records_manifest(spark, tmp_path):
    cfg = tmp_path / "era5.cfg"
    cfg.write_text(CFG.format(dir=tmp_path / "dl"))
    man = str(tmp_path / "manifest")
    rc = main(["dl", str(cfg), "--manifest", man])
    assert rc == 0
    rows = spark.read.parquet(man).collect()
    assert len(rows) == 4                      # one state row per partition
    assert {r.status for r in rows} == {"success"}  # all transitions applied
    assert all(r.selection and r.location for r in rows)


def test_mv_to_zarr_roundtrip(spark, tmp_path, grib_file):
    from weather_tools_spark.sources.opener import open_dataset

    store = str(tmp_path / "store.zarr")
    rc = main(["mv", "--uris", grib_file, "--output", store, "--zarr", "--chunks", "1,2,2"])
    assert rc == 0
    back = open_dataset(spark, store)
    src = open_dataset(spark, grib_file)
    a = {(r.latitude, r.longitude): (round(r.d2m, 3), round(r.u10, 3)) for r in src.collect()}
    b = {(r.latitude, r.longitude): (round(r.d2m, 3), round(r.u10, 3)) for r in back.collect()}
    assert a == b and len(a) == 12


def test_xql_repl_loop(spark, tmp_path, grib_file, capsys, monkeypatch):
    """The REPL path: statements stream from stdin, an error keeps the
    loop alive, a blank line exits."""
    import io

    monkeypatch.setattr(
        "sys.stdin",
        io.StringIO(
            "SELECT count(*) AS n FROM weather\n"
            "SELECT broken syntax here\n"
            "SELECT round(max(d2m), 3) AS mx FROM weather\n"
            "\n"
        ),
    )
    rc = main(["xql", "--uri", grib_file, "--view", "weather"])
    assert rc == 0
    cap = capsys.readouterr()
    out = cap.out.strip().splitlines()
    assert out[0] == "n" and out[1] == "12"
    assert out[-2] == "mx"  # the loop survived the broken statement
    assert "error:" in cap.err


def test_mv_to_netcdf_and_sp_netcdf_split(spark, tmp_path, grib_file):
    from weather_tools_spark.sources.opener import open_dataset

    # mv: GRIB -> classic NetCDF files
    out = str(tmp_path / "nc_out")
    rc = main(["mv", "--uris", grib_file, "--output", out, "--netcdf"])
    assert rc == 0
    ncs = sorted(os.listdir(out))
    assert ncs and all(f.endswith(".nc") for f in ncs)
    back = open_dataset(spark, os.path.join(out, "*.nc"))
    src = open_dataset(spark, grib_file)
    a = {(r.latitude, r.longitude): round(r.d2m, 3) for r in back.collect()}
    b = {(r.latitude, r.longitude): round(r.d2m, 3) for r in src.collect()}
    assert a == b
    # sp: split those NetCDF files by variable through the CLI
    split_dir = str(tmp_path / "nc_split")
    rc = main(["sp", "--input-pattern", os.path.join(out, "*.nc"), "--output-dir", split_dir])
    assert rc == 0
    made = sorted(os.listdir(split_dir))
    assert any("d2m" in f for f in made) and any("u10" in f for f in made)


def test_dlv2_cli_drives_control_plane(capsys):
    """The dlv2 subcommand mirrors the reference weather-dl-v2 CLI
    table against a live control-plane server."""
    import json

    from weather_tools_spark.cli import main
    from weather_tools_spark.pipeline.controlplane import ControlPlaneServer

    with ControlPlaneServer() as cp:
        base = ["dlv2", "--server", cp.url]
        assert main(base + ["ping"]) == 0
        assert main(base + ["license", "add", "L1", "--client-name", "cds",
                            "--number-of-requests", "4"]) == 0
        assert main(base + ["download", "add", "era5.cfg", "-l", "L1",
                            "--client-name", "cds"]) == 0
        capsys.readouterr()
        assert main(base + ["download", "list", "--filter", "client_name=cds"]) == 0
        out = json.loads(capsys.readouterr().out)
        assert [d["config_name"] for d in out] == ["era5.cfg"]
        assert main(base + ["queue", "get", "L1"]) == 0
        assert json.loads(capsys.readouterr().out)["queue"] == ["era5.cfg"]
        assert main(base + ["download", "refetch", "era5.cfg", "-l", "L1"]) == 0
        assert main(base + ["license", "edit", "L1", "--client-name", "c2"]) == 0
        capsys.readouterr()
        assert main(base + ["queue", "list", "--filter", "client_name=c2"]) == 0
        assert json.loads(capsys.readouterr().out)[0]["license_id"] == "L1"
        assert main(base + ["download", "remove", "era5.cfg"]) == 0
        assert main(base + ["license", "remove", "L1"]) == 0


@pytest.mark.parametrize(
    "flags",
    [
        ["--geo", "--zarr"],
        ["--geo", "--netcdf"],
        ["--zarr", "--chunks", "0,8,8"],
        ["--zarr", "--chunks", "24,8"],
        ["--zarr", "--chunks", "24,x,8"],
    ],
    ids=["geo-zarr", "geo-netcdf", "zero-chunk", "two-chunks", "non-int-chunk"],
)
def test_mv_rejects_unworkable_sink_flags(tmp_path, grib_file, capsys, monkeypatch, flags):
    """Sink flags that cannot work exit 2 with one line, before a
    session (let alone a job) exists."""
    from weather_tools_spark import cli

    monkeypatch.setattr(cli, "_spark", lambda app: pytest.fail("Spark started"))
    rc = main(["mv", "--uris", grib_file, "--output", str(tmp_path / "out"), *flags])
    assert rc == 2
    err = capsys.readouterr().err
    assert len(err.strip().splitlines()) == 1, err
    assert not (tmp_path / "out").exists()


def test_mv_variables_pushed_into_decode(spark, tmp_path, grib_file, monkeypatch):
    """--variables reaches open_dataset (the decoder's projection), and
    the output keeps the coordinates then the variables in the order
    asked for."""
    from weather_tools_spark.sources import opener

    real, seen = opener.open_dataset, []

    def spy(*a, **k):
        seen.append(k.get("variables"))
        return real(*a, **k)

    monkeypatch.setattr(opener, "open_dataset", spy)
    out = str(tmp_path / "rows.parquet")
    assert main(["mv", "--uris", grib_file, "--output", out, "--variables", "u10,d2m"]) == 0
    assert seen == [["u10", "d2m"]]
    df = spark.read.parquet(out)
    assert df.columns == ["time", "latitude", "longitude", "u10", "d2m"]
    assert df.count() == 12


def test_mv_unknown_variable_exits_2(spark, tmp_path, grib_file, capsys):
    rc = main(["mv", "--uris", grib_file, "--output", str(tmp_path / "out"), "--variables", "nope"])
    assert rc == 2
    err = capsys.readouterr().err.strip()
    assert err.startswith("unknown variables ['nope']") and len(err.splitlines()) == 1


def test_mv_zarr_empty_area_exits_2(tmp_path, grib_days, capsys, monkeypatch):
    """An --area that holds no grid point leaves an empty axis, and a
    Zarr v2 array may not have a zero-length chunk: mv --zarr fails
    with one line before a session starts and writes nothing."""
    import weather_tools_spark.cli as cli

    monkeypatch.setattr(cli, "_spark", lambda *a: pytest.fail("a session started"))
    out = tmp_path / "empty.zarr"
    rc = main(["mv", "--uris", grib_days, "--output", str(out), "--zarr", "--area", "1", "1", "0", "0"])
    assert rc == 2
    err = capsys.readouterr().err.strip()
    assert "no grid point" in err and len(err.splitlines()) == 1
    assert not out.exists()


@pytest.fixture()
def grib_days(tmp_path):
    """Two GRIB2 files, three time steps each, written out of time order
    (the second file holds the earlier day, each file's steps run
    backwards), on a full 4 × 5 grid."""
    from weather_tools_spark.sources.grib2 import write_grib2

    lats = np.array([51.0, 50.0, 49.0, 48.0])
    lons = np.array([9.0, 10.0, 11.0, 12.0, 13.0])
    for i, day in enumerate(("2024-01-02", "2024-01-01")):
        msgs = []
        for h in (18, 6, 0):
            vals = np.arange(20, dtype="f8").reshape(4, 5) / 8 + 100 * i + h
            for param, off in (("d2m", 0.0), ("u10", 5.0)):
                msgs.append({"param": param, "ref_time": f"{day}T{h:02d}:00", "lats": lats,
                             "lons": lons, "values": vals + off})
        write_grib2(str(tmp_path / f"era5-{i}.grib2"), msgs)
    return str(tmp_path / "era5-*.grib2")


def _persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_mv_zarr_sink_axes_cells_and_released_cache(spark, tmp_path, grib_days):
    """mv --zarr over a multi-file, multi-time glob with --area: the
    store's axes are the area-filtered rows' distinct values (time and
    longitude ascending, latitude north → south), every cell round-trips,
    and nothing stays cached."""
    from weather_tools_spark.sources.opener import open_dataset
    from weather_tools_spark.sources.zarr_v2 import open_zarr_v2

    cached = _persistent_rdds(spark)
    store = str(tmp_path / "store.zarr")
    rc = main(["mv", "--uris", grib_days, "--output", store, "--zarr", "--chunks", "4,2,2",
               "--area", "50", "10", "48", "12"])
    assert rc == 0
    assert _persistent_rdds(spark) == cached

    meta = open_zarr_v2(store)
    src = open_dataset(spark, grib_days, lat_range=(48, 50), lon_range=(10, 12)).collect()
    assert meta.times == [str(t) for t in sorted({r.time for r in src})] and len(meta.times) == 6
    assert meta.lats == sorted({r.latitude for r in src}, reverse=True) == [50.0, 49.0, 48.0]
    assert meta.lons == sorted({r.longitude for r in src}) == [10.0, 11.0, 12.0]

    def cells(rows):
        return {(r.time, r.latitude, r.longitude): (r.d2m, r.u10) for r in rows}

    assert len(src) == 6 * 3 * 3
    assert cells(open_dataset(spark, store).collect()) == cells(src)


def test_mv_zarr_sink_never_persists(spark, tmp_path, grib_days, monkeypatch):
    """mv --zarr holds no copy of its input: the axes come from file
    headers and the chunk writer is the one pass over the rows, so no
    frame is persisted or cached, whether the write succeeds or fails."""
    from pyspark.sql import DataFrame

    from weather_tools_spark.sources import zarr_v2

    for name in ("persist", "cache"):
        monkeypatch.setattr(
            DataFrame, name, lambda self, *a, _n=name, **k: pytest.fail(f"mv --zarr ran {_n}")
        )
    cached = _persistent_rdds(spark)
    assert main(["mv", "--uris", grib_days, "--output", str(tmp_path / "a.zarr"), "--zarr"]) == 0
    assert _persistent_rdds(spark) == cached

    def boom(*a, **k):
        raise RuntimeError("chunk write failed")

    monkeypatch.setattr(zarr_v2, "write_zarr_v2", boom)
    with pytest.raises(RuntimeError, match="chunk write failed"):
        main(["mv", "--uris", grib_days, "--output", str(tmp_path / "b.zarr"), "--zarr"])
    assert _persistent_rdds(spark) == cached


def test_mv_zarr_time_axis_ignores_the_driver_time_zone(spark, tmp_path, grib_days, monkeypatch):
    """The store's time coordinate does not depend on the driver
    process's time zone: collected TIMESTAMPs come back in that zone, so
    the axes are derived as microseconds (a New York driver used to fail
    in a task, and would have shifted the axis by 5 h)."""
    import time

    import pandas as pd

    from weather_tools_spark.sources.zarr_v2 import read_coord_array, read_store_metadata

    def store_times(name: str) -> list:
        store = str(tmp_path / name)
        assert main(["mv", "--uris", grib_days, "--output", store, "--zarr"]) == 0
        return list(read_coord_array(store, "time", read_store_metadata(store)))

    utc = store_times("utc.zarr")
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        new_york = store_times("new_york.zarr")
    finally:
        monkeypatch.undo()
        time.tzset()
    days = pd.to_datetime([f"2024-01-0{d} {h:02d}:00" for d in (1, 2) for h in (0, 6, 18)])
    assert new_york == utc == list(days.asi8 // 1_000_000_000)
