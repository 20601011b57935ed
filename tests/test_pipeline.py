"""weather-dl/sp pipeline parity: fan-out, skip-existing, licenses,
manifest merge + status machine, splitter partitioned writes."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from weather_tools_spark.pipeline import manifest as M
from weather_tools_spark.pipeline import partition as P
from weather_tools_spark.pipeline import splitter as SP


@pytest.fixture()
def config() -> P.DownloadConfig:
    # the 4-partition example config shape (FIXTURES.md §6)
    return P.DownloadConfig(
        name="era5_example",
        target_template="era5-{year:04d}{month:02d}{day:02d}-pressure-{pressure_level}.nc",
        partition_keys=["year", "month", "day", "pressure_level"],
        selection={
            "year": [2016, 2017],
            "month": [1],
            "day": [1, 15],
            "pressure_level": [500],
            "time": ["00:00", "12:00"],
            "variable": ["temperature"],
        },
    )


def test_fanout_cartesian(spark, config):
    out = P.fanout(spark, config).orderBy("target").collect()
    assert len(out) == 4  # 2 years × 1 month × 2 days × 1 level
    targets = [r.target for r in out]
    assert targets == [
        "era5-20160101-pressure-500.nc",
        "era5-20160115-pressure-500.nc",
        "era5-20170101-pressure-500.nc",
        "era5-20170115-pressure-500.nc",
    ]


def test_fanout_single_stage_no_task_explosion(spark, config):
    # the fan-out of literal dims must stay a narrow single-partition plan
    df = P.fanout(spark, config)
    assert df.rdd.getNumPartitions() == 1


def test_skip_existing_anti_join(spark, config):
    parts = P.fanout(spark, config)
    existing = spark.createDataFrame(
        [("era5-20160101-pressure-500.nc",)], "target string"
    )
    remaining = P.skip_existing(parts, existing).select("target").collect()
    assert len(remaining) == 3
    assert all(r.target != "era5-20160101-pressure-500.nc" for r in remaining)


def test_license_assignment_in_order(spark, config):
    parts = P.fanout(spark, config)
    out = P.assign_licenses(parts, n_licenses=3).orderBy("target").collect()
    assert [r.license_slot for r in out] == [0, 1, 2, 0]


def test_license_assignment_fair_interleaves_configs(spark):
    cfg_a = P.DownloadConfig(name="a", target_template="a-{i}", partition_keys=["i"], selection={"i": [1, 2, 3]})
    cfg_b = P.DownloadConfig(name="b", target_template="b-{i}", partition_keys=["i"], selection={"i": [1, 2, 3]})
    parts = P.fanout(spark, cfg_a).unionByName(P.fanout(spark, cfg_b))
    out = P.assign_licenses(parts, n_licenses=2, fair=True).orderBy("wave", "config_name").collect()
    # fair scheduling: wave 1 of every config precedes wave 2 of any
    waves = [(r.wave, r.config_name) for r in out]
    assert waves == [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "b")]


def test_manifest_merge_last_writer_wins(spark):
    cur = spark.createDataFrame(
        [("cfg", "loc1", "scheduled", 1), ("cfg", "loc2", "success", 2)],
        "config_name string, location string, status string, _seq long",
    )
    upd = spark.createDataFrame(
        [("cfg", "loc1", "in-progress", 3)],
        "config_name string, location string, status string, _seq long",
    )
    out = {r.location: r.status for r in M.merge_updates(cur, upd).collect()}
    assert out == {"loc1": "in-progress", "loc2": "success"}


def test_manifest_transition_machine():
    assert M.transition_ok(None, "scheduled")
    assert M.transition_ok("scheduled", "in-progress")
    assert M.transition_ok("in-progress", "success")
    assert M.transition_ok("in-progress", "failure")
    assert M.transition_ok("failure", "in-progress")  # retry
    assert not M.transition_ok("success", "in-progress")
    assert not M.transition_ok("scheduled", "success")
    assert not M.transition_ok(None, "in-progress")


def test_manifest_validate_transitions(spark):
    cur = spark.createDataFrame(
        [("cfg", "loc1", "success", 1)],
        "config_name string, location string, status string, _seq long",
    )
    upd = spark.createDataFrame(
        [("cfg", "loc1", "in-progress", 2), ("cfg", "locNew", "scheduled", 3)],
        "config_name string, location string, status string, _seq long",
    )
    bad = M.validate_transitions(cur, upd).collect()
    assert len(bad) == 1 and bad[0].location == "loc1"  # success → in-progress illegal


def test_parquet_manifest_roundtrip(spark):
    with tempfile.TemporaryDirectory() as d:
        store = M.ParquetManifest(spark, f"{d}/manifest")
        upd1 = spark.createDataFrame(
            [("cfg", None, None, "loc1", None, "fetch", "scheduled", None, "u", None,
              None, None, None, None, None, None, None, None, None, 1)],
            M.MANIFEST_SCHEMA,
        )
        store.apply(upd1)
        assert store.read().count() == 1
        upd2 = upd1.withColumn("status", F.lit("in-progress")).withColumn("_seq", F.lit(2))
        store.apply(upd2)
        rows = store.read().collect()
        assert len(rows) == 1 and rows[0].status == "in-progress"


def test_splitter_melt_and_partitioned_write(spark):
    df = spark.createDataFrame(
        [(1, 10.0, 20.0), (2, 11.0, 21.0)], "id int, d2m double, u10 double"
    )
    melted = SP.melt_variables(df, ["id"], ["d2m", "u10"])
    assert melted.count() == 4
    assert set(r.variable for r in melted.collect()) == {"d2m", "u10"}
    with tempfile.TemporaryDirectory() as d:
        SP.split_by_variable(df, f"{d}/out", ["id"], ["d2m", "u10"], mode="overwrite")
        back = spark.read.parquet(f"{d}/out")
        assert back.count() == 4
        # partition pruning on the split dimension reads one partition
        only_d2m = spark.read.parquet(f"{d}/out").filter(F.col("variable") == "d2m")
        assert only_d2m.count() == 2


def test_file_native_grib_split_byte_identical(tmp_path):
    """weather-sp file-native splitting (grib_copy semantics,
    file_splitters.py:159-238): per-parameter outputs are VERBATIM
    concatenations of the original message bytes — no re-encode —
    for both GRIB editions."""
    import struct

    import numpy as np

    from weather_tools_spark.pipeline.splitter import split_grib_by_param
    from weather_tools_spark.sources import grib1 as G1
    from weather_tools_spark.sources import grib2 as G2

    lats = np.array([49.0, 48.75])
    lons = np.array([2.0, 2.25, 2.5])
    base = np.arange(6, dtype="f8").reshape(2, 3)
    src = str(tmp_path / "multi.grib2")
    G2.write_grib2(src, [{"param": p, "ref_time": "2024-06-01", "lats": lats,
                          "lons": lons, "values": base + i, "step_hours": 6 * i}
                         for i, p in enumerate(["d2m", "u10", "d2m", "v10"])])
    outs = split_grib_by_param(src, str(tmp_path))
    assert set(outs) == {"d2m", "u10", "v10"}

    buf = open(src, "rb").read()
    msgs, p = [], 0
    while p < len(buf):
        (total,) = struct.unpack_from(">Q", buf, p + 8)
        msgs.append(buf[p : p + total])
        p += total
    assert open(outs["d2m"], "rb").read() == msgs[0] + msgs[2]  # byte-identical
    back = G2.read_grib2(outs["d2m"])
    assert len(back) == 2 and back[1]["step_hours"] == 12.0

    src1 = str(tmp_path / "old.grib")
    G1.write_grib1(src1, [{"param": p, "ref_time": "2024-06-01", "lats": lats,
                           "lons": lons, "values": base} for p in ("d2m", "u10")])
    outs1 = split_grib_by_param(src1, str(tmp_path))
    assert open(outs1["u10"], "rb").read() in open(src1, "rb").read()


def test_file_native_netcdf_split_and_distributed(spark, tmp_path):
    import numpy as np

    from weather_tools_spark.pipeline.splitter import (
        split_files_partitioned,
        split_netcdf_by_variable,
    )
    from weather_tools_spark.sources import grib2 as G2
    from weather_tools_spark.sources import netcdf3 as N3

    lats = np.array([49.0, 48.75])
    lons = np.array([2.0, 2.25, 2.5])
    base = np.arange(6, dtype="f8").reshape(2, 3)
    srcn = str(tmp_path / "wide.nc")
    N3.write_netcdf3(
        srcn,
        {"time": np.array([0], dtype=">i4"), "latitude": lats, "longitude": lons},
        {"d2m": base.reshape(1, 2, 3), "u10": (base * 2).reshape(1, 2, 3)},
    )
    outs = split_netcdf_by_variable(srcn, str(tmp_path))
    c, d, _ = N3.read_netcdf3(outs["u10"])
    assert set(d) == {"u10"}
    np.testing.assert_array_equal(d["u10"], (base * 2).reshape(1, 2, 3))
    np.testing.assert_array_equal(np.asarray(c["latitude"]), lats)

    src2 = str(tmp_path / "m.grib2")
    G2.write_grib2(src2, [{"param": p, "ref_time": "2024-06-01", "lats": lats,
                           "lons": lons, "values": base} for p in ("d2m", "v10")])
    n = split_files_partitioned(spark, [src2], str(tmp_path / "split"))
    assert n == 2
