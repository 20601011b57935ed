"""Message-level GRIB manifest scan (sources/grib_manifest.py): the
kerchunk-style index — header-only build, Catalyst predicates on the
manifest, byte-range decode of only the surviving messages."""

from __future__ import annotations

import os

import numpy as np
import pytest

from weather_tools_spark.sources import grib1 as G1
from weather_tools_spark.sources import grib2 as G2
from weather_tools_spark.sources.grib_manifest import (
    build_grib_manifest,
    index_grib_file,
    scan_grib_manifest,
)

LATS = np.array([49.0, 48.75])
LONS = np.array([2.0, 2.25, 2.5])
BASE = np.arange(6, dtype="f8").reshape(2, 3)


def _corpus(tmp_path):
    paths = []
    for d in (1, 2):
        p = str(tmp_path / f"fc-{d}.grib2")
        G2.write_grib2(p, [
            {"param": prm, "ref_time": f"2024-05-0{d} 00:00:00", "lats": LATS,
             "lons": LONS, "values": BASE + i + d * 100, "step_hours": 6 * i}
            for i, prm in enumerate(["d2m", "u10", "v10"])
        ])
        paths.append(p)
    p1 = str(tmp_path / "old.grib")
    G1.write_grib1(p1, [{"param": "d2m", "ref_time": "2024-05-03 00:00:00",
                         "lats": LATS, "lons": LONS, "values": BASE,
                         "step_hours": 12}])
    paths.append(p1)
    return paths


def test_index_is_header_only_and_complete(tmp_path):
    paths = _corpus(tmp_path)
    pdf = index_grib_file(paths[0])
    assert list(pdf["param"]) == ["d2m", "u10", "v10"]
    assert list(pdf["step_hours"]) == [0.0, 6.0, 12.0]
    # offsets+lengths tile the file exactly
    assert pdf["offset"].iloc[0] == 0
    assert int((pdf["offset"] + pdf["length"]).iloc[-1]) == os.path.getsize(paths[0])
    # GRIB1 file indexes through the same walk
    pdf1 = index_grib_file(paths[2])
    assert list(pdf1["param"]) == ["d2m"] and pdf1["edition"].iloc[0] == 1


def test_pruned_scan_decodes_only_selected_messages(spark, tmp_path):
    paths = _corpus(tmp_path)
    man = build_grib_manifest(spark, paths)
    assert man.count() == 7

    out = scan_grib_manifest(
        spark, man, params=["u10"], time_range=("2024-05-01", "2024-05-02")
    ).collect()
    assert len(out) == 6  # one message's grid, nothing else decoded
    assert all(r.param == "u10" and r.step == 21600.0 for r in out)
    assert sorted(r.value for r in out) == sorted((BASE + 101).ravel())

    # cross-edition scan through one manifest
    both = scan_grib_manifest(spark, man, params=["d2m"], max_step_hours=24)
    times = {r.time for r in both.collect()}
    assert len(times) == 3  # two GRIB2 days + the GRIB1 day


def test_manifest_parquet_roundtrip_prunes_in_catalyst(spark, tmp_path):
    """The manifest persists as parquet; re-reading it and filtering
    lets Catalyst push param/time predicates into the manifest scan —
    query planning never touches a GRIB byte."""
    paths = _corpus(tmp_path)
    man_dir = str(tmp_path / "manifest")
    build_grib_manifest(spark, paths).write.parquet(man_dir)
    man = spark.read.parquet(man_dir)
    plan = man.filter("param = 'v10'")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "v10" in plan
    out = scan_grib_manifest(spark, man, params=["v10"]).collect()
    assert len(out) == 12 and {r.param for r in out} == {"v10"}


def test_scan_time_range_open_ends_match_an_unfiltered_scan(spark, tmp_path):
    """A ``None`` end of ``time_range`` is open: each open-ended scan
    equals the unfiltered scan filtered on that side alone."""
    man = build_grib_manifest(spark, _corpus(tmp_path))

    def rows(**kw):
        return sorted(tuple(r) for r in scan_grib_manifest(spark, man, **kw).collect())

    everything = rows()
    cut = np.datetime64("2024-05-02T00:00:00")
    since = rows(time_range=("2024-05-02", None))
    until = rows(time_range=(None, "2024-05-02"))
    assert since == [r for r in everything if np.datetime64(r[0]) >= cut] and since
    assert until == [r for r in everything if np.datetime64(r[0]) < cut] and until
    assert rows(time_range=(None, None)) == everything
