"""The format table (sources/opener.py): real files decode with their
own codec or fail loudly, and the file sinks write absent cells as
missing — never as invented values."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql.types import _parse_datatype_string

from weather_tools_spark.sources import geotiff as GT
from weather_tools_spark.sources import grib1 as G1
from weather_tools_spark.sources import grib2 as G2
from weather_tools_spark.sources import hypercube as H
from weather_tools_spark.sources import opener as OP
from weather_tools_spark.sources.datasource import register

_RASTER = np.array([[1.0, 2.0], [3.0, 4.0]])


@pytest.fixture()
def tif(tmp_path):
    d = tmp_path / "tif"
    d.mkdir()
    p = str(d / "r.tif")
    GT.write_geotiff(p, _RASTER, (5.0, 51.0), (0.5, 0.5))
    return p


@pytest.fixture()
def stray(tmp_path):
    d = tmp_path / "stray"
    d.mkdir()
    p = d / "notes.txt"
    p.write_text("not a weather file\n")
    return str(p)


def _stream(spark, path, columns, tmp_path, tag):
    got = []
    q = OP.stream_ingest_files(
        spark, os.path.dirname(path), columns,
        lambda df, _: got.extend(df.collect()),
        checkpoint_dir=str(tmp_path / f"ckpt-{tag}"),
    )
    try:
        q.awaitTermination(60)
    finally:
        q.stop()
    return got


def test_real_files_never_decode_as_fake(spark, tmp_path, tif, stray):
    schema = _parse_datatype_string(
        "latitude double, longitude double, value double, "
        "data_uri string, data_first_step timestamp"
    )
    rows = H.ingest(spark, [tif], schema=schema).orderBy("latitude", "longitude").collect()
    assert [r.value for r in rows] == [3.0, 4.0, 1.0, 2.0]

    got = _stream(spark, tif, ["latitude", "longitude", "value"], tmp_path, "tif")
    assert sorted(r.value for r in got) == [1.0, 2.0, 3.0, 4.0]

    with pytest.raises(Exception, match="unable to open dataset"):
        H.ingest(spark, [stray]).collect()
    with pytest.raises(Exception, match="unable to open dataset"):
        _stream(spark, stray, ["time", "latitude", "longitude", "d2m"], tmp_path, "stray")


def _dropped_cell_grid(spark):
    """A 2×2 grid at one time with the (48.75, 2.25) cell left out."""
    rows = [
        ("2024-06-03 00:00:00", la, lo, 100.0 + i, -5.0 - i)
        for i, (la, lo) in enumerate([(49.0, 2.0), (49.0, 2.25), (48.75, 2.0)])
    ]
    return spark.createDataFrame(
        rows, "time string, latitude double, longitude double, d2m double, u10 double"
    ).selectExpr("timestamp(time) AS time", "latitude", "longitude", "d2m", "u10")


@pytest.mark.parametrize("sink", ["grib2", "grib1", "weather"])
def test_sinks_write_absent_cells_as_missing(spark, tmp_path, sink):
    out = str(tmp_path / sink)
    grid = _dropped_cell_grid(spark)
    if sink == "grib2":
        assert G2.write_grib2_partitioned(grid, out, ["d2m", "u10"]) == 1
        decode = G2.grib2_decode
    elif sink == "grib1":
        assert G1.write_grib1_partitioned(grid, out, ["d2m", "u10"]) == 1
        decode = G1.grib1_decode
    else:
        register(spark)
        grid.repartition(1).write.format("weather").mode("overwrite").save(out)
        decode = G2.grib2_decode
    (path,) = [os.path.join(out, f) for f in os.listdir(out) if f != "_MANIFEST"]
    back = decode(path, None).set_index(["latitude", "longitude"])
    assert len(back) == 4
    assert back.loc[(49.0, 2.25), "d2m"] == pytest.approx(101.0)
    assert back.loc[(48.75, 2.0), "u10"] == pytest.approx(-7.0)
    assert np.isnan(back.loc[(48.75, 2.25), "d2m"])
    assert np.isnan(back.loc[(48.75, 2.25), "u10"])
