"""Golden tests for the stdlib GeoTIFF codec (sources/geotiff.py):
self-written rasters parse back byte-identically with correct
georeferencing; the distributed sink writes one valid raster per time
slice. Reference semantics: rioxarray/rasterio open + COG output in
weather_mv loader_pipeline (sinks.py engine dispatch, regrid.py)."""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pytest

from weather_tools_spark.sources import geotiff as GT
from weather_tools_spark.sources import hypercube as H


def _raster():
    # 3 rows (lat 52.0 down to 51.5) x 4 cols (lon 4.0..4.75), north-up
    arr = (np.arange(12, dtype="f8") * 1.5 - 2.25).reshape(3, 4)
    return arr, (4.0, 52.0), (0.25, 0.25)


@pytest.mark.parametrize("compression", ["deflate", None])
def test_roundtrip_byte_identical(tmp_path, compression):
    arr, origin, pixel = _raster()
    path = str(tmp_path / "t.tif")
    GT.write_geotiff(path, arr, origin, pixel, compression)

    buf = open(path, "rb").read()
    assert buf[:4] == b"II*\x00"  # little-endian classic TIFF magic
    assert GT.is_tiff(path)

    got, g_origin, g_pixel = GT.read_geotiff(path)
    assert np.array_equal(got, arr)  # exact float64 — byte-identical
    assert g_origin == origin and g_pixel == pixel


def test_decode_long_format_georeferencing(spark, tmp_path):
    arr, origin, pixel = _raster()
    path = str(tmp_path / "t.tif")
    GT.write_geotiff(path, arr, origin, pixel)
    pdf = GT.gtiff_decode(path, value_col="d2m")
    assert len(pdf) == 12
    # cell (row 1, col 2): lat 52.0-0.25, lon 4.0+0.5, value idx 6
    row = pdf[(pdf.latitude == 51.75) & (pdf.longitude == 4.5)]
    assert float(row.d2m.iloc[0]) == 6 * 1.5 - 2.25
    # north-up: first row is the max latitude
    assert pdf.latitude.iloc[0] == 52.0

    # the area applies in ingest; a raster has no time axis, so a time
    # option leaves its cells alone
    from pyspark.sql.types import _parse_datatype_string

    opts = H.IngestOptions(area=(52.0, 4.4, 51.6, 4.8), start_time="2024-01-01")
    assert len(GT.gtiff_decode(path, opts)) == 12
    schema = _parse_datatype_string(
        "latitude double, longitude double, value double, "
        "data_uri string, data_first_step timestamp"
    )
    clipped = H.ingest(spark, [path], opts, schema=schema).collect()
    assert {(r.latitude, r.longitude): r.value for r in clipped} == {
        (52.0, 4.5): 2 * 1.5 - 2.25, (52.0, 4.75): 3 * 1.5 - 2.25,
        (51.75, 4.5): 6 * 1.5 - 2.25, (51.75, 4.75): 7 * 1.5 - 2.25,
    }



def test_ingest_under_the_default_schema_gives_a_null_time(spark, tmp_path):
    """A raster has no time axis: under the default ``ROW_SCHEMA`` its
    cells ingest with a typed null ``time``."""
    arr, origin, pixel = _raster()
    path = str(tmp_path / "t.tif")
    GT.write_geotiff(path, arr, origin, pixel)
    rows = H.ingest(spark, [path], H.IngestOptions(area=(52.0, 4.4, 51.6, 4.8))).collect()
    assert {(r.latitude, r.longitude) for r in rows} == {
        (52.0, 4.5), (52.0, 4.75), (51.75, 4.5), (51.75, 4.75),
    }
    assert all(r.time is None and r.data_first_step is None for r in rows)

def test_partitioned_sink_one_raster_per_slice(spark, tmp_path):
    rows = []
    for h in (0, 12):
        for la in (50.0, 49.75):
            for lo in (7.0, 7.25, 7.5):
                rows.append(
                    (pd.Timestamp(f"2024-05-01 {h:02d}:00:00").to_pydatetime(),
                     la, lo, float(h * 10 + la + lo))
                )
    df = spark.createDataFrame(rows, "time timestamp, latitude double, longitude double, value double")
    out = str(tmp_path / "tiffs")
    n = GT.write_geotiff_partitioned(df, out)
    assert n == 2

    import os

    files = sorted(os.listdir(out))
    assert files == ["2024-05-01T00.tif", "2024-05-01T12.tif"]
    back = GT.gtiff_decode(os.path.join(out, "2024-05-01T12.tif"))
    want = {(la, lo): v for t, la, lo, v in rows if t.hour == 12}
    assert len(back) == len(want)
    for _, r in back.iterrows():
        assert want[(r.latitude, r.longitude)] == r.value


def test_missing_cells_are_nan(spark, tmp_path):
    df = spark.createDataFrame(
        [(pd.Timestamp("2024-05-01 00:00:00").to_pydatetime(), la, lo, 1.0)
         for la in (50.0, 49.75) for lo in (7.0, 7.25) if not (la == 50.0 and lo == 7.25)],
        "time timestamp, latitude double, longitude double, value double",
    )
    out = str(tmp_path / "sparse")
    GT.write_geotiff_partitioned(df, out)
    import os

    back = GT.gtiff_decode(os.path.join(out, "2024-05-01T00.tif"))
    miss = back[(back.latitude == 50.0) & (back.longitude == 7.25)]
    assert np.isnan(miss.value.iloc[0])
    assert back.value.notna().sum() == 3


def test_rejects_non_tiff(tmp_path):
    p = tmp_path / "junk.tif"
    p.write_bytes(b"CDF\x01" + b"\x00" * 32)
    assert not GT.is_tiff(str(p))
    with pytest.raises(ValueError):
        GT.read_geotiff(str(p))


def test_cog_tiled_roundtrip_with_overviews(tmp_path):
    """COG layout: tiled storage + reduced-resolution IFD chain, all
    metadata at the file front. Full-res assembly from tiles is
    byte-identical; the overview is the 2x nearest decimation; a ragged
    grid (not tile-aligned) pads and crops correctly."""
    h, w = 200, 300  # not multiples of the 128 tile → ragged edge tiles
    arr = (np.arange(h * w, dtype="f8").reshape(h, w) * 0.5) - 17.25
    path = str(tmp_path / "c.tif")
    GT.write_cog(path, arr, (3.0, 55.0), (0.01, 0.01), tile=128, overview_levels=2)

    buf = open(path, "rb").read()
    # COG property: both IFDs precede every tile byte; IFD0 starts at 8
    assert struct.unpack_from("<I", buf, 4)[0] == 8

    got, origin, pixel = GT.read_geotiff(path)
    assert np.array_equal(got, arr)
    assert origin == (3.0, 55.0) and pixel == (0.01, 0.01)

    ovs = GT.read_overviews(path)
    assert len(ovs) == 2
    assert np.array_equal(ovs[0][: (h + 1) // 2, : (w + 1) // 2], arr[::2, ::2])
    assert np.array_equal(ovs[1][: (h + 3) // 4, : (w + 3) // 4], arr[::4, ::4])

    # decode path handles the tiled layout transparently
    pdf = GT.gtiff_decode(path)
    assert len(pdf) == h * w
    assert float(pdf[(pdf.latitude == 55.0) & (pdf.longitude == 3.0)].value.iloc[0]) == -17.25


def test_cog_uncompressed_and_tile_validation(tmp_path):
    arr = np.ones((20, 20), dtype="f8")
    path = str(tmp_path / "u.tif")
    GT.write_cog(path, arr, (0.0, 1.0), (0.05, 0.05), tile=16, compression=None,
                 overview_levels=0)
    got, _, _ = GT.read_geotiff(path)
    assert np.array_equal(got, arr)
    assert GT.read_overviews(path) == []
    with pytest.raises(ValueError, match="multiples of 16"):
        GT.write_cog(path, arr, (0.0, 1.0), (0.05, 0.05), tile=100)
