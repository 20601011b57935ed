"""Hypercube ingest: decode plumbing, projection matching, GRIB name
normalization goldens, geo attachment, zarr chunk pruning."""

from __future__ import annotations

from pyspark.sql import functions as F

from weather_tools_spark.sources import hypercube as H
from weather_tools_spark.sources import zarr_scan as Z


def test_normalized_var_name_goldens():
    # reference rule sinks.py:302-306: >=10 → {:.0f}; <10 → {:.2f} with '.'→'_'
    assert H.normalized_var_name("isobaricInhPa", 500.0, "instant", "z") == "isobaricInhPa_500_instant_z"
    assert H.normalized_var_name("isobaricInhPa", 850.0, "instant", "t") == "isobaricInhPa_850_instant_t"
    assert H.normalized_var_name("surface", 0.0, "instant", "t2m") == "surface_0_00_instant_t2m"
    assert H.normalized_var_name("heightAboveGround", 2.0, "instant", "d2m") == "heightAboveGround_2_00_instant_d2m"
    assert H.normalized_var_name("depthBelowLand", 1.5, "instant", "stl1") == "depthBelowLand_1_50_instant_stl1"
    assert H.normalized_var_name("heightAboveGround", 10.6, "instant", "u") == "heightAboveGround_11_instant_u"


def test_variable_projection_matching():
    assert H.matches_variable("d2m", "d2m")
    assert H.matches_variable("surface_0_00_instant_t2m", "t2m")  # suffix
    assert H.matches_variable("t2m_something", "t2m")  # prefix
    assert not H.matches_variable("xt2m", "t2m")


def test_ingest_fake_grid(spark):
    uris = ["mem://a.nc", "mem://b.nc"]
    df = H.ingest(spark, uris)
    # 2 files × 3 times × 5 lats × 5 lons
    assert df.count() == 2 * 3 * 5 * 5
    assert set(df.columns) >= {"time", "latitude", "longitude", "d2m", "data_uri", "data_first_step"}
    firsts = df.select("data_uri", "data_first_step").distinct().collect()
    assert len(firsts) == 2  # per-file first step recorded


def test_ingest_area_and_time_filter(spark):
    opts = H.IngestOptions(area=(48.0, -107.0, 46.0, -105.0), start_time="2018-01-02 12:00:00")
    df = H.ingest(spark, ["mem://a.nc"], opts)
    rows = df.collect()
    assert all(46.0 <= r.latitude <= 48.0 for r in rows)
    assert all(-107.0 <= r.longitude <= -105.0 for r in rows)
    assert all(r.time.hour >= 12 for r in rows)
    # 2 remaining times × 3 lats × 3 lons
    assert len(rows) == 2 * 3 * 3


def test_ingest_variable_projection(spark):
    df = H.ingest(spark, ["mem://a.nc"], H.IngestOptions(variables=["d2m"]))
    assert "d2m" in df.columns and "u10" not in df.columns


def test_attach_geo(spark):
    df = H.ingest(spark, ["mem://a.nc"])
    geo = H.attach_geo(df, lat_res=1.0, lon_res=1.0)
    row = geo.filter((F.col("latitude") == 49.0) & (F.col("longitude") == -108.0)).first()
    assert '"type":"Point"' in row.geo_point.replace(" ", "")
    assert "-108.0" in row.geo_point and "49.0" in row.geo_point
    assert '"type":"Polygon"' in row.geo_polygon.replace(" ", "")


def test_with_system_columns(spark):
    df = H.ingest(spark, ["mem://a.nc"])
    out = H.with_system_columns(df, import_time="1970-01-01 00:00:00")
    assert out.select(F.min("data_import_time")).first()[0].year == 1970


def _meta() -> Z.ChunkedDatasetMeta:
    import pandas as pd

    times = [str(t) for t in pd.date_range("2018-01-01", periods=48, freq="h")]
    lats = [49.0 - i for i in range(8)]  # descending
    lons = [-108.0 + i for i in range(8)]
    return Z.ChunkedDatasetMeta(
        uri="mem://store.zarr", times=times, lats=lats, lons=lons,
        chunk_time=24, chunk_lat=2, chunk_lon=2,
    )


def test_chunk_manifest_enumeration(spark):
    m = Z.chunk_manifest(spark, _meta())
    assert m.count() == 2 * 4 * 4  # 48/24 × 8/2 × 8/2


def test_chunk_pruning_reduces_chunks(spark):
    meta = _meta()
    pruned = Z.prune_chunks(
        Z.chunk_table(meta),
        time_range=("2018-01-01 00:00:00", "2018-01-01 12:00:00"),
        lat_range=(48.0, 49.0),
        lon_range=(-108.0, -107.0),
    )
    assert len(pruned) == 1  # one time chunk × one lat chunk × one lon chunk


def _store(spark, tmp_path) -> Z.ChunkedDatasetMeta:
    """``_meta()``'s geometry written as a real Zarr store, each value
    an exact function of its variable and cell."""
    import dataclasses

    import pandas as pd

    from weather_tools_spark.sources import zarr_v2 as Z2

    meta = dataclasses.replace(_meta(), uri=str(tmp_path / "store.zarr"))
    rows = [
        (t.to_pydatetime(), la, lo) + tuple(ti * 1e4 + lai * 100 + loi + k + 0.25 for k in range(3))
        for ti, t in enumerate(pd.to_datetime(meta.times))
        for lai, la in enumerate(meta.lats)
        for loi, lo in enumerate(meta.lons)
    ]
    src = spark.createDataFrame(rows, ["time", "latitude", "longitude", *meta.variables])
    Z2.write_zarr_v2(src, meta.uri, meta)
    return Z2.open_zarr_v2(meta.uri)


def test_stream_ingest_chunks_match_batch_scan(spark, tmp_path):
    """Streaming chunk ingest (foreachBatch) must deliver exactly the
    rows the batch scan produces, across micro-batches."""
    meta = _store(spark, tmp_path)
    n_chunks = Z.write_chunk_specs(spark, meta, str(tmp_path / "specs"))
    assert n_chunks == 2 * 4 * 4
    out_dir = str(tmp_path / "rows")
    batches = []

    def sink(df, batch_id):
        batches.append(batch_id)
        df.write.mode("append").parquet(out_dir)

    q = Z.stream_ingest(
        spark, meta, str(tmp_path / "specs"), sink,
        max_chunks_per_trigger=8, checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(300), "streaming ingest did not finish in time"
    got = spark.read.parquet(out_dir)
    want = Z.scan(spark, meta)
    assert got.count() == want.count() == 48 * 8 * 8
    key = ["time", "latitude", "longitude"]
    a = got.orderBy(key).toPandas()[key + ["d2m"]].reset_index(drop=True)
    b = want.orderBy(key).toPandas()[key + ["d2m"]].reset_index(drop=True)
    assert a.equals(b)
    # 32 specs over ~32 files at 8 files/trigger → several micro-batches
    # (round-robin repartition can leave a few empty files, so the exact
    # count may be one less than ceil(32/8))
    assert len(batches) >= 3, batches


def test_pruned_scan_equals_full_scan_filtered(spark, tmp_path):
    meta = _store(spark, tmp_path)
    tr = ("2018-01-01 06:00:00", "2018-01-02 06:00:00")
    la = (46.0, 48.0)
    lo = (-106.0, -104.0)
    pruned = Z.scan(spark, meta, time_range=tr, lat_range=la, lon_range=lo).toPandas()
    full = (
        Z.scan(spark, meta)
        .filter(
            (F.col("time") >= F.lit(tr[0]).cast("timestamp"))
            & (F.col("time") < F.lit(tr[1]).cast("timestamp"))
            & F.col("latitude").between(*la)
            & F.col("longitude").between(*lo)
        )
        .toPandas()
    )
    key = ["time", "latitude", "longitude"]
    a = pruned.sort_values(key).reset_index(drop=True)
    b = full.sort_values(key).reset_index(drop=True)
    assert a.equals(b)
    assert len(a) == 24 * 3 * 3


def test_merge_normalized_wide_schema(spark):
    import datetime as dt

    t1 = dt.datetime(2018, 1, 1)
    coords = [(t1, 49.0, -108.0), (t1, 48.0, -108.0)]
    z500 = spark.createDataFrame(
        [(t, la, lo, 5500.0 + i) for i, (t, la, lo) in enumerate(coords)],
        "time timestamp, latitude double, longitude double, value double",
    )
    # t850 covers only ONE of the coordinates → NULL alignment expected
    t850 = spark.createDataFrame(
        [(coords[0][0], 49.0, -108.0, 280.5)],
        "time timestamp, latitude double, longitude double, value double",
    )
    wide = H.merge_normalized(
        [("isobaricInhPa", 500.0, "instant", "z", z500),
         ("isobaricInhPa", 850.0, "instant", "t", t850)]
    )
    assert set(wide.columns) == {
        "time", "latitude", "longitude",
        "isobaricInhPa_500_instant_z", "isobaricInhPa_850_instant_t",
    }
    rows = {r.latitude: r for r in wide.collect()}
    assert rows[49.0].isobaricInhPa_850_instant_t == 280.5
    assert rows[48.0].isobaricInhPa_850_instant_t is None  # xr.merge-style NULL fill


def test_default_decoder_detection(monkeypatch, tmp_path):
    """A real file no magic-byte probe recognises: decode_auto raises
    detect's ValueError without xarray, never invents fake rows; once
    xarray is importable it goes to the xarray branch (reference
    dispatch sinks.py:437-519)."""
    import importlib.machinery
    import sys
    import types

    import pandas as pd
    import pytest

    stray = str(tmp_path / "notes.txt")
    with open(stray, "w") as f:
        f.write("not a weather file")
    with pytest.raises(ValueError, match="unable to open dataset"):
        H.decode_auto(stray, H.IngestOptions())

    # inject a stub xarray module: find_spec must see it and route the
    # unrecognised file to the real branch
    stub = types.ModuleType("xarray")
    stub.__spec__ = importlib.machinery.ModuleSpec("xarray", loader=None)
    monkeypatch.setitem(sys.modules, "xarray", stub)
    monkeypatch.setattr(H, "_xarray_decode", lambda path, opts: pd.DataFrame({"path": [path]}))
    assert H.decode_auto(stray, H.IngestOptions())["path"].tolist() == [stray]


def test_xarray_decode_real_branch(monkeypatch):
    """Monkeypatched fake xarray exercises the REAL decoder path:
    store-layout dispatch (zarr store → open_zarr, plain file →
    open_dataset), time/area .sel slicing with descending-latitude
    handling, variables projection, and the to_dataframe →
    reset_index → column-order normalization handoff."""
    import importlib.machinery
    import sys
    import types

    import numpy as np
    import pandas as pd

    calls = {}

    class FakeAxis:
        values = np.array([10.0, 5.0, -10.0])  # descending (ERA5 convention)

    class FakeDS:
        data_vars = {"d2m": None, "u10": None}

        def __getitem__(self, key):
            if isinstance(key, list):  # variables projection
                calls["project"] = key
                return self
            assert key == "latitude"
            return FakeAxis()

        def sel(self, **kw):
            calls.setdefault("sel", []).append(kw)
            return self

        def to_dataframe(self):
            return pd.DataFrame(
                {"d2m": [280.0], "latitude": [1.0],
                 "longitude": [2.0], "time": [pd.Timestamp("2024-01-01")]}
            ).set_index("time")

    stub = types.ModuleType("xarray")
    stub.__spec__ = importlib.machinery.ModuleSpec("xarray", loader=None)

    def open_zarr(path):
        calls["open_zarr"] = path
        return FakeDS()

    def open_dataset(path, engine=None):
        calls["open"] = (path, engine)
        return FakeDS()

    stub.open_zarr = open_zarr
    stub.open_dataset = open_dataset
    monkeypatch.setitem(sys.modules, "xarray", stub)

    opts = H.IngestOptions(start_time="2024-01-01", end_time="2024-01-02",
                           area=(10.0, -5.0, -10.0, 5.0), variables=["d2m"])
    out = H._xarray_decode("/data/era5.zarr", opts)
    assert calls["open_zarr"] == "/data/era5.zarr"
    assert calls["project"] == ["d2m"]
    # both slices applied through the real branch; the descending
    # latitude axis keeps the (north, south) slice orientation
    assert any("time" in kw for kw in calls["sel"])
    lat_kw = next(kw for kw in calls["sel"] if "latitude" in kw)
    assert (lat_kw["latitude"].start, lat_kw["latitude"].stop) == (10.0, -10.0)
    # long-format normalization: coordinates lead, data vars sorted
    assert list(out.columns) == ["time", "latitude", "longitude", "d2m"]
    assert len(out) == 1
    # a plain .nc path routes through open_dataset with engine=None
    H._xarray_decode("/data/era5.nc", H.IngestOptions())
    assert calls["open"] == ("/data/era5.nc", None)

    out2 = H._xarray_decode("/data/tile.tif", opts)
    assert calls["open"] == ("/data/tile.tif", "rasterio")
    assert len(out2) == 1


def test_auto_decoder_uses_fake_for_mem_uris_even_with_xarray(spark, monkeypatch):
    """On an xarray-equipped cluster, ingest's decode_auto must NOT
    route synthetic mem:// URIs to the real branch (they have no bytes
    to open) — the deterministic fake output must be preserved."""
    import importlib.machinery
    import importlib.util
    import sys
    import types

    from weather_tools_spark.sources.cells import frame

    stub = types.ModuleType("xarray")
    stub.__spec__ = importlib.machinery.ModuleSpec("xarray", loader=None)
    monkeypatch.setitem(sys.modules, "xarray", stub)
    assert importlib.util.find_spec("xarray") is not None

    got = H.ingest(spark, ["mem://a.nc"]).select("time", "latitude", "longitude", "d2m")
    want = frame(H._fake_grid_decode("mem://a.nc", H.IngestOptions()))
    got = got.toPandas().sort_values(["time", "latitude", "longitude"], ignore_index=True)
    want = want[got.columns].sort_values(["time", "latitude", "longitude"], ignore_index=True)
    assert len(got) > 0 and got.equals(want)
