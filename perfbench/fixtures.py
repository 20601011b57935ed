"""Seeded inputs for the benchmark workloads.

Everything is written by the repo's own writers, so the benchmark needs
no downloads:

- ``weather_stores`` writes one small store per weather format (Zarr v2
  with zlib and with zstd chunks, GRIB2 with simple, complex and
  JPEG 2000 packing, NetCDF-4 deflate, NetCDF-3) plus the NumPy-computed
  daily averages the queries must return;
- ``ingest_days`` writes seeded days of GRIB2 files for the sink
  workload, with the per-day row count and value sum.

The same seed gives byte-identical files.
"""

from __future__ import annotations

import ctypes
import ctypes.util
import json
import math
import os

import numpy as np
import pandas as pd

VARS = ("d2m", "u10")
INGEST_VARS = ("d2m", "u10", "v10")
START = pd.Timestamp("2024-01-01")
# New York City on the 0..360 longitude grid; edges sit between grid
# points of every resolution used here, so membership is unambiguous
CITY_LAT = (39.9, 41.1)
CITY_LON = (285.4, 286.6)
# ingest "area" ops restrict to this north-east quarter of the domain
AREA_LAT = (40.1, 50.0)
AREA_LON = (285.1, 300.0)
GRIB_DECIMALS = 2

# format -> (grid step in degrees, times per day, days, files, zarr chunk)
# Sized so a full scan of each takes a similar share of a pass on a
# 4-core host (about a second, most of it per-query Spark overhead):
# the pure-Python zstd and JPEG 2000 decoders and the slower complex
# packing get smaller grids than the C-backed codecs.
FORMATS = {
    "zarr_zlib": (0.125, 12, 2, 1, (6, 41, 61)),
    "zarr_zstd": (0.5, 12, 2, 1, (6, 21, 31)),
    "grib2_simple": (0.125, 12, 2, 4, None),
    "grib2_complex": (0.25, 12, 2, 4, None),
    "grib2_j2k": (1.0, 4, 2, 4, None),
    "nc4_deflate": (0.125, 12, 2, 4, None),
    "nc3": (0.125, 12, 2, 4, None),
}
INGEST_STEP, INGEST_TIMES, INGEST_DAYS, INGEST_FILES = 0.5, 24, 2, 4
# warm-up inputs: same formats and layout on a grid this many times
# coarser, so a warm-up pass runs the same plans on other data
WARM_COARSEN = 2


def grid(step: float) -> tuple[np.ndarray, np.ndarray]:
    """Descending latitudes 50..30 and ascending longitudes 270..300."""
    n_lat = int(round(20 / step)) + 1
    n_lon = int(round(30 / step)) + 1
    return np.linspace(50.0, 30.0, n_lat), np.linspace(270.0, 300.0, n_lon)


def field(rng: np.random.Generator, var: str, times: pd.DatetimeIndex,
          lats: np.ndarray, lons: np.ndarray) -> np.ndarray:
    """Smooth seeded weather-like cube (time, lat, lon) plus noise."""
    base, amp = {"d2m": (272.0, 12.0), "u10": (0.0, 9.0), "v10": (1.0, 7.0)}[var]
    p1, p2, p3 = rng.uniform(0, 2 * math.pi, 3)
    hours = ((times - START) / pd.Timedelta(hours=1)).to_numpy(dtype="f8")
    t = hours[:, None, None]
    la = lats[None, :, None]
    lo = lons[None, None, :]
    cube = (
        base
        + amp * np.sin(la / 6.0 + p1 + t / 11.0)
        + 0.5 * amp * np.cos(lo / 4.0 + p2)
        + 0.25 * amp * np.sin(t / 5.0 + p3)
    )
    return cube + rng.normal(0.0, 0.4, cube.shape)


def _times(per_day: int, days: int) -> pd.DatetimeIndex:
    step = pd.Timedelta(hours=24 // per_day)
    return pd.DatetimeIndex([START + i * step for i in range(per_day * days)])


def _split(n: int, parts: int) -> list[slice]:
    edges = np.linspace(0, n, parts + 1).round().astype(int)
    return [slice(int(a), int(b)) for a, b in zip(edges[:-1], edges[1:])]


def _zstd_compress(data: bytes) -> bytes:
    """Zstandard frame at level 3 through the system libzstd (the Zarr
    zstd codec has a decoder in the package but no encoder)."""
    name = ctypes.util.find_library("zstd")
    if not name:
        raise RuntimeError("libzstd is required to write the zstd Zarr fixture")
    lib = ctypes.CDLL(name)
    size = ctypes.c_size_t
    lib.ZSTD_compressBound.argtypes, lib.ZSTD_compressBound.restype = [size], size
    lib.ZSTD_compress.argtypes = [ctypes.c_char_p, size, ctypes.c_char_p, size, ctypes.c_int]
    lib.ZSTD_compress.restype = size
    lib.ZSTD_isError.argtypes, lib.ZSTD_isError.restype = [size], ctypes.c_uint
    bound = lib.ZSTD_compressBound(ctypes.c_size_t(len(data)))
    dst = ctypes.create_string_buffer(bound)
    n = lib.ZSTD_compress(dst, ctypes.c_size_t(bound), data,
                          ctypes.c_size_t(len(data)), ctypes.c_int(3))
    if lib.ZSTD_isError(ctypes.c_size_t(n)):
        raise RuntimeError("ZSTD_compress failed")
    return dst.raw[:n]


def _write_zarr(store: str, cubes: dict, times, lats, lons, chunks, codec: str) -> int:
    """Multi-chunk Zarr v2 store: coordinates via ``_write_array``, data
    chunks through the package's zlib compressor or libzstd. Returns
    the number of data chunks per variable."""
    from weather_tools_spark.sources.zarr_v2 import (
        ZMETADATA, _compress, _put_bytes, _write_array, _zarray,
    )

    comp = {"id": "zlib", "level": 1}
    data_comp = comp if codec == "zlib" else {"id": "zstd", "level": 3}
    md: dict = {".zgroup": {"zarr_format": 2}, ".zattrs": {}}
    _put_bytes(os.path.join(store, ".zgroup"), json.dumps({"zarr_format": 2}).encode())
    secs = (times.asi8 // 1_000_000_000).astype("<i8")
    md.update(_write_array(store, "time", secs, ("time",), comp))
    md.update(_write_array(store, "latitude", lats.astype("<f8"), ("latitude",), comp))
    md.update(_write_array(store, "longitude", lons.astype("<f8"), ("longitude",), comp))
    shape = (len(times), len(lats), len(lons))
    n = [math.ceil(s / c) for s, c in zip(shape, chunks)]
    for v, cube in cubes.items():
        za = _zarray(shape, chunks, "<f8", data_comp, "NaN")
        zattrs = {"_ARRAY_DIMENSIONS": ["time", "latitude", "longitude"]}
        _put_bytes(os.path.join(store, v, ".zarray"), json.dumps(za).encode())
        _put_bytes(os.path.join(store, v, ".zattrs"), json.dumps(zattrs).encode())
        md[f"{v}/.zarray"], md[f"{v}/.zattrs"] = za, zattrs
        for i in range(n[0]):
            for j in range(n[1]):
                for k in range(n[2]):
                    block = np.full(chunks, np.nan, dtype="<f8")
                    part = cube[i * chunks[0]:(i + 1) * chunks[0],
                                j * chunks[1]:(j + 1) * chunks[1],
                                k * chunks[2]:(k + 1) * chunks[2]]
                    block[:part.shape[0], :part.shape[1], :part.shape[2]] = part
                    raw = block.tobytes()
                    data = _compress(raw, comp, 8) if codec == "zlib" else _zstd_compress(raw)
                    _put_bytes(os.path.join(store, v, f"{i}.{j}.{k}"), data)
    _put_bytes(
        os.path.join(store, ZMETADATA),
        json.dumps({"zarr_consolidated_format": 1, "metadata": md}).encode(),
    )
    return n[0] * n[1] * n[2]


def _write_grib(path: str, cubes: dict, times, lats, lons, packing: str) -> None:
    from weather_tools_spark.sources.grib2 import write_grib2

    messages = [
        {"param": v, "ref_time": t, "lats": lats, "lons": lons, "values": cubes[v][i]}
        for i, t in enumerate(times)
        for v in cubes
    ]
    write_grib2(path, messages, decimal_scale=GRIB_DECIMALS, packing=packing)


def _write_nc(path: str, cubes: dict, times, lats, lons, version: int) -> None:
    secs = (times.asi8 // 1_000_000_000)
    if version == 4:
        from weather_tools_spark.sources.hdf5 import write_netcdf4

        coords = {"time": secs.astype("<i8"), "latitude": lats, "longitude": lons}
        write_netcdf4(path, coords, cubes, chunk=(len(times), 21, 31))
    else:
        from weather_tools_spark.sources.netcdf3 import write_netcdf3

        coords = {"time": secs.astype(">i4"), "latitude": lats, "longitude": lons}
        write_netcdf3(path, coords, cubes)


def _daily(cube: np.ndarray, times, mask: np.ndarray | None) -> dict[str, float]:
    days = times.strftime("%Y-%m-%d")
    out = {}
    for d in sorted(set(days)):
        sel = cube[np.asarray(days == d)]
        out[d] = float(sel[:, mask].mean() if mask is not None else sel.mean())
    return out


def _kept_frac(lats, lons, chunks, lat_range, lon_range) -> float:
    """Share of chunks whose lat/lon extent overlaps the ranges (the
    chunk manifest's min/max pruning rule)."""
    def kept(axis, c, lo, hi):
        parts = [axis[i:i + c] for i in range(0, len(axis), c)]
        return sum(1 for p in parts if p.max() >= lo and p.min() <= hi), len(parts)

    (ka, na), (ko, no) = kept(lats, chunks[1], *lat_range), kept(lons, chunks[2], *lon_range)
    return ka * ko / (na * no)


def _bbox_mask(lats, lons, lat_range, lon_range) -> np.ndarray:
    la = (lats >= lat_range[0]) & (lats <= lat_range[1])
    lo = (lons >= lon_range[0]) & (lons <= lon_range[1])
    return la[:, None] & lo[None, :]


def _weather_store(out_dir: str, seed: int, k: int, fmt: str, coarsen: int) -> dict:
    step, per_day, days, n_files, chunks = FORMATS[fmt]
    rng = np.random.default_rng([seed, k, coarsen])
    lats, lons = grid(step * coarsen)
    times = _times(per_day, days)
    cubes = {v: field(rng, v, times, lats, lons) for v in VARS}
    if fmt.startswith("grib2"):
        # the query sees the packed values: compare at their step
        tol = 0.5 * 10.0 ** -GRIB_DECIMALS + 1e-9
    else:
        tol = 1e-9
    base = os.path.join(out_dir, fmt)
    files = []
    if fmt.startswith("zarr"):
        uri = base + ".zarr"
        n_chunks = _write_zarr(uri, cubes, times, lats, lons, chunks, fmt.split("_")[1])
        kept_frac = _kept_frac(lats, lons, chunks, CITY_LAT, CITY_LON)
    else:
        os.makedirs(base, exist_ok=True)
        ext = {"grib2": "grib2", "nc4": "nc4", "nc3": "nc"}[fmt.split("_")[0]]
        for i, sl in enumerate(_split(len(times), n_files)):
            path = os.path.join(base, f"part{i}.{ext}")
            part = {v: np.ascontiguousarray(c[sl]) for v, c in cubes.items()}
            if fmt.startswith("grib2"):
                packing = {"simple": "simple", "complex": "complex",
                           "j2k": "jpeg2000"}[fmt.split("_")[1]]
                _write_grib(path, part, times[sl], lats, lons, packing)
            else:
                _write_nc(path, part, times[sl], lats, lons, 4 if fmt == "nc4_deflate" else 3)
            files.append(path)
        uri = os.path.join(base, f"part*.{ext}")
        n_chunks, kept_frac = n_files, 1.0  # file formats decode whole files
    city = _bbox_mask(lats, lons, CITY_LAT, CITY_LON)
    return {
        "uri": uri,
        "files": files,
        "cells": int(len(times) * len(lats) * len(lons) * len(VARS)),
        "chunks": int(n_chunks),
        "kept_frac": kept_frac,
        "tol": tol,
        "full": _daily(cubes["d2m"], times, None),
        "pruned": _daily(cubes["d2m"], times, city),
    }


def weather_stores(out_dir: str, seed: int, coarsen: int = 1) -> dict:
    """Write every weather-query store for ``seed`` under ``out_dir``
    (one forked process per format, one per usable core at a time) and return, and
    save as ``expected.json``, their description: URI, cell and chunk
    counts, and the expected daily averages of ``d2m``, full and
    city-pruned. ``coarsen`` multiplies the grid step."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    os.makedirs(out_dir, exist_ok=True)
    fmts = sorted(FORMATS)
    # fork: a spawned worker re-imports NumPy, pandas and the package,
    # which doubles the time; inputs are written before the session
    # (and its threads) starts
    ctx = multiprocessing.get_context("fork")
    with ProcessPoolExecutor(len(os.sched_getaffinity(0)), mp_context=ctx) as pool:
        n = len(fmts)
        descs = pool.map(_weather_store, [out_dir] * n, [seed] * n, range(n), fmts,
                         [coarsen] * n)
        desc = dict(zip(fmts, descs))
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(desc, f, indent=1, sort_keys=True)
    return desc


def ingest_days(out_dir: str, seed: int, coarsen: int = 1) -> list[dict]:
    """Seeded GRIB2 (simple packing) days for the sink workload, each
    split over ``INGEST_FILES`` files. Returns per day: glob URI, file
    list, and the row count and per-variable value sum of the packed
    values, full and restricted to the ingest area."""
    lats, lons = grid(INGEST_STEP * coarsen)
    area = _bbox_mask(lats, lons, AREA_LAT, AREA_LON)
    days = []
    for d in range(INGEST_DAYS):
        rng = np.random.default_rng([seed, 100 + d, coarsen])
        t0 = START + pd.Timedelta(days=d)
        times = pd.DatetimeIndex([t0 + pd.Timedelta(hours=h) for h in range(INGEST_TIMES)])
        cubes = {v: field(rng, v, times, lats, lons) for v in INGEST_VARS}
        base = os.path.join(out_dir, f"day{d}")
        os.makedirs(base, exist_ok=True)
        files = []
        for i, sl in enumerate(_split(len(times), INGEST_FILES)):
            path = os.path.join(base, f"part{i}.grib2")
            _write_grib(path, {v: np.ascontiguousarray(c[sl]) for v, c in cubes.items()},
                        times[sl], lats, lons, "simple")
            files.append(path)
        scale = 10.0 ** GRIB_DECIMALS
        packed = {v: np.round(c * scale) / scale for v, c in cubes.items()}
        days.append({
            "uri": os.path.join(base, "part*.grib2"),
            "files": files,
            "rows": int(len(times) * len(lats) * len(lons)),
            "area_rows": int(len(times) * area.sum()),
            "sum": {v: float(p.sum()) for v, p in packed.items()},
            "area_sum": {v: float(p[:, area].sum()) for v, p in packed.items()},
        })
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(days, f, indent=1, sort_keys=True)
    return days
