"""Single-threaded decode throughput per codec.

Each probe calls the package's public decoder on the workload's own
files in this process, with no Spark involved, so the figure does not
depend on the scheduler: MB of float64 values decoded per second of one
core.
"""

from __future__ import annotations

import glob
import itertools
import time

MIN_SECONDS = 0.3


def _zarr_units(store: str) -> list:
    from weather_tools_spark.sources.zarr_v2 import decode_chunk, read_store_metadata

    md = read_store_metadata(store)
    units = []
    for key, za in md.items():
        if not key.endswith("/.zarray") or len(za["shape"]) != 3:
            continue
        var = key.split("/")[0]
        n = [-(-s // c) for s, c in zip(za["shape"], za["chunks"])]
        for i in range(n[0]):
            for j in range(n[1]):
                for k in range(n[2]):
                    units.append(lambda v=var, z=za, c=(i, j, k): decode_chunk(store, v, z, c).size)
    return units


def _file_units(paths: list[str], decode) -> list:
    def one(p):
        pdf = decode(p)
        data = [c for c in pdf.columns if c not in ("time", "latitude", "longitude")]
        return len(pdf) * len(data)

    return [lambda p=p: one(p) for p in paths]


def decoders(codec: str, source: str) -> list:
    """Zero-argument callables, each decoding one chunk or file of
    ``source`` with ``codec``'s public decoder and returning the
    number of values it produced."""
    if codec.startswith("zarr"):
        return _zarr_units(source)
    paths = sorted(glob.glob(source))
    if codec.startswith("grib2"):
        # JPEG 2000 packing goes through jpeg2000.decode_j2k inside
        from weather_tools_spark.sources.grib2 import grib2_decode as decode
    elif codec == "nc4_deflate":
        from weather_tools_spark.sources.hdf5 import nc4_decode as decode
    elif codec == "nc3":
        from weather_tools_spark.sources.netcdf3 import nc3_decode

        def decode(p):
            return nc3_decode(p, None)
    else:
        raise ValueError(f"unknown codec {codec!r}")
    return _file_units(paths, decode)


def probe(codec: str, source: str) -> float:
    """MB/s of decoded float64 values, decoding the units of
    ``source`` in turn until at least ``MIN_SECONDS`` have passed."""
    units = decoders(codec, source)
    values, t0 = 0, time.perf_counter()
    for i in itertools.count():
        values += units[i % len(units)]()
        elapsed = time.perf_counter() - t0
        if elapsed >= MIN_SECONDS:
            return values * 8 / 1e6 / elapsed

