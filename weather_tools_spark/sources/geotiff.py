"""GeoTIFF codec — stdlib-only (struct + zlib + numpy).

The reference opens GeoTIFF through rioxarray and writes COG through
rasterio (weather_mv loader_pipeline/sinks.py engine dispatch;
regrid.py COG output). Those libraries are absent here, but baseline
TIFF is a public, simple container — an IFD of (tag, type, count,
value) entries pointing at strip byte ranges — and GeoTIFF adds two
plain tags for georeferencing:

- ``ModelPixelScale`` (33550, 3 doubles): (sx, sy, sz) cell size;
- ``ModelTiepoint`` (33922, 6 doubles): raster (i, j, k) ↔ model
  (x, y, z) anchor, so cell (col, row) maps to
  ``(x0 + col·sx, y0 − row·sy)``.

This module implements exactly that profile, single-band float
rasters, little-endian classic TIFF, compression None or Deflate(8):

- :func:`write_geotiff` — serialize a 2-D array + geotransform;
- :func:`read_geotiff` — parse the IFD and decode strips with
  ``np.frombuffer`` (+ zlib when Deflate);
- :func:`gtiff_decode` — raster → long-format (latitude, longitude,
  value) rows for the ingest surface, mirroring what
  ``rioxarray.open_rasterio(...).to_dataframe()`` yields;
- :func:`write_geotiff_partitioned` — distributed sink: one whole
  GeoTIFF per task (per time slice), the COG-style unit of output.

Tiled/overviewed full COG layout, multi-band, and non-trivial CRS
stay out of scope — the written files are valid GeoTIFFs any GIS tool
opens, georeferenced in EPSG:4326 lat/lon.
"""

from __future__ import annotations

import os
import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd

from .cells import Cube, frame

# TIFF tag ids
_T_SUBFILE, _T_WIDTH, _T_HEIGHT, _T_BPS, _T_COMPRESSION = 254, 256, 257, 258, 259
_T_PHOTOMETRIC, _T_STRIP_OFFSETS, _T_SPP, _T_ROWS_PER_STRIP = 262, 273, 277, 278
_T_STRIP_COUNTS, _T_SAMPLE_FORMAT = 279, 339
_T_TILE_W, _T_TILE_H, _T_TILE_OFFSETS, _T_TILE_COUNTS = 322, 323, 324, 325
_T_PIXEL_SCALE, _T_TIEPOINT = 33550, 33922
_SAMPLE_FLOAT = 3
_II = b"II*\x00"


def write_geotiff(
    path: str,
    arr: np.ndarray,
    origin: tuple[float, float],
    pixel: tuple[float, float],
    compression: str | None = "deflate",
) -> None:
    """Write a single-band float32/float64 2-D array as a georeferenced
    classic TIFF. ``origin`` is the model (x, y) of the raster's
    top-left corner (lon, lat); ``pixel`` the (sx, sy) cell size with
    north-up convention (row j sits at y = origin_y − j·sy)."""
    if arr.ndim != 2:
        raise ValueError("single-band 2-D raster expected")
    arr = np.ascontiguousarray(arr, dtype="<f8" if arr.dtype == np.float64 else "<f4")
    h, w = arr.shape
    bits = arr.dtype.itemsize * 8
    raw = arr.tobytes()
    comp = 8 if compression == "deflate" else 1
    data = zlib.compress(raw, 6) if comp == 8 else raw

    # layout: header(8) · data strip · doubles block · IFD
    data_off = 8
    scale_off = data_off + len(data) + (-len(data) % 2)
    tie_off = scale_off + 3 * 8
    ifd_off = tie_off + 6 * 8

    entries = [
        (_T_WIDTH, 3, 1, w),
        (_T_HEIGHT, 3, 1, h),
        (_T_BPS, 3, 1, bits),
        (_T_COMPRESSION, 3, 1, comp),
        (_T_PHOTOMETRIC, 3, 1, 1),  # BlackIsZero
        (_T_STRIP_OFFSETS, 4, 1, data_off),
        (_T_SPP, 3, 1, 1),
        (_T_ROWS_PER_STRIP, 3, 1, h),  # one strip
        (_T_STRIP_COUNTS, 4, 1, len(data)),
        (_T_SAMPLE_FORMAT, 3, 1, _SAMPLE_FLOAT),
        (_T_PIXEL_SCALE, 12, 3, scale_off),
        (_T_TIEPOINT, 12, 6, tie_off),
    ]
    ifd = struct.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        ifd += struct.pack("<HHII", tag, typ, cnt, val)
    ifd += struct.pack("<I", 0)  # no next IFD

    with open(path, "wb") as f:
        f.write(_II + struct.pack("<I", ifd_off))
        f.write(data + b"\x00" * (-len(data) % 2))
        f.write(struct.pack("<3d", pixel[0], pixel[1], 0.0))
        f.write(struct.pack("<6d", 0.0, 0.0, 0.0, origin[0], origin[1], 0.0))
        f.write(ifd)


def write_cog(
    path: str,
    arr: np.ndarray,
    origin: tuple[float, float],
    pixel: tuple[float, float],
    tile: int = 128,
    overview_levels: int = 1,
    compression: str | None = "deflate",
) -> None:
    """Cloud-Optimized GeoTIFF layout: TILED storage (TileWidth/
    TileLength/TileOffsets/TileByteCounts, tiles padded to the tile
    grid) plus ``overview_levels`` reduced-resolution IFDs
    (NewSubfileType=1, 2× decimation per level), with ALL IFDs and
    offset arrays at the FRONT of the file and tile bytes after — the
    layout that lets an HTTP range reader plan from one header fetch
    (the reference writes COG through rasterio,
    weather_mv/loader_pipeline/regrid.py). ``tile`` must be a multiple
    of 16 (TIFF spec)."""
    if tile % 16:
        raise ValueError("TIFF tile dimensions must be multiples of 16")
    arr = np.ascontiguousarray(arr, dtype="<f8" if arr.dtype == np.float64 else "<f4")
    levels = [arr]
    for _ in range(overview_levels):
        levels.append(np.ascontiguousarray(levels[-1][::2, ::2]))  # nearest decimation

    comp = 8 if compression == "deflate" else 1

    def tiles_of(a: np.ndarray) -> list[bytes]:
        h, w = a.shape
        out = []
        for ty in range(0, h, tile):
            for tx in range(0, w, tile):
                t = np.full((tile, tile), np.nan, dtype=a.dtype)
                block = a[ty : ty + tile, tx : tx + tile]
                t[: block.shape[0], : block.shape[1]] = block
                raw = t.tobytes()
                out.append(zlib.compress(raw, 6) if comp == 8 else raw)
        return out

    level_tiles = [tiles_of(a) for a in levels]
    bits = arr.dtype.itemsize * 8

    def ifd_entries(li: int, a: np.ndarray) -> list[tuple[int, int, int, object]]:
        h, w = a.shape
        n_tiles = len(level_tiles[li])
        e: list[tuple[int, int, int, object]] = []
        if li > 0:
            e.append((_T_SUBFILE, 4, 1, 1))  # reduced-resolution image
        e += [
            (_T_WIDTH, 3, 1, w),
            (_T_HEIGHT, 3, 1, h),
            (_T_BPS, 3, 1, bits),
            (_T_COMPRESSION, 3, 1, comp),
            (_T_PHOTOMETRIC, 3, 1, 1),
            (_T_SPP, 3, 1, 1),
            (_T_TILE_W, 3, 1, tile),
            (_T_TILE_H, 3, 1, tile),
            (_T_TILE_OFFSETS, 4, n_tiles, "OFFSETS"),
            (_T_TILE_COUNTS, 4, n_tiles, "COUNTS"),
            (_T_SAMPLE_FORMAT, 3, 1, _SAMPLE_FLOAT),
        ]
        if li == 0:
            e += [(_T_PIXEL_SCALE, 12, 3, "SCALE"), (_T_TIEPOINT, 12, 6, "TIE")]
        return sorted(e)

    all_entries = [ifd_entries(i, a) for i, a in enumerate(levels)]
    ifd_sizes = [2 + 12 * len(e) + 4 for e in all_entries]
    pos = 8 + sum(ifd_sizes)
    # external blocks: per-level offset/count arrays (when n_tiles > 1),
    # then the geo doubles, then tile data
    ext: dict[tuple[int, str], int] = {}
    for li, tl in enumerate(level_tiles):
        if len(tl) > 1:
            ext[(li, "OFFSETS")] = pos
            pos += 4 * len(tl)
            ext[(li, "COUNTS")] = pos
            pos += 4 * len(tl)
    scale_off, pos = pos, pos + 24
    tie_off, pos = pos, pos + 48
    tile_offsets: list[list[int]] = []
    for tl in level_tiles:
        offs = []
        for t in tl:
            offs.append(pos)
            pos += len(t) + (-len(t) % 2)
        tile_offsets.append(offs)

    def pack_ifd(li: int, next_off: int) -> bytes:
        out = struct.pack("<H", len(all_entries[li]))
        for tag, typ, cnt, val in all_entries[li]:
            if val == "OFFSETS":
                v = tile_offsets[li][0] if cnt == 1 else ext[(li, "OFFSETS")]
            elif val == "COUNTS":
                v = len(level_tiles[li][0]) if cnt == 1 else ext[(li, "COUNTS")]
            elif val == "SCALE":
                v = scale_off
            elif val == "TIE":
                v = tie_off
            else:
                v = val
            out += struct.pack("<HHII", tag, typ, cnt, int(v))
        return out + struct.pack("<I", next_off)

    with open(path, "wb") as f:
        ifd_offs = []
        o = 8
        for s in ifd_sizes:
            ifd_offs.append(o)
            o += s
        f.write(_II + struct.pack("<I", ifd_offs[0]))
        for li in range(len(levels)):
            nxt = ifd_offs[li + 1] if li + 1 < len(levels) else 0
            f.write(pack_ifd(li, nxt))
        for li, tl in enumerate(level_tiles):
            if len(tl) > 1:
                f.write(struct.pack(f"<{len(tl)}I", *tile_offsets[li]))
                f.write(struct.pack(f"<{len(tl)}I", *[len(t) for t in tl]))
        f.write(struct.pack("<3d", pixel[0], pixel[1], 0.0))
        f.write(struct.pack("<6d", 0.0, 0.0, 0.0, origin[0], origin[1], 0.0))
        for tl in level_tiles:
            for t in tl:
                f.write(t + b"\x00" * (-len(t) % 2))


def is_tiff(path: str) -> bool:
    try:
        if not os.path.isfile(path):
            return False
        with open(path, "rb") as f:
            return f.read(4) in (_II, b"MM\x00*")
    except OSError:
        return False


def _parse_ifd(buf: bytes, e: str, ifd_off: int):
    """One IFD → ({tag: (type, count, value-or-array)}, next_ifd_off).
    SHORT/LONG values inline when they fit the 4-byte word, external
    arrays dereferenced."""
    (n,) = struct.unpack_from(f"{e}H", buf, ifd_off)
    tags: dict[int, tuple[int, int, object]] = {}
    for i in range(n):
        tag, typ, cnt, word = struct.unpack_from(f"{e}HHII", buf, ifd_off + 2 + 12 * i)
        if typ == 3 and cnt == 1:  # SHORT packed into the value word
            val: object = word & 0xFFFF if e == "<" else (word >> 16)
        elif typ == 4 and cnt == 1:
            val = word
        elif typ in (3, 4):  # SHORT/LONG array stored externally
            width = 2 if typ == 3 else 4
            fmt = "H" if typ == 3 else "I"
            val = list(struct.unpack_from(f"{e}{cnt}{fmt}", buf, word))
            del width
        else:
            val = word  # offset to external data (doubles etc.)
        tags[tag] = (typ, cnt, val)
    (nxt,) = struct.unpack_from(f"{e}I", buf, ifd_off + 2 + 12 * n)
    return tags, nxt


def _assemble(buf: bytes, e: str, tags: dict, path: str) -> np.ndarray:
    def req(tag: int):
        if tag not in tags:
            raise ValueError(f"{path}: missing TIFF tag {tag}")
        return tags[tag][2]

    w, h, bits = req(_T_WIDTH), req(_T_HEIGHT), req(_T_BPS)
    comp = tags.get(_T_COMPRESSION, (3, 1, 1))[2]
    if tags.get(_T_SAMPLE_FORMAT, (3, 1, _SAMPLE_FLOAT))[2] != _SAMPLE_FLOAT:
        raise NotImplementedError("only floating-point GeoTIFF samples supported")
    if comp not in (1, 8):
        raise NotImplementedError(f"unsupported TIFF compression {comp}")
    dt = f"{e}f{bits // 8}"

    def block(off: int, cnt: int) -> bytes:
        data = buf[off : off + cnt]
        return zlib.decompress(data) if comp == 8 else data

    if _T_TILE_OFFSETS in tags:  # tiled layout (COG)
        tw, th = req(_T_TILE_W), req(_T_TILE_H)
        offs, cnts = req(_T_TILE_OFFSETS), req(_T_TILE_COUNTS)
        if not isinstance(offs, list):
            offs, cnts = [offs], [cnts]
        per_row = -(-w // tw)
        arr = np.full(((-(-h // th)) * th, per_row * tw), np.nan, dtype=dt)
        for i, (o, c) in enumerate(zip(offs, cnts)):
            t = np.frombuffer(block(o, c), dtype=dt).reshape(th, tw)
            ty, tx = (i // per_row) * th, (i % per_row) * tw
            arr[ty : ty + th, tx : tx + tw] = t
        return np.ascontiguousarray(arr[:h, :w])
    off, cnt = req(_T_STRIP_OFFSETS), req(_T_STRIP_COUNTS)
    return np.frombuffer(block(off, cnt), dtype=dt).reshape(h, w)


def read_geotiff(path: str) -> tuple[np.ndarray, tuple[float, float], tuple[float, float]]:
    """Parse a single-band float GeoTIFF → (full-resolution array,
    origin, pixel). Little- and big-endian classic TIFF; strip or tiled
    (COG) layout; compression None/Deflate."""
    with open(path, "rb") as f:
        buf = f.read()
    if buf[:4] == _II:
        e = "<"
    elif buf[:4] == b"MM\x00*":
        e = ">"
    else:
        raise ValueError(f"{path}: not a classic TIFF")
    (ifd_off,) = struct.unpack_from(f"{e}I", buf, 4)
    tags, _ = _parse_ifd(buf, e, ifd_off)
    arr = _assemble(buf, e, tags, path)
    sx, sy, _z = struct.unpack_from(f"{e}3d", buf, tags[_T_PIXEL_SCALE][2])
    tie = struct.unpack_from(f"{e}6d", buf, tags[_T_TIEPOINT][2])
    # tiepoint anchors raster (i,j) at model (x,y): origin = x − i·sx, y + j·sy
    origin = (tie[3] - tie[0] * sx, tie[4] + tie[1] * sy)
    return arr, origin, (sx, sy)


def read_overviews(path: str) -> list[np.ndarray]:
    """Reduced-resolution images from the COG IFD chain (NewSubfileType
    = 1), full-res excluded; empty for a plain strip GeoTIFF."""
    with open(path, "rb") as f:
        buf = f.read()
    e = "<" if buf[:4] == _II else ">"
    (ifd_off,) = struct.unpack_from(f"{e}I", buf, 4)
    out = []
    tags, nxt = _parse_ifd(buf, e, ifd_off)
    while nxt:
        tags, nxt = _parse_ifd(buf, e, nxt)
        if tags.get(_T_SUBFILE, (4, 1, 0))[2] == 1:
            out.append(_assemble(buf, e, tags, path))
    return out


def gtiff_cubes(path: str, opts=None, value_col: str = "value") -> list[Cube]:
    """Raster → one :class:`cells.Cube` without a time axis — the
    rioxarray-open analog for the ingest surface. GeoTIFF is north-up:
    row 0 is the NORTHERN edge, so latitude descends down the rows (the
    ERA5 grid convention). A single band has nothing to project, so
    ``opts`` is unused; ranges apply in ``cells.batches``."""
    arr, (x0, y0), (sx, sy) = read_geotiff(path)
    h, w = arr.shape
    lats, lons = y0 - np.arange(h) * sy, x0 + np.arange(w) * sx
    return [Cube(None, lats, lons, {value_col: np.asarray(arr, dtype="f8")})]


def gtiff_decode(path: str, opts=None, value_col: str = "value") -> pd.DataFrame:
    """:func:`gtiff_cubes` as long-format rows (latitude, longitude,
    value)."""
    return frame(gtiff_cubes(path, opts, value_col))


def write_geotiff_partitioned(
    rows,
    out_dir: str,
    value_col: str = "value",
    compression: str | None = "deflate",
) -> int:
    """Distributed GeoTIFF sink: shuffle long-format rows
    (time, latitude, longitude, value) by time slice; each task grids
    its slice and serializes one whole GeoTIFF (the COG-style whole-file
    unit of parallel output). Cells absent from the input stay NaN.
    Returns the number of rasters written."""
    from .opener import grid_cubes, write_buckets

    def write_slice(ts: str, pdf: pd.DataFrame) -> None:
        # one single-band raster per slice: every row lands on one layer
        _, lats, lons, cubes = grid_cubes(pdf.assign(time=pdf["time"].iloc[0]), [value_col])
        sx = float(lons[1] - lons[0]) if len(lons) > 1 else 1.0
        sy = float(lats[0] - lats[1]) if len(lats) > 1 else 1.0
        write_geotiff(
            os.path.join(out_dir, f"{ts}.tif"), cubes[value_col][0],
            (float(lons[0]), float(lats[0])), (sx, sy), compression,
        )

    return write_buckets(rows, out_dir, "yyyy-MM-dd'T'HH", write_slice)
