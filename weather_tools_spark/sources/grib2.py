"""GRIB2 codec — stdlib-only (struct + numpy), simple-packing profile.

The reference decodes GRIB through cfgrib with an edition fallback
(weather_mv loader_pipeline/sinks.py:437-519); that stack is absent
here, but GRIB2 itself is a public WMO layout: a message is eight
big-endian sections —

    0 'GRIB'+discipline+edition+total length · 1 identification
    (centre, reference time) · 3 grid definition (template 3.0:
    regular lat/lon grid in microdegrees, sign-magnitude negatives) ·
    4 product definition (template 4.0: parameter category/number,
    level) · 5 data representation (template 5.0 simple packing:
    reference value R as IEEE float32, binary scale E, decimal scale
    D, bits per value; templates 5.2/5.3 complex packing: per-group
    references + bit widths, optional 1st/2nd-order spatial
    differencing — the packing operational NCEP products ship;
    template 5.41 PNG packing: offsets as a grayscale PNG stream,
    stdlib zlib codec with all five scanline filters on decode;
    template 5.40 JPEG 2000 packing: offsets as a lossless
    single-component codestream via the stdlib EBCOT/MQ/5-3-DWT codec
    in sources/jpeg2000.py) ·
    6 bitmap · 7 data (packed offsets
    X: value = (R + X·2^E) / 10^D) · 8 '7777'

— and files are plain concatenations of messages. This module
implements that profile directly:

- :func:`write_grib2` — serialize messages (regular lat/lon grid)
  with ``packing`` = simple (byte-aligned 8/16/32-bit widths),
  complex, complex with spatial differencing (exact int64 roundtrip
  at any magnitude — the differencing descriptors carry the level, so
  no float32 reference-value drift), png, or jpeg2000; NaN values produce a
  real section-6 BITMAP (data section holds present points only);
- :func:`read_grib2` — parse messages back; a ``want`` parameter set
  implements the reference's GRIB *message filter* as true pushdown:
  non-matching messages are skipped by section length without
  unpacking section 7;
- :func:`grib2_decode` — file → long-format rows for the hypercube
  ingest (``FORMATS["grib2"]`` in sources/opener.py), with the
  standard WMO parameter table for the engine's variables: 2-metre
  dewpoint d2m=(0,0,6), 10-metre winds u10=(0,2,2) / v10=(0,2,3);
- :func:`write_grib2_partitioned` — distributed sink: one whole
  multi-message GRIB file per time slice per executor task; cells
  absent from the input are written as missing (bitmap), never 0.

GRIB1 (edition byte 1) decodes via the sibling stdlib codec
sources/grib1.py (the reference's edition fallback); non-simple
packings raise clearly. Quantization: simple packing stores
``round(v·10^D) − min`` offsets, so values that are exact multiples of
10^-D round-trip exactly; the golden tests and the oracle query use
such grids to pin byte-exactness.
"""

from __future__ import annotations

import os
import struct
from typing import Iterator

import numpy as np
import pandas as pd

_MAGIC = b"GRIB"
# engine parameter table (WMO discipline, category, number)
PARAMS = {"d2m": (0, 0, 6), "u10": (0, 2, 2), "v10": (0, 2, 3)}
_REV_PARAMS = {v: k for k, v in PARAMS.items()}
_LEVELS = {"d2m": (103, 2), "u10": (103, 10), "v10": (103, 10)}  # height above ground, m


def _sm32(v: int) -> int:
    """Sign-magnitude int32 encode (GRIB negatives set the high bit)."""
    return (0x80000000 | -v) if v < 0 else v


def _sm32d(v: int) -> int:
    return -(v & 0x7FFFFFFF) if v & 0x80000000 else v


def _sm16(v: int) -> int:
    return (0x8000 | -v) if v < 0 else v


def _sm16d(v: int) -> int:
    return -(v & 0x7FFF) if v & 0x8000 else v


def _micro(deg: float) -> int:
    return int(round(deg * 1_000_000))


def _pack_bits(vals: np.ndarray, width: int) -> bytes:
    """Pack unsigned ints into a big-endian bitstream of ``width`` bits
    per value (vectorized via np.packbits; width 0 → empty)."""
    if width == 0 or vals.size == 0:
        return b""
    bits = ((vals.astype("u8")[:, None] >> np.arange(width - 1, -1, -1, dtype="u8")) & 1)
    return np.packbits(bits.astype(np.uint8).ravel()).tobytes()


def _unpack_bits(bits: np.ndarray, offset: int, width: int, count: int) -> tuple[np.ndarray, int]:
    """Read ``count`` unsigned ``width``-bit ints from an unpacked bit
    array starting at ``offset``; returns (values, new_offset)."""
    if width == 0 or count == 0:
        return np.zeros(count, dtype="i8"), offset
    sel = bits[offset : offset + count * width].reshape(count, width).astype("i8")
    w = (1 << np.arange(width - 1, -1, -1)).astype("i8")
    return sel @ w, offset + count * width


def _bits_for(span: int) -> int:
    return int(span).bit_length() if span > 0 else 0


def _sm_bytes(v: int, octets: int) -> bytes:
    """Sign-magnitude big-endian encode at ``octets`` width (GRIB
    spatial-differencing descriptors)."""
    u = abs(v)
    if u >> (octets * 8 - 1):
        raise ValueError(f"{v} out of {octets}-octet sign-magnitude range")
    if v < 0:
        u |= 1 << (octets * 8 - 1)
    return u.to_bytes(octets, "big")


def _sm_bytes_decode(b: bytes) -> int:
    u = int.from_bytes(b, "big")
    high = 1 << (len(b) * 8 - 1)
    return -(u & (high - 1)) if u & high else u


def _encode_lambert_grid(g: dict, nx: int, ny: int) -> bytes:
    """Section 3 with grid definition template 3.30 (Lambert conformal
    — the grid NAM/HRRR-family products ship): first-point lat/lon in
    microdegrees, LaD/LoV cone orientation, Dx/Dy in MILLIMETERS,
    secant latitudes Latin1/Latin2, scanning mode +x +y (0x40).
    ``g`` keys: lat1, lon1 (first grid point), dx_m, dy_m (grid step
    in meters at LaD), lad (origin/true latitude), lov (central
    meridian), lat_1, lat_2 (secant parallels)."""
    tmpl = (
        struct.pack(">B", 6) + b"\x00" * 15  # shape of earth 6: R=6371229 m
        + struct.pack(">II", nx, ny)
        + struct.pack(">II", _sm32(_micro(g["lat1"])), _sm32(_micro(g["lon1"])))
        + struct.pack(">B", 0x30)
        + struct.pack(">II", _sm32(_micro(g["lad"])), _sm32(_micro(g["lov"])))
        + struct.pack(">II", int(round(g["dx_m"] * 1000)), int(round(g["dy_m"] * 1000)))
        + struct.pack(">BB", 0, 0x40)  # north-pole cone; scan +i, +j
        + struct.pack(">II", _sm32(_micro(g["lat_1"])), _sm32(_micro(g["lat_2"])))
        + struct.pack(">II", _sm32(_micro(-90.0)), 0)  # southern pole (unused)
    )
    body = struct.pack(">BIBBH", 0, nx * ny, 0, 0, 30) + tmpl
    return struct.pack(">IB", 5 + len(body), 3) + body


def _decode_lambert_grid(s3: bytes) -> tuple[np.ndarray, np.ndarray, int, int]:
    """Grid template 3.30 → per-point (lat_grid, lon_grid) of shape
    (ny, nx) via the closed spherical inverse Lambert projection
    (functions/geo.py): grid coordinates are x1 + i·Dx, y1 + j·Dy in
    projection meters with (x1, y1) the forward projection of the
    first grid point."""
    from weather_tools_spark.functions.geo import (
        lambert_conformal_inverse_np,
        lambert_conformal_params,
        lambert_conformal_xy_np,
    )

    nx, ny = struct.unpack_from(">II", s3, 30)
    lat1 = _sm32d(struct.unpack_from(">I", s3, 38)[0]) / 1e6
    lon1 = _sm32d(struct.unpack_from(">I", s3, 42)[0]) / 1e6
    lad = _sm32d(struct.unpack_from(">I", s3, 47)[0]) / 1e6
    lov = _sm32d(struct.unpack_from(">I", s3, 51)[0]) / 1e6
    dx = struct.unpack_from(">I", s3, 55)[0] / 1e3
    dy = struct.unpack_from(">I", s3, 59)[0] / 1e3
    scan = s3[64]
    if scan != 0x40:
        raise NotImplementedError(f"Lambert scanning mode {scan:#x} (+i +j only)")
    lat_1 = _sm32d(struct.unpack_from(">I", s3, 65)[0]) / 1e6
    lat_2 = _sm32d(struct.unpack_from(">I", s3, 69)[0]) / 1e6
    p = lambert_conformal_params(lat1=lat_1, lat2=lat_2, lat0=lad, lon0=lov)
    x1, y1 = lambert_conformal_xy_np(lat1, lon1, p)
    xs = x1 + np.arange(nx) * dx
    ys = y1 + np.arange(ny) * dy
    xx, yy = np.meshgrid(xs, ys)
    lat_grid, lon_grid = lambert_conformal_inverse_np(xx, yy, p)
    return lat_grid, lon_grid, nx, ny


def _encode_polar_grid(g: dict, nx: int, ny: int) -> bytes:
    """Section 3 with grid template 3.20 (polar stereographic — Arctic
    /Antarctic products): first-point lat/lon, LaD (true latitude),
    LoV (orientation), Dx/Dy in millimeters, scan +x +y. ``g`` keys:
    lat1, lon1, dx_m, dy_m, lad, lov."""
    tmpl = (
        struct.pack(">B", 6) + b"\x00" * 15
        + struct.pack(">II", nx, ny)
        + struct.pack(">II", _sm32(_micro(g["lat1"])), _sm32(_micro(g["lon1"])))
        + struct.pack(">B", 0x30)
        + struct.pack(">II", _sm32(_micro(g["lad"])), _sm32(_micro(g["lov"])))
        + struct.pack(">II", int(round(g["dx_m"] * 1000)), int(round(g["dy_m"] * 1000)))
        + struct.pack(">BB", 0, 0x40)  # north-pole projection; scan +i +j
    )
    body = struct.pack(">BIBBH", 0, nx * ny, 0, 0, 20) + tmpl
    return struct.pack(">IB", 5 + len(body), 3) + body


def _decode_polar_grid(s3: bytes) -> tuple[np.ndarray, np.ndarray, int, int]:
    """Grid template 3.20 → per-point (lat, lon) grids via the inverse
    spherical polar-stereographic projection. The GRIB y axis points
    along LoV toward the pole while the projection's y is along
    LoV+180 away from it, so grid y maps to −y in projection space."""
    import math

    from weather_tools_spark.functions.geo import GRIB_SPHERE_R

    nx, ny = struct.unpack_from(">II", s3, 30)
    lat1 = _sm32d(struct.unpack_from(">I", s3, 38)[0]) / 1e6
    lon1 = _sm32d(struct.unpack_from(">I", s3, 42)[0]) / 1e6
    lad = _sm32d(struct.unpack_from(">I", s3, 47)[0]) / 1e6
    lov = _sm32d(struct.unpack_from(">I", s3, 51)[0]) / 1e6
    dx = struct.unpack_from(">I", s3, 55)[0] / 1e3
    dy = struct.unpack_from(">I", s3, 59)[0] / 1e3
    scan = s3[64]
    if scan != 0x40:
        raise NotImplementedError(f"polar-stereo scanning mode {scan:#x} (+i +j only)")
    d2r = math.pi / 180.0
    k0 = (1.0 + math.sin(lad * d2r)) / 2.0
    rho1 = 2.0 * GRIB_SPHERE_R * k0 * math.tan(math.pi / 4 - lat1 * d2r / 2)
    lam1 = (lon1 - lov) * d2r
    x1, y1 = rho1 * math.sin(lam1), -rho1 * math.cos(lam1)
    xx, yy = np.meshgrid(x1 + np.arange(nx) * dx, y1 + np.arange(ny) * dy)
    rho = np.hypot(xx, yy)
    lat = (np.pi / 2 - 2 * np.arctan(rho / (2.0 * GRIB_SPHERE_R * k0))) / d2r
    lon = lov + np.arctan2(xx, -yy) / d2r
    return lat, (((lon % 360) + 540) % 360) - 180, nx, ny


def _encode_mercator_grid(g: dict, nx: int, ny: int) -> bytes:
    """Section 3 with grid template 3.10 (Mercator — the grid tropical
    /regional products ship): first/last-point lat/lon in microdegrees,
    LaD (latitude of true scale), Di/Dj in MILLIMETERS of projection
    distance at LaD, scan +i +j. ``g`` keys: lat1, lon1, lad, dx_m,
    dy_m (the last point is derived on decode from nx/ny — it is
    carried for parity with the official octet layout)."""
    import math

    from weather_tools_spark.functions.geo import GRIB_SPHERE_R

    d2r = math.pi / 180.0
    k = math.cos(g["lad"] * d2r)
    x1 = GRIB_SPHERE_R * k * g["lon1"] * d2r
    y1 = GRIB_SPHERE_R * k * math.log(math.tan(math.pi / 4 + g["lat1"] * d2r / 2))
    x2 = x1 + (nx - 1) * g["dx_m"]
    y2 = y1 + (ny - 1) * g["dy_m"]
    lat2 = (2 * math.atan(math.exp(y2 / (GRIB_SPHERE_R * k))) - math.pi / 2) / d2r
    lon2 = x2 / (GRIB_SPHERE_R * k) / d2r
    tmpl = (
        struct.pack(">B", 6) + b"\x00" * 15
        + struct.pack(">II", nx, ny)
        + struct.pack(">II", _sm32(_micro(g["lat1"])), _sm32(_micro(g["lon1"])))
        + struct.pack(">B", 0x30)
        + struct.pack(">I", _sm32(_micro(g["lad"])))
        + struct.pack(">II", _sm32(_micro(lat2)), _sm32(_micro(lon2)))
        + struct.pack(">B", 0x40)  # scan +i +j
        + struct.pack(">I", 0)     # grid orientation
        + struct.pack(">II", int(round(g["dx_m"] * 1000)), int(round(g["dy_m"] * 1000)))
    )
    body = struct.pack(">BIBBH", 0, nx * ny, 0, 0, 10) + tmpl
    return struct.pack(">IB", 5 + len(body), 3) + body


def _decode_mercator_grid(s3: bytes) -> tuple[np.ndarray, np.ndarray, int, int]:
    """Grid template 3.10 → (1-D lats ascending with +j, 1-D lons, nx,
    ny) via the inverse spherical Mercator with true scale at LaD
    (x = R·k·λ, y = R·k·ln tan(π/4+φ/2), k = cos LaD)."""
    import math

    from weather_tools_spark.functions.geo import GRIB_SPHERE_R

    nx, ny = struct.unpack_from(">II", s3, 30)
    lat1 = _sm32d(struct.unpack_from(">I", s3, 38)[0]) / 1e6
    lon1 = _sm32d(struct.unpack_from(">I", s3, 42)[0]) / 1e6
    lad = _sm32d(struct.unpack_from(">I", s3, 47)[0]) / 1e6
    scan = s3[59]
    if scan != 0x40:
        raise NotImplementedError(f"Mercator scanning mode {scan:#x} (+i +j only)")
    dx = struct.unpack_from(">I", s3, 64)[0] / 1e3
    dy = struct.unpack_from(">I", s3, 68)[0] / 1e3
    d2r = math.pi / 180.0
    k = math.cos(lad * d2r)
    x1 = GRIB_SPHERE_R * k * lon1 * d2r
    y1 = GRIB_SPHERE_R * k * math.log(math.tan(math.pi / 4 + lat1 * d2r / 2))
    ys = y1 + np.arange(ny) * dy
    lats = (2 * np.arctan(np.exp(ys / (GRIB_SPHERE_R * k))) - np.pi / 2) / d2r
    lons = (x1 + np.arange(nx) * dx) / (GRIB_SPHERE_R * k) / d2r
    lons = (((lons % 360) + 540) % 360) - 180
    return lats, lons, nx, ny


def gaussian_latitudes(n: int) -> np.ndarray:
    """Latitudes of a regular Gaussian grid with N lines pole-to-
    equator: the 2N Gauss-Legendre nodes (roots of P_2N) mapped to
    degrees, north to south — the native ECMWF model grid (ERA5 is
    N320). numpy's ``leggauss`` supplies the nodes."""
    nodes, _ = np.polynomial.legendre.leggauss(2 * n)
    return np.degrees(np.arcsin(nodes))[::-1]


def _encode_gaussian_grid(g: dict, ni: int, nj: int) -> bytes:
    """Section 3 with grid template 3.40 (regular Gaussian grid):
    lat/lon of first and last points in microdegrees, Di increment, N
    (lines pole-to-equator). The grid rows must be a contiguous run of
    the N-grid's Gaussian latitudes. ``g`` keys: n (Gaussian number),
    lat1, lon1, lat2, lon2, di (longitude increment, degrees)."""
    tmpl = (
        struct.pack(">B", 6) + b"\x00" * 15
        + struct.pack(">IIII", ni, nj, 0, 0)
        + struct.pack(">II", _sm32(_micro(g["lat1"])), _sm32(_micro(g["lon1"])))
        + struct.pack(">B", 0x30)
        + struct.pack(">II", _sm32(_micro(g["lat2"])), _sm32(_micro(g["lon2"])))
        + struct.pack(">II", _micro(g["di"]), int(g["n"]))
        + struct.pack(">B", 0)  # scanning mode 0: W→E, N→S
    )
    body = struct.pack(">BIBBH", 0, ni * nj, 0, 0, 40) + tmpl
    return struct.pack(">IB", 5 + len(body), 3) + body


def _encode_reduced_gaussian_grid(g: dict, npts: int) -> bytes:
    """Section 3 for a REDUCED Gaussian grid (template 3.40 with the
    optional points-per-row list — the native ERA5 storage layout):
    Ni is coded missing, octet 11 declares 2-octet row counts, and the
    per-row counts follow the template. ``g`` keys: n, lat1, lat2,
    counts (points per latitude row, north to south)."""
    counts = [int(c) for c in g["counts"]]
    nj = len(counts)
    tmpl = (
        struct.pack(">B", 6) + b"\x00" * 15
        + struct.pack(">IIII", 0xFFFFFFFF, nj, 0, 0)  # Ni missing: reduced
        + struct.pack(">II", _sm32(_micro(g["lat1"])), 0)
        + struct.pack(">B", 0x30)
        + struct.pack(">II", _sm32(_micro(g["lat2"])),
                      _sm32(_micro(360.0 - 360.0 / counts[-1])))
        + struct.pack(">II", 0xFFFFFFFF, int(g["n"]))  # Di missing: per-row
        + struct.pack(">B", 0)
    )
    rowlist = b"".join(struct.pack(">H", c) for c in counts)
    body = struct.pack(">BIBBH", 0, npts, 2, 1, 40) + tmpl + rowlist
    return struct.pack(">IB", 5 + len(body), 3) + body


def _decode_gaussian_grid(
    s3: bytes,
) -> tuple[np.ndarray, np.ndarray, int, int] | tuple[np.ndarray, np.ndarray, None, int]:
    """Grid template 3.40 → coordinates. REGULAR grids return (1-D
    lats, 1-D lons, ni, nj); REDUCED grids (optional points-per-row
    list present, Ni missing) return per-POINT (lat, lon) arrays and
    ``ni=None`` — each row spans the full circle with its own spacing
    360/count. Latitudes are recomputed from N (Legendre nodes are
    deterministic) and the row band selected by the stored first/last
    anchors."""
    list_octets, interp = s3[10], s3[11]
    ni_raw, nj = struct.unpack_from(">II", s3, 30)
    lat1 = _sm32d(struct.unpack_from(">I", s3, 46)[0]) / 1e6
    lon1 = _sm32d(struct.unpack_from(">I", s3, 50)[0]) / 1e6
    lat2 = _sm32d(struct.unpack_from(">I", s3, 55)[0]) / 1e6
    di_raw, = struct.unpack_from(">I", s3, 63)
    n, = struct.unpack_from(">I", s3, 67)
    scan = s3[71]
    if scan != 0:
        raise NotImplementedError(f"Gaussian scanning mode {scan} unsupported")
    full = gaussian_latitudes(int(n))
    i0 = int(np.argmin(np.abs(full - lat1)))
    lats = full[i0 : i0 + nj]
    if len(lats) != nj or abs(lats[-1] - lat2) > 1e-3:
        raise ValueError("Gaussian grid rows do not match the stored first/last latitudes")
    if list_octets:  # reduced grid: ragged rows
        if interp != 1:
            raise NotImplementedError(f"row-list interpretation {interp}")
        counts = np.frombuffer(
            s3[72 : 72 + nj * list_octets], dtype=f">u{list_octets}"
        ).astype("i8")
        lat_pts = np.repeat(lats, counts)
        lon_pts = np.concatenate(
            [np.arange(c) * (360.0 / c) for c in counts]
        )
        return lat_pts, lon_pts, None, nj
    lons = lon1 + np.arange(ni_raw) * (di_raw / 1e6)
    return lats, lons, int(ni_raw), nj


def _quantized_f32_ref(scaled_min: int) -> float:
    """Reference value R is stored as IEEE float32 (spec), so quantize
    it BEFORE offsets are computed and step down if float32 rounded up —
    offsets must stay ≥ 0 (see the simple-packing comment below)."""
    ref = float(np.float32(scaled_min))
    if ref > scaled_min:
        ref = float(np.nextafter(np.float32(ref), np.float32("-inf")))
    return ref


def _encode_complex(
    scaled: np.ndarray, decimal_scale: int, order: int, group_len: int = 20
) -> tuple[bytes, bytes]:
    """Sections 5+7 for data representation template 5.2 (complex
    packing, ``order=0``) or 5.3 (complex packing with 1st/2nd-order
    spatial differencing). General group splitting: fixed-length groups
    (last truncated), per-group reference + bit width, the four
    byte-aligned streams of template 7.2/7.3. With differencing the
    stored reference value is 0 and the descriptors (first value(s) +
    overall minimum of differences) carry the level information, so the
    roundtrip is EXACT in int64 — no float32 quantization at all."""
    flat = scaled.ravel().astype("i8")
    n = flat.size
    if order:
        if order not in (1, 2):
            raise ValueError("spatial differencing order must be 1 or 2")
        if n <= order:
            raise ValueError("grid too small for spatial differencing")
        heads = flat[:order].tolist()
        d = np.diff(flat, n=order)
        gmin = int(d.min())
        arr = np.concatenate([np.zeros(order, dtype="i8"), d - gmin])
        ref = 0.0
        octets = max(
            (int(abs(v)).bit_length() + 1 + 7) // 8 for v in heads + [gmin]
        )
        descriptors = b"".join(_sm_bytes(v, octets) for v in heads + [gmin])
    else:
        heads, gmin, octets, descriptors = [], 0, 0, b""
        ref = _quantized_f32_ref(int(flat.min()))
        arr = np.round(flat.astype("f8") - ref).astype("i8")

    ng = (n + group_len - 1) // group_len
    bounds = [(g * group_len, min((g + 1) * group_len, n)) for g in range(ng)]
    refs = np.array([int(arr[a:b].min()) for a, b in bounds], dtype="i8")
    widths = np.array(
        [_bits_for(int(arr[a:b].max()) - int(r)) for (a, b), r in zip(bounds, refs)],
        dtype="i8",
    )
    bits_refs = _bits_for(int(refs.max()))
    width_ref = int(widths.min())
    width_incs = widths - width_ref
    bits_widths = _bits_for(int(width_incs.max()))
    length_ref, length_inc = group_len, 1
    last_len = bounds[-1][1] - bounds[-1][0]
    bits_lens = 0  # every group is length_ref long; the last uses last_len

    def _padded(vals: np.ndarray, width: int) -> bytes:
        return _pack_bits(vals, width)  # np.packbits zero-pads to a byte

    chunks = []
    for (a, b), r, w in zip(bounds, refs, widths):
        if w:
            seg = (arr[a:b] - r).astype("u8")
            chunks.append(
                ((seg[:, None] >> np.arange(w - 1, -1, -1, dtype="u8")) & 1)
                .astype(np.uint8)
                .ravel()
            )
    stream = (
        np.packbits(np.concatenate(chunks)).tobytes() if chunks else b""
    )
    body = (
        descriptors
        + _padded(refs, bits_refs)
        + _padded(width_incs, bits_widths)
        + _padded(np.zeros(ng, dtype="i8"), bits_lens)
        + stream
    )
    sec7 = struct.pack(">IB", 5 + len(body), 7) + body

    tmpl = 3 if order else 2
    t = struct.pack(
        ">fHHBBBB", ref, _sm16(0), _sm16(decimal_scale), bits_refs, 0, 1, 0
    )
    t += struct.pack(">II", 0, 0)  # missing value substitutes (unused)
    t += struct.pack(">IBB", ng, width_ref, bits_widths)
    t += struct.pack(">IBIB", length_ref, length_inc, last_len, bits_lens)
    if order:
        t += struct.pack(">BB", order, octets)
    sec5 = struct.pack(">IBIH", 11 + len(t), 5, n, tmpl) + t
    return sec5, sec7


def write_grib2(
    path: str,
    messages: list[dict],
    decimal_scale: int = 3,
    packing: str = "simple",
) -> None:
    """Write concatenated GRIB2 messages. Each message dict:
    ``{"param": "d2m", "ref_time": datetime-like, "lats": 1-D desc,
    "lons": 1-D asc, "values": 2-D (lat, lon)}``. Values are packed at
    ``10^decimal_scale`` precision with ``packing`` one of ``simple``
    (template 5.0), ``complex`` (5.2), or ``complex_diff1`` /
    ``complex_diff2`` (5.3 with 1st/2nd-order spatial differencing —
    what operational NCEP products ship)."""
    out = b""
    for msg in messages:
        name = msg["param"]
        disc, cat, num = PARAMS[name]
        vals = np.ascontiguousarray(msg["values"], dtype="f8")
        t = pd.Timestamp(msg["ref_time"])

        sec1 = struct.pack(
            ">IBHHBBBHBBBBBBB",
            21, 1, 255, 255, 2, 1, 1,
            t.year, t.month, t.day, t.hour, t.minute, t.second, 0, 1,
        )
        reduced = "grid" in msg and msg["grid"].get("type") == "gaussian_reduced"
        if reduced:
            if vals.ndim != 1:
                raise ValueError("reduced-Gaussian values must be a flat point array")
            if packing in ("png", "jpeg2000"):
                raise NotImplementedError(f"{packing} packing needs a rectangular grid")
            nj = ni = None
            sec3 = _encode_reduced_gaussian_grid(msg["grid"], vals.size)
        elif "grid" in msg:
            nj, ni = vals.shape
            gtype = msg["grid"].get("type", "lambert")
            if gtype == "lambert":
                sec3 = _encode_lambert_grid(msg["grid"], ni, nj)
            elif gtype == "polar":
                sec3 = _encode_polar_grid(msg["grid"], ni, nj)
            elif gtype == "gaussian":
                sec3 = _encode_gaussian_grid(msg["grid"], ni, nj)
            elif gtype == "mercator":
                sec3 = _encode_mercator_grid(msg["grid"], ni, nj)
            else:
                raise ValueError(f"unknown grid type {gtype!r}")
        else:
            nj, ni = vals.shape
            lats = np.asarray(msg["lats"], dtype="f8")
            lons = np.asarray(msg["lons"], dtype="f8")
            if (nj, ni) != (len(lats), len(lons)):
                raise ValueError("values shape must be (lats, lons)")
            dj = abs(float(lats[0] - lats[1])) if nj > 1 else 1.0
            di = float(lons[1] - lons[0]) if ni > 1 else 1.0
            tmpl30 = struct.pack(
                ">B", 6
            ) + b"\x00" * 15 + struct.pack(
                ">IIII", ni, nj, 0, 0
            ) + struct.pack(
                ">IIB", _sm32(_micro(lats[0])), _sm32(_micro(lons[0])), 0x30
            ) + struct.pack(
                ">III", _sm32(_micro(lats[-1])), _sm32(_micro(lons[-1])), _micro(di)
            ) + struct.pack(">IB", _micro(dj), 0)  # scanning mode 0: W→E, N→S
            sec3_body = struct.pack(">BIBBH", 0, ni * nj, 0, 0, 0) + tmpl30
            sec3 = struct.pack(">IB", 5 + len(sec3_body), 3) + sec3_body

        # per-message level override: ("isobaric", hPa) or a raw
        # (fixed-surface type, scaled value) pair — the vertical axis
        # of the hypercube (pressure-level products)
        lvl = msg.get("level")
        if lvl is None:
            lvl_type, lvl_val = _LEVELS[name]
        elif lvl[0] == "isobaric":
            lvl_type, lvl_val = 100, int(lvl[1]) * 100  # hPa → Pa
        else:
            lvl_type, lvl_val = int(lvl[0]), int(lvl[1])
        step_hours = int(msg.get("step_hours", 0))
        member = msg.get("member")
        tmpl4 = struct.pack(
            ">BBBBBHBBIBBIBBI",
            cat, num, 2, 0, 0, 0, 0, 1, step_hours,
            lvl_type, 0, lvl_val, 255, 0, 0,
        )
        if member is None:
            ptmpl = 0  # template 4.0: deterministic forecast at a point in time
        else:
            # template 4.1: individual ensemble forecast — the GRIB
            # origin of the hypercube's `number` coordinate
            ptmpl = 1
            tmpl4 += struct.pack(
                ">BBB", 3, int(member), int(msg.get("n_members", 0))
            )
        sec4 = struct.pack(">IBHH", 9 + len(tmpl4), 4, 0, ptmpl) + tmpl4

        # simple packing: X = round(v·10^D) − R, E=0. R is stored as IEEE
        # float32 (spec), so it MUST be quantized to float32 BEFORE the
        # offsets are computed — otherwise, when the scaled minimum
        # exceeds float32's 24-bit mantissa, the stored R silently
        # differs from the R the offsets were built against and every
        # decoded value shifts by the rounding gap (caught by the
        # quantization-bound property test). Offsets relative to the
        # float32-exact R keep the decode error ≤ 0.5·10^−D always, and
        # exact for integer-representable R.
        # Missing data → a real section-6 bitmap: one bit per grid
        # point, data section holds only the PRESENT points (the WMO
        # missing-data mechanism every operational product uses).
        flat = vals.ravel()
        present = np.isfinite(flat)
        if present.all():
            sec6 = struct.pack(">IBB", 6, 6, 255)
            kept = flat
        else:
            if not present.any():
                raise ValueError(f"message {name} has no finite values")
            bm = np.packbits(present.astype(np.uint8)).tobytes()
            sec6 = struct.pack(">IBB", 6 + len(bm), 6, 0) + bm
            kept = flat[present]
            if packing in ("png", "jpeg2000"):
                raise NotImplementedError(f"bitmap + {packing} packing (rectangular image)")
        scaled = np.round(kept * (10 ** decimal_scale)).astype("i8")
        if packing in ("png", "jpeg2000"):
            scaled = scaled.reshape(nj, ni)
        if packing == "complex":
            sec5, sec7 = _encode_complex(scaled, decimal_scale, order=0)
        elif packing == "complex_diff1":
            sec5, sec7 = _encode_complex(scaled, decimal_scale, order=1)
        elif packing == "complex_diff2":
            sec5, sec7 = _encode_complex(scaled, decimal_scale, order=2)
        elif packing == "png":
            sec5, sec7 = _encode_png_packing(scaled, decimal_scale)
        elif packing == "jpeg2000":
            sec5, sec7 = _encode_j2k_packing(scaled, decimal_scale)
        elif packing != "simple":
            raise ValueError(f"unknown packing {packing!r}")
        else:
            sec5, sec7 = _encode_simple(scaled, decimal_scale)

        body = sec1 + sec3 + sec4 + sec5 + sec6 + sec7
        total = 16 + len(body) + 4
        sec0 = _MAGIC + struct.pack(">HBBQ", 0, disc, 2, total)
        out += sec0 + body + b"7777"
    with open(path, "wb") as f:
        f.write(out)


def _encode_simple(scaled: np.ndarray, decimal_scale: int) -> tuple[bytes, bytes]:
    """Sections 5+7 for template 5.0 (simple packing, byte-aligned
    widths)."""
    npts = scaled.size
    ref = _quantized_f32_ref(int(scaled.min()))
    offsets = np.round(scaled.astype("f8") - ref).astype("u8")
    span = int(offsets.max()) if offsets.size else 0
    bits = 8 if span < 2**8 else 16 if span < 2**16 else 32
    if span >= 2**32:
        raise ValueError("value span too wide for 32-bit simple packing")
    packed = offsets.astype(f">u{bits // 8}").tobytes()
    sec5 = struct.pack(
        ">IBIHfHHBB", 21, 5, npts, 0, ref, _sm16(0), _sm16(decimal_scale), bits, 0
    )
    sec7 = struct.pack(">IB", 5 + len(packed), 7) + packed
    return sec5, sec7


def is_grib2(path: str) -> bool:
    try:
        if not os.path.isfile(path):
            return False
        with open(path, "rb") as f:
            head = f.read(8)
        return head[:4] == _MAGIC and len(head) == 8 and head[7] == 2
    except OSError:
        return False


def list_params(path: str) -> list[str]:
    """Parameter names present in the file from section headers alone —
    seeks between messages, never reads a data section."""
    names: list[str] = []
    with open(path, "rb") as f:
        while True:
            head = f.read(16)
            if not head:
                break
            if head[:4] != _MAGIC or head[7] != 2:
                raise ValueError(f"{path}: not GRIB2")
            disc = head[6]
            (total,) = struct.unpack_from(">Q", head, 8)
            consumed = 16
            while consumed < total - 4:
                sh = f.read(5)
                (slen,) = struct.unpack_from(">I", sh, 0)
                snum = sh[4]
                if snum == 4:
                    body = f.read(slen - 5)
                    cat, num = body[4], body[5]  # section offsets 9, 10
                    names.append(_REV_PARAMS.get((disc, cat, num), f"p{disc}_{cat}_{num}"))
                else:
                    f.seek(slen - 5, 1)
                consumed += slen
            f.seek(total - consumed, 1)  # skip the '7777' terminator
    return names


def read_grib2(path: str, want: set[tuple[int, int, int]] | None = None) -> list[dict]:
    """Parse GRIB2 messages from a file. ``want`` is the message filter
    (reference semantics: select messages by parameter before decode) —
    messages whose (discipline, category, number) is not wanted are
    SKIPPED by total length without unpacking their data section."""
    with open(path, "rb") as f:
        buf = f.read()
    return read_grib2_bytes(buf, want, origin=path)


def read_grib2_bytes(
    buf: bytes,
    want: set[tuple[int, int, int]] | None = None,
    origin: str = "<bytes>",
) -> list[dict]:
    """Bytes-level GRIB2 message parser — the kernel behind
    :func:`read_grib2` and the manifest scan's byte-range decode
    (message slices concatenate into a valid buffer)."""
    path = origin  # error-message context only
    msgs: list[dict] = []
    p = 0
    while p < len(buf):
        if buf[p : p + 4] != _MAGIC:
            raise ValueError(f"{path}: not GRIB at offset {p}")
        edition = buf[p + 7]
        if edition != 2:
            raise NotImplementedError(
                f"GRIB edition {edition} in the GRIB2 reader — edition 1 decodes "
                "via sources/grib1.read_grib1 (the ingest auto-dispatch routes it)"
            )
        disc = buf[p + 6]
        (total,) = struct.unpack_from(">Q", buf, p + 8)
        msg = buf[p : p + total]
        if msg[-4:] != b"7777":
            raise ValueError(f"{path}: message at {p} missing '7777' terminator")

        # walk sections
        q = 16
        sections: dict[int, bytes] = {}
        while q < total - 4:
            (slen,) = struct.unpack_from(">I", msg, q)
            snum = msg[q + 4]
            sections[snum] = msg[q : q + slen]
            q += slen
        s4 = sections[4]
        cat, num = s4[9], s4[10]
        if want is not None and (disc, cat, num) not in want:
            p += total  # filter pushdown: section 7 never unpacked
            continue
        ptmpl, = struct.unpack_from(">H", s4, 7)
        if ptmpl not in (0, 1):
            raise NotImplementedError(
                f"product definition template {ptmpl} (4.0 deterministic / 4.1 ensemble)"
            )
        time_unit = s4[17]
        ftime, = struct.unpack_from(">I", s4, 18)
        unit_hours = {0: 1.0 / 60.0, 1: 1.0, 2: 24.0, 10: 3.0, 11: 6.0, 12: 12.0}
        if time_unit not in unit_hours:
            raise NotImplementedError(f"forecast time unit {time_unit}")
        step_hours = ftime * unit_hours[time_unit]
        member = s4[35] if ptmpl == 1 else None
        lvl_type = s4[22]
        lvl_scale = s4[23]
        lvl_scale = -(lvl_scale & 0x7F) if lvl_scale & 0x80 else lvl_scale
        lvl_raw, = struct.unpack_from(">I", s4, 24)
        level_value = lvl_raw * 10.0 ** (-lvl_scale)

        s1 = sections[1]
        year, = struct.unpack_from(">H", s1, 12)
        ref_time = pd.Timestamp(
            year=year, month=s1[14], day=s1[15], hour=s1[16], minute=s1[17], second=s1[18]
        )
        s3 = sections[3]
        gtmpl, = struct.unpack_from(">H", s3, 12)
        lat_grid = lon_grid = None
        if gtmpl == 0:
            ni, nj = struct.unpack_from(">II", s3, 30)
            lat1 = _sm32d(struct.unpack_from(">I", s3, 46)[0]) / 1e6
            lon1 = _sm32d(struct.unpack_from(">I", s3, 50)[0]) / 1e6
            di = struct.unpack_from(">I", s3, 63)[0] / 1e6
            dj = struct.unpack_from(">I", s3, 67)[0] / 1e6
            scan = s3[71]
            if scan != 0:
                raise NotImplementedError(f"scanning mode {scan} unsupported")
            lats = lat1 - np.arange(nj) * dj  # N→S rows
            lons = lon1 + np.arange(ni) * di
        elif gtmpl == 30:
            lat_grid, lon_grid, ni, nj = _decode_lambert_grid(s3)
            lats = lons = None
        elif gtmpl == 20:
            lat_grid, lon_grid, ni, nj = _decode_polar_grid(s3)
            lats = lons = None
        elif gtmpl == 40:
            lats, lons, ni, nj = _decode_gaussian_grid(s3)
            if ni is None:  # reduced grid: per-point coordinate arrays
                lat_grid, lon_grid = lats, lons
                lats = lons = None
        elif gtmpl == 10:
            lats, lons, ni, nj = _decode_mercator_grid(s3)
        else:
            raise NotImplementedError(
                f"grid definition template {gtmpl} "
                "(lat/lon 3.0, Mercator 3.10, polar-stereo 3.20, Lambert 3.30, "
                "Gaussian 3.40)"
            )

        s5 = sections[5]
        npts, = struct.unpack_from(">I", s5, 5)  # present points (≤ ni·nj)
        tmpl, = struct.unpack_from(">H", s5, 9)
        ref, = struct.unpack_from(">f", s5, 11)
        E = _sm16d(struct.unpack_from(">H", s5, 15)[0])
        D = _sm16d(struct.unpack_from(">H", s5, 17)[0])
        s6 = sections[6]
        bitmap_ind = s6[5]
        grid_pts = (ni * nj) if ni is not None else len(lat_grid)
        if bitmap_ind == 255:
            mask = None
        elif bitmap_ind == 0:
            mask = (
                np.unpackbits(np.frombuffer(s6[6:], dtype=np.uint8))[:grid_pts]
                .astype(bool)
            )
        else:
            raise NotImplementedError(f"bitmap indicator {bitmap_ind}")
        s7 = sections[7]
        if tmpl == 0:
            bits = s5[19]
            if bits not in (8, 16, 32):
                raise NotImplementedError(f"{bits}-bit packing (byte-aligned widths only)")
            X = np.frombuffer(
                s7[5 : 5 + npts * (bits // 8)], dtype=f">u{bits // 8}"
            ).astype("f8")
        elif tmpl in (2, 3):
            X = _decode_complex(s5, s7, npts).astype("f8")
        elif tmpl == 41:
            X = _png_decode(s7[5:]).astype("f8").ravel()
        elif tmpl == 40:
            from .jpeg2000 import decode_j2k

            X = decode_j2k(s7[5:]).astype("f8").ravel()
        else:
            raise NotImplementedError(
                f"data representation template {tmpl} "
                "(simple/complex/PNG/JPEG2000 packing only)"
            )
        vals = (float(ref) + X * (2.0 ** E)) / (10.0 ** D)
        if mask is not None:
            full = np.full(grid_pts, np.nan)
            full[mask] = vals
            vals = full
        m = {
            "param": _REV_PARAMS.get((disc, cat, num), f"p{disc}_{cat}_{num}"),
            "ref_time": ref_time,
            "step_hours": step_hours,
            "valid_time": ref_time + pd.Timedelta(hours=step_hours),
            "member": member,
            "level_type": lvl_type,
            "level": level_value,
            "lats": lats,
            "lons": lons,
            # reduced grids are ragged: values stay a flat point array
            "values": vals if ni is None else vals.reshape(nj, ni),
        }
        if lat_grid is not None:  # curvilinear/reduced: per-point coords
            m["lat_grid"], m["lon_grid"] = lat_grid, lon_grid
        msgs.append(m)
        p += total
    return msgs


def _png_encode(arr: np.ndarray, bit_depth: int) -> bytes:
    """Minimal grayscale PNG encoder (stdlib zlib + struct) for GRIB2
    data representation template 5.41: one IHDR/IDAT/IEND stream,
    filter type 0 on every scanline, 8- or 16-bit grayscale. GRIB
    treats the grid as an Nj×Ni image."""
    import zlib as _z

    nj, ni = arr.shape
    if bit_depth == 8:
        raw_rows = arr.astype(">u1")
    elif bit_depth == 16:
        raw_rows = arr.astype(">u2")
    else:
        raise ValueError(f"PNG bit depth {bit_depth}")
    scan = b"".join(b"\x00" + raw_rows[j].tobytes() for j in range(nj))

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", _z.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", ni, nj, bit_depth, 0, 0, 0, 0)  # grayscale
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _z.compress(scan, 6))
        + chunk(b"IEND", b"")
    )


def _png_decode(buf: bytes) -> np.ndarray:
    """Minimal grayscale PNG decoder: walks chunks, inflates IDAT, and
    reverses scanline filters 0-4 (None/Sub/Up/Average/Paeth) — the
    full filter set, so PNGs from standard encoders parse too."""
    import zlib as _z

    if buf[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("bad PNG signature in GRIB section 7")
    p = 8
    width = height = bit_depth = None
    idat = b""
    while p < len(buf):
        (ln,) = struct.unpack_from(">I", buf, p)
        tag = buf[p + 4 : p + 8]
        body = buf[p + 8 : p + 8 + ln]
        p += 12 + ln
        if tag == b"IHDR":
            width, height, bit_depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if color != 0:
                raise NotImplementedError(f"PNG color type {color} (grayscale only)")
            if interlace:
                raise NotImplementedError("interlaced PNG")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("PNG without IHDR")
    scan = _z.decompress(idat)
    bpp = max(1, bit_depth // 8)
    stride = width * bpp
    out = np.zeros((height, stride), dtype="u1")
    prev = np.zeros(stride, dtype="u1")
    q = 0
    for j in range(height):
        ftype = scan[q]
        row = np.frombuffer(scan[q + 1 : q + 1 + stride], dtype="u1").astype("i4")
        q += 1 + stride
        if ftype == 0:
            rec = row
        elif ftype == 2:  # Up
            rec = (row + prev) % 256
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need a scan
            rec = np.zeros(stride, dtype="i4")
            for i in range(stride):
                a = rec[i - bpp] if i >= bpp else 0
                b = int(prev[i])
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                else:
                    c = int(prev[i - bpp]) if i >= bpp else 0
                    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
                rec[i] = (row[i] + pred) % 256
        else:
            raise ValueError(f"PNG filter type {ftype}")
        out[j] = rec.astype("u1")
        prev = out[j]
    if bit_depth == 16:
        return np.frombuffer(out.tobytes(), dtype=">u2").reshape(height, width).astype("i8")
    return out.reshape(height, width).astype("i8")


def _encode_j2k_packing(scaled: np.ndarray, decimal_scale: int) -> tuple[bytes, bytes]:
    """Sections 5+7 for template 5.40 (JPEG 2000 packing, lossless):
    offsets from the float32-quantized reference encoded as a
    single-component lossless codestream (sources/jpeg2000.py)."""
    from .jpeg2000 import encode_j2k

    nj, ni = scaled.shape
    ref = _quantized_f32_ref(int(scaled.min()))
    offsets = np.round(scaled.astype("f8") - ref).astype("i8")
    span = int(offsets.max()) if offsets.size else 0
    depth = max(1, span.bit_length())
    if depth > 31:
        raise ValueError(f"value span needs {depth} bits > 31 (JPEG 2000 packing)")
    j2k = encode_j2k(offsets.reshape(nj, ni), depth)
    sec7 = struct.pack(">IB", 5 + len(j2k), 7) + j2k
    # template 5.40: 5.0 core fields + compression type 0 (lossless) +
    # target compression ratio 255 (lossless marker)
    sec5 = struct.pack(
        ">IBIHfHHBBBB",
        23, 5, ni * nj, 40, ref, _sm16(0), _sm16(decimal_scale), depth, 0, 0, 255,
    )
    return sec5, sec7


def _encode_png_packing(scaled: np.ndarray, decimal_scale: int) -> tuple[bytes, bytes]:
    """Sections 5+7 for template 5.41 (PNG packing): offsets from the
    float32-quantized reference packed as a grayscale PNG image."""
    nj, ni = scaled.shape
    ref = _quantized_f32_ref(int(scaled.min()))
    offsets = np.round(scaled.astype("f8") - ref).astype("i8")
    span = int(offsets.max()) if offsets.size else 0
    bits = 8 if span < 2**8 else 16
    if span >= 2**16:
        raise ValueError("value span too wide for 16-bit PNG packing")
    png = _png_encode(offsets.reshape(nj, ni), bits)
    sec7 = struct.pack(">IB", 5 + len(png), 7) + png
    sec5 = struct.pack(
        ">IBIHfHHBB", 21, 5, ni * nj, 41, ref, _sm16(0), _sm16(decimal_scale), bits, 0
    )
    return sec5, sec7


def _decode_complex(s5: bytes, s7: bytes, npts: int) -> np.ndarray:
    """Unpack data representation template 5.2/5.3 (complex packing,
    optional spatial differencing) from sections 5+7. Returns the
    int64 offset array Y so the caller applies the uniform
    (R + Y·2^E)/10^D transform. The four streams (group references,
    width increments, scaled lengths, packed values) are byte-aligned
    per the template 7.2/7.3 layout; the bitstream is unpacked once
    with np.unpackbits and sliced per stream."""
    tmpl, = struct.unpack_from(">H", s5, 9)
    bits_refs = s5[19]
    split, miss = s5[21], s5[22]
    if split != 1:
        raise NotImplementedError(f"group splitting method {split} (general splitting only)")
    if miss != 0:
        raise NotImplementedError("missing-value management in complex packing")
    ng, = struct.unpack_from(">I", s5, 31)
    width_ref, bits_widths = s5[35], s5[36]
    length_ref, = struct.unpack_from(">I", s5, 37)
    length_inc = s5[41]
    last_len, = struct.unpack_from(">I", s5, 42)
    bits_lens = s5[46]
    order = octets = 0
    if tmpl == 3:
        order, octets = s5[47], s5[48]
        if order not in (1, 2):
            raise NotImplementedError(f"spatial differencing order {order}")

    data = s7[5:]
    heads, gmin = [], 0
    if order:
        for k in range(order):
            heads.append(_sm_bytes_decode(data[k * octets : (k + 1) * octets]))
        gmin = _sm_bytes_decode(data[order * octets : (order + 1) * octets])
        data = data[(order + 1) * octets :]

    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
    off = 0
    refs, off = _unpack_bits(bits, off, bits_refs, ng)
    off = (off + 7) // 8 * 8
    width_incs, off = _unpack_bits(bits, off, bits_widths, ng)
    off = (off + 7) // 8 * 8
    scaled_lens, off = _unpack_bits(bits, off, bits_lens, ng)
    off = (off + 7) // 8 * 8
    widths = width_ref + width_incs
    lens = length_ref + scaled_lens * length_inc
    lens[-1] = last_len
    if int(lens.sum()) != npts:
        raise ValueError(f"complex packing group lengths sum {lens.sum()} != {npts}")

    parts = []
    for r, w, l in zip(refs, widths, lens):
        seg, off = _unpack_bits(bits, off, int(w), int(l))
        parts.append(r + seg)
    y = np.concatenate(parts).astype("i8")

    if order:
        # reconstruct from differences via exact int64 cumulative sums:
        # order 1: y[i] = y[i-1] + d[i]; order 2: second differences —
        # first differences g[i] = g[i-1] + d[i], then y = h1 + Σg.
        d = y
        d[order:] += gmin
        if order == 1:
            y = heads[0] + np.concatenate([[0], np.cumsum(d[1:])])
        else:
            g = np.cumsum(np.concatenate([[heads[1] - heads[0]], d[2:]]))
            y = np.concatenate([[heads[0]], heads[0] + np.cumsum(g)])
    return y.astype("i8")


def grib2_decode(path: str, opts=None) -> pd.DataFrame:
    """Hypercube-ingest decoder over GRIB2 bytes: one long-format frame
    with a column per parameter (messages sharing grid + ref_time merge
    into one row set — the hypercube-merge semantics of the xarray
    branch). Honors ``opts.variables`` as the message filter pushdown."""
    want = None
    variables = getattr(opts, "variables", None) if opts is not None else None
    if variables:
        import re as _re

        want = set()
        for v in variables:
            if v in PARAMS:
                want.add(PARAMS[v])
            elif _re.fullmatch(r"p\d+_\d+_\d+", v):
                # the decoder's own name for an unmapped parameter —
                # invertible, so the message filter stays exact
                want.add(tuple(int(x) for x in v[1:].split("_")))
            else:
                # a name the param table can't map: decode everything
                # (the caller's projection drops extras) — pruning must
                # never silently blank a requested variable
                want = None
                break
    messages = read_grib2(path, want)
    # forecast-step / ensemble columns appear only when the file uses
    # them (step ≠ 0 or PDS template 4.1) — static-grid decode output
    # keeps its 3-coordinate schema
    has_step = any(m["step_hours"] for m in messages)
    has_member = any(m["member"] is not None for m in messages)
    # the vertical axis exists when some PARAMETER appears at more than
    # one level — different variables at their own fixed surfaces
    # (2 m dewpoint, 10 m wind) still merge into one wide row set
    lv: dict[str, set] = {}
    for m in messages:
        lv.setdefault(m["param"], set()).add((m["level_type"], m["level"]))
    has_level = any(len(s) > 1 for s in lv.values())
    frames: dict[tuple, pd.DataFrame] = {}
    for m in messages:
        if "lat_grid" in m:  # curvilinear (Lambert) grid: per-point coords
            la, lo = m["lat_grid"], m["lon_grid"]
        else:
            la, lo = np.meshgrid(m["lats"], m["lons"], indexing="ij")
        key = (
            m["ref_time"], m["step_hours"], m["member"],
            m["level_type"] if has_level else None,
            m["level"] if has_level else None,
            la.tobytes(), lo.tobytes(),
        )
        pdf = frames.get(key)
        if pdf is None:
            cols = {"time": m["ref_time"]}
            if has_step:
                # reference semantics: step stored as SECONDS-as-FLOAT64,
                # valid_time = time + step (bq.py:440-441, util.py:121-125)
                cols["step"] = m["step_hours"] * 3600.0
                cols["valid_time"] = m["valid_time"]
            if has_member:
                cols["number"] = -1 if m["member"] is None else int(m["member"])
            if has_level:  # vertical axis (e.g. isobaric surfaces, Pa)
                cols["level"] = m["level"]
            cols["latitude"] = la.ravel()
            cols["longitude"] = lo.ravel()
            pdf = pd.DataFrame(cols)
            frames[key] = pdf
        pdf[m["param"]] = m["values"].ravel()
    if not frames:
        return pd.DataFrame({"time": [], "latitude": [], "longitude": []})
    out = pd.concat(frames.values(), ignore_index=True)
    if opts is not None:
        if getattr(opts, "start_time", None) is not None:
            out = out[out["time"] >= pd.Timestamp(opts.start_time)]
        if getattr(opts, "end_time", None) is not None:
            out = out[out["time"] < pd.Timestamp(opts.end_time)]
        if getattr(opts, "area", None) is not None:
            n, w, s, e = opts.area
            out = out[
                (out["latitude"] <= n) & (out["latitude"] >= s)
                & (out["longitude"] >= w) & (out["longitude"] <= e)
            ]
    return out.reset_index(drop=True)


def grib_messages(pdf: pd.DataFrame, variables: list[str]) -> list[dict]:
    """Long-format rows → :func:`write_grib2` / ``write_grib1`` message
    dicts: one message per (time, variable) on the rows' lat/lon grid.
    A cell absent from the rows is NaN, which the writers encode as
    missing through the bitmap."""
    from .opener import grid_cubes

    times, lats, lons, cubes = grid_cubes(pdf, variables)
    return [
        {"param": v, "ref_time": t, "lats": lats, "lons": lons, "values": cubes[v][i]}
        for i, t in enumerate(times)
        for v in variables
    ]


def write_grib2_partitioned(
    rows, out_dir: str, variables: list[str], decimal_scale: int = 3
) -> int:
    """Distributed GRIB2 sink: one whole multi-message file per time
    slice per executor task (one message per variable and time)."""
    from .opener import write_buckets

    def write_slice(ts: str, pdf: pd.DataFrame) -> None:
        write_grib2(
            os.path.join(out_dir, f"{ts}.grib2"), grib_messages(pdf, variables), decimal_scale
        )

    return write_buckets(rows, out_dir, "yyyy-MM-dd'T'HH", write_slice)
