"""NetCDF classic (CDF-1/CDF-2) codec — stdlib-only (struct + numpy).

The reference ingests NetCDF through xarray (weather_mv
loader_pipeline/sinks.py:437-519 engine dispatch; netcdf_datasets in
sinks.py); that library is absent here, but the *classic* NetCDF format
itself is a small, fully-public binary layout (the NetCDF-3 spec):

    magic 'CDF\\x01'|'CDF\\x02' · numrecs · dim_list · gatt_list ·
    var_list(name, dimids, atts, nc_type, vsize, begin) · data

— big-endian scalars, 4-byte-aligned names, variable data at absolute
file offsets. This module implements that layout directly:

- :func:`write_netcdf3` — serialize a hypercube (time/latitude/
  longitude axes + float64 data variables, CF-style coordinate
  variables with a ``units`` attribute on time) to genuine classic
  bytes readable by any NetCDF tool;
- :func:`read_netcdf3` — parse the header and decode variables with
  ``np.frombuffer``;
- :func:`is_netcdf3` — the magic-byte probe and :func:`nc3_decode` —
  the decoder behind ``FORMATS["netcdf3"]`` in sources/opener.py: file
  → long-format rows, same output contract as the xarray branch.

Scope: fixed-size AND record (unlimited-dimension) variables — the
interleaved record layout growable-time exports use — over the six
classic external types plus the CDF-5 additions. Decode handles the
CF conventions real producers emit: any "<unit> since <epoch>" time
encoding (ERA5 CDS uses ``hours since 1900-01-01 00:00:00.0``) on
real-world calendars, and scale_factor/add_offset packed variables
with _FillValue/missing_value → NaN (the CDS int16 layout); the
idealized 360_day/noleap model calendars are gated. NetCDF-4/HDF5
files route to the stdlib HDF5 subset codec (sources/hdf5.py).

Distributed sink: one classic file is a single stream, so the parallel
shape is file-per-slice — :func:`write_netcdf3_partitioned` has each
executor task serialize whole files (the reference's splitter emits
one file per variable the same way, weather_sp splitter_pipeline).
"""

from __future__ import annotations

import mmap
import os
import struct
from typing import Iterator

import numpy as np
import pandas as pd

from .cells import Cube, frame

_MAGIC1 = b"CDF\x01"
_MAGIC2 = b"CDF\x02"
_MAGIC5 = b"CDF\x05"
_MAGICS = {_MAGIC1: 1, _MAGIC2: 2, _MAGIC5: 5}
NC_DIMENSION, NC_VARIABLE, NC_ATTRIBUTE = 0x0A, 0x0B, 0x0C
# classic external types: tag -> numpy big-endian dtype. 7-11 are the
# CDF-5 additions (ubyte/ushort/uint/int64/uint64).
_TYPES = {1: ">i1", 2: "S1", 3: ">i2", 4: ">i4", 5: ">f4", 6: ">f8",
          7: ">u1", 8: ">u2", 9: ">u4", 10: ">i8", 11: ">u8"}
_REV_TYPES = {"int8": 1, "int16": 3, "int32": 4, "float32": 5, "float64": 6,
              "uint8": 7, "uint16": 8, "uint32": 9, "int64": 10, "uint64": 11}
_TIME_UNITS = "seconds since 1970-01-01T00:00:00"

# NON_NEG width: every non-negative size field (list counts, name and
# dimension lengths, ndims, dimids, vsize, numrecs) is a 4-byte INT in
# CDF-1/2 and widens to 8 bytes in CDF-5; `begin` offsets are 8 bytes
# from CDF-2 on. nc_type and the section tags stay 4-byte.
def _nn(version: int) -> str:
    return ">q" if version == 5 else ">i"


def _pad4(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 4)


def _name(b: bytes, version: int) -> bytes:
    return struct.pack(_nn(version), len(b)) + _pad4(b)


def _atts(atts: dict[str, str], version: int) -> bytes:
    nn = _nn(version)
    if not atts:
        return struct.pack(">i", 0) + struct.pack(nn, 0)
    out = struct.pack(">i", NC_ATTRIBUTE) + struct.pack(nn, len(atts))
    for k, v in atts.items():
        vb = v.encode()
        out += _name(k.encode(), version) + struct.pack(">i", 2) + struct.pack(nn, len(vb)) + _pad4(vb)
    return out


def write_netcdf3(
    path: str,
    coords: dict[str, np.ndarray],
    variables: dict[str, np.ndarray],
    version: int = 1,
    record_dim: str | None = None,
) -> None:
    """Serialize a hypercube as classic NetCDF bytes.

    ``coords`` maps dim name → 1-D axis array (defines dim order);
    ``variables`` maps var name → array shaped by all dims in order.
    Coordinate variables are written CF-style (same name as the dim;
    ``units`` attribute on ``time``). ``record_dim`` names the
    UNLIMITED dimension (must be the first dim): it is written with
    length 0, ``numrecs`` carries the actual count, and every variable
    over it becomes a record variable with its records interleaved in
    the record section — the growable-time layout streaming NetCDF
    writers emit."""
    dims = list(coords)
    shapes = {d: len(coords[d]) for d in dims}
    if record_dim is not None and (not dims or dims[0] != record_dim):
        raise ValueError("record_dim must be the first coordinate dimension")
    for v, arr in variables.items():
        if tuple(arr.shape) != tuple(shapes[d] for d in dims):
            raise ValueError(f"variable {v} shape {arr.shape} != dims {shapes}")

    numrecs = shapes[record_dim] if record_dim is not None else 0
    # header: magic + numrecs + dim list + empty global atts + var list
    nn = _nn(version)
    magic = {1: _MAGIC1, 2: _MAGIC2, 5: _MAGIC5}[version]
    head = magic + struct.pack(nn, numrecs)
    head += struct.pack(">i", NC_DIMENSION) + struct.pack(nn, len(dims))
    for d in dims:
        head += _name(d.encode(), version) + struct.pack(
            nn, 0 if d == record_dim else shapes[d]
        )
    head += struct.pack(">i", 0) + struct.pack(nn, 0)  # no global attributes

    # variables: coordinates first (CF), then data vars
    entries: list[tuple[str, list[int], dict, np.ndarray]] = []
    for i, d in enumerate(dims):
        atts = {"units": _TIME_UNITS, "calendar": "proleptic_gregorian"} if d == "time" else {}
        entries.append((d, [i], atts, np.asarray(coords[d])))
    for v, arr in variables.items():
        entries.append((v, list(range(len(dims))), {}, np.asarray(arr)))

    # lay out data sections: fixed variables first (each padded to 4
    # bytes), then the RECORD section — per-record slices of every
    # record variable interleaved (the classic-format record layout;
    # a lone record variable's slices are unpadded per the spec)
    offset_fmt = ">i" if version == 1 else ">q"
    fixed_bodies, metas, rec_vars = [], [], []
    is_record = lambda dimids: record_dim is not None and dimids[:1] == [0]  # noqa: E731
    n_rec = sum(1 for _, dimids, _, _ in entries if is_record(dimids))
    for name, dimids, atts, arr in entries:
        t = _REV_TYPES[str(arr.dtype.newbyteorder("=").name)]
        if t > 6 and version != 5:
            raise ValueError(f"type {arr.dtype} requires CDF-5 (version=5)")
        arr = np.ascontiguousarray(arr, dtype=_TYPES[t])
        if is_record(dimids):
            slice_len = arr.nbytes // max(1, numrecs)
            vsize = slice_len if n_rec == 1 else slice_len + (-slice_len % 4)
            metas.append((name, dimids, atts, t, vsize))
            rec_vars.append((arr, vsize))
            fixed_bodies.append(None)
        else:
            raw = arr.tobytes()
            vsize = len(raw) + (-len(raw) % 4)
            metas.append((name, dimids, atts, t, vsize))
            fixed_bodies.append(_pad4(raw))

    # var_list is self-referential through `begin`: compute header size
    # with placeholder offsets first (offsets have fixed width)
    def var_list(begins: list[int]) -> bytes:
        out = struct.pack(">i", NC_VARIABLE) + struct.pack(nn, len(metas))
        for (name, dimids, atts, t, vsize), begin in zip(metas, begins):
            out += _name(name.encode(), version)
            out += struct.pack(nn, len(dimids)) + b"".join(struct.pack(nn, i) for i in dimids)
            out += _atts(atts, version)
            out += struct.pack(">i", t) + struct.pack(nn, vsize)
            out += struct.pack(offset_fmt, begin)
        return out

    header_len = len(head) + len(var_list([0] * len(metas)))
    begins, pos = [], header_len
    for body in fixed_bodies:
        begins.append(pos if body is not None else -1)
        if body is not None:
            pos += len(body)
    # record variables begin inside record 0, laid out in var order
    rec_base, rec_off = pos, 0
    ri = 0
    for i, body in enumerate(fixed_bodies):
        if body is None:
            begins[i] = rec_base + rec_off
            rec_off += rec_vars[ri][1]
            ri += 1
    record_section = b""
    if rec_vars:
        recsize = sum(v for _, v in rec_vars)
        for r in range(numrecs):
            for arr, vsize in rec_vars:
                # r:r+1 (not r): scalar extraction from a 1-D big-endian
                # array returns a NATIVE-endian numpy scalar; the slice
                # view preserves the on-disk byte order
                raw = arr[r : r + 1].tobytes()
                record_section += raw + b"\x00" * (vsize - len(raw))
        assert len(record_section) == recsize * numrecs
    with open(path, "wb") as f:
        f.write(
            head + var_list(begins)
            + b"".join(b for b in fixed_bodies if b is not None)
            + record_section
        )


def _read_nn(buf: bytes, p: int, version: int) -> tuple[int, int]:
    if version == 5:
        return struct.unpack_from(">q", buf, p)[0], p + 8
    return struct.unpack_from(">i", buf, p)[0], p + 4


def _read_name(buf: bytes, p: int, version: int) -> tuple[str, int]:
    n, p = _read_nn(buf, p, version)
    s = buf[p : p + n].decode()
    return s, p + n + (-n % 4)


def _read_atts(buf: bytes, p: int, version: int) -> tuple[dict, int]:
    (tag,) = struct.unpack_from(">i", buf, p)
    cnt, p = _read_nn(buf, p + 4, version)
    atts: dict[str, object] = {}
    for _ in range(cnt if tag == NC_ATTRIBUTE else 0):
        name, p = _read_name(buf, p, version)
        (t,) = struct.unpack_from(">i", buf, p)
        n, p = _read_nn(buf, p + 4, version)
        width = int(np.dtype(_TYPES[t]).itemsize)
        raw = buf[p : p + n * width]
        atts[name] = raw.decode() if t == 2 else np.frombuffer(raw, _TYPES[t]).tolist()
        p += n * width + (-(n * width) % 4)
    return atts, p


def is_netcdf3(path: str) -> bool:
    """Magic-byte probe: classic NetCDF starts 'CDF\\x01'/'CDF\\x02'/
    'CDF\\x05' (CDF-5, 64-bit data). NetCDF-4/HDF5 starts '\\x89HDF'
    and is the stdlib HDF5 subset codec's (sources/hdf5.py)."""
    try:
        if not os.path.isfile(path):
            return False
        with open(path, "rb") as f:
            return f.read(4) in _MAGICS
    except OSError:
        return False


def list_variables(path: str) -> list[str]:
    """Data-variable names from the header alone — a metadata probe
    (footer-read analog): reads a bounded prefix, doubling on a
    truncated header, never the data section."""
    size = 1 << 16
    while True:
        with open(path, "rb") as f:
            buf = f.read(size)
        try:
            _, data, _ = _parse(buf, header_only=True)
            return list(data)
        except (struct.error, IndexError):
            if size >= os.path.getsize(path):
                raise
            size *= 4


def read_netcdf3(path: str) -> tuple[dict[str, np.ndarray], dict[str, np.ndarray], dict[str, dict]]:
    """Parse a classic NetCDF file → (coords, data variables, per-var
    attributes). Fixed-size variables only (numrecs must be 0)."""
    with open(path, "rb") as f:
        buf = f.read()
    return _parse(buf)


def _parse(buf: bytes, header_only: bool = False, want: set[str] | None = None):
    """(coords, data, attrs) of a classic file's bytes: every variable,
    only its header (``header_only``), or only the ``want`` variables,
    whose bytes alone are touched (so ``buf`` may be a file map)."""
    version = _MAGICS.get(buf[:4])
    if version is None:
        raise ValueError("not a classic NetCDF file")
    offset_fmt = ">i" if version == 1 else ">q"
    numrecs, p = _read_nn(buf, 4, version)
    (tag,) = struct.unpack_from(">i", buf, p)
    ndims, p = _read_nn(buf, p + 4, version)
    dim_names, dim_lens = [], []
    for _ in range(ndims if tag == NC_DIMENSION else 0):
        nm, p = _read_name(buf, p, version)
        ln, p = _read_nn(buf, p, version)
        dim_names.append(nm)
        dim_lens.append(ln)
    _, p = _read_atts(buf, p, version)  # global atts (ignored)
    (tag,) = struct.unpack_from(">i", buf, p)
    nvars, p = _read_nn(buf, p + 4, version)
    var_metas = []
    for _ in range(nvars if tag == NC_VARIABLE else 0):
        nm, p = _read_name(buf, p, version)
        nd, p = _read_nn(buf, p, version)
        dimids = []
        for _i in range(nd):
            di, p = _read_nn(buf, p, version)
            dimids.append(di)
        atts, p = _read_atts(buf, p, version)
        (t,) = struct.unpack_from(">i", buf, p)
        vsize, p = _read_nn(buf, p + 4, version)
        (begin,) = struct.unpack_from(offset_fmt, buf, p)
        p += struct.calcsize(offset_fmt)
        var_metas.append((nm, dimids, atts, t, vsize, begin))

    # record (unlimited) dimension: recorded with length 0; record
    # variables interleave per-record slices, each record `recsize`
    # bytes apart (spec: the sum of all record variables' vsizes)
    rec_id = dim_lens.index(0) if (numrecs and 0 in dim_lens) else None
    recsize = sum(m[4] for m in var_metas if rec_id is not None and m[1][:1] == [rec_id])
    coords: dict[str, np.ndarray] = {}
    data: dict[str, np.ndarray] = {}
    attrs: dict[str, dict] = {}
    for nm, dimids, atts, t, vsize, begin in var_metas:
        if want is not None and nm not in want:
            continue
        is_rec = rec_id is not None and dimids[:1] == [rec_id]
        shape = tuple(
            numrecs if (is_rec and i == rec_id) else dim_lens[i] for i in dimids
        )
        count = int(np.prod(shape)) if shape else 1
        width = int(np.dtype(_TYPES[t]).itemsize)
        if header_only:
            arr = None
        elif is_rec:
            slice_bytes = (count // max(1, numrecs)) * width
            end = begin + (numrecs - 1) * recsize + slice_bytes if numrecs else begin
            if end > len(buf):
                raise struct.error("record section beyond buffer")
            parts = [
                np.frombuffer(
                    buf[begin + r * recsize : begin + r * recsize + slice_bytes],
                    _TYPES[t],
                )
                for r in range(numrecs)
            ]
            arr = (
                np.concatenate(parts).reshape(shape)
                if numrecs
                else np.zeros(shape, dtype=_TYPES[t])
            )
        else:
            if begin + count * width > len(buf):
                raise struct.error("data section beyond buffer")
            arr = np.frombuffer(buf[begin : begin + count * width], _TYPES[t]).reshape(shape)
        attrs[nm] = atts
        if len(dimids) == 1 and nm == dim_names[dimids[0]]:
            coords[nm] = arr
        else:
            data[nm] = arr
    return coords, data, attrs


_CF_UNIT_SECONDS = {
    "s": 1, "sec": 1, "secs": 1, "second": 1, "seconds": 1,
    "min": 60, "mins": 60, "minute": 60, "minutes": 60,
    "h": 3600, "hr": 3600, "hrs": 3600, "hour": 3600, "hours": 3600,
    "d": 86400, "day": 86400, "days": 86400,
}
_CF_REAL_CALENDARS = {
    "standard", "gregorian", "proleptic_gregorian", "julian", "", None,
}


def cf_decode_time(values: np.ndarray, units: str, calendar: str | None = None):
    """CF time decode: ``"<unit> since <epoch>"`` → pandas datetimes.
    Handles the epoch/unit spellings real producers emit (ERA5 CDS
    NetCDF uses ``hours since 1900-01-01 00:00:00.0``, CMIP ``days
    since ...``) on real-world calendars; the idealized 360_day/noleap
    model calendars are gated (they need a cftime-style arithmetic)."""
    if calendar is not None and calendar.lower() not in _CF_REAL_CALENDARS:
        raise NotImplementedError(
            f"CF calendar {calendar!r} needs cftime-style date arithmetic; "
            "standard/gregorian/proleptic_gregorian/julian are supported"
        )
    parts = units.split("since", 1)
    if len(parts) != 2:
        raise ValueError(f"unparseable CF time units {units!r}")
    unit = parts[0].strip().lower()
    if unit not in _CF_UNIT_SECONDS:
        raise ValueError(f"unknown CF time unit {unit!r} in {units!r}")
    epoch = pd.Timestamp(parts[1].strip())
    offsets = np.asarray(values, dtype="f8") * _CF_UNIT_SECONDS[unit]
    return epoch + pd.to_timedelta(offsets, unit="s")


def _cf_unpack(arr: np.ndarray, atts: dict) -> np.ndarray:
    """CF packed-data decode: mask ``_FillValue``/``missing_value``
    sentinels to NaN, then apply ``scale_factor``/``add_offset`` —
    the int16-packed layout CDS/ERA5 NetCDF exports use."""

    def _scalar(key):
        v = atts.get(key)
        if isinstance(v, (list, tuple, np.ndarray)):
            return v[0] if len(v) else None
        return v

    out = np.asarray(arr, dtype="f8")
    for key in ("_FillValue", "missing_value"):
        sentinel = _scalar(key)
        if sentinel is not None:
            out = np.where(np.asarray(arr) == sentinel, np.nan, out)
    scale, offset = _scalar("scale_factor"), _scalar("add_offset")
    if scale is not None or offset is not None:
        out = out * (scale if scale is not None else 1.0) + (
            offset if offset is not None else 0.0
        )
    return out


def nc3_cubes(path: str, opts) -> list[Cube]:
    """Classic NetCDF bytes → one :class:`cells.Cube` over the file's
    time, latitude and longitude axes. Time decodes from the CF
    ``units`` epoch attribute (any "<unit> since <epoch>" spelling);
    packed variables unpack through scale_factor/add_offset with fill
    sentinels → NaN.

    ``opts.variables`` is the projection pushdown (the reference's
    ``_only_target_vars``, weather_mv/loader_pipeline/util.py:159-191):
    data variables outside the set are never CF-unpacked; coordinates
    always decode, and so does every cell (ranges apply in
    ``cells.batches``)."""
    variables = getattr(opts, "variables", None) if opts is not None else None
    want = set(variables) if variables else None
    coords, data, attrs = read_netcdf3(path)
    values = {
        v: _cf_unpack(arr, attrs.get(v, {}))
        for v, arr in data.items()
        if want is None or v in want  # projected out: skip the unpack copy entirely
    }
    return [Cube(*_axes(coords, attrs), values)]


def nc3_decode(path: str, opts) -> pd.DataFrame:
    """:func:`nc3_cubes` as long-format rows (time, latitude,
    longitude + variable columns), the contract of the xarray branch."""
    return frame(nc3_cubes(path, opts))


def _axes(coords: dict, attrs: dict) -> tuple:
    """The decoded (times, lats, lons) coordinate axes."""
    tatts = attrs.get("time", {})
    times = cf_decode_time(coords["time"], tatts.get("units", _TIME_UNITS), tatts.get("calendar"))
    return (
        times,
        np.asarray(coords["latitude"], dtype="f8"),
        np.asarray(coords["longitude"], dtype="f8"),
    )


def nc3_axes(path: str, opts=None) -> list[Cube]:
    """The axes of :func:`nc3_cubes` (whatever ``opts`` projects), read
    from the header and the three coordinate variables alone: one cube
    without values."""
    with open(path, "rb") as f, mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ) as buf:
        coords, _, attrs = _parse(buf, want={"time", "latitude", "longitude"})
    return [Cube(*_axes(coords, attrs), {})]


def write_netcdf3_partitioned(rows, out_dir: str, variables: list[str]) -> int:
    """Distributed classic-NetCDF sink: shuffle long-format rows
    (time, latitude, longitude, <variables...>) by calendar day and
    have each task serialize one whole ``.nc`` file — whole files are
    the parallel unit, exactly like the reference's splitter sink.
    Cells absent from the input stay NaN. Returns the number of files
    written."""
    from .opener import grid_cubes, write_buckets

    def write_day(day: str, pdf: pd.DataFrame) -> None:
        times, lats, lons, cubes = grid_cubes(pdf, variables)
        write_netcdf3(
            os.path.join(out_dir, f"{day}.nc"),
            {
                "time": (times.astype("datetime64[s]").astype("int64")).astype(">i4"),
                "latitude": lats.astype("f8"),
                "longitude": lons.astype("f8"),
            },
            cubes,
        )

    return write_buckets(rows, out_dir, "yyyy-MM-dd", write_day)
