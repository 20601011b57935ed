"""GRIB edition-1 codec — stdlib-only (struct + numpy), simple packing.

The reference's decode chain retries GRIB files that fail the cfgrib
edition-2 open with ``{'edition': 1}`` filter args (weather_mv
loader_pipeline/sinks.py:370-389) — GRIB1 is the layout ERA-Interim and
many archived ECMWF/NCEP products still ship. Like the other stdlib
codecs here, this implements the public WMO FM 92-VIII Ed.1 layout
directly so edition-1 files decode without cfgrib:

    IS  'GRIB' + 3-byte total length + edition 1
    PDS product definition (28 octets): table version, centre, grid id,
        GDS/BMS presence flags, parameter indicator (table 2), level
        type/value, reference time (year-of-century + century), decimal
        scale D (sign-magnitude 16-bit)
    GDS grid description (lat/lon, type 0): Ni/Nj, first/last lat+lon in
        MILLIDEGREES (sign-magnitude 24-bit), Di/Dj increments,
        scanning mode
    BDS binary data: flags + unused-bit count, binary scale E
        (sign-magnitude 16-bit), reference value R as IBM 32-bit
        hexadecimal float (sign / 7-bit base-16 exponent bias 64 /
        24-bit fraction — NOT IEEE), bits per value, packed offsets
        X: value = (R + X·2^E) / 10^D; section padded to even length
    '7777'

Differences from GRIB2 worth noting: section lengths are 3 bytes (16 MB
message cap), coordinates are millidegrees not microdegrees, negatives
are sign-magnitude at 24/16-bit widths, and the reference value is an
IBM/hex float. The writer quantizes R through the IBM encoding before
computing offsets (same discipline as the GRIB2 writer's float32 rule)
so the decode error stays ≤ 0.5·10^-D and is exactly zero whenever the
scaled minimum is IBM-representable — grids of 10^-D multiples
round-trip bit-exactly, which is what the goldens and the oracle query
pin.

API mirrors sources/grib2.py: :func:`write_grib1`, :func:`read_grib1`
(``want`` = message filter pushdown — non-matching messages skipped by
total length, data section never unpacked), :func:`list_params1`
(header-only driver probe), :func:`grib1_decode` (hypercube-ingest
decoder), :func:`write_grib1_partitioned` (distributed sink).
"""

from __future__ import annotations

import math
import os
import struct

import numpy as np
import pandas as pd

_MAGIC = b"GRIB"
# engine parameter table → GRIB1 table-2 indicator
PARAMS1 = {"d2m": 17, "u10": 33, "v10": 34}  # DPT / UGRD / VGRD
_REV_PARAMS1 = {v: k for k, v in PARAMS1.items()}
_LEVELS1 = {"d2m": (105, 2), "u10": (105, 10), "v10": (105, 10)}  # height AGL, m


def _sm24(v: int) -> bytes:
    """Sign-magnitude 24-bit big-endian encode."""
    if not -0x7FFFFF <= v <= 0x7FFFFF:
        raise ValueError(f"{v} out of 24-bit sign-magnitude range")
    u = (0x800000 | -v) if v < 0 else v
    return u.to_bytes(3, "big")


def _sm24d(b: bytes) -> int:
    u = int.from_bytes(b, "big")
    return -(u & 0x7FFFFF) if u & 0x800000 else u


def _sm16(v: int) -> int:
    return (0x8000 | -v) if v < 0 else v


def _sm16d(v: int) -> int:
    return -(v & 0x7FFF) if v & 0x8000 else v


def _milli(deg: float) -> int:
    return int(round(deg * 1_000))


def _u8_step(hours) -> int:
    h = int(hours)
    if not 0 <= h <= 255:
        raise ValueError("GRIB1 P1 forecast step must fit one octet (0-255 h)")
    return h


def ibm32_decode(word: int) -> float:
    """IBM 32-bit hexadecimal float → Python float (exact: the value is
    frac·16^(exp−64)/2^24, always a dyadic rational)."""
    if word == 0:
        return 0.0
    sign = -1.0 if word & 0x80000000 else 1.0
    exp = (word >> 24) & 0x7F
    frac = word & 0xFFFFFF
    return sign * frac * 16.0 ** (exp - 64) / 2.0 ** 24


def ibm32_encode(x: float) -> int:
    """Nearest-representable IBM 32-bit hexadecimal float encode.
    Callers that need a directed bound (the packer needs decoded ≤ x so
    offsets stay non-negative) re-check via :func:`ibm32_decode`."""
    if x == 0.0 or not math.isfinite(x):
        return 0
    sign = 0x80000000 if x < 0 else 0
    a = abs(x)
    # exponent e with a/16^(e-64) in [1/16, 1)
    e = int(math.floor(math.log(a, 16))) + 1 + 64
    m = a / 16.0 ** (e - 64)
    while m >= 1.0:
        e += 1
        m = a / 16.0 ** (e - 64)
    while m < 1.0 / 16.0 and e > 0:
        e -= 1
        m = a / 16.0 ** (e - 64)
    if e < 0:  # below 16^-65: underflow to zero (not a reachable
        return 0  # reference value for any physical scaled field)
    frac = int(round(m * 2.0 ** 24))
    if frac >= 2 ** 24:
        e += 1
        frac = int(round(a / 16.0 ** (e - 64) * 2.0 ** 24))
    if e > 0x7F:  # overflow → clamp to max magnitude
        return sign | 0x7FFFFFFF
    return sign | (e << 24) | frac


def _encode_ref_at_most(x: float) -> tuple[int, float]:
    """IBM-encode ``x`` rounded DOWN so the decoded reference never
    exceeds the scaled minimum (offsets must be ≥ 0)."""
    word = ibm32_encode(x)
    dec = ibm32_decode(word)
    if dec > x:
        sign, e, frac = word & 0x80000000, (word >> 24) & 0x7F, word & 0xFFFFFF
        if sign:  # negative: larger magnitude ⇒ smaller value
            if frac == 0xFFFFFF:  # fraction carry: renormalize one hexit up
                word = sign | ((e + 1) << 24) | 0x100000
            else:
                word = sign | (e << 24) | (frac + 1)
        else:
            # fraction down one ulp (decode tolerates the denormal)
            word = sign | (e << 24) | (frac - 1)
        dec = ibm32_decode(word)
    return word, dec


def write_grib1(path: str, messages: list[dict], decimal_scale: int = 3) -> None:
    """Write concatenated GRIB1 messages; same message-dict contract as
    :func:`grib2.write_grib2` (regular lat/lon grid in millidegrees,
    simple packing at 10^decimal_scale precision, byte-aligned widths,
    no bitmap)."""
    out = b""
    for msg in messages:
        name = msg["param"]
        indicator = PARAMS1[name]
        lvl_type, lvl_val = _LEVELS1[name]
        lats = np.asarray(msg["lats"], dtype="f8")
        lons = np.asarray(msg["lons"], dtype="f8")
        vals = np.ascontiguousarray(msg["values"], dtype="f8")
        nj, ni = vals.shape
        if (nj, ni) != (len(lats), len(lons)):
            raise ValueError("values shape must be (lats, lons)")
        t = pd.Timestamp(msg["ref_time"])
        yoc = t.year % 100 or 100  # year-of-century runs 1..100
        century = (t.year - yoc) // 100 + 1

        flat = vals.ravel()
        present = np.isfinite(flat)
        has_bitmap = not present.all()
        if has_bitmap and not present.any():
            raise ValueError(f"message {name} has no finite values")

        pds = (
            (28).to_bytes(3, "big")
            + bytes(
                [
                    2,          # parameter table version
                    98,         # centre (ECMWF)
                    0,          # generating process
                    255,        # grid id: defined by GDS
                    0xC0 if has_bitmap else 0x80,  # GDS present (+BMS)
                    indicator,
                    lvl_type,
                ]
            )
            + int(lvl_val).to_bytes(2, "big")
            + bytes([yoc, t.month, t.day, t.hour, t.minute, 1,
                     _u8_step(msg.get("step_hours", 0)), 0, 0])
            + (0).to_bytes(2, "big")  # number in average
            + bytes([0, century, 0])  # missing, century, sub-centre
            + struct.pack(">H", _sm16(decimal_scale))
        )

        dj = abs(float(lats[0] - lats[1])) if nj > 1 else 1.0
        di = float(lons[1] - lons[0]) if ni > 1 else 1.0
        gds = (
            (32).to_bytes(3, "big")
            + bytes([0, 255, 0])  # NV, PV, representation type 0: lat/lon
            + struct.pack(">HH", ni, nj)
            + _sm24(_milli(lats[0]))
            + _sm24(_milli(lons[0]))
            + bytes([0x80])  # direction increments given
            + _sm24(_milli(lats[-1]))
            + _sm24(_milli(lons[-1]))
            + struct.pack(">HH", abs(_milli(di)), abs(_milli(dj)))
            + bytes([0x00])  # scanning mode 0: W→E, N→S
            + b"\x00" * 4
        )

        # optional BMS: one bit per grid point; BDS then holds only the
        # present points (the WMO missing-data mechanism)
        if has_bitmap:
            bm = np.packbits(present.astype(np.uint8)).tobytes()
            unused_bms = (-len(present)) % 8  # pad bits in the last byte
            if (6 + len(bm)) % 2:  # BMS must have even length
                bm += b"\x00"
                unused_bms += 8
            bms = (
                (6 + len(bm)).to_bytes(3, "big")
                + bytes([unused_bms])
                + struct.pack(">H", 0)  # table reference 0: bitmap follows
                + bm
            )
            kept = flat[present]
        else:
            bms = b""
            kept = flat

        # simple packing: X = round(v·10^D) − R, E=0, R quantized
        # through the IBM encoding BEFORE offsets are computed.
        scaled = np.round(kept * (10 ** decimal_scale)).astype("i8")
        word, ref = _encode_ref_at_most(float(scaled.min()))
        offsets = np.round(scaled.astype("f8") - ref).astype("u8")
        span = int(offsets.max()) if offsets.size else 0
        bits = 8 if span < 2 ** 8 else 16 if span < 2 ** 16 else 32
        if span >= 2 ** 32:
            raise ValueError("value span too wide for 32-bit simple packing")
        packed = offsets.astype(f">u{bits // 8}").tobytes()
        unused = 0
        body_len = 11 + len(packed)
        if body_len % 2:  # BDS must have even length
            packed += b"\x00"
            unused = 8
            body_len += 1
        bds = (
            body_len.to_bytes(3, "big")
            + bytes([unused])  # flags 0000 (grid-point, simple) | unused bits
            + struct.pack(">H", _sm16(0))
            + struct.pack(">I", word)
            + bytes([bits])
            + packed
        )

        body = pds + gds + bms + bds
        total = 8 + len(body) + 4
        out += _MAGIC + total.to_bytes(3, "big") + b"\x01" + body + b"7777"
    with open(path, "wb") as f:
        f.write(out)


def is_grib1(path: str) -> bool:
    try:
        if not os.path.isfile(path):
            return False
        with open(path, "rb") as f:
            head = f.read(8)
        return head[:4] == _MAGIC and len(head) == 8 and head[7] == 1
    except OSError:
        return False


def list_params1(path: str) -> list[str]:
    """Parameter names from PDS headers alone — seeks between messages
    by total length, never reads a data section (driver-side probe)."""
    names: list[str] = []
    with open(path, "rb") as f:
        while True:
            head = f.read(8)
            if not head:
                break
            if head[:4] != _MAGIC or head[7] != 1:
                raise ValueError(f"{path}: not GRIB1")
            total = int.from_bytes(head[4:7], "big")
            pds = f.read(28)
            names.append(_REV_PARAMS1.get(pds[8], f"p{pds[8]}"))
            f.seek(total - 8 - 28, 1)
    return names


def read_grib1(path: str, want: set[int] | None = None) -> list[dict]:
    """Parse GRIB1 messages from a file. ``want`` is the message filter
    (table-2 indicator numbers); non-matching messages are SKIPPED by
    total length after the PDS header — their data section is never
    unpacked."""
    with open(path, "rb") as f:
        buf = f.read()
    return read_grib1_bytes(buf, want, origin=path)


def read_grib1_bytes(
    buf: bytes, want: set[int] | None = None, origin: str = "<bytes>"
) -> list[dict]:
    """Bytes-level GRIB1 message parser — kernel behind
    :func:`read_grib1` and byte-range manifest decodes."""
    path = origin  # error-message context only
    msgs: list[dict] = []
    p = 0
    while p < len(buf):
        if buf[p : p + 4] != _MAGIC:
            raise ValueError(f"{path}: not GRIB at offset {p}")
        if buf[p + 7] != 1:
            raise ValueError(f"{path}: edition {buf[p + 7]} message in GRIB1 reader")
        total = int.from_bytes(buf[p + 4 : p + 7], "big")
        msg = buf[p : p + total]
        if msg[-4:] != b"7777":
            raise ValueError(f"{path}: message at {p} missing '7777' terminator")

        pds = msg[8:]
        pds_len = int.from_bytes(pds[0:3], "big")
        indicator = pds[8]
        if want is not None and indicator not in want:
            p += total  # filter pushdown: BDS never unpacked
            continue
        flags = pds[7]
        if not flags & 0x80:
            raise NotImplementedError("GRIB1 messages without GDS (catalogued grids)")
        yoc, month, day, hour, minute = pds[12], pds[13], pds[14], pds[15], pds[16]
        century = pds[24]
        year = (century - 1) * 100 + yoc
        ref_time = pd.Timestamp(year=year, month=month, day=day, hour=hour, minute=minute)
        time_unit, p1, tri = pds[17], pds[18], pds[20]
        if tri != 0:
            raise NotImplementedError(f"GRIB1 time range indicator {tri} (instantaneous only)")
        unit_hours = {0: 1.0 / 60.0, 1: 1.0, 2: 24.0}
        if time_unit not in unit_hours:
            raise NotImplementedError(f"GRIB1 forecast time unit {time_unit}")
        step_hours = p1 * unit_hours[time_unit]
        D = _sm16d(struct.unpack_from(">H", pds, 26)[0])

        gds = msg[8 + pds_len :]
        gds_len = int.from_bytes(gds[0:3], "big")
        if gds[5] != 0:
            raise NotImplementedError(f"GRIB1 grid representation type {gds[5]}")
        ni, nj = struct.unpack_from(">HH", gds, 6)
        lat1 = _sm24d(gds[10:13]) / 1e3
        lon1 = _sm24d(gds[13:16]) / 1e3
        lat2 = _sm24d(gds[17:20]) / 1e3
        lon2 = _sm24d(gds[20:23]) / 1e3
        scan = gds[27]
        if scan != 0:
            raise NotImplementedError(f"scanning mode {scan} unsupported")
        lats = np.linspace(lat1, lat2, nj) if nj > 1 else np.array([lat1])
        lons = np.linspace(lon1, lon2, ni) if ni > 1 else np.array([lon1])

        rest = gds[gds_len:]
        mask = None
        if flags & 0x40:  # BMS present
            bms_len = int.from_bytes(rest[0:3], "big")
            table_ref, = struct.unpack_from(">H", rest, 4)
            if table_ref != 0:
                raise NotImplementedError("GRIB1 catalogued (predefined) bitmaps")
            mask = (
                np.unpackbits(np.frombuffer(rest[6:bms_len], dtype=np.uint8))[: ni * nj]
                .astype(bool)
            )
            rest = rest[bms_len:]
        npts = int(mask.sum()) if mask is not None else ni * nj

        bds = rest
        bds_flags = bds[3]
        if bds_flags & 0xF0:
            raise NotImplementedError(
                f"BDS flags {bds_flags >> 4:#x} (simple grid-point packing only)"
            )
        E = _sm16d(struct.unpack_from(">H", bds, 4)[0])
        ref = ibm32_decode(struct.unpack_from(">I", bds, 6)[0])
        bits = bds[10]
        if bits not in (8, 16, 32):
            raise NotImplementedError(f"{bits}-bit packing (byte-aligned widths only)")
        X = np.frombuffer(bds[11 : 11 + npts * (bits // 8)], dtype=f">u{bits // 8}").astype("f8")
        vals = (ref + X * (2.0 ** E)) / (10.0 ** D)
        if mask is not None:
            full = np.full(ni * nj, np.nan)
            full[mask] = vals
            vals = full
        msgs.append(
            {
                "param": _REV_PARAMS1.get(indicator, f"p{indicator}"),
                "ref_time": ref_time,
                "step_hours": step_hours,
                "valid_time": ref_time + pd.Timedelta(hours=step_hours),
                "lats": lats,
                "lons": lons,
                "values": vals.reshape(nj, ni),
            }
        )
        p += total
    return msgs


def grib1_decode(path: str, opts=None) -> pd.DataFrame:
    """Hypercube-ingest decoder over GRIB1 bytes — same long-format
    merge semantics as :func:`grib2.grib2_decode`, same
    ``opts.variables`` message-filter pushdown."""
    want = None
    variables = getattr(opts, "variables", None) if opts is not None else None
    if variables:
        import re as _re

        want = set()
        for v in variables:
            if v in PARAMS1:
                want.add(PARAMS1[v])
            elif _re.fullmatch(r"p\d+", v):
                # invertible decoder-assigned name — exact message filter
                want.add(int(v[1:]))
            else:
                # unmappable request → decode all (caller projects);
                # pruning must never silently blank a requested variable
                want = None
                break
    messages = read_grib1(path, want)
    has_step = any(m["step_hours"] for m in messages)
    frames: dict[tuple, pd.DataFrame] = {}
    for m in messages:
        la, lo = np.meshgrid(m["lats"], m["lons"], indexing="ij")
        key = (m["ref_time"], m["step_hours"], m["lats"].tobytes(), m["lons"].tobytes())
        pdf = frames.get(key)
        if pdf is None:
            cols = {"time": m["ref_time"]}
            if has_step:  # step as seconds-FLOAT64 (reference bq.py:440-441)
                cols["step"] = m["step_hours"] * 3600.0
                cols["valid_time"] = m["valid_time"]
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


def write_grib1_partitioned(
    rows, out_dir: str, variables: list[str], decimal_scale: int = 3
) -> int:
    """Distributed GRIB1 sink: one whole multi-message file per time
    slice per executor task (one message per variable and time); cells
    absent from the input are written as missing through the BMS."""
    from .grib2 import grib_messages
    from .opener import write_buckets

    def write_slice(ts: str, pdf: pd.DataFrame) -> None:
        write_grib1(
            os.path.join(out_dir, f"{ts}.grib"), grib_messages(pdf, variables), decimal_scale
        )

    return write_buckets(rows, out_dir, "yyyy-MM-dd'T'HH", write_slice)
