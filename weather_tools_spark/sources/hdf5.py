"""NetCDF-4 / HDF5 codec — stdlib-only (struct + zlib + numpy) subset.

The reference opens NetCDF-4 through xarray/h5netcdf (weather_mv
loader_pipeline/sinks.py:437-519 engine dispatch); those libraries are
absent here, but the HDF5 file format itself is a public specification.
This module implements the bounded subset that NetCDF-4 hypercube files
actually occupy, for both write and read:

    superblock v0 (LE, 8-byte offsets/lengths) · root group as a
    symbol-table group (v1 B-tree + local heap + SNOD) · one v1 object
    header per dataset · messages: dataspace (simple, ≤4-D) · datatype
    (fixed-point, IEEE float, fixed string) · fill value · data layout
    v3 (contiguous or chunked) · filter pipeline (shuffle + deflate) ·
    attribute (v1) · symbol table
    — chunked data indexed by a v1 B-tree (node type 1), one key per
    chunk: [chunk bytes, filter mask, chunk grid offsets, 0].

The READER additionally accepts superblock v2/v3, v2 (``OHDR``)
object headers with compact link messages — the layout h5py's
``libver='latest'`` emits — AND dense (fractal-heap) group storage:
link messages resolved out of FRHP/FHDB heap blocks through the v2
B-tree name index, the layout libraries switch to above ~8 links (the
many-variable NetCDF-4 case). Remaining gates (clear errors toward
the xarray branch): huge/tiny heap IDs, filtered heap blocks, B-tree
depth > 1, multi-level indirect blocks, virtual/external layouts.

NetCDF-4 semantics on top of raw HDF5 follow the same CF conventions
as the classic codec (sources/netcdf3.py): coordinate variables are
1-D datasets named ``time``/``latitude``/``longitude`` (time carries
the epoch ``units`` attribute), data variables are float hypercubes
over those axes. :func:`nc4_decode` is the hypercube-ingest decoder
behind ``FORMATS["netcdf4"]`` in sources/opener.py;
:func:`write_netcdf4_partitioned` is the distributed file-per-day sink.
"""

from __future__ import annotations

import os
import struct
import zlib

import numpy as np
import pandas as pd

MAGIC = b"\x89HDF\r\n\x1a\n"
_UNDEF = 0xFFFFFFFFFFFFFFFF
_TIME_UNITS = "seconds since 1970-01-01T00:00:00"

# ---------------------------------------------------------------- datatypes

_FIXED = {  # numpy dtype name -> (size, signed)
    "int8": (1, True), "int16": (2, True), "int32": (4, True), "int64": (8, True),
    "uint8": (1, False), "uint16": (2, False), "uint32": (4, False), "uint64": (8, False),
}
_FLOAT = {  # size -> (precision, exp loc, exp size, man size, bias, sign loc)
    4: (32, 23, 8, 23, 127, 31),
    8: (64, 52, 11, 52, 1023, 63),
}


def _dt_message(dtype: np.dtype) -> bytes:
    """Datatype message body (v1) for a little-endian numpy dtype."""
    name = dtype.newbyteorder("=").name
    if name in _FIXED:
        size, signed = _FIXED[name]
        b0 = 0x08 if signed else 0x00  # bit 0: LE order; bit 3: signed
        return struct.pack("<BBBBIHH", 0x10, b0, 0, 0, size, 0, size * 8)
    if dtype.kind == "f" and dtype.itemsize in _FLOAT:
        prec, eloc, esz, msz, bias, sloc = _FLOAT[dtype.itemsize]
        return struct.pack(
            "<BBBBIHHBBBBI", 0x11, 0x20, sloc, 0, dtype.itemsize,
            0, prec, eloc, esz, 0, msz, bias,
        )
    raise NotImplementedError(f"unsupported HDF5 write dtype {dtype}")


def _dt_string(n: int) -> bytes:
    """Fixed-length null-padded ASCII string datatype body."""
    return struct.pack("<BBBBI", 0x13, 0, 0, 0, n)


def _parse_datatype(body: bytes) -> tuple[str, int]:
    """Datatype body → (kind, itemsize); kind ∈ {int, uint, float, str}."""
    ver_cls = body[0]
    cls = ver_cls & 0x0F
    size, = struct.unpack_from("<I", body, 4)
    if cls == 0:
        if body[1] & 0x01:
            raise NotImplementedError("big-endian HDF5 fixed-point data")
        return ("int" if body[1] & 0x08 else "uint"), size
    if cls == 1:
        if body[1] & 0x01:
            raise NotImplementedError("big-endian HDF5 float data")
        if size not in (4, 8):
            raise NotImplementedError(f"{size}-byte HDF5 float")
        return "float", size
    if cls == 3:
        return "str", size
    raise NotImplementedError(f"HDF5 datatype class {cls} (fixed/float/string only)")


def _np_dtype(kind: str, size: int) -> np.dtype:
    if kind == "float":
        return np.dtype(f"<f{size}")
    if kind == "int":
        return np.dtype(f"<i{size}")
    if kind == "uint":
        return np.dtype(f"<u{size}")
    return np.dtype(f"S{size}")


# ---------------------------------------------------------------- writer


def _pad8(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 8)


def _msg(mtype: int, body: bytes) -> bytes:
    body = _pad8(body)
    return struct.pack("<HHB3x", mtype, len(body), 0) + body


def _dataspace(shape: tuple[int, ...]) -> bytes:
    return struct.pack("<BBB5x", 1, len(shape), 0) + b"".join(
        struct.pack("<Q", d) for d in shape
    )


def _attribute(name: str, value: str) -> bytes:
    nb = name.encode() + b"\x00"
    vb = value.encode()
    dt = _dt_string(len(vb))
    ds = struct.pack("<BBB5x", 1, 0, 0)  # scalar dataspace
    body = struct.pack("<BxHHH", 1, len(nb), len(dt), len(ds))
    body += _pad8(nb) + _pad8(dt) + _pad8(ds) + vb
    return _msg(0x000C, body)


def _object_header(messages: list[bytes]) -> bytes:
    data = b"".join(messages)
    return struct.pack("<BxHII4x", 1, len(messages), 1, len(data)) + data


def _shuffle(raw: bytes, itemsize: int) -> bytes:
    a = np.frombuffer(raw, dtype="u1").reshape(-1, itemsize)
    return np.ascontiguousarray(a.T).tobytes()


def _unshuffle(raw: bytes, itemsize: int) -> bytes:
    a = np.frombuffer(raw, dtype="u1").reshape(itemsize, -1)
    return np.ascontiguousarray(a.T).tobytes()


class _Out:
    """Append-only file image with address bookkeeping."""

    def __init__(self, reserve: int):
        self.buf = bytearray(b"\x00" * reserve)

    def put(self, b: bytes) -> int:
        addr = len(self.buf)
        self.buf += b
        return addr


def _lookup3(data: bytes, init: int = 0) -> int:
    """Bob Jenkins' lookup3 ``hashlittle`` (public domain) — the
    checksum HDF5 uses for every v2/v3 structure (superblock v2/3,
    OHDR, OCHK). Zero-padding the tail reproduces the C switch's
    partial-word reads exactly; a zero-length input skips the final
    mix (``case 0: return c``)."""

    def rot(x: int, k: int) -> int:
        return ((x << k) | (x >> (32 - k))) & 0xFFFFFFFF

    a = b = c = (0xDEADBEEF + len(data) + init) & 0xFFFFFFFF
    i, n = 0, len(data)
    while n > 12:
        a = (a + int.from_bytes(data[i : i + 4], "little")) & 0xFFFFFFFF
        b = (b + int.from_bytes(data[i + 4 : i + 8], "little")) & 0xFFFFFFFF
        c = (c + int.from_bytes(data[i + 8 : i + 12], "little")) & 0xFFFFFFFF
        a = (a - c) & 0xFFFFFFFF; a ^= rot(c, 4); c = (c + b) & 0xFFFFFFFF
        b = (b - a) & 0xFFFFFFFF; b ^= rot(a, 6); a = (a + c) & 0xFFFFFFFF
        c = (c - b) & 0xFFFFFFFF; c ^= rot(b, 8); b = (b + a) & 0xFFFFFFFF
        a = (a - c) & 0xFFFFFFFF; a ^= rot(c, 16); c = (c + b) & 0xFFFFFFFF
        b = (b - a) & 0xFFFFFFFF; b ^= rot(a, 19); a = (a + c) & 0xFFFFFFFF
        c = (c - b) & 0xFFFFFFFF; c ^= rot(b, 4); b = (b + a) & 0xFFFFFFFF
        i += 12
        n -= 12
    if n == 0:
        return c
    tail = data[i:] + b"\x00" * (12 - n)
    a = (a + int.from_bytes(tail[0:4], "little")) & 0xFFFFFFFF
    b = (b + int.from_bytes(tail[4:8], "little")) & 0xFFFFFFFF
    c = (c + int.from_bytes(tail[8:12], "little")) & 0xFFFFFFFF
    c ^= b; c = (c - rot(b, 14)) & 0xFFFFFFFF
    a ^= c; a = (a - rot(c, 11)) & 0xFFFFFFFF
    b ^= a; b = (b - rot(a, 25)) & 0xFFFFFFFF
    c ^= b; c = (c - rot(b, 16)) & 0xFFFFFFFF
    a ^= c; a = (a - rot(c, 4)) & 0xFFFFFFFF
    b ^= a; b = (b - rot(a, 14)) & 0xFFFFFFFF
    c ^= b; c = (c - rot(b, 24)) & 0xFFFFFFFF
    return c


def _link_message(name: str, oh_addr: int) -> bytes:
    """Hard-link message body (type 0x0006, version 1): the compact
    group storage v2 object headers use."""
    nb = name.encode()
    if len(nb) > 255:
        raise ValueError("link name too long for 1-byte length encoding")
    return struct.pack("<BBB", 1, 0, len(nb)) + nb + struct.pack("<Q", oh_addr)


def _object_header_v2(messages: list[bytes]) -> bytes:
    """v2 ('OHDR') object header with 2-byte chunk-0 size and a real
    lookup3 checksum; ``messages`` are (type u8, size u16, flags u8)
    framed bodies built by the caller."""
    data = b"".join(messages)
    head = b"OHDR" + struct.pack("<BB", 2, 0x01) + struct.pack("<H", len(data))
    return head + data + struct.pack("<I", _lookup3(head + data))


def _msg_v2(mtype: int, body: bytes) -> bytes:
    return struct.pack("<BHB", mtype, len(body), 0) + body


# Dense-group write geometry: the libhdf5 group-heap defaults
# (H5Gpkg.h) — width 4, 512B starting block, 8KiB max direct block,
# 32-bit heap space, 7-byte heap IDs; v2 B-tree node 2048B.
_DENSE_WIDTH = 4
_DENSE_START = 512
_DENSE_MAX_DIRECT = 8192
_DENSE_HEAP_BITS = 32
_DENSE_HEAP_ID_LEN = 7
_DENSE_BT2_NODE = 2048


def _write_dense_group(out: "_Out", entries: list[tuple[str, int]]) -> tuple[int, int]:
    """Emit fractal heap + v2 B-tree name index for ``entries`` and
    return (heap header addr, B-tree header addr) — the dense group
    storage libraries switch to above the compact-link limit. Single
    root direct block (doubling sizes 512..8192 → hundreds of links);
    beyond that raises rather than emitting multi-block layouts the
    reader would accept but real tools might not."""
    off_size = _DENSE_HEAP_BITS // 8
    len_size = (_DENSE_MAX_DIRECT.bit_length() + 7) // 8
    dblock_header = 4 + 1 + 8 + off_size  # sig, version, heap hdr addr, block offset
    links = [_link_message(n, a) for n, a in entries]
    need = dblock_header + sum(len(b) for b in links)
    block_size = _DENSE_START
    while block_size < need:
        block_size *= 2
        if block_size > _DENSE_MAX_DIRECT:
            raise NotImplementedError(
                f"{len(entries)} links overflow one direct block "
                f"({need}B > {_DENSE_MAX_DIRECT}B) — multi-block dense write"
            )
    heap_hdr_addr_pos = out.put(b"")  # heap header goes first (address known now)
    # assemble the direct block (heap offset 0), objects packed after header
    ids: list[bytes] = []
    body = bytearray()
    for lb in links:
        obj_off = dblock_header + len(body)
        ids.append(
            b"\x00"
            + obj_off.to_bytes(off_size, "little")
            + len(lb).to_bytes(len_size, "little")
        )
        body += lb
    dblock = (
        b"FHDB"
        + struct.pack("<B", 0)
        + struct.pack("<Q", heap_hdr_addr_pos)
        + (0).to_bytes(off_size, "little")
        + bytes(body)
        + b"\x00" * (block_size - dblock_header - len(body))
    )
    # heap header (FRHP), flags=0: direct blocks unchecksummed
    hdr = b"FRHP" + struct.pack("<BHHB", 0, _DENSE_HEAP_ID_LEN, 0, 0)
    hdr += struct.pack("<I", 4096)  # max size of managed objects
    hdr += struct.pack("<QQ", 0, _UNDEF)  # next huge id, huge bt2
    hdr += struct.pack("<QQ", block_size - need, _UNDEF)  # free space, fs mgr
    hdr += struct.pack(
        "<QQQQ", block_size, block_size, need, len(entries)
    )  # managed space, allocated, iterator, n_managed
    hdr += struct.pack("<QQQQ", 0, 0, 0, 0)  # huge/tiny size+count
    hdr += struct.pack("<H", _DENSE_WIDTH)
    hdr += struct.pack("<QQ", _DENSE_START, _DENSE_MAX_DIRECT)
    hdr += struct.pack("<HH", _DENSE_HEAP_BITS, 1)  # max heap size, start rows
    dblock_addr = heap_hdr_addr_pos  # placeholder, patched after hdr length known
    hdr_len = len(hdr) + 8 + 2 + 4  # + root addr, cur rows, checksum
    dblock_addr = heap_hdr_addr_pos + hdr_len
    hdr += struct.pack("<QH", dblock_addr, 0)  # root = direct block, cur rows 0
    hdr += struct.pack("<I", _lookup3(hdr))
    out.buf += hdr + dblock
    assert len(out.buf) == dblock_addr + block_size

    # v2 B-tree name index: records (name-hash, heap id) sorted by hash
    rec_size = 4 + _DENSE_HEAP_ID_LEN
    recs = [
        struct.pack("<I", _lookup3(n.encode())) + hid
        for (n, _a), hid in zip(entries, ids)
    ]
    recs.sort(key=lambda r: struct.unpack("<I", r[:4])[0])
    if len(recs) > (_DENSE_BT2_NODE - 10) // rec_size:
        raise NotImplementedError("dense-group link count overflows one B-tree leaf")
    leaf = b"BTLF" + struct.pack("<BB", 0, 5) + b"".join(recs)
    leaf += struct.pack("<I", _lookup3(leaf))
    leaf_addr = out.put(leaf)
    bthd = b"BTHD" + struct.pack("<BB", 0, 5)
    bthd += struct.pack("<IHH", _DENSE_BT2_NODE, rec_size, 0)  # node size, rec size, depth
    bthd += struct.pack("<BB", 100, 40)  # split/merge percents
    bthd += struct.pack("<QH", leaf_addr, len(recs))
    bthd += struct.pack("<Q", len(recs))  # total records
    bthd += struct.pack("<I", _lookup3(bthd))
    bt2_addr = out.put(bthd)
    return heap_hdr_addr_pos, bt2_addr


def write_hdf5(
    path: str,
    datasets: dict[str, np.ndarray],
    attrs: dict[str, dict[str, str]] | None = None,
    chunks: dict[str, tuple[int, ...]] | None = None,
    compression: str | None = None,
    shuffle: bool = False,
    layout: str = "v0",
) -> None:
    """Serialize datasets into a genuine HDF5 file. ``layout='v0'``
    emits the classic structure (superblock v0, symbol-table root
    group, v1 object headers — what default libhdf5 writes);
    ``layout='latest'`` emits the modern structure (superblock v3, v2
    'OHDR' root header with compact link messages, lookup3 checksums —
    what ``libver='latest'`` writers emit), exercising the reader's v2
    paths against genuine bytes. ``chunks[name]`` makes that dataset
    chunked (v1 B-tree index); ``compression='deflate'`` (+ optional
    byte ``shuffle``) builds a real filter pipeline. ``attrs[name]``
    attaches fixed-string attributes. ``layout='dense'`` emits the
    fractal-heap + v2-B-tree dense root group (what libraries switch
    to above ~8 links — the many-variable NetCDF-4 layout)."""
    if layout not in ("v0", "latest", "dense"):
        raise ValueError(f"unknown HDF5 layout {layout!r}")
    attrs = attrs or {}
    chunks = chunks or {}
    # superblock v0 with 8-byte offsets is 96 bytes; v3 is 48
    out = _Out(reserve=96 if layout == "v0" else 48)

    entries: list[tuple[str, int]] = []  # (name, object header addr)
    for name in sorted(datasets):
        arr = np.ascontiguousarray(datasets[name])
        if arr.dtype.byteorder == ">":
            arr = arr.astype(arr.dtype.newbyteorder("<"))
        msgs = [
            _msg(0x0001, _dataspace(arr.shape)),
            _msg(0x0003, _dt_message(arr.dtype)),
            _msg(0x0005, struct.pack("<BBBB", 2, 2, 0, 0)),  # fill undefined
        ]
        if name in chunks:
            cdims = tuple(chunks[name])
            if len(cdims) != arr.ndim:
                raise ValueError(f"chunks for {name} must match rank {arr.ndim}")
            filters = []
            if shuffle:
                filters.append((2, [arr.dtype.itemsize]))
            if compression == "deflate":
                filters.append((1, [6]))
            elif compression is not None:
                raise NotImplementedError(f"compression {compression!r}")
            # write chunks + their B-tree (single leaf node)
            grid = [range(0, s, c) for s, c in zip(arr.shape, cdims)]
            chunk_keys = []
            import itertools

            for origin in itertools.product(*grid):
                sl = tuple(
                    slice(o, min(o + c, s)) for o, c, s in zip(origin, cdims, arr.shape)
                )
                block = np.zeros(cdims, dtype=arr.dtype)  # edge chunks zero-padded
                block[tuple(slice(0, s.stop - s.start) for s in sl)] = arr[sl]
                raw = block.tobytes()
                for fid, opts in filters:
                    raw = _shuffle(raw, opts[0]) if fid == 2 else zlib.compress(raw, opts[0])
                addr = out.put(raw)
                chunk_keys.append((len(raw), origin, addr))
            ndims = arr.ndim + 1
            node = b"TREE" + struct.pack("<BBHQQ", 1, 0, len(chunk_keys), _UNDEF, _UNDEF)
            for size, origin, addr in chunk_keys:
                node += struct.pack("<II", size, 0)
                node += b"".join(struct.pack("<Q", o) for o in origin) + struct.pack("<Q", 0)
                node += struct.pack("<Q", addr)
            node += struct.pack("<II", 0, 0) + b"\x00" * (8 * ndims)  # final key
            btree_addr = out.put(node)
            layout_msg = struct.pack("<BBB", 3, 2, ndims) + struct.pack("<Q", btree_addr)
            layout_msg += b"".join(struct.pack("<I", c) for c in cdims)
            layout_msg += struct.pack("<I", arr.dtype.itemsize)
            msgs.append(_msg(0x0008, layout_msg))
            if filters:
                body = struct.pack("<BB2x4x", 1, len(filters))
                for fid, opts in filters:
                    body += struct.pack("<HHHH", fid, 0, 0, len(opts))
                    body += b"".join(struct.pack("<I", v) for v in opts)
                    if len(opts) % 2:
                        body += b"\x00" * 4
                msgs.append(_msg(0x000B, body))
        else:
            data_addr = out.put(arr.tobytes())
            msgs.append(
                _msg(0x0008, struct.pack("<BBQQ", 3, 1, data_addr, arr.nbytes))
            )
        for aname, aval in attrs.get(name, {}).items():
            msgs.append(_attribute(aname, aval))
        entries.append((name, out.put(_object_header(msgs))))

    if layout in ("latest", "dense"):
        if layout == "dense":
            # root group as a v2 object header whose single Link Info
            # message points at real fractal-heap + v2-B-tree storage
            fheap_addr, bt2_addr = _write_dense_group(out, entries)
            info = struct.pack("<BB", 0, 0) + struct.pack("<QQ", fheap_addr, bt2_addr)
            root_addr = out.put(_object_header_v2([_msg_v2(0x0002, info)]))
        else:
            # root group as a v2 object header with compact link messages
            root_addr = out.put(
                _object_header_v2(
                    [_msg_v2(0x0006, _link_message(n, a)) for n, a in entries]
                )
            )
        eof = len(out.buf)
        sb = MAGIC + struct.pack(
            "<BBBBQQQQ", 3, 8, 8, 0, 0, _UNDEF, eof, root_addr
        )
        sb += struct.pack("<I", _lookup3(sb))
        assert len(sb) == 48
        out.buf[:48] = sb
        with open(path, "wb") as f:
            f.write(out.buf)
        return

    # root group: local heap (names), SNOD, B-tree, object header
    heap_data = bytearray(b"\x00" * 8)  # offset 0: the empty string
    name_offsets = {}
    for name, _ in entries:
        name_offsets[name] = len(heap_data)
        nb = name.encode() + b"\x00"
        heap_data += nb + b"\x00" * (-len(nb) % 8)
    heap_data_addr = out.put(bytes(heap_data))
    heap_addr = out.put(
        b"HEAP" + struct.pack("<B3xQQQ", 0, len(heap_data), _UNDEF, heap_data_addr)
    )

    leaf_k = 4
    if len(entries) > 2 * leaf_k:
        raise NotImplementedError(
            f"{len(entries)} root entries exceed one symbol-table node (2K={2*leaf_k})"
        )
    snod = b"SNOD" + struct.pack("<BxH", 1, len(entries))
    for name, oh_addr in entries:  # entries sorted by name already
        snod += struct.pack("<QQII16x", name_offsets[name], oh_addr, 0, 0)
    snod += b"\x00" * (40 * (2 * leaf_k - len(entries)))
    snod_addr = out.put(snod)

    last_name_off = name_offsets[entries[-1][0]] if entries else 0
    btree = b"TREE" + struct.pack("<BBHQQ", 0, 0, 1, _UNDEF, _UNDEF)
    btree += struct.pack("<QQQ", 0, snod_addr, last_name_off)
    btree_addr = out.put(btree)

    root_oh = _object_header([_msg(0x0011, struct.pack("<QQ", btree_addr, heap_addr))])
    root_addr = out.put(root_oh)

    eof = len(out.buf)
    sb = MAGIC + struct.pack(
        "<BBBBBBBBHHIQQQQ", 0, 0, 0, 0, 0, 8, 8, 0, leaf_k, 16, 0,
        0, _UNDEF, eof, _UNDEF,
    )
    sb += struct.pack("<QQII", 0, root_addr, 1, 0) + struct.pack("<QQ", btree_addr, heap_addr)
    assert len(sb) == 96
    out.buf[:96] = sb
    with open(path, "wb") as f:
        f.write(out.buf)


# ---------------------------------------------------------------- reader


def is_hdf5(path: str) -> bool:
    try:
        if not os.path.isfile(path):
            return False
        with open(path, "rb") as f:
            return f.read(8) == MAGIC
    except OSError:
        return False


def _parse_messages_v1(buf: bytes, addr: int) -> list[tuple[int, bytes]]:
    nmsgs, _refs, hsize = struct.unpack_from("<HII", buf, addr + 2)
    p = addr + 16  # 12-byte prefix + 4-byte alignment pad
    end = p + hsize
    msgs: list[tuple[int, bytes]] = []
    while len(msgs) < nmsgs and p < end:
        mtype, msize, flags = struct.unpack_from("<HHB", buf, p)
        body = buf[p + 8 : p + 8 + msize]
        p += 8 + msize
        if mtype == 0x0010:  # continuation block
            caddr, clen = struct.unpack_from("<QQ", body, 0)
            sub = buf[caddr : caddr + clen]
            q = 0
            while len(msgs) < nmsgs and q + 8 <= len(sub):
                t2, s2, _f2 = struct.unpack_from("<HHB", sub, q)
                msgs.append((t2, sub[q + 8 : q + 8 + s2]))
                q += 8 + s2
            continue
        msgs.append((mtype, body))
    return msgs


def _parse_messages_v2(buf: bytes, addr: int) -> list[tuple[int, bytes]]:
    if buf[addr : addr + 4] != b"OHDR":
        raise ValueError("bad v2 object header signature")
    flags = buf[addr + 5]
    p = addr + 6
    if flags & 0x20:
        p += 16  # access/mod/change/birth times
    if flags & 0x10:
        p += 4  # max compact / min dense
    size_bytes = 1 << (flags & 0x03)
    hsize = int.from_bytes(buf[p : p + size_bytes], "little")
    p += size_bytes
    end = p + hsize  # chunk-0 size excludes the trailing checksum
    msgs: list[tuple[int, bytes]] = []
    step = 4 + (2 if flags & 0x04 else 0)
    while p + step <= end:
        mtype = buf[p]
        msize, = struct.unpack_from("<H", buf, p + 1)
        p += step
        body = buf[p : p + msize]
        p += msize
        if mtype == 0x0010:
            caddr, clen = struct.unpack_from("<QQ", body, 0)
            # v2 continuation blocks carry their own signature+checksum
            msgs += _v2_continuation(buf, caddr, clen, step)
            continue
        msgs.append((mtype, body))
    return msgs


def _v2_continuation(buf: bytes, addr: int, length: int, step: int) -> list[tuple[int, bytes]]:
    if buf[addr : addr + 4] != b"OCHK":
        raise ValueError("bad v2 continuation signature")
    p, end = addr + 4, addr + length - 4
    msgs = []
    while p + step <= end:
        mtype = buf[p]
        msize, = struct.unpack_from("<H", buf, p + 1)
        p += step
        msgs.append((mtype, buf[p : p + msize]))
        p += msize
    return msgs


def _parse_object_header(buf: bytes, addr: int) -> list[tuple[int, bytes]]:
    if buf[addr : addr + 4] == b"OHDR":
        return _parse_messages_v2(buf, addr)
    if buf[addr] == 1:
        return _parse_messages_v1(buf, addr)
    raise NotImplementedError(f"object header version {buf[addr]} at {addr}")


def _parse_dataspace(body: bytes) -> tuple[int, ...]:
    ver = body[0]
    rank = body[1]
    off = 8 if ver == 1 else 4  # v2: version, rank, flags, type
    return tuple(
        struct.unpack_from("<Q", body, off + 8 * i)[0] for i in range(rank)
    )


def _parse_filters(body: bytes) -> list[tuple[int, list[int]]]:
    ver = body[0]
    nf = body[1]
    p = 8 if ver == 1 else 2
    filters = []
    for _ in range(nf):
        fid, namelen, _flags, ncv = struct.unpack_from("<HHHH", body, p)
        p += 8
        if ver == 1 and namelen:
            p += namelen + (-namelen % 8)
        elif ver == 2 and namelen:
            p += namelen
        vals = [struct.unpack_from("<I", body, p + 4 * i)[0] for i in range(ncv)]
        p += 4 * ncv
        if ver == 1 and ncv % 2:
            p += 4
        filters.append((fid, vals))
    return filters


def _walk_chunk_btree(buf: bytes, addr: int, ndims: int):
    """Yield (chunk byte size, filter mask, grid offsets, data addr)
    from a v1 B-tree (node type 1), recursing through internal levels."""
    if addr == _UNDEF:
        return
    if buf[addr : addr + 4] != b"TREE":
        raise ValueError(f"bad chunk B-tree signature at {addr}")
    ntype, level, used = struct.unpack_from("<BBH", buf, addr + 4)
    if ntype != 1:
        raise ValueError("not a chunk B-tree node")
    p = addr + 24
    key_len = 8 + 8 * ndims
    for _ in range(used):
        size, mask = struct.unpack_from("<II", buf, p)
        offs = tuple(
            struct.unpack_from("<Q", buf, p + 8 + 8 * i)[0] for i in range(ndims - 1)
        )
        child, = struct.unpack_from("<Q", buf, p + key_len)
        if level == 0:
            yield size, mask, offs, child
        else:
            yield from _walk_chunk_btree(buf, child, ndims)
        p += key_len + 8


def _read_dataset(buf: bytes, msgs: list[tuple[int, bytes]]) -> tuple[np.ndarray | None, dict]:
    shape: tuple[int, ...] | None = None
    kind = size = None
    layout = None
    filters: list[tuple[int, list[int]]] = []
    attrs: dict[str, object] = {}
    for mtype, body in msgs:
        if mtype == 0x0001:
            shape = _parse_dataspace(body)
        elif mtype == 0x0003:
            kind, size = _parse_datatype(body)
        elif mtype == 0x0008:
            layout = body
        elif mtype == 0x000B:
            filters = _parse_filters(body)
        elif mtype == 0x000C:
            name, val = _parse_attribute(buf, body)
            attrs[name] = val
    if shape is None or kind is None or layout is None:
        return None, attrs
    dtype = _np_dtype(kind, size)
    ver = layout[0]
    if ver != 3:
        raise NotImplementedError(f"data layout version {ver} (v3 only)")
    cls = layout[1]
    if cls == 0:  # compact
        dsize, = struct.unpack_from("<H", layout, 2)
        arr = np.frombuffer(layout[4 : 4 + dsize], dtype=dtype)
    elif cls == 1:  # contiguous
        addr, nbytes = struct.unpack_from("<QQ", layout, 2)
        if addr == _UNDEF:
            return np.zeros(shape, dtype=dtype), attrs
        arr = np.frombuffer(buf[addr : addr + nbytes], dtype=dtype)
    elif cls == 2:  # chunked, v1 B-tree index
        ndims = layout[2]
        btree_addr, = struct.unpack_from("<Q", layout, 3)
        cdims = tuple(
            struct.unpack_from("<I", layout, 11 + 4 * i)[0] for i in range(ndims - 1)
        )
        full = np.zeros(shape, dtype=dtype)
        for csize, mask, offs, daddr in _walk_chunk_btree(buf, btree_addr, ndims):
            raw = bytes(buf[daddr : daddr + csize])
            for i, (fid, opts) in reversed(list(enumerate(filters))):
                if mask & (1 << i):
                    continue
                if fid == 1:
                    raw = zlib.decompress(raw)
                elif fid == 2:
                    raw = _unshuffle(raw, opts[0] if opts else dtype.itemsize)
                else:
                    raise NotImplementedError(f"HDF5 filter id {fid}")
            block = np.frombuffer(raw, dtype=dtype).reshape(cdims)
            sl = tuple(
                slice(o, min(o + c, s)) for o, c, s in zip(offs, cdims, shape)
            )
            full[sl] = block[tuple(slice(0, s.stop - s.start) for s in sl)]
        return full, attrs
    else:
        raise NotImplementedError(f"data layout class {cls}")
    return arr.reshape(shape), attrs


def _parse_attribute(buf: bytes, body: bytes) -> tuple[str, object]:
    ver = body[0]
    if ver == 1:
        nsz, dtsz, dssz = struct.unpack_from("<HHH", body, 2)
        p = 8
        name = body[p : p + nsz].split(b"\x00")[0].decode()
        p += nsz + (-nsz % 8)
        dt = body[p : p + dtsz]
        p += dtsz + (-dtsz % 8)
        ds = body[p : p + dssz]
        p += dssz + (-dssz % 8)
    elif ver in (2, 3):
        nsz, dtsz, dssz = struct.unpack_from("<HHH", body, 2)
        p = 8 + (1 if ver == 3 else 0)
        name = body[p : p + nsz].split(b"\x00")[0].decode()
        p += nsz
        dt = body[p : p + dtsz]
        p += dtsz
        ds = body[p : p + dssz]
        p += dssz
    else:
        return f"_unsupported_v{ver}", None
    try:
        kind, size = _parse_datatype(dt)
    except NotImplementedError:
        return name, None  # vlen/reference attrs: tolerated, not decoded
    shape = _parse_dataspace(ds) if ds and ds[1] else ()
    count = int(np.prod(shape)) if shape else 1
    raw = body[p : p + count * size]
    if kind == "str":
        return name, raw.split(b"\x00")[0].decode(errors="replace")
    vals = np.frombuffer(raw, dtype=_np_dtype(kind, size))
    return name, vals.tolist() if shape else vals[0].item()


def _root_entries(buf: bytes) -> list[tuple[str, int]]:
    """(name, object header address) for every root-group member, from
    either a symbol-table group or compact link messages."""
    sb_ver = buf[8]
    if sb_ver in (0, 1):
        root_ste = 24 + (4 if sb_ver == 1 else 0) + 8 * 4 + 12 + 1  # fixed prefix
        # superblock v0: root STE begins at byte 56 (v1: 60 — extra k + reserved)
        base = 56 if sb_ver == 0 else 60
        oh_addr, = struct.unpack_from("<Q", buf, base + 8)
        del root_ste
    elif sb_ver in (2, 3):
        oh_addr, = struct.unpack_from("<Q", buf, 36)  # root group OH address
    else:
        raise NotImplementedError(f"superblock version {sb_ver}")
    msgs = _parse_object_header(buf, oh_addr)
    entries: list[tuple[str, int]] = []
    for mtype, body in msgs:
        if mtype == 0x0011:  # symbol table
            btree_addr, heap_addr = struct.unpack_from("<QQ", body, 0)
            entries += _walk_group_btree(buf, btree_addr, heap_addr)
        elif mtype == 0x0006:  # link message (compact group)
            entries.append(_parse_link(body))
        elif mtype == 0x0002:  # link info: dense (fractal heap) storage
            p = 2 + (8 if body[1] & 1 else 0)
            fheap, bt2 = struct.unpack_from("<QQ", body, p)
            if fheap != _UNDEF:
                entries += _walk_dense_group(buf, fheap, bt2)
    return entries


# ------------------------------------------------- dense (fractal-heap) groups
#
# When a group exceeds the compact-link limit (netCDF4/h5py default: 8
# links) the library switches to "dense" storage: link messages live as
# managed objects in a FRACTAL HEAP ("FRHP" header + FHDB direct blocks
# laid out by a width-doubling table), located by 7-byte heap IDs held
# in the records of a v2 B-TREE name index ("BTHD"/"BTIN"/"BTLF").
# Reading a dense group = enumerate the B-tree records, resolve each
# managed heap ID to its byte range, parse the bytes as a link message.
# Scope gates (clear errors, not wrong answers): huge/tiny heap IDs,
# I/O-filtered heap blocks, indirect-block recursion beyond one level,
# and B-tree depth > 1 — none of which a group of link messages
# produces at realistic variable counts.


def _parse_frhp(buf: bytes, addr: int) -> dict:
    if buf[addr : addr + 4] != b"FRHP":
        raise ValueError(f"bad fractal heap signature at {addr}")
    p = addr + 4
    version = buf[p]; p += 1
    heap_id_len, io_filter_len = struct.unpack_from("<HH", buf, p); p += 4
    flags = buf[p]; p += 1
    p += 4          # max size of managed objects
    p += 8 * 2      # next huge id, huge-object v2 btree addr
    p += 8 * 2      # free space, free-space manager addr
    p += 8 * 8      # managed space, allocated space, iterator offset,
    #                 n_managed, huge size, n_huge, tiny size, n_tiny
    table_width, = struct.unpack_from("<H", buf, p); p += 2
    start_block, max_direct = struct.unpack_from("<QQ", buf, p); p += 16
    max_heap_bits, start_rows = struct.unpack_from("<HH", buf, p); p += 4
    root_addr, = struct.unpack_from("<Q", buf, p); p += 8
    cur_rows, = struct.unpack_from("<H", buf, p); p += 2
    if version != 0:
        raise NotImplementedError(f"fractal heap version {version}")
    if io_filter_len:
        raise NotImplementedError("I/O-filtered fractal heap blocks")
    return {
        "addr": addr,
        "heap_id_len": heap_id_len,
        "checksum_dblocks": bool(flags & 0x02),
        "width": table_width,
        "start_block": start_block,
        "max_direct": max_direct,
        "off_size": (max_heap_bits + 7) // 8,
        "len_size": (int(max_direct).bit_length() + 7) // 8,
        "root_addr": root_addr,
        "cur_rows": cur_rows,
    }


def _fheap_row_size(hdr: dict, row: int) -> int:
    return hdr["start_block"] if row < 2 else hdr["start_block"] << (row - 1)


def _fheap_direct_addr(buf: bytes, hdr: dict, offset: int) -> int:
    """File address of the direct block whose heap space contains
    ``offset`` (root-direct and one-level root-indirect layouts)."""
    if hdr["cur_rows"] == 0:  # root IS a single direct block at offset 0
        return hdr["root_addr"]
    a = hdr["root_addr"]
    if buf[a : a + 4] != b"FHIB":
        raise ValueError(f"bad fractal heap indirect block at {a}")
    p = a + 4 + 1 + 8 + hdr["off_size"]  # sig, version, heap hdr addr, block offset
    children = []
    for _ in range(hdr["cur_rows"] * hdr["width"]):
        child, = struct.unpack_from("<Q", buf, p)
        children.append(child)
        p += 8
    acc = 0
    for row in range(hdr["cur_rows"]):
        rs = _fheap_row_size(hdr, row)
        if rs > hdr["max_direct"]:
            raise NotImplementedError(
                "fractal heap indirect-block rows beyond the direct-row region"
            )
        span = hdr["width"] * rs
        if offset < acc + span:
            return children[row * hdr["width"] + (offset - acc) // rs]
        acc += span
    raise ValueError(f"heap offset {offset} beyond current fractal heap rows")


def _fheap_managed_bytes(buf: bytes, hdr: dict, heap_id: bytes) -> bytes:
    idtype = (heap_id[0] >> 4) & 0x3
    if idtype != 0:
        raise NotImplementedError(
            f"fractal heap ID type {idtype} (huge/tiny) — managed objects only"
        )
    o, ln = hdr["off_size"], hdr["len_size"]
    offset = int.from_bytes(heap_id[1 : 1 + o], "little")
    length = int.from_bytes(heap_id[1 + o : 1 + o + ln], "little")
    baddr = _fheap_direct_addr(buf, hdr, offset)
    if buf[baddr : baddr + 4] != b"FHDB":
        raise ValueError(f"bad fractal heap direct block at {baddr}")
    boff = int.from_bytes(
        buf[baddr + 4 + 1 + 8 : baddr + 4 + 1 + 8 + hdr["off_size"]], "little"
    )
    start = baddr + (offset - boff)
    return bytes(buf[start : start + length])


def _bt2_records(buf: bytes, addr: int) -> list[bytes]:
    """All records of a v2 B-tree (depth ≤ 1), in tree order."""
    if buf[addr : addr + 4] != b"BTHD":
        raise ValueError(f"bad v2 B-tree header at {addr}")
    p = addr + 4
    version, btype = buf[p], buf[p + 1]; p += 2
    node_size, = struct.unpack_from("<I", buf, p); p += 4
    rec_size, depth = struct.unpack_from("<HH", buf, p); p += 4
    p += 2  # split/merge percents
    root_addr, = struct.unpack_from("<Q", buf, p); p += 8
    root_nrec, = struct.unpack_from("<H", buf, p); p += 2
    del version, btype
    if depth > 1:
        raise NotImplementedError(f"v2 B-tree depth {depth} (0/1 supported)")

    def leaf(a: int, n: int) -> list[bytes]:
        if buf[a : a + 4] != b"BTLF":
            raise ValueError(f"bad v2 B-tree leaf at {a}")
        q = a + 6
        return [bytes(buf[q + i * rec_size : q + (i + 1) * rec_size]) for i in range(n)]

    if depth == 0:
        return leaf(root_addr, root_nrec)
    # internal root (BTIN): N records then N+1 child pointers
    if buf[root_addr : root_addr + 4] != b"BTIN":
        raise ValueError(f"bad v2 B-tree internal node at {root_addr}")
    q = root_addr + 6
    irecs = [bytes(buf[q + i * rec_size : q + (i + 1) * rec_size]) for i in range(root_nrec)]
    q += root_nrec * rec_size
    max_leaf_nrec = (node_size - 10) // rec_size
    nrec_width = (int(max_leaf_nrec).bit_length() + 7) // 8
    out: list[bytes] = []
    for i in range(root_nrec + 1):
        child, = struct.unpack_from("<Q", buf, q); q += 8
        cnt = int.from_bytes(buf[q : q + nrec_width], "little"); q += nrec_width
        out += leaf(child, cnt)
        if i < root_nrec:
            out.append(irecs[i])
    return out


def _walk_dense_group(buf: bytes, fheap_addr: int, bt2_addr: int) -> list[tuple[str, int]]:
    hdr = _parse_frhp(buf, fheap_addr)
    entries: list[tuple[str, int]] = []
    for rec in _bt2_records(buf, bt2_addr):
        heap_id = rec[4 : 4 + hdr["heap_id_len"]]  # after the 4-byte name hash
        entries.append(_parse_link(_fheap_managed_bytes(buf, hdr, heap_id)))
    return entries


def _parse_link(body: bytes) -> tuple[str, int]:
    ver, flags = body[0], body[1]
    p = 2
    if flags & 0x08:
        if body[p] != 0:
            raise NotImplementedError("non-hard HDF5 links")
        p += 1
    if flags & 0x04:
        p += 8  # creation order
    if flags & 0x10:
        p += 1  # charset
    lsize = 1 << (flags & 0x03)
    nlen = int.from_bytes(body[p : p + lsize], "little")
    p += lsize
    name = body[p : p + nlen].decode()
    p += nlen
    addr, = struct.unpack_from("<Q", body, p)
    return name, addr


def _walk_group_btree(buf: bytes, addr: int, heap_addr: int) -> list[tuple[str, int]]:
    if buf[addr : addr + 4] != b"TREE":
        raise ValueError(f"bad group B-tree signature at {addr}")
    ntype, level, used = struct.unpack_from("<BBH", buf, addr + 4)
    if buf[heap_addr : heap_addr + 4] != b"HEAP":
        raise ValueError("bad local heap signature")
    heap_data_addr, = struct.unpack_from("<Q", buf, heap_addr + 24)
    entries: list[tuple[str, int]] = []
    p = addr + 24
    for i in range(used):
        # key_i (8) precedes child_i (8)
        child, = struct.unpack_from("<Q", buf, p + 8)
        p += 16
        if level > 0:
            entries += _walk_group_btree(buf, child, heap_addr)
            continue
        if buf[child : child + 4] != b"SNOD":
            raise ValueError("bad symbol node signature")
        count, = struct.unpack_from("<H", buf, child + 6)
        q = child + 8
        for _ in range(count):
            name_off, oh_addr = struct.unpack_from("<QQ", buf, q)
            name = bytes(buf[heap_data_addr + name_off :]).split(b"\x00")[0].decode()
            entries.append((name, oh_addr))
            q += 40
    return entries


def read_hdf5(
    path: str, want: set[str] | None = None
) -> tuple[dict[str, np.ndarray], dict[str, dict]]:
    """Parse an HDF5 file → ({dataset name: array}, {name: attrs}).

    ``want`` is the projection pushdown: datasets outside the set are
    skipped BEFORE the payload walk (no B-tree traversal, no chunk
    inflate/unshuffle) — only their root symbol-table entry is ever
    touched. ``None`` reads everything."""
    with open(path, "rb") as f:
        buf = f.read()
    if buf[:8] != MAGIC:
        raise ValueError(f"{path}: not an HDF5 file")
    datasets: dict[str, np.ndarray] = {}
    attrs: dict[str, dict] = {}
    for name, oh_addr in _root_entries(buf):
        if want is not None and name not in want:
            continue
        msgs = _parse_object_header(buf, oh_addr)
        arr, a = _read_dataset(buf, msgs)
        if arr is not None:
            datasets[name] = arr
            attrs[name] = a
    return datasets, attrs


def list_variables_h5(path: str) -> list[str]:
    """Data-variable names (rank ≥ 2 datasets) from object headers —
    driver-side probe; no data bytes are decoded."""
    with open(path, "rb") as f:
        buf = f.read()
    names = []
    for name, oh_addr in _root_entries(buf):
        for mtype, body in _parse_object_header(buf, oh_addr):
            if mtype == 0x0001 and len(_parse_dataspace(body)) >= 2:
                names.append(name)
    return sorted(names)


# ---------------------------------------------------------------- NetCDF-4


def nc4_decode(path: str, opts=None) -> pd.DataFrame:
    """Hypercube-ingest decoder over NetCDF-4/HDF5 bytes — same output
    contract and CF conventions as nc3_decode (sources/netcdf3.py).
    ``opts.variables`` is the projection pushdown: pruned variables'
    chunks are never inflated (see :func:`read_hdf5`); coordinates
    always decode."""
    variables = getattr(opts, "variables", None) if opts is not None else None
    want = None
    if variables:
        want = {"time", "latitude", "longitude"} | set(variables)
    datasets, attrs = read_hdf5(path, want)
    for c in ("time", "latitude", "longitude"):
        if c not in datasets:
            raise ValueError(f"{path}: missing coordinate variable {c!r}")
    units = attrs.get("time", {}).get("units", _TIME_UNITS)
    if units != _TIME_UNITS:
        raise NotImplementedError(f"unsupported time units {units!r}")
    times = pd.to_datetime(np.asarray(datasets["time"], dtype="int64"), unit="s")
    lats = np.asarray(datasets["latitude"], dtype="f8")
    lons = np.asarray(datasets["longitude"], dtype="f8")
    shape = (len(times), len(lats), len(lons))
    tt, la, lo = np.meshgrid(times, lats, lons, indexing="ij")
    out = {"time": tt.ravel(), "latitude": la.ravel(), "longitude": lo.ravel()}
    for v, arr in datasets.items():
        if v in ("time", "latitude", "longitude"):
            continue
        if arr.shape != shape:
            raise ValueError(f"{path}: variable {v} shape {arr.shape} != {shape}")
        out[v] = np.asarray(arr, dtype="f8").ravel()
    pdf = pd.DataFrame(out)
    if opts is not None:
        if getattr(opts, "start_time", None) is not None:
            pdf = pdf[pdf["time"] >= pd.Timestamp(opts.start_time)]
        if getattr(opts, "end_time", None) is not None:
            pdf = pdf[pdf["time"] < pd.Timestamp(opts.end_time)]
        if getattr(opts, "area", None) is not None:
            n, w, s, e = opts.area
            pdf = pdf[
                (pdf["latitude"] <= n) & (pdf["latitude"] >= s)
                & (pdf["longitude"] >= w) & (pdf["longitude"] <= e)
            ]
    return pdf.reset_index(drop=True)


def write_netcdf4(
    path: str,
    coords: dict[str, np.ndarray],
    variables: dict[str, np.ndarray],
    chunk: tuple[int, ...] | None = None,
    compression: str | None = "deflate",
    shuffle: bool = True,
) -> None:
    """Serialize a hypercube as NetCDF-4-style HDF5 (CF conventions:
    coordinate datasets named after the axes, epoch units on time).
    Data variables are chunked+shuffled+deflated by default — the
    layout real NetCDF-4 archives use."""
    datasets = dict(coords)
    chunks = {}
    for v, arr in variables.items():
        want = tuple(len(coords[d]) for d in coords)
        if tuple(arr.shape) != want:
            raise ValueError(f"variable {v} shape {arr.shape} != dims {want}")
        datasets[v] = arr
        if chunk is not None:
            chunks[v] = tuple(min(c, s) for c, s in zip(chunk, arr.shape))
        elif compression is not None:
            chunks[v] = tuple(min(16, s) for s in arr.shape)
    attrs = {"time": {"units": _TIME_UNITS, "calendar": "proleptic_gregorian"}}
    write_hdf5(
        path, datasets, attrs=attrs, chunks=chunks,
        compression=compression, shuffle=shuffle,
    )


def write_netcdf4_partitioned(
    rows, out_dir: str, variables: list[str], compression: str | None = "deflate"
) -> int:
    """Distributed NetCDF-4 sink: file-per-day, one whole ``.nc4``
    (HDF5) file serialized per executor task — same parallel shape as
    the classic sink (netcdf3.write_netcdf3_partitioned)."""
    from .opener import grid_cubes, write_buckets

    def write_day(day: str, pdf: pd.DataFrame) -> None:
        times, lats, lons, cubes = grid_cubes(pdf, variables)
        write_netcdf4(
            os.path.join(out_dir, f"{day}.nc4"),
            {
                "time": times.astype("datetime64[s]").astype("int64"),
                "latitude": lats.astype("f8"),
                "longitude": lons.astype("f8"),
            },
            cubes,
            compression=compression,
        )

    return write_buckets(rows, out_dir, "yyyy-MM-dd", write_day)
