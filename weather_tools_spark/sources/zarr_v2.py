"""Real Zarr v2 store codec — json + zlib + numpy, with pyarrow's
bundled zstd, lz4 and snappy decoders.

The reference's query engine is Zarr-first: it opens stores with
``xr.open_zarr`` and plans work from the store's chunk geometry
(xql/src/xql/open.py:69-98, :30-66; weather_mv/loader_pipeline/bq.py:419
``xbeam.DatasetToChunks``). This container has no zarr/xarray, but the
Zarr **v2 format itself** needs none of them: it is JSON metadata
(``.zgroup`` / ``<array>/.zarray`` / consolidated ``.zmetadata``) plus
one flat binary file per chunk (C-order array bytes, optionally
zlib-compressed, edge chunks padded to full chunk shape with the fill
value). This module implements that format directly:

- :func:`write_zarr_v2` — a *distributed* Zarr v2 sink: rows are
  hashed to tasks by chunk id and sorted, and each task streams them
  into whole chunk files (one task owns each chunk — the same
  aligned-whole-chunk contract as ``xbeam.ChunksToZarr`` with a
  template, weather_mv/loader_pipeline/regrid.py:384-390); the driver
  writes only the tiny JSON metadata.
- :func:`open_zarr_v2` — plan a scan from ONE consolidated-metadata
  read (the point of ``.zmetadata`` on object stores).
- :func:`decode_chunk` — bytes → numpy for every codec below, used by
  :func:`zarr2_chunk_decoder` inside the pruned ``mapInArrow`` scan
  (``zarr_scan.scan``).

Compressor support: None (raw), zlib, gzip (v3), and the blosc1
container — the container format is parsed here (header/bstarts/splits/
byte-shuffle, see the blosc section below). READ decodes four inner
codecs: zlib (stdlib), and lz4 (raw LZ4 block format, numcodecs'
default ``cname='lz4'`` — the real-world ERA5-mirror layout), snappy
and zstd through pyarrow's bundled native codecs, including legacy
typesize-split block layouts. The same zstd reader serves the
numcodecs ``Zstd`` compressor and the Zarr v3 ``zstd`` codec. WRITE
is deliberately asymmetric: :func:`blosc_compress` emits zlib payloads
only (it exists for roundtrip tests and conforming-store output; other
encoders buy nothing here since any conforming blosc reader handles
zlib). blosc with blosclz payloads or the bit-shuffle filter raises a
gated error naming the library branch (bit-shuffle deliberately: its
exact bit-order conventions cannot be verified without the reference
library, and a plausibly-wrong decode of foreign data would be worse
than the clear gate).

Cluster note: chunk files are written with plain ``open`` — correct on
local / NFS / FUSE-mounted object stores. A direct object-store writer
would swap ``_put_bytes`` for the storage client; the chunk ownership
and layout contract is unchanged.
"""

from __future__ import annotations

import json
import math
import os
import struct
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa

from .cells import Cube
from .zarr_scan import ChunkedDatasetMeta, axis_positions_sql

ZMETADATA = ".zmetadata"
_DIMS = ("time", "latitude", "longitude")
# CF-style epoch encoding for the time coordinate (what xarray writes,
# with a simpler unit): int64 seconds since the Unix epoch.
_TIME_UNITS = "seconds since 1970-01-01T00:00:00"


def _zarray(shape, chunks, dtype, compressor, fill_value):
    return {
        "zarr_format": 2,
        "shape": list(shape),
        "chunks": list(chunks),
        "dtype": dtype,
        "compressor": compressor,
        "fill_value": fill_value,
        "order": "C",
        "filters": None,
    }


# ---------------------------------------------------------------------------
# blosc1 container codec — the compressor real-world Zarr v2 stores (ERA5
# mirrors on GCS etc.) almost universally use. The container format is
# public (c-blosc README_HEADER.rst): a 16-byte header, an int32 block
# offset table, and per-block [int32 csize][payload] records, with an
# optional byte-transpose ("shuffle") filter applied per block before
# compression. The inner codec is selectable; zlib (RFC 1950, stdlib)
# and lz4 (raw block format, _lz4_block_decompress), snappy
# (_snappy_decompress) and zstd (zstd_decompress) through pyarrow's
# native codecs all decode here — covering numcodecs' default
# cname='lz4' plus 'zlib'/'snappy'/'zstd'. blosclz raises a gated
# NotImplementedError naming the branch.
# ---------------------------------------------------------------------------

_BLOSC_CODEC_NAMES = {0: "blosclz", 1: "lz4", 2: "snappy", 3: "zlib", 4: "zstd"}
_BLOSC_FLAG_BYTE_SHUFFLE = 0x1
_BLOSC_FLAG_MEMCPY = 0x2
_BLOSC_FLAG_BIT_SHUFFLE = 0x4
# c-blosc split constants (blosc.h): a non-leftover block whose codec
# splits is stored as `typesize` independent streams of neblock/typesize
# bytes each, [int32 csize][payload] back to back.
_BLOSC_MAX_SPLITS = 16
_BLOSC_MIN_BUFFERSIZE = 128


# Native decoders: pyarrow ships libzstd, liblz4 and libsnappy. Their
# failures surface as OSError / ArrowInvalid; corrupt input here raises
# ValueError, like every other codec path in this module.
_NATIVE_ERRORS = (OSError, pa.ArrowInvalid)
# what a corrupt chunk raises anywhere in _decompress plus the reshape
# (gzip adds OSError/EOFError); decode_chunk names the chunk for all
_DECODE_ERRORS = (ValueError, OSError, EOFError, zlib.error)
_ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"
_ZSTD_SKIPPABLE = 0x184D2A50  # magic of a skippable frame, low nibble free


def _native(codec: str, src: bytes, size: int) -> bytes:
    """One-shot block decode into a ``size``-byte buffer. pyarrow pads a
    shorter output to ``size`` without complaint, so callers check the
    exact length themselves."""
    try:
        return pa.Codec(codec).decompress(src, decompressed_size=size).to_pybytes()
    except _NATIVE_ERRORS as e:
        raise ValueError(f"{codec} decode failed: {e}") from None


def _lz4_block_decompress(src: bytes, dst_size: int) -> bytes:
    """Decode one raw LZ4 *block* (the format blosc's lz4 splits use;
    lz4_Block_format.md) of exactly ``dst_size`` bytes. liblz4 accepts a
    match offset of 0 and leaves the output buffer's old bytes in place,
    so a walk over the sequence headers (no bytes copied) first checks
    every offset against the bytes produced so far and sums the decoded
    length, which must be ``dst_size``."""
    i = n = 0
    try:
        while i < len(src):
            token = src[i]
            i += 1
            lit = token >> 4
            if lit == 15:
                while src[i] == 255:
                    lit += 255
                    i += 1
                lit += src[i]
                i += 1
            i += lit
            n += lit
            if i >= len(src):  # the last sequence carries literals only
                break
            off = src[i] | src[i + 1] << 8
            i += 2
            if not 0 < off <= n:
                raise ValueError(f"lz4 block: match offset {off} at output byte {n}")
            mlen = (token & 15) + 4
            if mlen == 19:
                while src[i] == 255:
                    mlen += 255
                    i += 1
                mlen += src[i]
                i += 1
            n += mlen
    except IndexError:
        raise ValueError("lz4 block: truncated sequence") from None
    if i > len(src):
        raise ValueError("lz4 block: truncated literals")
    if n != dst_size:
        raise ValueError(f"lz4 block: decodes to {n}B, cannot decode to {dst_size}B")
    return _native("lz4_raw", src, dst_size)


def _snappy_decompress(src: bytes) -> bytes:
    """Raw snappy block decode (leading uncompressed-length varint, then
    tagged elements); used for blosc's snappy inner codec. libsnappy
    rejects a payload that does not decode to exactly the declared
    length."""
    n = shift = 0
    for b in src[:5]:
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    else:
        raise ValueError("snappy: truncated or overlong length varint")
    if 3 * n > 64 * len(src):  # a 3-byte copy element yields at most 64
        raise ValueError(f"snappy: {len(src)}B cannot decode to the declared {n}B")
    try:
        return _native("snappy", src, n)
    except ValueError as e:
        raise ValueError(f"{e} (declared length {n}B)") from None


def zstd_decompress(data: bytes) -> bytes:
    """Decode one or more concatenated zstd frames (skippable frames
    included; content checksums verified). libzstd's streaming reader
    needs no content size, which frames written from a pipe omit."""
    if data[:4] == _ZSTD_MAGIC:
        if len(data) > 4 and data[4] & 3:  # frame header's dictionary-ID flag
            raise NotImplementedError("zstd dictionaries are not supported")
    elif len(data) >= 4 and int.from_bytes(data[:4], "little") & ~0xF != _ZSTD_SKIPPABLE:
        raise ValueError(f"zstd: bad frame magic {data[:4].hex()}")
    try:
        return pa.CompressedInputStream(pa.BufferReader(data), "zstd").read()
    except _NATIVE_ERRORS as e:
        raise ValueError(f"zstd: {e}") from None


def _looks_like_zlib(payload: bytes) -> bool:
    """RFC 1950 CMF/FLG sanity: deflate method and a valid header
    checksum — gates the try-decompress path so raw-stored splits are
    not mistaken for zlib streams."""
    return (
        len(payload) >= 2
        and (payload[0] & 0x0F) == 8
        and ((payload[0] << 8) | payload[1]) % 31 == 0
    )


def _byte_shuffle(buf: bytes, typesize: int) -> bytes:
    """c-blosc byte shuffle over one block: transpose the leading
    ``nelem*typesize`` bytes into ``typesize`` byte lanes; any tail
    shorter than one element is copied through unshuffled."""
    nelem = len(buf) // typesize
    head = nelem * typesize
    if typesize <= 1 or nelem == 0:
        return buf
    a = np.frombuffer(buf[:head], dtype=np.uint8).reshape(nelem, typesize)
    return a.T.tobytes() + buf[head:]


def _byte_unshuffle(buf: bytes, typesize: int) -> bytes:
    nelem = len(buf) // typesize
    head = nelem * typesize
    if typesize <= 1 or nelem == 0:
        return buf
    a = np.frombuffer(buf[:head], dtype=np.uint8).reshape(typesize, nelem)
    return a.T.tobytes() + buf[head:]


def blosc_decompress(chunk: bytes) -> bytes:
    """Decode one blosc1 container (any block layout a conforming
    encoder may choose, split or unsplit). Inner codecs: zlib, lz4
    (numcodecs' default — the real-world ERA5-mirror layout), snappy,
    and zstd, the last three native through pyarrow. blosclz payloads
    and the bit-shuffle filter raise gated errors naming the library
    branch.

    Split handling: modern c-blosc (>= 1.11 FORWARD_COMPAT) splits
    lz4/blosclz blocks into ``typesize`` streams and never splits
    zlib/zstd; legacy c-blosc (< 1.11, and ALWAYS_SPLIT mode) split
    every codec. lz4 splits follow the deterministic c-blosc rule; zlib
    blocks iterate [csize][payload] records until ``neblock`` bytes
    accumulate, so both legacy-split and modern-unsplit zlib layouts
    decode (a raw-stored split is recognized by its non-RFC1950
    header)."""
    if len(chunk) < 16:
        raise ValueError(f"blosc chunk shorter than its 16-byte header: {len(chunk)}B")
    flags, typesize = chunk[2], chunk[3]
    nbytes, blocksize, cbytes = struct.unpack_from("<iii", chunk, 4)
    if cbytes != len(chunk):
        raise ValueError(f"blosc header cbytes={cbytes} != container size {len(chunk)}")
    if nbytes < 0:
        raise ValueError(f"corrupt blosc header: negative nbytes={nbytes}")
    if nbytes == 0:
        return b""
    if flags & _BLOSC_FLAG_MEMCPY:
        return bytes(chunk[16 : 16 + nbytes])
    if flags & _BLOSC_FLAG_BIT_SHUFFLE:
        # Bit-transpose is not reproducible from public docs alone with
        # confidence (c-blosc delegates to the bitshuffle library's SSE/
        # AVX kernels whose scalar fallback has subtle padding rules), so
        # the built-in path stays gated — but when numcodecs IS installed
        # its c-blosc binding decodes the whole container, bitshuffle
        # included. Optional-import branch, same pattern as RealEEClient.
        try:
            import numcodecs
        except ImportError:
            raise NotImplementedError(
                "blosc bit-shuffle filter needs the bitshuffle/c-blosc "
                "library (pip install numcodecs); only the byte-shuffle and "
                "no-shuffle filters decode without it"
            ) from None
        return bytes(numcodecs.Blosc().decode(bytes(chunk)))[:nbytes]
    codec = _BLOSC_CODEC_NAMES.get((flags >> 5) & 0x7, f"code{(flags >> 5) & 0x7}")
    if codec not in ("zlib", "lz4", "snappy", "zstd"):
        raise NotImplementedError(
            f"blosc inner codec {codec!r} requires the c-blosc/python-blosc "
            "library; blosc-zlib, blosc-lz4, blosc-snappy and blosc-zstd chunks "
            "decode without it (re-encode the store with one of those cnames, "
            "or install blosc and route decode through it)"
        )
    typesize = typesize or 1
    if blocksize <= 0:
        raise ValueError(
            f"corrupt blosc header: blocksize={blocksize} with nbytes={nbytes}"
        )
    nblocks = (nbytes + blocksize - 1) // blocksize
    if len(chunk) < 16 + 4 * nblocks:
        raise ValueError(f"blosc chunk truncated before its {nblocks}-entry block index")
    bstarts = struct.unpack_from(f"<{nblocks}i", chunk, 16)
    out = bytearray()
    for j, off in enumerate(bstarts):
        if not (16 + 4 * nblocks <= off <= len(chunk) - 4):
            raise ValueError(f"corrupt blosc block index: block {j} offset {off}")
        neblock = min(blocksize, nbytes - j * blocksize)
        if codec == "lz4":
            # Deterministic c-blosc split rule for lz4 (identical in
            # legacy and FORWARD_COMPAT modes): non-leftover blocks
            # split into `typesize` streams when typesize <= 16 and
            # blocksize/typesize >= 128. csize == split size marks a
            # raw-stored split (c-blosc only stores compressed when
            # strictly smaller).
            split = (
                1 < typesize <= _BLOSC_MAX_SPLITS
                and blocksize // typesize >= _BLOSC_MIN_BUFFERSIZE
                and neblock == blocksize
            )
            nsplits = typesize if split else 1
            spl_bytes = neblock // nsplits
            block = bytearray()
            pos = off
            for _ in range(nsplits):
                (csize,) = struct.unpack_from("<i", chunk, pos)
                payload = bytes(chunk[pos + 4 : pos + 4 + csize])
                pos += 4 + csize
                block += (
                    payload
                    if csize == spl_bytes
                    else _lz4_block_decompress(payload, spl_bytes)
                )
        else:  # zlib/snappy: iterate records until the block is full —
            # covers modern unsplit AND legacy typesize-split containers
            block = bytearray()
            pos = off
            while len(block) < neblock:
                if pos + 4 > len(chunk):
                    raise ValueError(f"blosc block {j}: truncated split record")
                (csize,) = struct.unpack_from("<i", chunk, pos)
                payload = bytes(chunk[pos + 4 : pos + 4 + csize])
                pos += 4 + csize
                if csize == neblock - len(block):
                    # raw-stored: c-blosc only stores compressed output
                    # when strictly smaller than the uncompressed split
                    block += payload
                elif codec == "zlib" and _looks_like_zlib(payload):
                    block += zlib.decompress(payload)
                elif codec == "snappy":
                    try:
                        block += _snappy_decompress(payload)
                    except ValueError:
                        block += payload  # raw-stored split
                elif codec == "zstd":
                    # c-blosc wraps each split in a zstd frame; a
                    # payload without the frame magic is raw-stored
                    block += zstd_decompress(payload) if payload[:4] == _ZSTD_MAGIC else payload
                else:
                    block += payload  # raw-stored split
        if len(block) != neblock:
            raise ValueError(f"blosc block {j}: got {len(block)}B, expected {neblock}B")
        if flags & _BLOSC_FLAG_BYTE_SHUFFLE:
            block = _byte_unshuffle(bytes(block), typesize)
        out += block
    return bytes(out)


def blosc_compress(
    data: bytes, typesize: int, clevel: int = 5, shuffle: int = 1, blocksize: int = 0
) -> bytes:
    """Encode one blosc1 container with the zlib inner codec (the
    stdlib-writable branch; numcodecs ``shuffle``: 0 none, 1 byte).
    Mirrors the container rules c-blosc follows — blocksize a multiple
    of typesize, per-block shuffle-then-compress, raw split stored when
    compression does not shrink a block — so any conforming blosc
    reader decodes the output."""
    if shuffle == 2:
        raise NotImplementedError("blosc bit-shuffle write needs the bitshuffle library")
    typesize = typesize if 0 < typesize <= 255 else 1
    nbytes = len(data)
    header_flags = (3 << 5) | (_BLOSC_FLAG_BYTE_SHUFFLE if shuffle == 1 else 0)
    if nbytes == 0:
        return struct.pack("<BBBBiii", 2, 1, header_flags | _BLOSC_FLAG_MEMCPY, typesize, 0, 0, 16)
    if blocksize <= 0:
        blocksize = min(nbytes, 1 << 16)
    blocksize -= blocksize % typesize
    blocksize = max(blocksize, typesize)
    nblocks = (nbytes + blocksize - 1) // blocksize
    bstarts: list[int] = []
    blobs: list[bytes] = []
    pos = 16 + 4 * nblocks
    for j in range(nblocks):
        neblock = min(blocksize, nbytes - j * blocksize)
        block = data[j * blocksize : j * blocksize + neblock]
        if shuffle == 1:
            block = _byte_shuffle(block, typesize)
        comp = zlib.compress(block, clevel if 1 <= clevel <= 9 else 6)
        if len(comp) >= neblock:  # raw split: csize == neblock marks it
            comp = block
        blobs.append(struct.pack("<i", len(comp)) + comp)
        bstarts.append(pos)
        pos += len(blobs[-1])
    body = struct.pack(f"<{nblocks}i", *bstarts) + b"".join(blobs)
    if 16 + len(body) >= 16 + nbytes:  # whole-container memcpy fallback
        return (
            struct.pack(
                "<BBBBiii", 2, 1, header_flags | _BLOSC_FLAG_MEMCPY, typesize,
                nbytes, blocksize, 16 + nbytes,
            )
            + data
        )
    return (
        struct.pack("<BBBBiii", 2, 1, header_flags, typesize, nbytes, blocksize, 16 + len(body))
        + body
    )


def _compress(buf: bytes, compressor: dict | None, typesize: int = 1) -> bytes:
    if compressor is None:
        return buf
    if compressor.get("id") == "zlib":
        return zlib.compress(buf, compressor.get("level", 1))
    if compressor.get("id") == "gzip":  # v3 'gzip' codec: gzip-wrapped deflate
        import gzip

        return gzip.compress(buf, compressor.get("level", 1), mtime=0)
    if compressor.get("id") == "blosc":
        cname = compressor.get("cname", "lz4")
        if cname != "zlib":
            raise NotImplementedError(
                f"blosc inner codec {cname!r} needs the c-blosc library on "
                "write; use cname='zlib' for the stdlib branch"
            )
        return blosc_compress(
            buf,
            typesize=typesize,
            clevel=compressor.get("clevel", 5),
            shuffle=compressor.get("shuffle", 1),
            blocksize=compressor.get("blocksize", 0),
        )
    raise NotImplementedError(f"unsupported zarr compressor {compressor!r}")


def _decompress(buf: bytes, compressor: dict | None) -> bytes:
    if compressor is None:
        return buf
    if compressor.get("id") == "zlib":
        return zlib.decompress(buf)
    if compressor.get("id") == "gzip":
        import gzip

        return gzip.decompress(buf)
    if compressor.get("id") == "zstd":
        return zstd_decompress(buf)
    if compressor.get("id") == "blosc":
        return blosc_decompress(buf)
    raise NotImplementedError(f"unsupported zarr compressor {compressor!r}")


def _put_bytes(path: str, data: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def _write_array(store: str, name: str, arr: np.ndarray, dims, compressor) -> dict:
    """Write a small driver-side array (coordinates) as a single-chunk
    Zarr v2 array; returns its metadata entries for consolidation."""
    dtype = arr.dtype.newbyteorder("<")
    fill = "NaN" if dtype.kind == "f" else 0
    zarray = _zarray(arr.shape, arr.shape, dtype.str, compressor, fill)
    zattrs = {"_ARRAY_DIMENSIONS": list(dims)}
    if name == "time":
        zattrs["units"] = _TIME_UNITS
        zattrs["calendar"] = "proleptic_gregorian"
    _put_bytes(
        os.path.join(store, name, ".".join("0" for _ in arr.shape)),
        _compress(np.ascontiguousarray(arr, dtype=dtype).tobytes(), compressor, dtype.itemsize),
    )
    _put_bytes(os.path.join(store, name, ".zarray"), json.dumps(zarray).encode())
    _put_bytes(os.path.join(store, name, ".zattrs"), json.dumps(zattrs).encode())
    return {f"{name}/.zarray": zarray, f"{name}/.zattrs": zattrs}


def write_zarr_v2(
    rows,
    store: str,
    meta: ChunkedDatasetMeta,
    compressor: dict | None = {"id": "zlib", "level": 1},
) -> int:
    """Distributed Zarr v2 sink: rows are hashed to tasks by their
    owning chunk and sorted within each task, which streams them into
    whole chunk files (all variables); the driver writes the JSON
    metadata. Returns the number of chunks written.

    ``rows`` is a long-format frame with columns
    ``time, latitude, longitude, <variables...>`` (the ``scan`` row
    shape). Cells absent from ``rows`` keep the NaN fill value —
    the template-write semantics of ``xbeam.ChunksToZarr``.
    """
    times = pd.to_datetime(meta.times)
    shape = (len(times), len(meta.lats), len(meta.lons))
    chunks = (meta.chunk_time, meta.chunk_lat, meta.chunk_lon)
    n_chunks = [math.ceil(s / c) for s, c in zip(shape, chunks)]
    variables = list(meta.variables)

    # --- driver: metadata + coordinate arrays (tiny) ------------------
    consolidated: dict = {".zgroup": {"zarr_format": 2}, ".zattrs": {}}
    consolidated.update(
        _write_array(
            store, "time", (times.asi8 // 1_000_000_000).astype("<i8"), ("time",), compressor
        )
    )
    consolidated.update(
        _write_array(store, "latitude", np.asarray(meta.lats, "<f8"), ("latitude",), compressor)
    )
    consolidated.update(
        _write_array(store, "longitude", np.asarray(meta.lons, "<f8"), ("longitude",), compressor)
    )
    for v in variables:
        zarray = _zarray(shape, chunks, "<f8", compressor, "NaN")
        zattrs = {"_ARRAY_DIMENSIONS": list(_DIMS)}
        _put_bytes(os.path.join(store, v, ".zarray"), json.dumps(zarray).encode())
        _put_bytes(os.path.join(store, v, ".zattrs"), json.dumps(zattrs).encode())
        consolidated[f"{v}/.zarray"] = zarray
        consolidated[f"{v}/.zattrs"] = zattrs
    _put_bytes(
        os.path.join(store, ZMETADATA),
        json.dumps({"zarr_consolidated_format": 1, "metadata": consolidated}).encode(),
    )

    return _distributed_chunk_write(rows, store, meta, compressor, key_style="v2")


def _chunk_write_plan(
    rows, store: str, meta: ChunkedDatasetMeta, compressor: dict | None, key_style: str
):
    """The chunk writer as a lazy frame: one ``selectExpr`` keys each
    row by its linear chunk id ``_chunk`` and its flat C-order offset
    ``_off`` inside that chunk (both NULL off the axes); rows are hashed
    to tasks by chunk id and sorted within each task, and one
    ``mapInPandas`` per task streams its batches into one NaN-filled
    block per variable, writing the chunk files whenever the id changes
    (a chunk may span batches). Each task yields one
    ``(chunks, off_axis)`` row."""
    chunks = (meta.chunk_time, meta.chunk_lat, meta.chunk_lon)
    shape = (len(meta.times), len(meta.lats), len(meta.lons))
    grid = tuple(math.ceil(s / c) for s, c in zip(shape, chunks))
    (ct, cla, clo), (_, n_la, n_lo) = chunks, grid
    variables = list(meta.variables)
    t, la, lo = axis_positions_sql(meta)
    keyed = rows.selectExpr(
        *(f"`{v}`" for v in variables), f"{t} AS _t", f"{la} AS _la", f"{lo} AS _lo",
        f"((_t div {ct}) * {n_la} + _la div {cla}) * {n_lo} + _lo div {clo} AS _chunk",
        f"((_t % {ct}) * {cla} + _la % {cla}) * {clo} + _lo % {clo} AS _off",
    ).drop("_t", "_la", "_lo")
    shard = compressor is not None and compressor.get("id") == "sharding_indexed"

    def flush(chunk_id: int, blocks: dict) -> None:
        key = _chunk_key({"key_style": key_style}, np.unravel_index(chunk_id, grid))
        for v, block in blocks.items():
            arr = block.reshape(chunks)  # padded edge chunks keep the fill
            if shard:
                data = _encode_shard(
                    arr, tuple(compressor["inner_chunks"]), compressor["inner_compressor"]
                )
            else:
                data = _compress(arr.tobytes(), compressor, arr.dtype.itemsize)
            _put_bytes(os.path.join(store, v, key), data)

    def write(batches):
        n_chunks = off_axis = 0
        cur, blocks = None, {}
        for pdf in batches:
            on_axes = pdf["_chunk"].notna()
            if not on_axes.all():
                off_axis += int((~on_axes).sum())
                pdf = pdf[on_axes]
            ids = pdf["_chunk"].to_numpy("int64")
            offs = pdf["_off"].to_numpy("int64")
            values = {v: pdf[v].to_numpy("f8") for v in variables}
            starts = np.flatnonzero(np.diff(ids, prepend=-1)).tolist()
            for a, b in zip(starts, [*starts[1:], len(ids)]):
                if ids[a] != cur:
                    if blocks:
                        flush(cur, blocks)
                    n_chunks += 1
                    cur = int(ids[a])
                    blocks = {v: np.full(ct * cla * clo, np.nan, "<f8") for v in variables}
                for v in variables:
                    blocks[v][offs[a:b]] = values[v][a:b]
        if blocks:
            flush(cur, blocks)
        yield pd.DataFrame({"chunks": [n_chunks], "off_axis": [off_axis]})

    return (
        keyed.repartition("_chunk")
        .sortWithinPartitions("_chunk")
        .mapInPandas(write, "chunks long, off_axis long")
    )


def _distributed_chunk_write(
    rows, store: str, meta: ChunkedDatasetMeta, compressor: dict | None, key_style: str
) -> int:
    """Run :func:`_chunk_write_plan` (both format versions) and sum the
    tasks' counts: returns the number of chunks written, or raises
    ``ValueError`` naming the store and the row count when rows lie off
    ``meta``'s axes (the other rows are written)."""
    counts = _chunk_write_plan(rows, store, meta, compressor, key_style).collect()
    off_axis = sum(r.off_axis for r in counts)
    if off_axis:
        raise ValueError(
            f"{off_axis} rows have coordinates that are not on the axes of the Zarr "
            f"store {store!r}; they were not written"
        )
    return sum(r.chunks for r in counts)


# ---------------------------------------------------------------------------
# Zarr v3 (zarr-specs core v3): zarr.json metadata, 'c/'-prefixed chunk
# keys, bytes+gzip codec chain. Normalized into the same internal dict
# shape as v2 so the scan/decode path is version-transparent.
# ---------------------------------------------------------------------------

_V3_DTYPES = {"float64": "<f8", "float32": "<f4", "int64": "<i8", "int32": "<i4"}


def _v3_array_json(
    shape, chunks, data_type: str, level: int | None, dims, attrs: dict,
    inner_chunks=None,
) -> dict:
    codecs: list = [{"name": "bytes", "configuration": {"endian": "little"}}]
    if level is not None:
        codecs.append({"name": "gzip", "configuration": {"level": level}})
    if inner_chunks is not None:
        # sharded array: the store-level chunk is a shard; the chain
        # above becomes the INNER chain
        codecs = [{
            "name": "sharding_indexed",
            "configuration": {
                "chunk_shape": list(inner_chunks),
                "codecs": codecs,
                "index_codecs": [
                    {"name": "bytes", "configuration": {"endian": "little"}},
                    {"name": "crc32c"},
                ],
                "index_location": "end",
            },
        }]
    return {
        "zarr_format": 3,
        "node_type": "array",
        "shape": list(shape),
        "data_type": data_type,
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": list(chunks)}},
        "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        "fill_value": "NaN" if data_type.startswith("float") else 0,
        "codecs": codecs,
        "dimension_names": list(dims),
        "attributes": attrs,
    }


def _v3_normalize(cfg: dict) -> tuple[dict, dict]:
    """v3 array zarr.json → (v2-shaped zarray dict + key_style marker,
    zattrs dict) so every downstream consumer stays version-agnostic."""
    if cfg.get("data_type") not in _V3_DTYPES:
        raise NotImplementedError(f"unsupported v3 data_type {cfg.get('data_type')!r}")
    grid = cfg["chunk_grid"]
    if grid.get("name") != "regular":
        raise NotImplementedError(f"unsupported v3 chunk grid {grid.get('name')!r}")
    sep = (
        cfg.get("chunk_key_encoding", {})
        .get("configuration", {})
        .get("separator", "/")
    )
    codecs = cfg.get("codecs", [])
    if codecs and codecs[0].get("name") == "sharding_indexed":
        # ARCO-style sharded array: the store-level "chunk" is a SHARD
        # containing a grid of inner chunks plus a trailing (or
        # leading) [offset, nbytes] index. Normalize the inner chain
        # recursively and carry the shard geometry on the compressor.
        sc = codecs[0].get("configuration", {})
        inner_cfg = dict(cfg)
        inner_cfg["codecs"] = sc.get("codecs", [])
        inner_norm, _ = _v3_normalize({**inner_cfg, "chunk_grid": cfg["chunk_grid"]})
        index_codecs = [c.get("name") for c in sc.get("index_codecs", [])]
        for nm in index_codecs:
            if nm not in ("bytes", "crc32c"):
                raise NotImplementedError(f"v3 shard index codec {nm!r}")
        compressor = {
            "id": "sharding_indexed",
            "inner_chunks": list(sc["chunk_shape"]),
            "inner_compressor": inner_norm["compressor"],
            "index_location": sc.get("index_location", "end"),
            "index_crc": "crc32c" in index_codecs,
        }
        za = {
            "zarr_format": 3,
            "shape": cfg["shape"],
            "chunks": grid["configuration"]["chunk_shape"],
            "dtype": _V3_DTYPES[cfg["data_type"]],
            "compressor": compressor,
            "fill_value": cfg.get("fill_value", "NaN"),
            "order": "C",
            "filters": None,
            "key_style": "v3",
            "key_separator": sep,
        }
        zattrs = dict(cfg.get("attributes", {}))
        if "dimension_names" in cfg:
            zattrs["_ARRAY_DIMENSIONS"] = list(cfg["dimension_names"])
        return za, zattrs
    if not codecs or codecs[0].get("name") != "bytes":
        raise NotImplementedError("v3 codec chain must start with 'bytes'")
    if codecs[0].get("configuration", {}).get("endian", "little") != "little":
        raise NotImplementedError("big-endian v3 arrays unsupported")
    compressor = None
    for c in codecs[1:]:
        if c.get("name") == "gzip":
            compressor = {"id": "gzip", "level": c.get("configuration", {}).get("level", 1)}
        elif c.get("name") == "zstd":
            compressor = {"id": "zstd"}  # decode-only (pyarrow's libzstd)
        else:
            raise NotImplementedError(f"unsupported v3 codec {c.get('name')!r}")
    za = {
        "zarr_format": 3,
        "shape": cfg["shape"],
        "chunks": grid["configuration"]["chunk_shape"],
        "dtype": _V3_DTYPES[cfg["data_type"]],
        "compressor": compressor,
        "fill_value": cfg.get("fill_value", "NaN"),
        "order": "C",
        "filters": None,
        "key_style": "v3",
        "key_separator": sep,
    }
    zattrs = dict(cfg.get("attributes", {}))
    if "dimension_names" in cfg:
        zattrs["_ARRAY_DIMENSIONS"] = list(cfg["dimension_names"])
    return za, zattrs


def _chunk_key(za: dict, key: tuple) -> str:
    if za.get("key_style") == "v3":
        sep = za.get("key_separator", "/")
        return "c" + sep + sep.join(str(k) for k in key)
    return ".".join(str(k) for k in key)


def write_zarr_v3(
    rows,
    store: str,
    meta: ChunkedDatasetMeta,
    level: int | None = 1,
    shard_factors: tuple[int, int, int] | None = None,
) -> int:
    """Distributed Zarr **v3** sink — same executor stage as the v2
    sink, v3 metadata/keys: root group ``zarr.json``, per-array
    ``zarr.json`` (regular chunk grid, default ``c/``-separated key
    encoding, bytes+gzip codec chain), chunk files under ``c/i/j/k``.
    Returns the stored-object count.

    ``shard_factors`` enables the ``sharding_indexed`` layout: each
    stored object becomes a SHARD of ``factors``-per-axis inner chunks
    (meta's chunk shape) with a crc32c-checked index — the production
    answer to the object-count problem at scale (a 100 TB store with
    1e8 chunk files is an object-store pathology; sharding divides the
    object count by prod(factors) while keeping inner-chunk-granular
    reads for range readers). One executor task still owns one whole
    stored object; all-NaN inner chunks are stored as MISSING."""
    times = pd.to_datetime(meta.times)
    shape = (len(times), len(meta.lats), len(meta.lons))
    chunks = (meta.chunk_time, meta.chunk_lat, meta.chunk_lon)
    compressor = {"id": "gzip", "level": level} if level is not None else None
    write_meta = meta
    inner_chunks = None
    if shard_factors is not None:
        inner_chunks = chunks
        chunks = tuple(c * f for c, f in zip(chunks, shard_factors))
        write_meta = ChunkedDatasetMeta(
            uri=meta.uri, times=meta.times, lats=meta.lats, lons=meta.lons,
            chunk_time=chunks[0], chunk_lat=chunks[1], chunk_lon=chunks[2],
            variables=meta.variables,
        )
        compressor = {
            "id": "sharding_indexed",
            "inner_chunks": list(inner_chunks),
            "inner_compressor": {"id": "gzip", "level": level}
            if level is not None
            else None,
            "index_location": "end",
            "index_crc": True,
        }

    _put_bytes(
        os.path.join(store, "zarr.json"),
        json.dumps({"zarr_format": 3, "node_type": "group", "attributes": {}}).encode(),
    )

    coord_comp = {"id": "gzip", "level": level} if level is not None else None

    def coord(name: str, arr: np.ndarray, data_type: str, attrs: dict) -> None:
        # coordinate arrays stay unsharded (tiny, read whole)
        cfg = _v3_array_json(arr.shape, arr.shape, data_type, level, (name,), attrs)
        _put_bytes(os.path.join(store, name, "zarr.json"), json.dumps(cfg).encode())
        _put_bytes(
            os.path.join(store, name, "c/0"),
            _compress(
                np.ascontiguousarray(arr, _V3_DTYPES[data_type]).tobytes(),
                coord_comp,
                np.dtype(_V3_DTYPES[data_type]).itemsize,
            ),
        )

    coord(
        "time",
        (times.asi8 // 1_000_000_000).astype("<i8"),
        "int64",
        {"units": _TIME_UNITS, "calendar": "proleptic_gregorian"},
    )
    coord("latitude", np.asarray(meta.lats, "<f8"), "float64", {})
    coord("longitude", np.asarray(meta.lons, "<f8"), "float64", {})
    for v in meta.variables:
        cfg = _v3_array_json(
            shape, chunks, "float64", level, _DIMS, {}, inner_chunks=inner_chunks
        )
        _put_bytes(os.path.join(store, v, "zarr.json"), json.dumps(cfg).encode())

    return _distributed_chunk_write(rows, store, write_meta, compressor, key_style="v3")


def _read_json(store: str, rel: str) -> dict:
    with open(os.path.join(store, rel)) as f:
        return json.load(f)


def read_store_metadata(store: str) -> dict:
    """Store metadata in the internal v2-shaped dict, whatever the
    format version: v3 stores (root ``zarr.json`` group) normalize via
    ``_v3_normalize``; v2 stores use consolidated metadata if present
    (one read), else per-array ``.zarray``/``.zattrs`` files — the same
    fallback ``xr.open_zarr`` applies."""
    root = os.path.join(store, "zarr.json")
    if os.path.exists(root):
        md: dict = {}
        for name in sorted(os.listdir(store)):
            rel = os.path.join(name, "zarr.json")
            if os.path.isfile(os.path.join(store, rel)):
                cfg = _read_json(store, rel)
                if cfg.get("node_type") == "array":
                    za, zattrs = _v3_normalize(cfg)
                    md[f"{name}/.zarray"] = za
                    md[f"{name}/.zattrs"] = zattrs
        return md
    p = os.path.join(store, ZMETADATA)
    if os.path.exists(p):
        return _read_json(store, ZMETADATA)["metadata"]
    md = {}
    for name in sorted(os.listdir(store)):
        for kind in (".zarray", ".zattrs"):
            rel = os.path.join(name, kind)
            if os.path.isfile(os.path.join(store, rel)):
                md[f"{name}/{kind}"] = _read_json(store, rel)
    return md


def read_coord_array(store: str, name: str, md: dict) -> np.ndarray:
    za = md[f"{name}/.zarray"]
    key = _chunk_key(za, tuple(0 for _ in za["shape"]))
    with open(os.path.join(store, name, key), "rb") as f:
        buf = _decompress(f.read(), za["compressor"])
    return np.frombuffer(buf, dtype=np.dtype(za["dtype"])).reshape(za["shape"])


def open_zarr_v2(store: str) -> ChunkedDatasetMeta:
    """Open a Zarr store (v2 OR v3 — read_store_metadata normalizes)
    into the engine's scan template — the engine's
    ``xr.open_zarr(uri, chunks=None)`` (open.py:92) analog: coordinate
    axes decoded, chunk geometry read from the first data variable's
    metadata."""
    md = read_store_metadata(store)
    secs = read_coord_array(store, "time", md)
    units = md.get("time/.zattrs", {}).get("units", _TIME_UNITS)
    if units != _TIME_UNITS:
        raise NotImplementedError(f"unsupported time units {units!r}")
    times = [str(pd.Timestamp(int(s), unit="s")) for s in secs]
    lats = [float(v) for v in read_coord_array(store, "latitude", md)]
    lons = [float(v) for v in read_coord_array(store, "longitude", md)]
    variables = tuple(
        sorted(
            k.split("/")[0]
            for k in md
            if k.endswith("/.zarray")
            and md[k.split("/")[0] + "/.zattrs"].get("_ARRAY_DIMENSIONS") == list(_DIMS)
        )
    )
    if not variables:
        raise ValueError(f"no 3-D data variables in store {store}")
    chunks = md[f"{variables[0]}/.zarray"]["chunks"]
    return ChunkedDatasetMeta(
        uri=store,
        times=times,
        lats=lats,
        lons=lons,
        chunk_time=int(chunks[0]),
        chunk_lat=int(chunks[1]),
        chunk_lon=int(chunks[2]),
        variables=variables,
    )


def decode_chunk(store: str, var: str, za: dict, key: tuple[int, int, int]) -> np.ndarray:
    """Read one chunk file → full padded chunk array (caller slices the
    valid extent on edge chunks). Every compressor ``_decompress``
    reads, plus v3 shards; C order; v2 dotted or v3 ``c/``-prefixed
    chunk keys. A chunk that fails to decode raises ValueError naming
    the store, variable and chunk key."""
    chunk_key = _chunk_key(za, key)
    if za.get("order", "C") != "C" or za.get("filters"):
        raise NotImplementedError("only C-order unfiltered zarr v2 chunks supported")
    comp = za["compressor"]
    with open(os.path.join(store, var, chunk_key), "rb") as f:
        raw = f.read()
    try:
        if comp and comp.get("id") == "sharding_indexed":
            return _decode_shard(raw, za)
        buf = _decompress(raw, comp)
        return np.frombuffer(buf, dtype=np.dtype(za["dtype"])).reshape(za["chunks"])
    except _DECODE_ERRORS as e:
        raise ValueError(f"zarr store {store}: variable {var!r} chunk {chunk_key}: {e}") from e


_CRC32C_TABLE = None


def _crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli, reflected poly 0x82F63B78) — the v3 shard
    index checksum. Table-driven; check value crc32c(b'123456789') =
    0xE3069283 pinned in tests."""
    global _CRC32C_TABLE
    if _CRC32C_TABLE is None:
        tbl = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
            tbl.append(c)
        _CRC32C_TABLE = tbl
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def _encode_shard(
    arr: np.ndarray, inner_shape: tuple, inner_compressor: dict | None
) -> bytes:
    """Inverse of :func:`_decode_shard`: encode one full shard array as
    inner chunks + crc32c-checked [offset, nbytes] index. All-NaN inner
    chunks (float dtypes) are stored as MISSING — sparse shards carry
    no bytes for empty regions."""
    shard_shape = arr.shape
    if any(s % i for s, i in zip(shard_shape, inner_shape)):
        raise ValueError(
            f"shard shape {shard_shape} not divisible by inner chunks {inner_shape}"
        )
    grid = tuple(s // i for s, i in zip(shard_shape, inner_shape))
    n = int(np.prod(grid))
    missing = 0xFFFFFFFFFFFFFFFF
    body = bytearray()
    pairs = []
    is_float = np.issubdtype(arr.dtype, np.floating)
    for flat in range(n):
        pos = np.unravel_index(flat, grid)
        sl = tuple(slice(p * i, (p + 1) * i) for p, i in zip(pos, inner_shape))
        inner = np.ascontiguousarray(arr[sl])
        if is_float and np.isnan(inner).all():
            pairs.append((missing, missing))
            continue
        enc = _compress(inner.tobytes(), inner_compressor, inner.dtype.itemsize)
        pairs.append((len(body), len(enc)))
        body += enc
    idx = b"".join(struct.pack("<QQ", o, nb) for o, nb in pairs)
    idx += struct.pack("<I", _crc32c(idx))
    return bytes(body) + idx


def _decode_shard(buf: bytes, za: dict) -> np.ndarray:
    """Decode one v3 ``sharding_indexed`` shard → the full shard array:
    parse the [offset, nbytes] uint64-pair index (crc32c-verified when
    declared), decode each present inner chunk with the inner codec
    chain, and assemble over the fill value (offset == nbytes ==
    2^64-1 marks a missing inner chunk)."""
    comp = za["compressor"]
    shard_shape = tuple(za["chunks"])
    inner_shape = tuple(comp["inner_chunks"])
    if any(s % i for s, i in zip(shard_shape, inner_shape)):
        raise ValueError(
            f"shard shape {shard_shape} not divisible by inner chunks {inner_shape}"
        )
    grid = tuple(s // i for s, i in zip(shard_shape, inner_shape))
    n = int(np.prod(grid))
    idx_len = n * 16 + (4 if comp["index_crc"] else 0)
    if len(buf) < idx_len:
        raise ValueError(f"shard smaller than its {idx_len}B index")
    raw_idx = buf[-idx_len:] if comp["index_location"] == "end" else buf[:idx_len]
    if comp["index_crc"]:
        body, want = raw_idx[:-4], int.from_bytes(raw_idx[-4:], "little")
        got = _crc32c(body)
        if got != want:
            raise ValueError(
                f"shard index crc32c mismatch ({got:#010x} != {want:#010x})"
            )
        raw_idx = body
    pairs = np.frombuffer(raw_idx, dtype="<u8").reshape(n, 2)
    dt = np.dtype(za["dtype"])
    fill = za.get("fill_value")
    fill_scalar = np.nan if fill in ("NaN", None) else fill
    out = np.full(shard_shape, fill_scalar, dtype=dt)
    missing = np.uint64(0xFFFFFFFFFFFFFFFF)
    for flat, (off, nb) in enumerate(pairs):
        if off == missing and nb == missing:
            continue
        off_i, nb_i = int(off), int(nb)
        if off_i + nb_i > len(buf):
            raise ValueError(f"inner chunk {flat} range beyond shard")
        try:
            inner = _decompress(buf[off_i : off_i + nb_i], comp["inner_compressor"])
            arr = np.frombuffer(inner, dtype=dt).reshape(inner_shape)
        except _DECODE_ERRORS as e:
            raise ValueError(f"inner chunk {flat}: {e}") from e
        pos = np.unravel_index(flat, grid)
        sl = tuple(
            slice(p * i, (p + 1) * i) for p, i in zip(pos, inner_shape)
        )
        out[sl] = arr
    return out


def zarr2_chunk_decoder(meta: ChunkedDatasetMeta):
    """Chunk key ``(uri, t_idx, lat_idx, lon_idx)`` → one
    :class:`cells.Cube` over a real Zarr v2 or v3 store at ``meta.uri``
    (its ``data_uri`` a scalar) — the chunk decoder of
    ``zarr_scan.scan`` and ``zarr_scan.stream_ingest``. Per task: one
    metadata read, then whole-chunk decodes; the axes are slices of the
    (small) template axes carried in the closure, values byte-exact
    from the store."""
    times = pd.to_datetime(meta.times)
    lats = np.asarray(meta.lats, dtype="f8")
    lons = np.asarray(meta.lons, dtype="f8")
    ct, cla, clo = meta.chunk_time, meta.chunk_lat, meta.chunk_lon
    variables = list(meta.variables)
    md: dict[str, dict] = {}  # store → metadata, filled once per task

    def decode(key: tuple) -> list[Cube]:
        uri, t_idx, lat_idx, lon_idx = key
        if uri not in md:
            md[uri] = read_store_metadata(uri)
        t, la, lo = (slice(i * c, (i + 1) * c) for i, c in ((t_idx, ct), (lat_idx, cla), (lon_idx, clo)))
        cube = Cube(times[t], lats[la], lons[lo], {}, scalars={"data_uri": uri})
        for v in variables:
            arr = decode_chunk(uri, v, md[uri][f"{v}/.zarray"], (t_idx, lat_idx, lon_idx))
            cube.values[v] = arr[: len(cube.times), : len(cube.lats), : len(cube.lons)]
        return [cube]

    return decode
