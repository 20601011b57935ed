"""Zstandard decoding (``zarr_v2.zstd_decompress``, pyarrow's libzstd).

Conformance evidence is EXTERNAL here, unlike the roundtrip-style
codec tests: every case is encoded by the reference ``zstd`` CLI or
libzstd (used test-side only) and must decode bit-identically through
the package's decode path — covering raw/RLE/compressed blocks,
predefined + FSE-compressed + RLE + repeat sequence tables, 1- and
4-stream Huffman literals, direct and FSE-compressed weights, treeless
reuse, multi-block frames, multi-frame and skippable inputs, and
checksummed frames."""

from __future__ import annotations

import ctypes
import ctypes.util
import shutil
import struct
import subprocess

import numpy as np
import pytest

from weather_tools_spark.sources.zarr_v2 import zstd_decompress

_HAS_CLI = shutil.which("zstd") is not None


def _libzstd():
    name = ctypes.util.find_library("zstd")
    if not name:
        return None
    lib = ctypes.CDLL(name)
    lib.ZSTD_compress.restype = ctypes.c_size_t
    lib.ZSTD_compressBound.restype = ctypes.c_size_t
    lib.ZSTD_isError.restype = ctypes.c_uint
    return lib


def _cli(data: bytes, *args: str) -> bytes:
    p = subprocess.run(["zstd", *args, "-c"], input=data, capture_output=True)
    assert p.returncode == 0, p.stderr
    return p.stdout


@pytest.mark.skipif(not _HAS_CLI, reason="reference zstd CLI not present")
def test_cli_conformance_matrix():
    rng = np.random.default_rng(0)
    cases = {
        "empty": b"",
        "tiny": b"hello world",
        "rle": b"A" * 5000,
        "text": b"the quick brown fox jumps over the lazy dog " * 300,
        "ints": np.arange(50000, dtype="<i4").tobytes(),
        "lowent": rng.integers(0, 4, 100000, dtype=np.uint8).tobytes(),
        "random": rng.bytes(20000),
        "floats": np.sin(np.arange(30000) / 100.0).astype("<f8").tobytes(),
        "multiblock": np.arange(300000, dtype="<i8").tobytes(),
    }
    for name, data in cases.items():
        for level in (1, 3, 9, 19):
            enc = _cli(data, f"-{level}")
            assert zstd_decompress(enc) == data, (name, level)


@pytest.mark.skipif(not _HAS_CLI, reason="reference zstd CLI not present")
def test_cli_checksum_and_long_mode():
    data = np.arange(120000, dtype="<i2").tobytes()
    assert zstd_decompress(_cli(data, "-3", "--no-check")) == data
    assert zstd_decompress(_cli(data, "-3")) == data  # checksummed default
    assert zstd_decompress(_cli(data, "-19", "--long=20")) == data


@pytest.mark.skipif(not _HAS_CLI, reason="reference zstd CLI not present")
def test_multi_frame_and_skippable():
    a = _cli(b"first frame ", "-3")
    b = _cli(b"second frame", "-9")
    skip = struct.pack("<II", 0x184D2A50, 7) + b"ignored"
    assert zstd_decompress(a + skip + b) == b"first frame second frame"


@pytest.mark.skipif(_libzstd() is None, reason="libzstd not present")
def test_libzstd_fuzz():
    """200 random (content, level) pairs through the reference
    library's one-shot API — broad coverage of table modes and block
    layouts beyond the curated CLI matrix."""
    lib = _libzstd()
    rng = np.random.default_rng(42)
    for trial in range(200):
        kind = trial % 4
        n = int(rng.integers(0, 30000))
        if kind == 0:
            data = rng.bytes(n)
        elif kind == 1:
            data = rng.integers(0, 5, n, dtype=np.uint8).tobytes()
        elif kind == 2:
            data = (b"pattern-%d " % (n % 97)) * (n // 10 + 1)
        else:
            data = np.cumsum(rng.integers(-3, 4, n)).astype("<i2").tobytes()
        level = int(rng.integers(1, 20))
        bound = lib.ZSTD_compressBound(len(data))
        dst = ctypes.create_string_buffer(bound)
        sz = lib.ZSTD_compress(dst, bound, data, len(data), level)
        assert not lib.ZSTD_isError(sz)
        assert zstd_decompress(dst.raw[:sz]) == data, (trial, kind, n, level)


def test_gates_and_errors():
    with pytest.raises(ValueError, match="magic"):
        zstd_decompress(b"\x00\x01\x02\x03\x04\x05\x06\x07")
    # dictionary flag set -> gated toward the library
    frame = struct.pack("<I", 0xFD2FB528) + bytes([0x01, 0x00]) + b"\x00" * 8
    with pytest.raises(NotImplementedError, match="dictionar"):
        zstd_decompress(frame)


@pytest.mark.skipif(not _HAS_CLI, reason="reference zstd CLI not present")
def test_zarr_numcodecs_zstd_chunk_decodes():
    """A numcodecs-style {'id': 'zstd'} chunk decodes through the store
    codec dispatch."""
    from weather_tools_spark.sources import zarr_v2 as Z2

    arr = np.arange(4096, dtype="<f8")
    enc = _cli(arr.tobytes(), "-9")
    assert Z2._decompress(enc, {"id": "zstd", "level": 9}) == arr.tobytes()


@pytest.mark.skipif(not _HAS_CLI, reason="reference zstd CLI not present")
def test_blosc_zstd_container_decodes():
    """A blosc container with inner codec 4 (zstd) — each split a real
    reference-encoded zstd frame, the layout c-blosc produces —
    decodes, raw splits included."""
    from weather_tools_spark.sources import zarr_v2 as Z2

    rng = np.random.default_rng(9)
    for data, typesize, blocksize, shuffle in [
        (np.arange(1024, dtype="<i4").tobytes(), 4, 2048, True),
        (rng.bytes(1500), 1, 1024, False),  # incompressible -> raw split
    ]:
        nbytes = len(data)
        flags = (4 << 5) | (0x1 if shuffle else 0)
        nblocks = (nbytes + blocksize - 1) // blocksize
        blobs, bstarts = [], []
        pos = 16 + 4 * nblocks
        for j in range(nblocks):
            neblock = min(blocksize, nbytes - j * blocksize)
            block = data[j * blocksize : j * blocksize + neblock]
            if shuffle:
                block = Z2._byte_shuffle(block, typesize)
            comp = _cli(bytes(block), "-5")
            if len(comp) >= neblock:
                comp = bytes(block)  # raw split: csize == split size
            rec = struct.pack("<i", len(comp)) + comp
            blobs.append(rec)
            bstarts.append(pos)
            pos += len(rec)
        body = struct.pack(f"<{nblocks}i", *bstarts) + b"".join(blobs)
        enc = struct.pack(
            "<BBBBiii", 2, 1, flags, typesize, nbytes, blocksize, 16 + len(body)
        ) + body
        assert Z2.blosc_decompress(enc) == data, (typesize, blocksize, shuffle)


def test_zarr_v3_zstd_codec_parses(tmp_path):
    """A v3 array declaring the zstd codec opens and its chunks decode
    through the pruned-scan chunk decoder."""
    import json
    import os

    from weather_tools_spark.sources import zarr_v2 as Z2

    if not _HAS_CLI:
        pytest.skip("reference zstd CLI not present")
    store = str(tmp_path / "v3.zarr")
    arr = np.arange(24, dtype="<f8").reshape(2, 3, 4)
    os.makedirs(os.path.join(store, "t2m", "c", "0", "0"), exist_ok=True)
    cfg = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": [2, 3, 4],
        "data_type": "float64",
        "chunk_grid": {
            "name": "regular", "configuration": {"chunk_shape": [2, 3, 4]}
        },
        "chunk_key_encoding": {
            "name": "default", "configuration": {"separator": "/"}
        },
        "fill_value": "NaN",
        "codecs": [
            {"name": "bytes", "configuration": {"endian": "little"}},
            {"name": "zstd", "configuration": {"level": 5}},
        ],
        "dimension_names": ["time", "latitude", "longitude"],
    }
    with open(os.path.join(store, "t2m", "zarr.json"), "w") as f:
        json.dump(cfg, f)
    with open(os.path.join(store, "t2m", "c", "0", "0", "0"), "wb") as f:
        f.write(_cli(arr.tobytes(), "-5"))
    za, _attrs = Z2._v3_normalize(cfg)
    assert za["compressor"] == {"id": "zstd"}
    got = Z2.decode_chunk(store, "t2m", za, (0, 0, 0))
    assert np.array_equal(got, arr)


@pytest.mark.skipif(not _HAS_CLI, reason="reference zstd CLI not present")
def test_content_checksum_verified():
    """Checksummed reference frames decode; a flipped content byte is
    DETECTED (checksum mismatch), not silently returned."""
    data = np.arange(20000, dtype="<i4").tobytes()
    enc = bytearray(_cli(data, "-3"))  # CLI writes checksums by default
    assert zstd_decompress(bytes(enc)) == data
    # flip one byte in the middle of the compressed payload
    enc[len(enc) // 2] ^= 0xFF
    with pytest.raises(ValueError):
        zstd_decompress(bytes(enc))
