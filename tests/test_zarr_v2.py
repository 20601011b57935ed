"""Golden tests for the real Zarr v2 codec (sources/zarr_v2.py): a
self-written zlib-chunked store decoded back through the *pruned*
mapInPandas scan must reproduce the source values byte-identically.
Reference semantics: xr.open_zarr planning (xql/src/xql/open.py:69-98)
and template chunk writes (weather_mv/loader_pipeline/regrid.py:384-390).
"""

from __future__ import annotations

import json
import os
import zlib

import numpy as np
import pandas as pd
import pytest

from weather_tools_spark.sources import zarr_scan as ZS
from weather_tools_spark.sources import zarr_v2 as Z2

TIMES = [f"2024-01-01 {h:02d}:00:00" for h in range(5)]  # 5, chunk 2 → edge chunk
LATS = [50.0, 49.75, 49.5]  # descending (ERA5 convention), chunk 2 → edge chunk
LONS = [10.0, 10.25, 10.5, 10.75]  # chunk 3 → edge chunk


def _meta(uri, variables=("d2m", "u10", "v10")):
    return ZS.ChunkedDatasetMeta(
        uri=uri, times=TIMES, lats=LATS, lons=LONS,
        chunk_time=2, chunk_lat=2, chunk_lon=3, variables=variables,
    )


def _source_frame(spark, meta):
    """Deterministic long-format source rows: value is an exact float64
    function of (variable, global cell index) so byte-identity is a
    meaningful assertion."""
    rows = []
    for ti, t in enumerate(pd.to_datetime(meta.times)):
        for lai, la in enumerate(meta.lats):
            for loi, lo in enumerate(meta.lons):
                base = ti * 10000 + lai * 100 + loi
                rows.append(
                    (t.to_pydatetime(), la, lo)
                    + tuple(float(base + k) + 0.25 for k in range(len(meta.variables)))
                )
    cols = ["time", "latitude", "longitude", *meta.variables]
    return spark.createDataFrame(rows, cols), rows, cols


@pytest.mark.parametrize(
    "compressor",
    [
        {"id": "zlib", "level": 1},
        None,
        {"id": "blosc", "cname": "zlib", "clevel": 5, "shuffle": 1},
    ],
)
def test_roundtrip_byte_identical(spark, tmp_path, compressor):
    store = str(tmp_path / "store.zarr")
    meta = _meta(store)
    src, rows, cols = _source_frame(spark, meta)
    n = Z2.write_zarr_v2(src, store, meta, compressor=compressor)
    assert n == 3 * 2 * 2  # ceil(5/2) * ceil(3/2) * ceil(4/3)

    # raw-format check: chunk file bytes ARE the C-order float64 array
    za = json.load(open(os.path.join(store, "d2m", ".zarray")))
    assert za["zarr_format"] == 2 and za["chunks"] == [2, 2, 3]
    buf = open(os.path.join(store, "d2m", "0.0.0"), "rb").read()
    if compressor and compressor["id"] == "zlib":
        buf = zlib.decompress(buf)
    elif compressor and compressor["id"] == "blosc":
        buf = Z2.blosc_decompress(buf)
    arr = np.frombuffer(buf, "<f8").reshape(2, 2, 3)
    assert arr[0, 0, 0] == 0.25 and arr[1, 1, 2] == 10102.25

    # template read-back from ONE consolidated-metadata file
    got_meta = Z2.open_zarr_v2(store)
    assert got_meta.times == [str(pd.Timestamp(t)) for t in TIMES]
    assert got_meta.lats == LATS and got_meta.lons == LONS
    assert (got_meta.chunk_time, got_meta.chunk_lat, got_meta.chunk_lon) == (2, 2, 3)
    assert got_meta.variables == ("d2m", "u10", "v10")

    # full scan through the real decoder reproduces every source row
    out = ZS.scan(spark, got_meta, decoder="zarr2")
    got = sorted(tuple(r) for r in out.drop("data_uri").collect())
    want = sorted(rows)
    assert len(got) == len(want) == 5 * 3 * 4
    for g, w in zip(got, want):
        assert g[0] == w[0] and g[1] == w[1] and g[2] == w[2]
        for gv, wv in zip(g[3:], w[3:]):
            assert gv == wv  # exact float64 equality — byte-identical


def test_pruned_scan_equals_filtered_full_scan(spark, tmp_path):
    store = str(tmp_path / "store.zarr")
    meta = _meta(store)
    src, _, _ = _source_frame(spark, meta)
    Z2.write_zarr_v2(src, store, meta)
    got_meta = Z2.open_zarr_v2(store)

    tr = ("2024-01-01 01:00:00", "2024-01-01 03:00:00")
    lar, lor = (49.6, 50.1), (10.2, 10.6)
    pruned = ZS.scan(spark, got_meta, time_range=tr, lat_range=lar, lon_range=lor,
                     decoder="zarr2")
    full = ZS.scan(spark, got_meta, decoder="zarr2").filter(
        (ZS.F.col("time") >= tr[0]) & (ZS.F.col("time") < tr[1])
        & ZS.F.col("latitude").between(*lar) & ZS.F.col("longitude").between(*lor)
    )
    a = sorted(tuple(r) for r in pruned.collect())
    b = sorted(tuple(r) for r in full.collect())
    assert a == b and len(a) > 0

    # the pruned manifest decodes strictly fewer chunks than the store has
    n_pruned = ZS.prune_chunks(
        ZS.chunk_manifest(spark, got_meta), tr, lar, lor
    ).count()
    assert 0 < n_pruned < 12


def test_missing_cells_keep_fill_value(spark, tmp_path):
    """Template-write semantics: cells absent from the input rows stay
    NaN (the declared fill value) in the store and scan out as NaN."""
    store = str(tmp_path / "sparse.zarr")
    meta = _meta(store, variables=("d2m",))
    src, rows, cols = _source_frame(spark, meta)
    src = src.filter(ZS.F.col("longitude") != 10.25)  # drop one lon plane
    Z2.write_zarr_v2(src, store, meta)
    out = ZS.scan(spark, Z2.open_zarr_v2(store), decoder="zarr2").toPandas()
    miss = out[out.longitude == 10.25]
    assert len(miss) == 5 * 3 and miss.d2m.isna().all()
    present = out[out.longitude != 10.25]
    assert not present.d2m.isna().any()


def test_unsupported_compressor_raises(tmp_path):
    with pytest.raises(NotImplementedError):
        Z2._compress(b"", {"id": "lz4"})
    # blosc with a non-zlib inner codec: gated on WRITE by cname
    # (lz4 is READ-supported via pyarrow's liblz4, write-gated)
    with pytest.raises(NotImplementedError, match="lz4"):
        Z2._compress(b"\x00" * 32, {"id": "blosc", "cname": "lz4"})
    # READ gate: codec id bits in the container header (bits 5-7 = 0 →
    # blosclz, undecodable without c-blosc), independent of the .zarray metadata
    import struct

    blz_hdr = struct.pack("<BBBBiii", 2, 1, 0 << 5, 8, 32, 32, 16 + 4 + 4 + 8)
    with pytest.raises(NotImplementedError, match="blosclz"):
        Z2.blosc_decompress(blz_hdr + b"\x00" * 16)
    # bit-shuffle filter: gated by flag bit 2 UNLESS numcodecs is
    # installed (optional-library branch; see the paired test below)
    try:
        import numcodecs  # noqa: F401
    except ImportError:
        bits_hdr = struct.pack("<BBBBiii", 2, 1, (3 << 5) | 0x4, 8, 32, 32, 16 + 16)
        with pytest.raises(NotImplementedError, match="bit-shuffle"):
            Z2.blosc_decompress(bits_hdr + b"\x00" * 16)


def test_blosc_bitshuffle_decodes_with_numcodecs():
    """Optional-library branch (VERDICT r7 task 7): when numcodecs is
    present, a bitshuffle-compressed blosc chunk (numcodecs-encoded, the
    layout real bitshuffle Zarr stores carry) decodes through
    blosc_decompress; skipped where the library is absent — the gated
    error is pinned by test_unsupported_compressor_raises."""
    numcodecs = pytest.importorskip("numcodecs")

    data = np.arange(4096, dtype="<f8")
    codec = numcodecs.Blosc(cname="lz4", shuffle=numcodecs.Blosc.BITSHUFFLE)
    chunk = codec.encode(data)
    assert chunk[2] & 0x4, "encoder did not set the bit-shuffle flag"
    got = Z2.blosc_decompress(bytes(chunk))
    assert got == data.tobytes()


def test_blosc_container_roundtrip_layouts():
    """Encoder/decoder agree across every container layout the format
    allows: single-block, multi-block (absolute bstarts), shuffle
    on/off, raw splits (incompressible blocks), memcpy fallback, and
    the empty chunk."""
    rng = np.random.default_rng(7)
    cases = [
        (np.arange(4096, dtype="<f8").tobytes(), 8, 1, 0),       # 1 block, shuffled
        (np.arange(40000, dtype="<f8").tobytes(), 8, 1, 0),      # 5 blocks @64KiB
        (np.arange(40000, dtype="<f8").tobytes(), 8, 0, 0),      # no shuffle
        (np.arange(9999, dtype="<i4").tobytes(), 4, 1, 1 << 12), # explicit blocksize
        (rng.bytes(300000), 1, 1, 0),                            # incompressible → raw/memcpy
        (b"", 8, 1, 0),                                          # empty chunk
        (b"abc", 8, 1, 0),                                       # shorter than one element
    ]
    for data, ts, sh, bs in cases:
        enc = Z2.blosc_compress(data, typesize=ts, shuffle=sh, blocksize=bs)
        assert Z2.blosc_decompress(enc) == data, (ts, sh, bs, len(data))
        # header honesty: cbytes == container length, nbytes == payload
        import struct

        nbytes, _, cbytes = struct.unpack_from("<iii", enc, 4)
        assert nbytes == len(data) and cbytes == len(enc)


def test_blosc_golden_container_decodes():
    """Decode a container hand-assembled from the public c-blosc spec
    (README_HEADER.rst) — independent of our encoder, so the two can't
    share a misreading of the format: 16 int32s, typesize 4, byte
    shuffle, zlib codec (id 3), two 32-byte blocks."""
    import struct

    values = np.arange(16, dtype="<i4")  # 64 bytes
    blocksize = 32  # → 2 blocks of 8 elements
    blocks = []
    for j in range(2):
        raw = values[j * 8 : (j + 1) * 8].tobytes()
        # byte shuffle, typesize 4: lane-major transpose
        sh = bytes(raw[e * 4 + lane] for lane in range(4) for e in range(8))
        comp = zlib.compress(sh, 6)
        assert len(comp) < 32  # stays a compressed split
        blocks.append(struct.pack("<i", len(comp)) + comp)
    bstart0 = 16 + 2 * 4
    bstart1 = bstart0 + len(blocks[0])
    body = struct.pack("<ii", bstart0, bstart1) + b"".join(blocks)
    flags = (3 << 5) | 0x1  # zlib codec, byte-shuffled
    hdr = struct.pack("<BBBBiii", 2, 1, flags, 4, 64, blocksize, 16 + len(body))
    assert Z2.blosc_decompress(hdr + body) == values.tobytes()

    # memcpy-flagged container (flags bit 1): payload is the raw bytes
    hdr = struct.pack("<BBBBiii", 2, 1, flags | 0x2, 4, 64, blocksize, 16 + 64)
    assert Z2.blosc_decompress(hdr + values.tobytes()) == values.tobytes()


# --- LZ4 block format + blosc-lz4 containers (native read path) ---------


def _lz4_block_compress(data: bytes) -> bytes:
    """Minimal greedy LZ4 block encoder (test-side reference, written
    from lz4_Block_format.md, independent of the decoder under test):
    hash-table match finder, min match 4, 2-byte LE offsets. Honours the
    spec's end-of-block rules, as liblz4's encoder does: the last match
    starts at least 12 bytes before the end and the last 5 bytes are
    literals."""
    out = bytearray()
    i, n = 0, len(data)
    anchor = 0
    table: dict[bytes, int] = {}

    def emit(lit: bytes, mlen: int, offset: int) -> None:
        lt = len(lit)
        token = (min(lt, 15) << 4) | (min(mlen - 4, 15) if mlen else 0)
        out.append(token)
        if lt >= 15:
            rem = lt - 15
            while rem >= 255:
                out.append(255)
                rem -= 255
            out.append(rem)
        out.extend(lit)
        if mlen:
            out.extend(offset.to_bytes(2, "little"))
            if mlen - 4 >= 15:
                rem = mlen - 4 - 15
                while rem >= 255:
                    out.append(255)
                    rem -= 255
                out.append(rem)

    while i + 12 <= n:
        key = data[i : i + 4]
        cand = table.get(key)
        table[key] = i
        if cand is not None and i - cand <= 0xFFFF and data[cand : cand + 4] == key:
            mlen = 4
            while i + mlen < n - 5 and data[cand + mlen] == data[i + mlen]:
                mlen += 1
            emit(data[anchor:i], mlen, i - cand)
            i += mlen
            anchor = i
        else:
            i += 1
    emit(data[anchor:], 0, 0)  # final literals-only sequence
    return bytes(out)


def test_lz4_block_golden_vectors():
    """Hand-assembled sequences from the public LZ4 block spec —
    independent of both the test encoder and the decoder. A block ends
    with a literal-only sequence of at least 5 bytes (the spec's
    end-of-block rules); ``tail`` is that sequence."""
    tail = b"\x50tail!"
    # pure literals: token 0x50, 5 literal bytes
    assert Z2._lz4_block_decompress(b"\x50hello", 5) == b"hello"
    # 3 literals + match len 9 offset 3 → "abc" * 4
    assert Z2._lz4_block_decompress(b"\x35abc\x03\x00" + tail, 17) == b"abcabcabcabctail!"
    # extended literal length: 15+5=20 literals
    assert Z2._lz4_block_decompress(b"\xf0\x05" + b"x" * 20, 20) == b"x" * 20
    # extended match length: 2 literals + overlap match (offset 2) of
    # 15+4+11=30 bytes → "ab" * 16
    assert Z2._lz4_block_decompress(b"\x2fab\x02\x00\x0b" + tail, 37) == b"ab" * 16 + b"tail!"
    # a block that ends in a match breaks the end-of-block rules; the
    # reference decoder (liblz4) rejects it
    with pytest.raises(ValueError):
        Z2._lz4_block_decompress(b"\x35abc\x03\x00", 12)
    with pytest.raises(ValueError):
        Z2._lz4_block_decompress(b"\x2fab\x02\x00\x0b", 32)
    # wrong declared size / corrupt offsets raise, never mis-decode
    with pytest.raises(ValueError):
        Z2._lz4_block_decompress(b"\x50hello", 6)
    with pytest.raises(ValueError, match="cannot decode"):  # rejected before allocating
        Z2._lz4_block_decompress(b"\x50hello", 1 << 31)
    with pytest.raises(ValueError):
        Z2._lz4_block_decompress(b"\x35abc\x00\x00", 12)  # offset 0
    with pytest.raises(ValueError):
        Z2._lz4_block_decompress(b"\x35abc\x09\x00", 12)  # offset > window
    # the same two offsets in well-ended blocks: liblz4 accepts offset 0
    # (it leaves the buffer's old bytes), so the wrapper must reject it
    with pytest.raises(ValueError, match="offset 0"):
        Z2._lz4_block_decompress(b"\x35abc\x00\x00" + tail, 17)
    with pytest.raises(ValueError, match="offset 9"):
        Z2._lz4_block_decompress(b"\x35abc\x09\x00" + tail, 17)


def test_lz4_block_roundtrip():
    rng = np.random.default_rng(11)
    cases = [
        b"",
        b"a",
        b"the quick brown fox " * 40,
        np.arange(5000, dtype="<i4").tobytes(),
        rng.integers(0, 4, 8192, dtype=np.uint8).tobytes(),  # matchy
        rng.bytes(4096),  # incompressible
    ]
    for data in cases:
        enc = _lz4_block_compress(data)
        assert Z2._lz4_block_decompress(enc, len(data)) == data


def _blosc_lz4_container(data: bytes, typesize: int, blocksize: int, shuffle: bool) -> bytes:
    """Assemble a blosc1 lz4 container per the c-blosc split rule
    (FORWARD_COMPAT: lz4 splits non-leftover blocks into `typesize`
    streams when typesize<=16 and blocksize/typesize>=128), shuffle
    applied per block before splitting. Raw-stores a split when
    compression does not shrink it — exactly what c-blosc emits."""
    import struct as _s

    nbytes = len(data)
    flags = (1 << 5) | (0x1 if shuffle else 0)
    nblocks = (nbytes + blocksize - 1) // blocksize
    blobs, bstarts = [], []
    pos = 16 + 4 * nblocks
    for j in range(nblocks):
        neblock = min(blocksize, nbytes - j * blocksize)
        block = data[j * blocksize : j * blocksize + neblock]
        if shuffle:
            block = Z2._byte_shuffle(block, typesize)
        split = (
            1 < typesize <= 16
            and blocksize // typesize >= 128
            and neblock == blocksize
        )
        nsplits = typesize if split else 1
        spl = neblock // nsplits
        rec = bytearray()
        for k in range(nsplits):
            part = block[k * spl : (k + 1) * spl]
            comp = _lz4_block_compress(part)
            if len(comp) >= spl:
                comp = part  # raw split: csize == split size
            rec += _s.pack("<i", len(comp)) + comp
        blobs.append(bytes(rec))
        bstarts.append(pos)
        pos += len(rec)
    body = _s.pack(f"<{nblocks}i", *bstarts) + b"".join(blobs)
    return _s.pack("<BBBBiii", 2, 1, flags, typesize, nbytes, blocksize, 16 + len(body)) + body


def test_blosc_lz4_container_decodes():
    """blosc-lz4 (the numcodecs DEFAULT — the actual ERA5-mirror
    layout) decodes: split + unsplit, shuffled + not,
    leftover blocks, raw splits."""
    rng = np.random.default_rng(3)
    arr = np.arange(1280, dtype="<i4")  # 5120B → 5 full blocks @1024
    cases = [
        (arr.tobytes(), 4, 1024, True),   # split (4 streams/block), shuffled
        (arr.tobytes(), 4, 1024, False),  # split, unshuffled
        (arr.tobytes()[:4608], 4, 1024, True),   # leftover final block (unsplit)
        (np.arange(600, dtype="<f8").tobytes(), 8, 4800, True),  # 1 block, split 8
        (arr.tobytes(), 32, 1024, True),  # typesize>16 → never split
        (rng.bytes(2048), 4, 1024, False),  # incompressible → raw splits
    ]
    for data, ts, bs, sh in cases:
        enc = _blosc_lz4_container(data, ts, bs, sh)
        assert Z2.blosc_decompress(enc) == data, (ts, bs, sh, len(data))


def test_blosc_legacy_zlib_split_container_decodes():
    """Legacy c-blosc (< 1.11 / ALWAYS_SPLIT) split zlib blocks into
    `typesize` streams too — the ADVICE-flagged layout. The zlib path
    iterates [csize][payload] records until the block fills, so these
    decode instead of failing with a size mismatch."""
    import struct as _s

    values = np.arange(256, dtype="<i4")  # 1024B, one block
    typesize, blocksize = 4, 1024
    block = Z2._byte_shuffle(values.tobytes(), typesize)
    rec = bytearray()
    for k in range(typesize):  # 4 splits of 256B
        part = block[k * 256 : (k + 1) * 256]
        comp = zlib.compress(part, 6)
        if len(comp) >= 256:
            comp = part
        rec += _s.pack("<i", len(comp)) + comp
    body = _s.pack("<i", 20) + bytes(rec)
    flags = (3 << 5) | 0x1
    enc = _s.pack("<BBBBiii", 2, 1, flags, typesize, 1024, blocksize, 16 + len(body)) + body
    assert Z2.blosc_decompress(enc) == values.tobytes()


def test_blosc_corrupt_headers_raise_cleanly():
    """Malformed headers raise ValueError (never ZeroDivisionError /
    struct.error): blocksize=0 with nbytes>0, out-of-range bstarts,
    truncated block index."""
    import struct as _s

    flags = 3 << 5
    bad_bs = _s.pack("<BBBBiii", 2, 1, flags, 4, 64, 0, 16 + 16)
    with pytest.raises(ValueError, match="blocksize"):
        Z2.blosc_decompress(bad_bs + b"\x00" * 16)
    bad_off = _s.pack("<BBBBiii", 2, 1, flags, 4, 64, 64, 16 + 8) + _s.pack("<i", 9999) + b"\x00" * 4
    with pytest.raises(ValueError, match="block index"):
        Z2.blosc_decompress(bad_off)
    trunc = _s.pack("<BBBBiii", 2, 1, flags, 4, 1 << 20, 64, 18) + b"\x00\x00"
    with pytest.raises(ValueError, match="truncated"):
        Z2.blosc_decompress(trunc)


def test_blosc_pruned_scan_matches_zlib_store(spark, tmp_path):
    """The same dataset written blosc-zlib and plain-zlib decodes to
    identical rows through the pruned Spark scan path."""
    meta_b = _meta(str(tmp_path / "b.zarr"))
    meta_z = _meta(str(tmp_path / "z.zarr"))
    src, rows, cols = _source_frame(spark, meta_b)
    Z2.write_zarr_v2(src, meta_b.uri, meta_b,
                     compressor={"id": "blosc", "cname": "zlib", "clevel": 5, "shuffle": 1})
    Z2.write_zarr_v2(src, meta_z.uri, meta_z, compressor={"id": "zlib", "level": 1})
    got_b = sorted(tuple(r) for r in ZS.scan(spark, Z2.open_zarr_v2(meta_b.uri),
                                             decoder="zarr2").drop("data_uri").collect())
    got_z = sorted(tuple(r) for r in ZS.scan(spark, Z2.open_zarr_v2(meta_z.uri),
                                             decoder="zarr2").drop("data_uri").collect())
    assert got_b == got_z and len(got_b) == 5 * 3 * 4


def test_stream_ingest_real_zarr_decode(spark, tmp_path):
    """Streaming chunk ingest with the REAL v2 decoder: micro-batches of
    chunk specs decode actual zlib store bytes and land exactly the
    batch scan's rows."""
    store = str(tmp_path / "stream.zarr")
    meta = _meta(store, variables=("d2m", "u10", "v10"))
    src, _, _ = _source_frame(spark, meta)
    Z2.write_zarr_v2(src, store, meta)
    got_meta = Z2.open_zarr_v2(store)

    n = ZS.write_chunk_specs(spark, got_meta, str(tmp_path / "specs"))
    assert n == 12
    out_dir = str(tmp_path / "rows")

    def sink(df, batch_id):
        df.write.mode("append").parquet(out_dir)

    q = ZS.stream_ingest(
        spark, got_meta, str(tmp_path / "specs"), sink,
        max_chunks_per_trigger=4, decoder="zarr2",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(300)
    key = ["time", "latitude", "longitude"]
    got = spark.read.parquet(out_dir).orderBy(key).toPandas()
    want = ZS.scan(spark, got_meta, decoder="zarr2").orderBy(key).toPandas()
    assert len(got) == len(want) == 5 * 3 * 4
    assert got[key + ["d2m", "u10", "v10"]].equals(want[key + ["d2m", "u10", "v10"]])


def test_zarr_v3_roundtrip_through_pruned_scan(spark, tmp_path):
    """Zarr v3 store (zarr.json metadata, c/-separated chunk keys,
    bytes+gzip codec chain) written distributed, reopened, and decoded
    byte-identically through the same pruned scan as v2."""
    import gzip
    import json as _json
    import os as _os

    store = str(tmp_path / "v3store")
    meta = _meta(store)
    src, rows, _ = _source_frame(spark, meta)
    n = Z2.write_zarr_v3(src, store, meta, level=1)
    assert n == 12

    # genuine v3 layout on disk
    root = _json.load(open(_os.path.join(store, "zarr.json")))
    assert root == {"zarr_format": 3, "node_type": "group", "attributes": {}}
    cfg = _json.load(open(_os.path.join(store, "d2m", "zarr.json")))
    assert cfg["node_type"] == "array" and cfg["data_type"] == "float64"
    assert cfg["chunk_grid"]["configuration"]["chunk_shape"] == [2, 2, 3]
    assert [c["name"] for c in cfg["codecs"]] == ["bytes", "gzip"]
    buf = gzip.decompress(open(_os.path.join(store, "d2m", "c/0/0/0"), "rb").read())
    assert np.frombuffer(buf, "<f8").reshape(2, 2, 3)[0, 0, 0] == 0.25

    got_meta = Z2.open_zarr_v2(store)  # version-transparent open
    assert got_meta.variables == ("d2m", "u10", "v10")
    assert (got_meta.chunk_time, got_meta.chunk_lat, got_meta.chunk_lon) == (2, 2, 3)

    out = ZS.scan(spark, got_meta, decoder="zarr2")
    got = sorted(tuple(r) for r in out.drop("data_uri").collect())
    assert got == sorted(rows)

    # pruning works identically on the v3 store
    tr = ("2024-01-01 01:00:00", "2024-01-01 03:00:00")
    pruned = ZS.scan(spark, got_meta, time_range=tr, decoder="zarr2")
    full = ZS.scan(spark, got_meta, decoder="zarr2").filter(
        (ZS.F.col("time") >= tr[0]) & (ZS.F.col("time") < tr[1])
    )
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, full.collect()))


def test_zarr_v3_opener_dispatch(spark, tmp_path):
    from weather_tools_spark.sources import opener as OP

    store = str(tmp_path / "v3b")
    meta = _meta(store, variables=("d2m",))
    src, _, _ = _source_frame(spark, meta)
    Z2.write_zarr_v3(src, store, meta, level=None)  # raw bytes codec only
    assert OP.detect(store) == "zarr"
    df = OP.open_dataset(spark, store)
    assert df.count() == 5 * 3 * 4


def test_zarr_v3_unsupported_codec_raises(tmp_path):
    import json as _json
    import os as _os

    store = str(tmp_path / "bad")
    _os.makedirs(_os.path.join(store, "x"))
    open(_os.path.join(store, "zarr.json"), "w").write(
        _json.dumps({"zarr_format": 3, "node_type": "group"})
    )
    cfg = Z2._v3_array_json((2,), (2,), "float64", 1, ("x",), {})
    cfg["codecs"].append({"name": "blosc"})
    open(_os.path.join(store, "x", "zarr.json"), "w").write(_json.dumps(cfg))
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="blosc"):
        Z2.read_store_metadata(store)


def _snappy_compress(data: bytes) -> bytes:
    """Minimal greedy snappy encoder (test-side reference, written from
    the public snappy format description, independent of the decoder
    under test)."""
    out = bytearray()
    n = len(data)
    v = n
    while True:  # uncompressed-length varint
        if v < 0x80:
            out.append(v)
            break
        out.append((v & 0x7F) | 0x80)
        v >>= 7

    def emit_literal(lit: bytes) -> None:
        ln = len(lit) - 1
        if ln < 60:
            out.append(ln << 2)
        else:
            nb = (ln.bit_length() + 7) // 8
            out.append((59 + nb) << 2)
            out.extend(ln.to_bytes(nb, "little"))
        out.extend(lit)

    i = anchor = 0
    table: dict[bytes, int] = {}
    while i + 4 <= n:
        key = data[i : i + 4]
        cand = table.get(key)
        table[key] = i
        if cand is not None and i - cand <= 0xFFFF and data[cand : cand + 4] == key:
            if i > anchor:
                emit_literal(data[anchor:i])
            ln = 4
            while i + ln < n and data[cand + ln] == data[i + ln] and ln < 64:
                ln += 1
            off = i - cand
            if 4 <= ln <= 11 and off < 2048:  # 1-byte-offset copy
                out.append(((off >> 8) << 5) | ((ln - 4) << 2) | 1)
                out.append(off & 0xFF)
            else:  # 2-byte-offset copy
                out.append(((ln - 1) << 2) | 2)
                out.extend(off.to_bytes(2, "little"))
            i += ln
            anchor = i
        else:
            i += 1
    if anchor < n:
        emit_literal(data[anchor:])
    return bytes(out)


def test_snappy_block_roundtrip_and_goldens():
    # golden: pure literal
    assert Z2._snappy_decompress(b"\x05\x10hello") == b"hello"
    # golden: 'ab' + copy(offset 2, len 6) -> 'abababab'
    enc = b"\x08" + b"\x04ab" + bytes([((2 >> 8) << 5) | ((6 - 4) << 2) | 1, 2])
    assert Z2._snappy_decompress(enc) == b"abababab"
    with pytest.raises(ValueError, match="declared"):
        Z2._snappy_decompress(b"\x09\x10hello")  # wrong declared length
    with pytest.raises(ValueError, match="declared"):  # 4 GiB from 6 bytes: no allocation
        Z2._snappy_decompress(b"\xff\xff\xff\xff\x0fx")
    with pytest.raises(ValueError, match="snappy"):  # copy offset outside the window
        Z2._snappy_decompress(b"\x08\x04ab" + bytes([(0 << 5) | (2 << 2) | 1, 9]))
    rng = np.random.default_rng(13)
    cases = [
        b"", b"x", b"the quick brown fox " * 50,
        np.arange(3000, dtype="<i4").tobytes(),
        rng.integers(0, 3, 8192, dtype=np.uint8).tobytes(),
        rng.bytes(4096),
    ]
    for data in cases:
        assert Z2._snappy_decompress(_snappy_compress(data)) == data


def test_blosc_snappy_container_decodes():
    """blosc-snappy containers (inner codec id 2) decode:
    single and legacy-split blocks, shuffled and raw-split."""
    import struct as _s

    rng = np.random.default_rng(4)
    for data, typesize, blocksize, shuffle, nsplits in [
        (np.arange(512, dtype="<i4").tobytes(), 4, 2048, True, 1),
        (np.arange(512, dtype="<i4").tobytes(), 4, 1024, False, 4),  # legacy split
        (rng.bytes(1500), 1, 1024, False, 1),  # incompressible -> raw
    ]:
        nbytes = len(data)
        flags = (2 << 5) | (0x1 if shuffle else 0)
        nblocks = (nbytes + blocksize - 1) // blocksize
        blobs, bstarts = [], []
        pos = 16 + 4 * nblocks
        for j in range(nblocks):
            neblock = min(blocksize, nbytes - j * blocksize)
            block = data[j * blocksize : j * blocksize + neblock]
            if shuffle:
                block = Z2._byte_shuffle(block, typesize)
            ns = nsplits if neblock == blocksize else 1
            spl = neblock // ns
            rec = bytearray()
            for k in range(ns):
                part = block[k * spl : (k + 1) * spl]
                comp = _snappy_compress(part)
                if len(comp) >= spl:
                    comp = part
                rec += _s.pack("<i", len(comp)) + comp
            blobs.append(bytes(rec))
            bstarts.append(pos)
            pos += len(rec)
        body = _s.pack(f"<{nblocks}i", *bstarts) + b"".join(blobs)
        enc = _s.pack(
            "<BBBBiii", 2, 1, flags, typesize, nbytes, blocksize, 16 + len(body)
        ) + body
        assert Z2.blosc_decompress(enc) == data, (typesize, blocksize, shuffle)


def _liblz4():
    import ctypes, ctypes.util

    name = ctypes.util.find_library("lz4")
    if not name:
        return None
    lib = ctypes.CDLL(name)
    lib.LZ4_compress_default.restype = ctypes.c_int
    lib.LZ4_compressBound.restype = ctypes.c_int
    return lib


@pytest.mark.skipif(_liblz4() is None, reason="reference liblz4 not present")
def test_lz4_decoder_matches_reference_liblz4():
    """External conformance: raw LZ4 blocks produced by the REFERENCE
    liblz4 (ctypes, test-side only) decode byte-identically through
    _lz4_block_decompress and its exact-length check — validated
    against the real encoder, not just our own test encoder."""
    import ctypes

    lib = _liblz4()
    rng = np.random.default_rng(21)
    cases = [
        b"A" * 10000,
        b"the quick brown fox jumps over the lazy dog " * 200,
        np.arange(20000, dtype="<i4").tobytes(),
        rng.integers(0, 5, 65536, dtype=np.uint8).tobytes(),
        rng.bytes(3000),
        b"",
        b"x",
    ]
    for data in cases:
        bound = lib.LZ4_compressBound(len(data))
        dst = ctypes.create_string_buffer(bound)
        n = lib.LZ4_compress_default(data, dst, len(data), bound)
        assert n > 0 or len(data) == 0
        enc = dst.raw[:n]
        assert Z2._lz4_block_decompress(enc, len(data)) == data


def test_corrupt_chunk_errors_name_the_chunk(tmp_path):
    """A chunk that fails to decode raises ValueError naming the store,
    the variable and the chunk key: a truncated zstd chunk, a corrupt
    zlib chunk, a chunk that decodes short of its shape, and a shard
    with a corrupt inner chunk. Good chunks beside them still decode."""
    import re

    import pyarrow as pa

    store = str(tmp_path / "bad.zarr")
    arr = np.arange(24, dtype="<f8").reshape(2, 3, 4)
    raw = arr.tobytes()
    zstd = pa.Codec("zstd").compress(raw, asbytes=True)
    za = {"chunks": [2, 3, 4], "dtype": "<f8", "order": "C", "filters": None}
    cases = {
        "zs": ({"id": "zstd"}, {"0.0.0": zstd, "0.0.1": zstd[: len(zstd) // 2]}),
        "zl": ({"id": "zlib"}, {"0.0.0": zlib.compress(raw), "1.0.0": b"\x78\x9c" + b"\xff" * 16,
                                "0.1.0": zlib.compress(raw[:-8])}),
    }
    for var, (comp, chunks) in cases.items():
        for key, data in chunks.items():
            os.makedirs(os.path.join(store, var), exist_ok=True)
            with open(os.path.join(store, var, key), "wb") as f:
                f.write(data)
        z = {**za, "compressor": comp}
        assert np.array_equal(Z2.decode_chunk(store, var, z, (0, 0, 0)), arr)
        for key in chunks.keys() - {"0.0.0"}:
            with pytest.raises(ValueError, match=rf"{re.escape(store)}.*'{var}'.*chunk {key}"):
                Z2.decode_chunk(store, var, z, tuple(int(k) for k in key.split(".")))

    inner = {"id": "zlib", "level": 1}
    shard = bytearray(Z2._encode_shard(arr, (1, 3, 4), inner))
    shard[2:6] = b"\xff\xff\xff\xff"  # inside inner chunk 0's deflate stream
    os.makedirs(os.path.join(store, "sh", "c", "0", "0"))
    with open(os.path.join(store, "sh", "c", "0", "0", "0"), "wb") as f:
        f.write(bytes(shard))
    zs = {**za, "key_style": "v3", "compressor": {
        "id": "sharding_indexed", "inner_chunks": [1, 3, 4], "inner_compressor": inner,
        "index_location": "end", "index_crc": True}}
    with pytest.raises(ValueError, match=r"'sh' chunk c/0/0/0: inner chunk 0"):
        Z2.decode_chunk(store, "sh", zs, (0, 0, 0))


def test_crc32c_check_value():
    assert Z2._crc32c(b"123456789") == 0xE3069283
    assert Z2._crc32c(b"") == 0


def test_v3_sharding_indexed_decodes(tmp_path):
    """Zarr v3 ``sharding_indexed`` (the ARCO-style cloud layout: one
    stored object = a shard of inner chunks + crc32c-checked
    [offset, nbytes] index): hand-assembled from the v3 sharding spec,
    decoded through decode_chunk — present inner chunks, a missing
    inner chunk (fill), and index-corruption detection."""
    import gzip as _gz
    import struct as _s

    shard_shape, inner_shape = (2, 2, 4), (1, 2, 2)
    grid = tuple(s // i for s, i in zip(shard_shape, inner_shape))  # (2,1,2)
    n = int(np.prod(grid))
    full = np.arange(np.prod(shard_shape), dtype="<f8").reshape(shard_shape)
    # assemble shard: inner chunks gzip-encoded, C-order flat index
    body = bytearray()
    pairs = []
    for flat in range(n):
        pos = np.unravel_index(flat, grid)
        sl = tuple(slice(p * i, (p + 1) * i) for p, i in zip(pos, inner_shape))
        if flat == 2:  # leave one inner chunk missing
            pairs.append((0xFFFFFFFFFFFFFFFF, 0xFFFFFFFFFFFFFFFF))
            continue
        enc = _gz.compress(np.ascontiguousarray(full[sl]).tobytes(), 1, mtime=0)
        pairs.append((len(body), len(enc)))
        body += enc
    idx = b"".join(_s.pack("<QQ", o, nb) for o, nb in pairs)
    idx += _s.pack("<I", Z2._crc32c(idx))
    shard = bytes(body) + idx

    store = str(tmp_path / "sharded.zarr")
    os.makedirs(os.path.join(store, "t2m", "c", "0", "0"), exist_ok=True)
    cfg = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": list(shard_shape),
        "data_type": "float64",
        "chunk_grid": {"name": "regular",
                       "configuration": {"chunk_shape": list(shard_shape)}},
        "chunk_key_encoding": {"name": "default",
                               "configuration": {"separator": "/"}},
        "fill_value": "NaN",
        "codecs": [{
            "name": "sharding_indexed",
            "configuration": {
                "chunk_shape": list(inner_shape),
                "codecs": [
                    {"name": "bytes", "configuration": {"endian": "little"}},
                    {"name": "gzip", "configuration": {"level": 1}},
                ],
                "index_codecs": [
                    {"name": "bytes", "configuration": {"endian": "little"}},
                    {"name": "crc32c"},
                ],
                "index_location": "end",
            },
        }],
        "dimension_names": ["time", "latitude", "longitude"],
    }
    with open(os.path.join(store, "t2m", "zarr.json"), "w") as f:
        json.dump(cfg, f)
    with open(os.path.join(store, "t2m", "c", "0", "0", "0"), "wb") as f:
        f.write(shard)

    za, _ = Z2._v3_normalize(cfg)
    assert za["compressor"]["id"] == "sharding_indexed"
    got = Z2.decode_chunk(store, "t2m", za, (0, 0, 0))
    expect = full.copy()
    pos = np.unravel_index(2, grid)
    sl = tuple(slice(p * i, (p + 1) * i) for p, i in zip(pos, inner_shape))
    expect[sl] = np.nan
    assert np.array_equal(got, expect, equal_nan=True)

    # index corruption must be DETECTED, not silently mis-assembled
    bad = bytearray(shard)
    bad[-10] ^= 0xFF  # inside the index body
    with open(os.path.join(store, "t2m", "c", "0", "0", "0"), "wb") as f:
        f.write(bytes(bad))
    with pytest.raises(ValueError, match="crc32c"):
        Z2.decode_chunk(store, "t2m", za, (0, 0, 0))


def test_v3_sharded_write_roundtrip(spark, tmp_path):
    """Sharded v3 WRITE → open → scan roundtrip: shard_factors=(2,2,2)
    groups 8 inner chunks per stored object (the object-count fix at
    scale), one executor task per shard; the scan reads back every
    source row exactly and the store carries genuine sharding_indexed
    metadata + crc32c-checked shard indexes."""
    store = str(tmp_path / "sharded_w.zarr")
    meta = _meta(store)
    src, rows, cols = _source_frame(spark, meta)
    n = Z2.write_zarr_v3(src, store, meta, shard_factors=(2, 2, 2))
    # shard grid: time ceil(5/4)=2, lat ceil(3/4)=1, lon ceil(4/6)=1
    assert n == 2 * 1 * 1  # vs 12 unsharded chunks
    cfg = json.load(open(os.path.join(store, "d2m", "zarr.json")))
    assert cfg["codecs"][0]["name"] == "sharding_indexed"
    assert cfg["codecs"][0]["configuration"]["chunk_shape"] == [2, 2, 3]
    assert cfg["chunk_grid"]["configuration"]["chunk_shape"] == [4, 4, 6]

    got_meta = Z2.open_zarr_v2(store)
    assert (got_meta.chunk_time, got_meta.chunk_lat, got_meta.chunk_lon) == (4, 4, 6)
    out = ZS.scan(spark, got_meta, decoder="zarr2")
    got = sorted(tuple(r) for r in out.drop("data_uri").collect())
    want = sorted(rows)
    assert len(got) == len(want) == 5 * 3 * 4
    for g, w in zip(got, want):
        assert g[:3] == w[:3] and all(gv == wv for gv, wv in zip(g[3:], w[3:]))

    # the edge shard (time 4..7 over a 5-long axis) has inner chunks
    # entirely beyond the data -> stored as MISSING index entries
    # (sparse shards carry no bytes for empty regions)
    shard1 = open(os.path.join(store, "d2m", "c", "1", "0", "0"), "rb").read()
    idx = shard1[-(8 * 16 + 4):-4]
    pairs = np.frombuffer(idx, dtype="<u8").reshape(8, 2)
    assert (pairs == np.uint64(0xFFFFFFFFFFFFFFFF)).any()  # some missing
    assert not (pairs == np.uint64(0xFFFFFFFFFFFFFFFF)).all()  # some present
    # and shard 0 (fully covered) has every inner chunk present
    shard0 = open(os.path.join(store, "d2m", "c", "0", "0", "0"), "rb").read()
    p0 = np.frombuffer(shard0[-(8 * 16 + 4):-4], dtype="<u8").reshape(8, 2)
    assert not (p0 == np.uint64(0xFFFFFFFFFFFFFFFF)).any()
