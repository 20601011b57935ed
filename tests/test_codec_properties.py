"""Property-based hardening for the stdlib format codecs: arbitrary
grids and values must round-trip through the pure (non-Spark) layers —
NetCDF exact, GeoTIFF exact, GRIB2 exact within its declared decimal
quantization, Zarr chunk codec byte-exact. Runs hundreds of generated
cases per property; any layout arithmetic bug (padding, alignment,
sign-magnitude, offset bookkeeping) surfaces as a roundtrip diff."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from weather_tools_spark.sources import geotiff as GT
from weather_tools_spark.sources import grib2 as G2
from weather_tools_spark.sources import netcdf3 as N3
from weather_tools_spark.sources import zarr_v2 as Z2

# finite float64s that survive float32-free paths exactly
_vals = st.floats(
    min_value=-1e12, max_value=1e12, allow_nan=False, allow_infinity=False, width=64
)


def _grid3(draw, max_dim=5):
    nt = draw(st.integers(1, max_dim))
    nla = draw(st.integers(1, max_dim))
    nlo = draw(st.integers(1, max_dim))
    flat = draw(
        st.lists(_vals, min_size=nt * nla * nlo, max_size=nt * nla * nlo)
    )
    return np.array(flat, dtype="f8").reshape(nt, nla, nlo)


@settings(max_examples=60, deadline=None)
@given(data=st.data(), version=st.sampled_from([1, 2, 5]))
def test_netcdf_roundtrip_any_grid(tmp_path_factory, data, version):
    arr = _grid3(data.draw)
    nt, nla, nlo = arr.shape
    path = str(tmp_path_factory.mktemp("nc") / "p.nc")
    N3.write_netcdf3(
        path,
        {
            "time": (np.arange(nt) * 3600).astype(">i4"),
            "latitude": np.linspace(60, 50, nla),
            "longitude": np.linspace(-10, 10, nlo),
        },
        {"v": arr},
        version=version,
    )
    _, data_vars, _ = N3.read_netcdf3(path)
    assert np.array_equal(data_vars["v"], arr)


@settings(max_examples=60, deadline=None)
@given(data=st.data(), compression=st.sampled_from(["deflate", None]))
def test_geotiff_roundtrip_any_raster(tmp_path_factory, data, compression):
    h = data.draw(st.integers(1, 9))
    w = data.draw(st.integers(1, 9))
    flat = data.draw(st.lists(_vals, min_size=h * w, max_size=h * w))
    arr = np.array(flat, dtype="f8").reshape(h, w)
    path = str(tmp_path_factory.mktemp("tif") / "p.tif")
    GT.write_geotiff(path, arr, (1.5, 44.25), (0.125, 0.25), compression)
    got, origin, pixel = GT.read_geotiff(path)
    assert np.array_equal(got, arr)
    assert origin == (1.5, 44.25) and pixel == (0.125, 0.25)


@settings(max_examples=40, deadline=None)
@given(data=st.data(), levels=st.integers(0, 2))
def test_cog_roundtrip_any_raster(tmp_path_factory, data, levels):
    h = data.draw(st.integers(1, 40))
    w = data.draw(st.integers(1, 40))
    arr = np.arange(h * w, dtype="f8").reshape(h, w) * data.draw(
        st.floats(0.25, 4.0, allow_nan=False)
    )
    path = str(tmp_path_factory.mktemp("cog") / "p.tif")
    GT.write_cog(path, arr, (0.0, 10.0), (0.5, 0.5), tile=16, overview_levels=levels)
    got, _, _ = GT.read_geotiff(path)
    assert np.array_equal(got, arr)
    assert len(GT.read_overviews(path)) == levels


@settings(max_examples=40, deadline=None)
@given(data=st.data(), dscale=st.integers(0, 3))
def test_grib2_quantization_bound(tmp_path_factory, data, dscale):
    """Simple packing stores round(v·10^D)−min offsets exactly, so the
    decode error is bounded by the quantization step: |got − want| ≤
    0.5·10^−D (and zero when inputs are exact multiples)."""
    nj = data.draw(st.integers(1, 5))
    ni = data.draw(st.integers(1, 5))
    flat = data.draw(
        st.lists(
            st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
            min_size=nj * ni,
            max_size=nj * ni,
        )
    )
    vals = np.array(flat, dtype="f8").reshape(nj, ni)
    # keep the packed span within 32 bits at this decimal scale
    span = (vals.max() - vals.min()) * 10**dscale
    if span >= 2**31:
        vals = vals / (span / 2**30)
    lats = np.linspace(80, 70, nj)
    lons = np.linspace(0, 10, ni)
    path = str(tmp_path_factory.mktemp("grib") / "p.grib2")
    G2.write_grib2(
        path,
        [{"param": "d2m", "ref_time": "2024-01-01", "lats": lats, "lons": lons,
          "values": vals}],
        decimal_scale=dscale,
    )
    (m,) = G2.read_grib2(path)
    err = np.abs(m["values"] - vals).max()
    assert err <= 0.5 * 10.0 ** (-dscale) + 1e-9, err


@settings(max_examples=40, deadline=None)
@given(
    data=st.data(),
    packing=st.sampled_from(["complex", "complex_diff1", "complex_diff2", "png"]),
)
def test_grib2_complex_packing_scaled_exact(tmp_path_factory, data, packing):
    """Complex packing (templates 5.2/5.3) reconstructs the SCALED
    integers exactly: with spatial differencing the reference value is
    0 and the descriptors are exact int64, so decode returns precisely
    round(v·10^D)/10^D — no float32 drift at any magnitude. Group
    boundaries (including a truncated last group) are exercised by
    varying the grid size against the fixed group length."""
    nj = data.draw(st.integers(2, 7))
    ni = data.draw(st.integers(2, 7))
    flat = data.draw(
        st.lists(
            st.floats(-1e8, 1e8, allow_nan=False, allow_infinity=False),
            min_size=nj * ni,
            max_size=nj * ni,
        )
    )
    vals = np.array(flat, dtype="f8").reshape(nj, ni)
    if packing == "png":  # PNG offsets are ≤16-bit: keep the span inside
        span = (vals.max() - vals.min()) * 100
        if span >= 2**15:
            vals = vals / (span / 2**14)
    path = str(tmp_path_factory.mktemp("grib") / "c.grib2")
    G2.write_grib2(
        path,
        [{"param": "d2m", "ref_time": "2024-01-01", "lats": np.linspace(80, 70, nj),
          "lons": np.linspace(0, 10, ni), "values": vals}],
        decimal_scale=2,
        packing=packing,
    )
    (m,) = G2.read_grib2(path)
    want = np.round(vals * 100) / 100
    if packing in ("complex", "png"):
        # float32 reference value: bounded like simple packing
        assert np.abs(m["values"] - vals).max() <= 0.5e-2 + 1e-9
    else:
        assert np.array_equal(m["values"], want)


@settings(max_examples=50, deadline=None)
@given(
    data=st.data(),
    layout=st.sampled_from(["contiguous", "chunked", "deflate", "deflate+shuffle"]),
)
def test_hdf5_roundtrip_any_grid(tmp_path_factory, data, layout):
    """The stdlib HDF5 subset codec round-trips arbitrary float64
    grids bit-exactly through every supported layout (contiguous,
    chunked B-tree, deflate, shuffle+deflate), including edge chunks
    when chunk dims don't divide the grid."""
    from weather_tools_spark.sources import hdf5 as H5

    arr = _grid3(data.draw, max_dim=6)
    path = str(tmp_path_factory.mktemp("h5") / "p.h5")
    kw = {}
    if layout != "contiguous":
        kw["chunks"] = {"v": tuple(data.draw(st.integers(1, s)) for s in arr.shape)}
    if layout in ("deflate", "deflate+shuffle"):
        kw["compression"] = "deflate"
    if layout == "deflate+shuffle":
        kw["shuffle"] = True
    H5.write_hdf5(path, {"v": arr}, **kw)
    back, _ = H5.read_hdf5(path)
    assert np.array_equal(back["v"], arr)


@settings(max_examples=40, deadline=None)
@given(data=st.data(), dscale=st.integers(0, 3))
def test_grib1_quantization_bound(tmp_path_factory, data, dscale):
    """GRIB edition-1 simple packing with the IBM hexadecimal-float
    reference value: same 0.5·10^−D bound as GRIB2, with the reference
    quantized through the IBM encoding before offsets are computed."""
    from weather_tools_spark.sources import grib1 as G1

    nj = data.draw(st.integers(1, 5))
    ni = data.draw(st.integers(1, 5))
    flat = data.draw(
        st.lists(
            st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
            min_size=nj * ni,
            max_size=nj * ni,
        )
    )
    vals = np.array(flat, dtype="f8").reshape(nj, ni)
    span = (vals.max() - vals.min()) * 10**dscale
    if span >= 2**31:
        vals = vals / (span / 2**30)
    path = str(tmp_path_factory.mktemp("grib1") / "p.grib")
    G1.write_grib1(
        path,
        [{"param": "d2m", "ref_time": "2024-01-01", "lats": np.linspace(80, 70, nj),
          "lons": np.linspace(0, 10, ni), "values": vals}],
        decimal_scale=dscale,
    )
    (m,) = G1.read_grib1(path)
    err = np.abs(m["values"] - vals).max()
    assert err <= 0.5 * 10.0 ** (-dscale) + 1e-9, err


@settings(max_examples=120, deadline=None)
@given(
    x=st.one_of(
        st.just(0.0),
        st.floats(1e-15, 1e15, allow_nan=False, allow_infinity=False),
        st.floats(-1e15, -1e-15, allow_nan=False, allow_infinity=False),
    )
)
def test_ibm32_encode_nearest_and_bounded(x):
    """IBM hex-float encode/decode over the magnitude range reference
    values actually occupy (far inside IBM's 16^±63 span): decode∘encode
    is within one hexit ulp, and the directed encoder never exceeds its
    input. Out-of-range magnitudes underflow to 0 / clamp, tested
    separately below."""
    from weather_tools_spark.sources import grib1 as G1

    d = G1.ibm32_decode(G1.ibm32_encode(x))
    assert abs(d - x) <= abs(x) * 16 * 2.0**-24 + 1e-30
    _, lo = G1._encode_ref_at_most(x)
    assert lo <= x
    assert x - lo <= abs(x) * 16 * 2.0**-24 + 1e-30


def test_ibm32_range_edges():
    from weather_tools_spark.sources import grib1 as G1

    assert G1.ibm32_encode(1e-300) == 0  # underflow → zero
    big = G1.ibm32_decode(G1.ibm32_encode(1e300))  # overflow → clamp
    assert big == G1.ibm32_decode(0x7FFFFFFF)
    # directed bound still holds at the underflow edge (0 ≤ x)
    _, lo = G1._encode_ref_at_most(1e-300)
    assert lo == 0.0 and lo <= 1e-300


@settings(max_examples=80, deadline=None)
@given(
    flat=st.lists(_vals, min_size=1, max_size=64),
    codec=st.sampled_from([None, {"id": "zlib", "level": 1}, {"id": "gzip", "level": 1}]),
)
def test_zarr_chunk_codec_byte_identity(flat, codec):
    arr = np.array(flat, dtype="<f8")
    buf = Z2._compress(arr.tobytes(), codec)
    back = np.frombuffer(Z2._decompress(buf, codec), "<f8")
    assert np.array_equal(back, arr)


@settings(max_examples=120, deadline=None)
@given(data=st.binary(min_size=0, max_size=4096), matchy=st.booleans())
def test_lz4_block_roundtrip_any_bytes(data, matchy):
    """The LZ4 block decoder (pyarrow's liblz4) inverts the test-side greedy
    encoder on arbitrary byte strings — including highly repetitive
    input (long overlap matches) and incompressible noise (literal-only
    final sequences)."""
    from tests.test_zarr_v2 import _lz4_block_compress

    if matchy and data:  # amplify match coverage: repeat the prefix
        data = (data * (8192 // max(1, len(data)) + 1))[:8192]
    enc = _lz4_block_compress(data)
    assert Z2._lz4_block_decompress(enc, len(data)) == data


@settings(max_examples=60, deadline=None)
@given(
    flat=st.lists(_vals, min_size=1, max_size=256),
    typesize=st.sampled_from([1, 2, 4, 8]),
    shuffle=st.booleans(),
)
def test_blosc_zlib_container_roundtrip_any(flat, typesize, shuffle):
    """blosc_compress/blosc_decompress agree for arbitrary payloads and
    container geometries (blocksize forced small so multi-block and
    leftover-block layouts are exercised)."""
    data = np.array(flat, dtype="<f8").tobytes()
    enc = Z2.blosc_compress(
        data, typesize=typesize, shuffle=1 if shuffle else 0, blocksize=256
    )
    assert Z2.blosc_decompress(enc) == data
