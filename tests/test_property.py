"""Property-based round-trip tests (hypothesis) for every codec the engine
ships — beyond the reference's example-based tests (SURVEY §5 notes the
reference has no property corpus)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from planetiler_spark.kernels import geom as gk
from planetiler_spark.kernels import mvt
from planetiler_spark.kernels import tile_math as tm

MAXZ = 14


@given(st.integers(min_value=-(2**31), max_value=2**31 - 1))
def test_zigzag_roundtrip(v):
    assert mvt.unzigzag(mvt.zigzag(v)) == v


@given(st.lists(st.integers(min_value=0, max_value=2**34), min_size=1, max_size=50))
def test_varint_matrix_matches_scalar(vals):
    a = np.array(vals, dtype=np.int64)
    B, L = mvt.varint_matrix(a)
    for i, v in enumerate(vals):
        assert bytes(B[i, :L[i]]) == mvt._varint(int(v))


@given(st.integers(min_value=0, max_value=MAXZ), st.data())
def test_tile_encode_decode_roundtrip(z, data):
    n = 1 << z
    x = data.draw(st.integers(min_value=0, max_value=n - 1))
    y = data.draw(st.integers(min_value=0, max_value=n - 1))
    enc = tm.tile_encode(np.int64(x), np.int64(y), np.int64(z))
    dx, dy, dz = tm.tile_decode(enc)
    assert (int(dx), int(dy), int(dz)) == (x, y, z)


@given(st.integers(min_value=0, max_value=MAXZ), st.data())
def test_hilbert_roundtrip(z, data):
    n = 1 << z
    x = data.draw(st.integers(min_value=0, max_value=n - 1))
    y = data.draw(st.integers(min_value=0, max_value=n - 1))
    enc = tm.hilbert_encode(np.int64(x), np.int64(y), np.int64(z))
    dx, dy, dz = tm.hilbert_decode(enc)
    assert (int(dx), int(dy), int(dz)) == (x, y, z)


@given(st.integers(min_value=0, max_value=(1 << 33) - 1),
       st.integers(min_value=0, max_value=255),
       st.integers(min_value=tm.SORT_KEY_MIN, max_value=tm.SORT_KEY_MAX),
       st.booleans())
def test_sort_key_roundtrip(tile, layer, sk, hg):
    key = tm.encode_sort_key(np.int64(tile), np.int64(layer), np.int64(sk), hg)
    assert int(tm.extract_tile_from_key(key)) == tile
    assert int(tm.extract_layer_from_key(key)) == layer
    assert int(tm.extract_sort_key_from_key(key)) == sk
    assert bool(tm.extract_has_group_from_key(key)) == hg


@given(st.integers(min_value=0, max_value=(1 << 33) - 1))
def test_sort_key_order_preserved(tile):
    """Sorting by the packed key sorts by tile first (zoom-major order)."""
    k1 = tm.encode_sort_key(np.int64(tile), 0, np.int64(tm.SORT_KEY_MAX), 1)
    if tile + 1 < (1 << 33):
        k2 = tm.encode_sort_key(np.int64(tile + 1), 0, np.int64(tm.SORT_KEY_MIN), 0)
        assert int(k1) < int(k2)


@given(st.floats(min_value=-180, max_value=180, allow_nan=False),
       st.floats(min_value=-85, max_value=85, allow_nan=False))
def test_world_projection_roundtrip(lon, lat):
    wx = tm.get_world_x(lon)
    wy = tm.get_world_y(lat)
    assert abs(float(tm.get_world_lon(wx)) - lon) < 1e-9
    assert abs(float(tm.get_world_lat(wy)) - lat) < 1e-6


@given(st.floats(min_value=-179.99, max_value=179.99, allow_nan=False),
       st.floats(min_value=-84.9, max_value=84.9, allow_nan=False))
def test_flat_location_quantization(lon, lat):
    enc = tm.encode_flat_location(np.float64(lon), np.float64(lat))
    # 31-bit quantization: within ~2^-30 world units
    assert abs(float(tm.decode_world_x(enc)) - float(tm.get_world_x(lon))) < 2**-29
    assert abs(float(tm.decode_world_y(enc)) - float(tm.get_world_y(lat))) < 2**-29


@settings(max_examples=30)
@given(st.lists(st.tuples(st.integers(-1000, 5000), st.integers(-1000, 5000)),
                min_size=2, max_size=40))
def test_mvt_linestring_roundtrip(pts):
    arr = np.array(pts)
    keep = np.ones(len(arr), dtype=bool)
    keep[1:] = np.any(np.diff(arr, axis=0) != 0, axis=1)
    arr = arr[keep]
    if len(arr) < 2:
        return
    layer = mvt.LayerBuilder("l")
    layer.add_feature(1, mvt.GEOM_LINESTRING,
                      mvt.encode_geometry(mvt.GEOM_LINESTRING, [arr]))
    got = mvt.decode_tile(mvt.encode_tile([layer]))["l"][0]["geometry"]
    np.testing.assert_array_equal(got[0], arr)


@settings(max_examples=30)
@given(st.lists(st.tuples(st.floats(0, 1, allow_nan=False),
                          st.floats(0, 1, allow_nan=False)),
                min_size=3, max_size=25))
def test_wkb_polygon_roundtrip(pts):
    ring = np.array(pts + pts[:1])
    typ, rings = gk.parse_wkb(gk.wkb_polygon([ring]))
    assert typ == "polygon"
    np.testing.assert_allclose(rings[0], ring)


@settings(max_examples=20)
@given(st.lists(st.tuples(st.floats(-0.5, 1.5, allow_nan=False),
                          st.floats(-0.5, 1.5, allow_nan=False)),
                min_size=2, max_size=30),
       st.floats(min_value=0.0, max_value=0.3))
def test_dp_simplify_invariants(pts, tol):
    coords = np.array(pts)
    out = gk.simplify_dp(coords, tol)
    # endpoints preserved, subset of input, no more points than input
    assert np.array_equal(out[0], coords[0])
    assert np.array_equal(out[-1], coords[-1])
    assert len(out) <= len(coords)


# --- portable bit fragments (functions/exprs.py) vs Python ground truth ----

from planetiler_spark.functions import exprs as X  # noqa: E402


def _duck_val(sql):
    import duckdb
    return duckdb.sql(f"SELECT {sql} AS v").fetchone()[0]


@given(st.integers(0, (1 << 62) - 1), st.integers(0, (1 << 62) - 1))
@settings(max_examples=40, deadline=None)
def test_flip_bits_is_xor(x, mask):
    got = _duck_val(X.flip_bits(f"CAST({x} AS BIGINT)", mask))
    assert got == x ^ mask


@given(st.integers(0, (1 << 62) - 1), st.integers(0, 3))
@settings(max_examples=40, deadline=None)
def test_hash_band_extracts_16_bits(x, band):
    got = _duck_val(X.hash_band(f"CAST({x} AS BIGINT)", band))
    assert got == (x >> (16 * band)) & 0xFFFF


@given(st.integers(0, (1 << 62) - 1), st.integers(0, (1 << 62) - 1))
@settings(max_examples=40, deadline=None)
def test_hamming62_is_popcount_xor(a, b):
    got = _duck_val(X.hamming62(f"CAST({a} AS BIGINT)", f"CAST({b} AS BIGINT)",
                                "duckdb"))
    assert got == bin(a ^ b).count("1")


# --- from-scratch LZ4 block codec roundtrip -------------------------------

from planetiler_spark.kernels import lz4 as lz  # noqa: E402


@given(st.binary(max_size=6000))
@settings(max_examples=60, deadline=None)
def test_lz4_roundtrip_property(data):
    assert lz.decompress_block(lz.compress_block(data), len(data)) == data


# --- from-scratch RIFF/WAVE PCM codec roundtrip ----------------------------

from planetiler_spark.kernels import wav as wk  # noqa: E402


@given(st.lists(st.integers(min_value=-32768, max_value=32767),
                min_size=0, max_size=2000),
       st.sampled_from([8000, 16000, 44100, 48000]),
       st.integers(min_value=1, max_value=4))
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip_property(samples, rate, ch):
    n = (len(samples) // ch) * ch
    s = np.array(samples[:n], dtype=np.int16).reshape(-1, ch)
    if ch == 1:
        s = s[:, 0]
    got_rate, out = wk.decode_wav(wk.encode_wav(s, rate))
    assert got_rate == rate
    np.testing.assert_array_equal(out.reshape(-1), s.reshape(-1))
    # integer features agree with direct int64 math on the mono fold
    mono = s if s.ndim == 1 else s[:, 0]
    f = wk.pcm_features(mono)
    v = mono.astype(np.int64)
    assert f["sum_sq"] == int((v * v).sum())
    assert f["sum_abs"] == int(np.abs(v).sum())


# --- lockstep batch JPEG decoder vs serial walk (final r3) ---------------

@settings(max_examples=12, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(1, 3),
       st.sampled_from([0, 1, 2, 3, 8]))
def test_jpeg_batch_equals_serial_property(seed, nimg, ri):
    from planetiler_spark.kernels import jpeg as J

    rng = np.random.RandomState(seed)
    bufs = []
    for _ in range(nimg):
        h = int(rng.randint(1, 5)) * 8
        w = int(rng.randint(1, 5)) * 8
        px = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        bufs.append(J.encode_jpeg(px, restart_interval=ri))
    want = [J.decode_jpeg(b) for b in bufs]
    got = J.decode_jpeg_batch(bufs)
    assert all(np.array_equal(a, b) for a, b in zip(want, got))


# --- bucket-packed feature transport round trip (final r3) ----------------

@settings(max_examples=15, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(1, 300))
def test_pack_unpack_feature_runs_property(seed, n):
    import pandas as pd

    from planetiler_spark.operators import partitioning as pt
    from planetiler_spark.operators import tile_pipeline as tp

    rng = np.random.RandomState(seed)
    zs = rng.randint(0, 10, n)
    xs = rng.randint(0, 1 << 10, n) % (1 << zs)
    ys = rng.randint(0, 1 << 10, n) % (1 << zs)
    out = pd.DataFrame({
        "hilbert_id": tm.hilbert_encode(xs, ys, zs),
        "ex": rng.randint(-64, 4161, n).astype(np.int64),
        "ey": rng.randint(-64, 4161, n).astype(np.int64),
        "sort_key": rng.randint(0, 1000, n).astype(np.int64),
        "image_id": np.array([f"im{v}" for v in rng.randint(0, 50, n)],
                             dtype=object),
        "caption": np.array(["cápt🌍" * int(k) for k in rng.randint(0, 4, n)],
                            dtype=object),
    })
    import pyarrow as pa

    b, pid = pt.tile_range_partitioning(0, 9, 8, 4)
    edges = np.append(b, tm.ZOOM_START_INDEX[10])
    packed = tp._pack(out, edges, pid, "tok")
    got = []
    for blob in packed.column("blob"):
        t = pa.ipc.open_stream(blob.as_buffer()).read_all()
        got += list(zip(*(t.column(c).to_pylist() for c in out.columns)))
    want = list(out.itertuples(index=False, name=None))
    assert sorted(got) == sorted(want)
