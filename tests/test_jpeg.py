"""Baseline JPEG codec (kernels/jpeg.py) — round-trip, structure, spec
invariants. The codec replaces the round-1/2 quantize+zlib stand-in; these
tests enforce the BASELINE.json input_hint contract (PSNR>=40dB lossy) on the
worst-case synthetic fixtures plus structural conformance of the stream."""

import struct

import numpy as np
import pytest

from planetiler_spark.kernels import image as ik
from planetiler_spark.kernels import jpeg as J
from planetiler_spark.sources.images import _pixels


def _rt(px, quality=J.DEFAULT_QUALITY):
    return J.decode_jpeg(J.encode_jpeg(px, quality))


def test_sawtooth_fixture_psnr_above_40():
    # the synthetic pattern wraps 255->0 every ~8px — near worst-case for DCT
    for i, size in ((2, 64), (9, 128), (5, 32)):
        px = _pixels(i, size, size)
        out = _rt(px)
        assert out.shape == px.shape
        assert ik.psnr(px, out) >= 40.0


def test_solid_and_smooth_exact():
    solid = np.full((40, 56, 3), 137, np.uint8)
    assert np.array_equal(_rt(solid), solid)
    smooth = (np.linspace(0, 255, 64)[None, :, None] * np.ones((64, 1, 3))).astype(np.uint8)
    assert np.array_equal(_rt(smooth), smooth)


def test_noise_psnr_and_odd_sizes():
    rng = np.random.default_rng(7)
    noise = rng.integers(0, 256, (64, 64, 3)).astype(np.uint8)
    assert ik.psnr(noise, _rt(noise)) >= 40.0
    for shape in ((1, 1), (7, 3), (17, 23), (8, 64), (9, 65)):
        px = _pixels(11, shape[1], shape[0])
        out = _rt(px)
        assert out.shape == px.shape
        assert ik.psnr(px, out) >= 40.0


def test_deterministic_bytes():
    px = _pixels(3, 64, 64)
    assert J.encode_jpeg(px) == J.encode_jpeg(px)


def test_marker_structure():
    buf = J.encode_jpeg(_pixels(1, 16, 16))
    assert buf[:2] == b"\xFF\xD8" and buf[-2:] == b"\xFF\xD9"
    # walk segments: expect APP0, 2x DQT, SOF0, 4x DHT, SOS in order
    seen = []
    off = 2
    while off < len(buf):
        assert buf[off] == 0xFF
        marker = buf[off + 1]
        seen.append(marker)
        (ln,) = struct.unpack_from(">H", buf, off + 2)
        if marker == 0xDA:
            break
        off += 2 + ln
    assert seen == [0xE0, 0xDB, 0xDB, 0xC0, 0xC4, 0xC4, 0xC4, 0xC4, 0xDA]
    # SOF0 carries the dimensions
    sof_off = buf.find(b"\xFF\xC0")
    prec, h, w, nc = struct.unpack_from(">BHHB", buf, sof_off + 4)
    assert (prec, h, w, nc) == (8, 16, 16, 3)


def test_entropy_data_is_stuffed():
    # every 0xFF inside the entropy segment must be followed by 0x00
    buf = J.encode_jpeg(_pixels(4, 64, 64))
    sos = buf.find(b"\xFF\xDA")
    (ln,) = struct.unpack_from(">H", buf, sos + 2)
    data = buf[sos + 2 + ln:-2]
    for k in [i for i, b in enumerate(data) if b == 0xFF]:
        assert k + 1 < len(data) and data[k + 1] == 0x00


def test_huffman_tables_kraft_complete():
    # canonical code build must consume exactly len(vals) codes and satisfy
    # the Kraft inequality (no overfull level)
    for bits, vals in ((J.DC_LUM_BITS, J.DC_LUM_VALS),
                       (J.DC_CHROMA_BITS, J.DC_CHROMA_VALS),
                       (J.AC_LUM_BITS, J.AC_LUM_VALS),
                       (J.AC_CHROMA_BITS, J.AC_CHROMA_VALS)):
        assert sum(bits) == len(vals)
        kraft = sum(n * 2.0 ** -(i + 1) for i, n in enumerate(bits))
        assert kraft <= 1.0
        codes, lengths = J.build_huffman(bits, vals)
        # prefix-free: all (code << (16-len)) spans disjoint
        spans = []
        for sym in range(256):
            if lengths[sym]:
                lo = int(codes[sym]) << (16 - int(lengths[sym]))
                spans.append((lo, lo + (1 << (16 - int(lengths[sym])))))
        spans.sort()
        for (a0, a1), (b0, _) in zip(spans, spans[1:]):
            assert a1 <= b0


def test_ac_tables_have_162_symbols():
    assert len(J.AC_LUM_VALS) == 162 and len(J.AC_CHROMA_VALS) == 162
    assert len(set(J.AC_LUM_VALS)) == 162 and len(set(J.AC_CHROMA_VALS)) == 162


def test_dct_matrix_orthonormal():
    eye = J.DCT_M @ J.DCT_M.T
    assert np.allclose(eye, np.eye(8), atol=1e-12)


def test_zigzag_is_permutation_and_canonical_head():
    assert sorted(J.ZIGZAG.tolist()) == list(range(64))
    # first 10 entries of the standard scan (T.81 figure 5)
    assert J.ZIGZAG[:10].tolist() == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert J.ZIGZAG[-1] == 63


def test_quality_scaling_formula():
    lum50, chr50 = J.scaled_quant_tables(50)
    assert np.array_equal(lum50, J.QTBL_LUM) and np.array_equal(chr50, J.QTBL_CHROMA)
    lum100, _ = J.scaled_quant_tables(100)
    assert lum100.min() == 1 and lum100.max() == 1
    lum10, _ = J.scaled_quant_tables(10)
    assert (lum10 >= J.QTBL_LUM).all()


def test_decoder_rejects_garbage_and_truncation():
    with pytest.raises(ValueError):
        J.decode_jpeg(b"not a jpeg at all")
    # a quantize+zlib "FJPG" payload tagged jpeg is not a JPEG stream
    import zlib

    fjpg = (b"FJPG" + (16).to_bytes(2, "little") * 2
            + zlib.compress(bytes(16 * 16 * 3)))
    with pytest.raises(ValueError):
        ik.decode_image(fjpg, "jpeg")
    buf = J.encode_jpeg(_pixels(1, 16, 16))
    with pytest.raises(ValueError):
        J.decode_jpeg(buf[:40])  # headers cut off


def test_decode_image_dispatch():
    px = _pixels(6, 64, 64)
    real = ik.encode_image(px, "jpeg")
    assert real[:2] == b"\xFF\xD8"
    assert ik.psnr(px, ik.decode_image(real, "jpeg")) >= 40.0


def test_grayscale_single_component_stream():
    # decoder handles a 1-component stream (encoder emits 3; build one by
    # hand-editing is overkill — encode, decode, re-encode the Y plane via a
    # luma-only image where chroma is constant)
    px = np.repeat(_pixels(8, 32, 32)[:, :, :1], 3, axis=2)  # r=g=b
    out = _rt(px)
    assert ik.psnr(px, out) >= 40.0


def test_restart_intervals_roundtrip():
    """DRI/RSTn support: encoding with restart markers must decode to exactly
    the same pixels as the marker-free encoding (DC predictions reset per
    interval; segments byte-align with 1-fill)."""
    from planetiler_spark.kernels.jpeg import decode_jpeg, encode_jpeg

    px = _pixels(13, 64, 64)
    plain = decode_jpeg(encode_jpeg(px))
    for dri in (1, 3, 7, 64, 1000):
        b = encode_jpeg(px, restart_interval=dri)
        assert b"\xff\xdd" in b  # DRI segment present
        got = decode_jpeg(b)
        assert np.array_equal(got, plain), dri
    # markers really are in the stream for small intervals
    b = encode_jpeg(px, restart_interval=1)
    assert any(bytes([0xFF, 0xD0 + i]) in b for i in range(8))


def test_batch_decoder_identical_to_serial():
    """decode_jpeg_batch (lockstep entropy decode across all restart segments
    of all images at once) must be pixel-identical to decode_jpeg — with
    restart intervals, without, and across mixed sizes in one batch."""
    from planetiler_spark.sources import images as src

    pdf = src.images_batch(np.arange(60), with_bytes=True)
    pix = [src._pixels(i, int(w), int(h))
           for i, (w, h) in enumerate(zip(pdf["w"], pdf["h"]))]
    for ri in (0, 1, 2, 5):
        bufs = [J.encode_jpeg(p, restart_interval=ri) for p in pix[:24]]
        want = [J.decode_jpeg(b) for b in bufs]
        got = J.decode_jpeg_batch(bufs)
        assert all(np.array_equal(a, b) for a, b in zip(want, got)), f"ri={ri}"
    # mixed intervals + mixed sizes in ONE batch
    bufs = [J.encode_jpeg(p, restart_interval=(i % 4)) for i, p in enumerate(pix)]
    got = J.decode_jpeg_batch(bufs)
    assert all(np.array_equal(J.decode_jpeg(b), g) for b, g in zip(bufs, got))


def test_batch_decoder_odd_geometry_and_errors():
    rng = np.random.RandomState(11)
    for shape in [(8, 8, 3), (24, 40, 3), (17, 9, 3), (64, 63, 3)]:
        px = rng.randint(0, 256, shape).astype(np.uint8)
        e = J.encode_jpeg(px, restart_interval=3)
        assert np.array_equal(J.decode_jpeg(e), J.decode_jpeg_batch([e])[0])
    assert J.decode_jpeg_batch([]) == []
    # single-image batch
    px = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
    e = J.encode_jpeg(px)
    assert np.array_equal(J.decode_jpeg(e), J.decode_jpeg_batch([e])[0])
    # truncated entropy data raises like the serial path
    bad = e[:len(e) - 30] + e[-2:]  # keep EOI, drop entropy tail
    with pytest.raises(ValueError):
        J.decode_jpeg_batch([bad])


def test_batch_decoder_tolerates_trailing_restart_marker():
    """Some muxers emit one final RSTn before EOI; the serial planner assigns
    the extra empty segment 0 MCUs — the batch planner must match."""
    rng = np.random.RandomState(5)
    px = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
    e = bytearray(J.encode_jpeg(px, restart_interval=2))
    eoi = bytes(e).rindex(b"\xFF\xD9")
    # count existing RSTn to pick the next marker index in sequence
    n_rst = sum(bytes(e).count(bytes([0xFF, 0xD0 + i])) for i in range(8))
    e[eoi:eoi] = bytes([0xFF, 0xD0 + (n_rst % 8)])
    e = bytes(e)
    want = J.decode_jpeg(e)
    got = J.decode_jpeg_batch([e])[0]
    assert np.array_equal(want, got)
