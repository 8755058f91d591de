"""Multimodal image operators (operators/image_ops.py): bilinear resize,
real pHash feature extraction, video frame-sample plumbing."""

import numpy as np
import pytest

from planetiler_spark.kernels import image as ik
from planetiler_spark.operators import image_ops as io_ops
from planetiler_spark.sources import images as src


def ramp(h, w, ax=30, ay=14, b=7):
    """Linear ramp image: px = ax*xn + ay*yn + b at half-pixel-center coords —
    bilinear resampling reproduces affine functions exactly, so the resized
    ramp is known analytically."""
    xn = (np.arange(w) + 0.5) / w
    yn = (np.arange(h) + 0.5) / h
    v = ax * xn[None, :] + ay * yn[:, None] + b
    return np.clip(np.rint(v), 0, 255).astype(np.uint8)[:, :, None].repeat(3, 2)


def test_resize_exact_on_affine_ramp():
    big = ramp(64, 64).astype(np.uint8)
    # build from float to avoid double-rounding: recompute expected directly
    out = io_ops.resize_pixels(big, 16, 16)
    want = ramp(16, 16)
    assert out.shape == (16, 16, 3)
    # ramp quantization to uint8 before resize introduces <=0.5 error per
    # sample; bilinear averages them, so allow 1 count
    assert np.max(np.abs(out.astype(int) - want.astype(int))) <= 1


def test_resize_identity_and_upscale():
    px = src._pixels(3, 32, 32)
    assert np.array_equal(io_ops.resize_pixels(px, 32, 32), px)
    up = io_ops.resize_pixels(px, 64, 64)
    assert up.shape == (64, 64, 3)
    # energy preserved approximately under upscale
    assert abs(float(up.mean()) - float(px.mean())) < 2.0


def test_phash_properties():
    px = src._pixels(11, 64, 64)
    h1 = io_ops.phash_pixels(px)
    assert h1 == io_ops.phash_pixels(px.copy())          # deterministic
    # uniform brightness shift: DC excluded from the median -> tiny distance
    brighter = np.clip(px.astype(int) + 8, 0, 255).astype(np.uint8)
    d_bright = bin(h1 ^ io_ops.phash_pixels(brighter)).count("1")
    assert d_bright <= 6
    # mild blur (2x2 box): low-frequency signature survives
    blur = ((px[0::2, 0::2].astype(int) + px[1::2, 0::2] + px[0::2, 1::2]
             + px[1::2, 1::2]) // 4).astype(np.uint8)
    d_blur = bin(h1 ^ io_ops.phash_pixels(blur)).count("1")
    assert d_blur <= 12
    # a structurally different image is far away (src._pixels images differ
    # only by a constant offset mod 256, so use real noise as the contrast)
    rng = np.random.default_rng(99)
    noise = rng.integers(0, 256, size=(64, 64, 3), dtype=np.uint8)
    d_other = bin(h1 ^ io_ops.phash_pixels(noise)).count("1")
    assert d_other > max(d_bright, d_blur)
    assert d_other >= 16


def test_resize_images_df(spark):
    imgs = src.images_df(spark, 40, partitions=2, with_bytes=True)
    out = io_ops.resize_images(imgs, 16, 16).collect()
    assert len(out) == 40
    for r in out[:5]:
        px = ik.decode_png(bytes(r.bytes))
        assert px.shape == (16, 16, 3) and r.fmt == "png"


def test_extract_features_df(spark):
    imgs = src.images_df(spark, 30, partitions=2, with_bytes=True)
    rows = {r.image_id: r for r in io_ops.extract_features(imgs).collect()}
    assert len(rows) == 30
    r = rows["img000000000003"]
    assert len(r.hist) == 24 and sum(r.hist) == 3 * 64 * 64
    assert 0.0 <= r.luma_mean <= 255.0 and r.luma_std > 0
    # phash matches the kernel applied directly to the decoded stored bytes
    raw = {x.image_id: (bytes(x.bytes), x.fmt)
           for x in imgs.filter("image_id = 'img000000000003'").collect()}
    px = ik.decode_image(*raw["img000000000003"])
    want = io_ops.phash_pixels(px)
    got = r.phash64 + (1 << 64) if r.phash64 < 0 else r.phash64
    assert got == want


def test_real_phash_near_dup_end_to_end(spark):
    """The full image near-dup pipeline on REAL bytes: decode -> pHash ->
    16-bit band equi-join -> Hamming refine. Planted perturbations (uniform
    brightness shift, re-encoded) must pair with their originals; unrelated
    noise images must not."""
    import pandas as pd
    rng = np.random.default_rng(7)
    rows = []
    for i in range(12):
        px = src._pixels(i, 64, 64)
        rows.append((f"orig{i:02d}", ik.encode_png(px), "png"))
        if i < 6:  # plant a brightness-shifted near-duplicate
            pert = np.clip(px.astype(int) + 6, 0, 255).astype(np.uint8)
            rows.append((f"dup{i:02d}", ik.encode_png(pert), "png"))
    for j in range(6):  # unrelated noise
        noise = rng.integers(0, 256, size=(64, 64, 3), dtype=np.uint8)
        rows.append((f"noise{j:02d}", ik.encode_png(noise), "png"))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["image_id", "bytes", "fmt"]))

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F
    from planetiler_spark.functions import exprs as X

    feats = io_ops.extract_features(df).select(
        "image_id", F.expr("phash64 & 9223372036854775807").alias("ph"))
    bands = feats.select("image_id", "ph", F.posexplode(F.array(
        *[F.expr(X.hash_band("ph", b)) for b in range(4)])).alias("band", "bv"))
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.expr(X.hamming62("ph_a", "ph_b", "spark"))
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bv") == F.col("b.bv"))
                    & (F.col("a.image_id") < F.col("b.image_id")))
             .select(F.col("a.image_id").alias("id_a"),
                     F.col("b.image_id").alias("id_b"),
                     F.col("a.ph").alias("ph_a"), F.col("b.ph").alias("ph_b"))
             .filter(ham <= 8).select("id_a", "id_b").distinct().collect())
    got = {tuple(sorted((r.id_a, r.id_b))) for r in pairs}
    want = {(f"dup{i:02d}", f"orig{i:02d}") for i in range(6)}
    # every planted duplicate is recalled
    assert want <= got
    # and no noise image pairs with anything
    assert not any("noise" in x for p in got for x in p)


def test_avi_mjpeg_roundtrip_real_container():
    """AVI is a REAL container now: RIFF/AVI magic, header-declared fps and
    frame count, each frame an independent baseline JPEG (kernels/jpeg.py),
    round-tripping above 40 dB PSNR."""
    from planetiler_spark.kernels import avi
    frames = [src._pixels(i, 64, 64) for i in range(5)]
    buf = avi.encode_avi(frames, fps=12)
    assert buf[:4] == b"RIFF" and buf[8:12] == b"AVI "
    fps, out = avi.decode_avi(buf)
    assert fps == 12 and len(out) == 5
    for a, b in zip(frames, out):
        mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
        assert 10 * np.log10(255.0 ** 2 / mse) >= 40.0


def test_avi_decode_skips_foreign_chunks_and_validates():
    import struct
    from planetiler_spark.kernels import avi
    frames = [src._pixels(3, 32, 32)]
    buf = bytearray(avi.encode_avi(frames, fps=10))
    # append an idx1 chunk (odd size -> padded) inside the RIFF payload
    extra = b"idx1" + struct.pack("<I", 5) + b"abcde" + b"\x00"
    buf += extra
    buf[4:8] = struct.pack("<I", struct.unpack("<I", bytes(buf[4:8]))[0] + len(extra))
    fps, out = avi.decode_avi(bytes(buf))
    assert fps == 10 and len(out) == 1
    with pytest.raises(ValueError):
        avi.decode_avi(b"RIFF\x04\x00\x00\x00WAVE")
    # header/frame-count mismatch is detected
    truncated = bytes(avi.encode_avi(frames * 2, fps=10))
    cut = truncated.rindex(b"00dc")
    bad = truncated[:cut - 8]  # drop the last frame chunk, keep headers
    with pytest.raises(ValueError):
        avi.decode_avi(bad)


def test_sample_frames_over_real_avi(spark):
    import pandas as pd
    frames = [src._pixels(i, 64, 64) for i in range(6)]
    blob = io_ops.encode_video(frames, fmt="avi", fps=8)
    vids = spark.createDataFrame(pd.DataFrame(
        {"image_id": ["vid-avi"], "bytes": [blob]}))
    out = sorted(io_ops.sample_frames(vids, every_n=3).collect(),
                 key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in out] == [0, 3]
    for r, want in zip(out, (frames[0], frames[3])):
        got = ik.decode_png(bytes(r.bytes))
        assert got.shape == want.shape
        mse = np.mean((got.astype(np.float64) - want.astype(np.float64)) ** 2)
        assert 10 * np.log10(255.0 ** 2 / mse) >= 40.0


def test_decode_video_rejects_other_containers():
    """Only RIFF/AVI decodes; any other container raises rather than
    guessing (inter-frame codecs need a decoder this package lacks)."""
    with pytest.raises(NotImplementedError):
        io_ops.decode_video(b"\x00\x01realvideo")
    with pytest.raises(NotImplementedError):
        io_ops.decode_video(b"FVID\x00\x00\x00\x00")
