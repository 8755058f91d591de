"""Multimodal image operators over the binary `bytes` column — the decode /
resize / feature-extract / frame-sample set a training-data pipeline needs,
each as an Arrow-batched mapInPandas stage (never per-row Python UDFs).

All pixel work is real (the repo ships from-scratch PNG and baseline-JFIF
codecs in kernels/image.py + kernels/jpeg.py): bilinear resize is vectorized
numpy gather/lerp, and feature extraction computes an ACTUAL 64-bit
perceptual hash — 32x32 luma -> orthonormal 2D DCT-II -> low-frequency 8x8
block -> median threshold — i.e. the classic pHash construction, not a
stand-in. Video frames come out of a real RIFF/AVI MJPEG container
(kernels/avi.py on the same JPEG codec); `sample_frames` raises for any
other container, since inter-frame codecs need a decoder this package does
not ship.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from ..kernels import image as ik

RESIZED_SCHEMA = ("image_id string, w int, h int, fmt string, bytes binary")
FEATURES_SCHEMA = ("image_id string, phash64 long, luma_mean double, "
                   "luma_std double, hist array<int>")
FRAMES_SCHEMA = ("image_id string, frame_idx int, w int, h int, bytes binary")


# ---------------------------------------------------------------------------
# bilinear resize
# ---------------------------------------------------------------------------

def resize_pixels(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Vectorized bilinear resample of an (h, w, c) uint8 array — align-corners
    false / half-pixel centers (the convention of every mainstream image lib).
    Exact for images that are linear ramps in x/y (bilinear reproduces affine
    functions), which the tests exploit."""
    h, w = px.shape[:2]
    sx = w / out_w
    sy = h / out_h
    # source sample positions at output pixel centers, clamped to the grid
    fx = np.clip((np.arange(out_w) + 0.5) * sx - 0.5, 0, w - 1)
    fy = np.clip((np.arange(out_h) + 0.5) * sy - 0.5, 0, h - 1)
    x0 = np.floor(fx).astype(np.int64)
    y0 = np.floor(fy).astype(np.int64)
    x1 = np.minimum(x0 + 1, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    wx = (fx - x0)[None, :, None]
    wy = (fy - y0)[:, None, None]
    p = px.astype(np.float64)
    top = p[y0[:, None], x0[None, :]] * (1 - wx) + p[y0[:, None], x1[None, :]] * wx
    bot = p[y1[:, None], x0[None, :]] * (1 - wx) + p[y1[:, None], x1[None, :]] * wx
    out = top * (1 - wy) + bot * wy
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def resize_images(images: DataFrame, out_w: int, out_h: int,
                  out_fmt: str = "png") -> DataFrame:
    """decode -> bilinear resize -> re-encode, one Arrow batch at a time."""
    def gen(batches):
        for pdf in batches:
            blobs, fmts = [], []
            decoded = ik.decode_images(list(pdf["bytes"]), list(pdf["fmt"]))
            for px in decoded:
                blobs.append(ik.encode_image(resize_pixels(px, out_w, out_h),
                                             out_fmt))
                fmts.append(out_fmt)
            yield pd.DataFrame({
                "image_id": pdf["image_id"].to_numpy(),
                "w": np.full(len(pdf), out_w, dtype=np.int32),
                "h": np.full(len(pdf), out_h, dtype=np.int32),
                "fmt": fmts,
                "bytes": blobs,
            })

    return images.select("image_id", "w", "h", "fmt", "bytes") \
                 .mapInPandas(gen, RESIZED_SCHEMA)


# ---------------------------------------------------------------------------
# perceptual hash + features
# ---------------------------------------------------------------------------

@functools.lru_cache(maxsize=4)
def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal n-point DCT-II (same construction as kernels/jpeg.py:126,
    generalized from 8 to n)."""
    k = np.arange(n)[:, None].astype(np.float64)
    m = np.cos((2 * np.arange(n)[None, :] + 1) * k * np.pi / (2 * n))
    m[0] *= np.sqrt(1.0 / n)
    m[1:] *= np.sqrt(2.0 / n)
    return m


def phash_pixels(px: np.ndarray) -> int:
    """Classic 64-bit pHash: luma -> 32x32 bilinear -> 2D DCT-II -> top-left
    8x8 low-frequency block -> bit b set iff coefficient > median (the DC term
    is excluded from the median so uniform brightness shifts cannot flip the
    whole signature). Bit order: row-major over the 8x8 block, bit 63 first."""
    luma = (0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2])
    small = resize_pixels(np.repeat(luma[:, :, None], 3, axis=2).astype(np.uint8),
                          32, 32)[..., 0].astype(np.float64)
    m = _dct_matrix(32)
    coef = m @ small @ m.T
    low = coef[:8, :8]
    med = np.median(low.ravel()[1:])
    bits = (low.ravel() > med).astype(np.uint64)
    return int(bits @ (np.uint64(1) << np.arange(63, -1, -1, dtype=np.uint64)))


def extract_features(images: DataFrame, hist_bins: int = 8) -> DataFrame:
    """Per-image features for dedup / quality filtering: real pHash (above),
    luma mean/std, and a hist_bins-per-channel color histogram."""
    def gen(batches):
        for pdf in batches:
            out = {"image_id": [], "phash64": [], "luma_mean": [],
                   "luma_std": [], "hist": []}
            decoded = ik.decode_images(list(pdf["bytes"]), list(pdf["fmt"]))
            for px, r in zip(decoded, pdf.itertuples(index=False)):
                luma = (0.299 * px[..., 0] + 0.587 * px[..., 1]
                        + 0.114 * px[..., 2])
                shift = 8 - (hist_bins.bit_length() - 1)  # power-of-two bins
                hist = np.concatenate([
                    np.bincount(px[..., c].ravel() >> shift,
                                minlength=hist_bins)[:hist_bins]
                    for c in range(3)]).astype(np.int32)
                ph = phash_pixels(px)
                out["image_id"].append(r.image_id)
                # two's-complement into int64 (Spark long)
                out["phash64"].append(ph - (1 << 64) if ph >= (1 << 63) else ph)
                out["luma_mean"].append(float(luma.mean()))
                out["luma_std"].append(float(luma.std()))
                out["hist"].append(hist)
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes", "fmt").mapInPandas(gen, FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# video frame sampling — REAL AVI/MJPEG container (kernels/avi.py on the
# from-scratch JPEG codec)
# ---------------------------------------------------------------------------

def encode_video(frames: list[np.ndarray], fmt: str = "avi",
                 fps: int = 10) -> bytes:
    """Frames -> video bytes: a real RIFF/AVI MJPEG container any player
    opens."""
    if fmt == "avi":
        from ..kernels import avi as avk
        return avk.encode_avi(frames, fps=fps)
    raise ValueError(f"unknown video format {fmt!r}")


def decode_video(buf: bytes) -> list[np.ndarray]:
    """RIFF/AVI (MJPEG) bytes -> frames."""
    if buf[:4] == b"RIFF" and buf[8:12] == b"AVI ":
        from ..kernels import avi as avk
        return avk.decode_avi(buf)[1]
    raise NotImplementedError(
        "unknown video container (AVI/MJPEG is supported; inter-frame "
        "codecs like H.264 need an external decoder this package does not "
        "ship)")


def sample_frames(videos: DataFrame, every_n: int = 2) -> DataFrame:
    """One row per sampled frame (frame_idx % every_n == 0), frames re-encoded
    as PNG — the explode-shaped stage a video pipeline slots its real decoder
    into."""
    def gen(batches):
        for pdf in batches:
            out = {k: [] for k in ("image_id", "frame_idx", "w", "h", "bytes")}
            for r in pdf.itertuples(index=False):
                for idx, frame in enumerate(decode_video(bytes(r.bytes))):
                    if idx % every_n:
                        continue
                    out["image_id"].append(r.image_id)
                    out["frame_idx"].append(idx)
                    out["h"].append(frame.shape[0])
                    out["w"].append(frame.shape[1])
                    out["bytes"].append(ik.encode_png(frame))
            yield pd.DataFrame(out)

    return videos.select("image_id", "bytes").mapInPandas(gen, FRAMES_SCHEMA)
