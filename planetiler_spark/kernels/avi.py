"""From-scratch AVI (RIFF) container with MJPEG video frames.

The video modality's container, a REAL, player-openable one: the AVI
structure is a public RIFF layout (hdrl list with avih main header + strl
stream header/format, movi list of '00dc' compressed-frame chunks,
word-aligned like every RIFF), and MJPEG
is simply one baseline JPEG per frame — which kernels/jpeg.py already
encodes and decodes for real. No codec library involved anywhere.

Writer emits: avih (micro-sec/frame, frame count, dimensions), one video
stream ('vids'/'MJPG', scale/rate = 1/fps), BITMAPINFOHEADER with 'MJPG'
compression, then the movi chunks. Reader walks RIFF chunks (skipping
unknown ones, honoring odd-size pad bytes — same rule as kernels/wav.py),
pulls fps + declared frame count from the headers, and decodes every
'00dc'/'00db' chunk through the real JPEG decoder.
"""

from __future__ import annotations

import struct

import numpy as np

from . import jpeg

__all__ = ["encode_avi", "decode_avi"]


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) & 1 else b""
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def _list(fourcc: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", fourcc + payload)


def encode_avi(frames: list[np.ndarray], fps: int = 10,
               quality: int = jpeg.DEFAULT_QUALITY) -> bytes:
    """RGB uint8 frames (h, w, 3), all the same size -> AVI/MJPEG bytes."""
    if not frames:
        raise ValueError("empty frame list")
    h, w = frames[0].shape[:2]
    # DRI every 2 MCUs: short independent streams let decode_avi's lockstep
    # batch decoder run all frames' segments at once (image.py rationale)
    blobs = [jpeg.encode_jpeg(f, quality=quality, restart_interval=2)
             for f in frames]
    maxbuf = max(len(b) for b in blobs)

    avih = struct.pack("<14I", 1_000_000 // fps, maxbuf * fps, 0, 0x10,
                       len(frames), 0, 1, maxbuf, w, h, 0, 0, 0, 0)
    strh = struct.pack("<4s4sIHH8I4h", b"vids", b"MJPG", 0, 0, 0, 0,
                       1, fps, 0, len(frames), maxbuf, 0xFFFFFFFF, 0,
                       0, 0, w, h)
    strf = struct.pack("<I2i2H2I2i2I", 40, w, h, 1, 24, 0x47504A4D,  # 'MJPG'
                       w * h * 3, 0, 0, 0, 0)
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)))
    movi = _list(b"movi", b"".join(_chunk(b"00dc", b) for b in blobs))
    return _chunk(b"RIFF", b"AVI " + hdrl + movi)


def _walk(buf: bytes, pos: int, end: int):
    """Yield (fourcc, list_type_or_None, payload_start, payload_size)."""
    while pos + 8 <= end:
        cid = bytes(buf[pos:pos + 4])
        size = struct.unpack_from("<I", buf, pos + 4)[0]
        if pos + 8 + size > len(buf):
            raise ValueError("truncated RIFF chunk "
                             f"{cid!r}: {size} bytes past buffer end")
        if cid in (b"RIFF", b"LIST"):
            yield cid, bytes(buf[pos + 8:pos + 12]), pos + 12, size - 4
        else:
            yield cid, None, pos + 8, size
        pos += 8 + size + (size & 1)


def decode_avi(buf: bytes) -> tuple[int, list[np.ndarray]]:
    """AVI/MJPEG bytes -> (fps, frames as RGB uint8 arrays). Walks nested
    RIFF lists, skipping idx1 and any foreign chunks; frame chunks are
    '00dc' (compressed) or '00db' (uncompressed-flag variant some muxers
    emit for MJPEG anyway — both hold a JPEG here)."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI stream")
    fps = None
    declared = None
    raw_frames: list[bytes] = []

    def visit(pos, end):
        nonlocal fps, declared
        for cid, ltype, p, size in _walk(buf, pos, end):
            if cid == b"LIST":
                visit(p, p + size)
            elif cid == b"avih":
                usec = struct.unpack_from("<I", buf, p)[0]
                declared = struct.unpack_from("<I", buf, p + 16)[0]
                fps = round(1_000_000 / usec) if usec else None
            elif cid in (b"00dc", b"00db") and size > 0:
                raw_frames.append(bytes(buf[p:p + size]))

    visit(12, len(buf))
    if declared is not None and declared != len(raw_frames):
        raise ValueError(f"AVI declares {declared} frames, found {len(raw_frames)}")
    # all frames of the container decode in ONE lockstep batch when they
    # carry DRI (this muxer's output always does); DRI-less foreign MJPEG
    # frames are long single streams, where the serial walk wins. Fall back
    # to per-frame serial decode if the batch path rejects the group, so a
    # foreign stream quirk can't fail frames the serial decoder accepts.
    frames = None
    if len(raw_frames) > 1 and b"\xff\xdd" in raw_frames[0][:4096]:
        try:
            frames = jpeg.decode_jpeg_batch(raw_frames)
        except jpeg._JpegError:
            frames = None
    if frames is None:
        frames = [jpeg.decode_jpeg(b) for b in raw_frames]
    return fps or 0, frames
