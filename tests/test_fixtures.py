"""Fixture generator tests: determinism, image codec round-trips, PSNR invariant,
caption self-check (FIXTURES.md §1, BASELINE.json input_hint)."""

import numpy as np
import pytest

from planetiler_spark.kernels import image as ik
from planetiler_spark.kernels import tile_math as tm
from planetiler_spark.sources import images as fx


def test_splitmix64_deterministic():
    a = fx.splitmix64(np.arange(10))
    b = fx.splitmix64(np.arange(10))
    np.testing.assert_array_equal(a, b)
    assert len(np.unique(a)) == 10


def test_png_roundtrip_exact():
    px = fx._pixels(7, 64, 64)
    buf = ik.encode_png(px)
    out = ik.decode_png(buf)
    np.testing.assert_array_equal(out, px)
    assert ik.psnr(px, out) == float("inf")


def test_encode_deterministic_bytes():
    a = ik.encode_png(fx._pixels(3, 64, 64))
    b = ik.encode_png(fx._pixels(3, 64, 64))
    assert a == b


def test_images_batch_shape_and_caption_selfcheck():
    pdf = fx.images_batch(np.arange(64))
    assert list(pdf.columns) == ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    # caption embeds the true z14 tile derived from phash (self-checking fixture)
    wx, wy = fx.anchor_world(pdf["phash"].to_numpy())
    tx, ty = tm.tile_of_world(wx, wy, 14)
    for cap, x, y in zip(pdf["caption"], tx, ty):
        assert cap.endswith(f"tile 14/{x}/{y}")


def test_images_batch_decodable_with_psnr():
    pdf = fx.images_batch(np.arange(8))
    for _, row in pdf.iterrows():
        i = int(row.image_id[3:])
        expected = fx._pixels(i, row.w, row.h)
        decoded = ik.decode_image(row.bytes, row.fmt)
        assert decoded.shape == (row.h, row.w, 3)
        assert ik.psnr(expected, decoded) >= 40.0
        if row.fmt == "png":
            np.testing.assert_array_equal(decoded, expected)


def test_variable_sizes_and_fmt_cycle():
    pdf = fx.images_batch(np.arange(40))
    assert (pdf["w"][pdf.index % 10 == 9] == fx.BIG_SIZE).all()
    assert pdf["fmt"].tolist()[:4] == ["png", "png", "jpeg", "png"]
    assert (pdf["fmt"] == "jpeg").mean() == pytest.approx(0.25)


def test_hotspot_skew_exists():
    ph = fx.phash_of(np.arange(20000))
    wx, wy = fx.anchor_world(ph)
    tx, ty = tm.tile_of_world(wx, wy, 14)
    tid = tm.tile_encode(tx, ty, 14)
    _, counts = np.unique(tid, return_counts=True)
    # 8 city hotspots at sigma 0.02deg (~1 z14 tile width) concentrate ~20% of
    # rows into a handful of tiles: heavy skew vs the uniform background
    assert counts.max() > 50  # dense tile exists (skew to handle)
    assert np.median(counts) <= 2  # background is near-uniform


def test_zones_broadcastable_and_parse():
    pdf = fx.zones_pdf()
    assert len(pdf) == fx.N_ZONES + 8
    assert pdf["wkb"].map(len).sum() < 5_000_000  # comfortably broadcastable
    idx = fx.zones_index()
    assert len(idx.polys) == len(pdf)
    # every zone bbox is inside the world
    assert (idx.bboxes[:, 0] >= -0.1).all() and (idx.bboxes[:, 2] <= 1.1).all()


def test_zone_holes_and_overlap_semantics():
    idx = fx.zones_index()
    # polygon 0 has a hole at its site: site center must be OUTSIDE (in the hole)
    from planetiler_spark.kernels import geom as g
    rng = np.random.default_rng(42)
    sites = rng.uniform(0.05, 0.95, size=(fx.N_ZONES, 2))
    rings = idx.polys[0]
    assert len(rings) == 2
    inside = g.points_in_polygon(np.array([sites[0, 0]]), np.array([sites[0, 1]]), rings)
    assert not inside[0]
