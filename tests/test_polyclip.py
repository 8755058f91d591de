"""kernels/polyclip.py — exact boolean ops (FeatureMerge vector semantics).

Oracles used here (no GEOS in the container, so every check is either
closed-form or brute-force):
  - axis-aligned rectangle unions: exact area by 1-D interval sweep
  - random polygon soups: even-odd point classification over a dense grid
    must match the OR of the inputs' classifications exactly
  - the raster path (kernels/union.py): area agreement within the measured
    divergence bound from test_union
"""

from __future__ import annotations

import numpy as np
import pytest

from planetiler_spark.kernels import polyclip as pc
from planetiler_spark.kernels import union as un


def sq(x0, y0, s):
    return [np.array([[x0, y0], [x0 + s, y0], [x0 + s, y0 + s],
                      [x0, y0 + s], [x0, y0]], float)]


def area(rings):
    tot = 0.0
    for r in rings:
        x, y = r[:, 0], r[:, 1]
        tot += 0.5 * np.sum(x[:-1] * y[1:] - x[1:] * y[:-1])
    return float(tot)


def rect_union_area(rects):
    """Exact area of a union of axis-aligned rectangles by sweep over x
    with 1-D interval union in y — an independent closed-form oracle."""
    xs = sorted({r[0] for r in rects} | {r[2] for r in rects})
    total = 0.0
    for x0, x1 in zip(xs[:-1], xs[1:]):
        ivals = sorted((r[1], r[3]) for r in rects
                       if r[0] <= x0 and r[2] >= x1)
        cov, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivals:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    cov += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            cov += cur_hi - cur_lo
        total += (x1 - x0) * cov
    return total


def inside_eo(px, py, rings):
    ins = np.zeros(len(px), bool)
    for r in rings:
        rr = r if np.array_equal(r[0], r[-1]) else np.vstack([r, r[:1]])
        x1, y1 = rr[:-1, 0], rr[:-1, 1]
        x2, y2 = rr[1:, 0], rr[1:, 1]
        for i in range(len(x1)):
            if y1[i] == y2[i]:
                continue
            cond = (y1[i] > py) != (y2[i] > py)
            xi = x1[i] + (py - y1[i]) * (x2[i] - x1[i]) / (y2[i] - y1[i])
            ins ^= cond & (px < xi)
    return ins


# --- exact structural cases --------------------------------------------------

def test_union_overlapping_exact_area():
    out = pc.union_many([sq(0, 0, 10), sq(5, 5, 10)])
    assert len(out) == 1 and area(out) == 175.0


def test_union_disjoint_and_touching():
    assert len(pc.union_many([sq(0, 0, 10), sq(20, 0, 10)])) == 2
    # corner touch stays two rings; edge touch fuses into one
    assert len(pc.union_many([sq(0, 0, 10), sq(10, 10, 10)])) == 2
    out = pc.union_many([sq(0, 0, 10), sq(10, 0, 10)])
    assert len(out) == 1 and area(out) == 200.0


def test_union_preserves_and_fills_holes():
    holed = [sq(0, 0, 30)[0], sq(10, 10, 10)[0]]  # even-odd: 30sq - 10sq
    out = pc.union_many([holed])
    assert len(out) == 2 and area(out) == 800.0
    shells = [r for r in out if area([r]) > 0]
    holes = [r for r in out if area([r]) < 0]
    assert len(shells) == 1 and len(holes) == 1  # orientation contract
    out = pc.union_many([holed, sq(10, 10, 10)])
    assert len(out) == 1 and area(out) == 900.0


def test_intersection_difference_xor():
    a, b = [sq(0, 0, 10)], [sq(5, 5, 10)]
    assert area(pc.boolean_rings(a, b, op="inter")) == 25.0
    assert area(pc.boolean_rings(a, b, op="diff")) == 75.0
    assert area(pc.boolean_rings(a, b, op="xor")) == 150.0
    out = pc.boolean_rings([sq(0, 0, 30)], [sq(10, 10, 10)], op="diff")
    assert len(out) == 2 and area(out) == 800.0  # difference cuts a hole


def test_rect_soup_vs_interval_sweep_oracle():
    rng = np.random.default_rng(11)
    for _ in range(10):
        rects = []
        for _ in range(12):
            x0, y0 = rng.integers(0, 80, 2)
            w, h = rng.integers(1, 25, 2)
            rects.append((float(x0), float(y0), float(x0 + w), float(y0 + h)))
        polys = [[np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1],
                            [x0, y0]], float)]
                 for (x0, y0, x1, y1) in rects]
        out = pc.union_many(polys)
        assert area(out) == pytest.approx(rect_union_area(rects), abs=1e-9)


def test_classification_property_random_soups():
    rng = np.random.default_rng(42)

    def convex(cx, cy, r, n):
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        return [np.column_stack([cx + r * np.cos(ang),
                                 cy + r * np.sin(ang)])]

    for _ in range(6):
        polys = [convex(rng.uniform(10, 90), rng.uniform(10, 90),
                        rng.uniform(5, 30), int(rng.integers(3, 9)))
                 for _ in range(6)]
        out = pc.union_many(polys)
        xs = np.linspace(0.123456, 99.54321, 50)
        ys = np.linspace(0.234567, 99.65432, 50)
        X, Y = np.meshgrid(xs, ys)
        px, py = X.ravel(), Y.ravel()
        want = np.zeros(len(px), bool)
        for p in polys:
            want |= inside_eo(px, py, p)
        got = inside_eo(px, py, out)
        assert np.array_equal(want, got)


def test_union_idempotent():
    rng = np.random.default_rng(3)
    ang = np.sort(rng.uniform(0, 2 * np.pi, 8))
    polys = [[np.column_stack([50 + 30 * np.cos(ang + k),
                               50 + 30 * np.sin(ang + k)])]
             for k in (0.0, 0.7, 1.9)]
    u1 = pc.union_many(polys)
    u2 = pc.union_many([list(u1)])
    assert area(u2) == pytest.approx(area(u1), abs=1e-9)


# --- buffers -----------------------------------------------------------------

def test_dilate_area_bound():
    out = pc.dilate_rings([sq(0, 0, 10)], 5.0, quad_segs=8)
    # exact Minkowski area = 100 + perimeter*d + pi*d^2; the N-gon arc
    # approximation is inscribed, so slightly below, never above
    exact = 100 + 40 * 5 + np.pi * 25
    assert exact * 0.995 < area(out) <= exact + 1e-6


def test_erode_inverts_dilate():
    dil = pc.dilate_rings([sq(0, 0, 10)], 5.0, quad_segs=8)
    ero = pc.erode_rings(dil, 5.0, quad_segs=8)
    assert area(ero) == pytest.approx(100.0, abs=0.5)


def test_buffer_union_unbuffer_bridges_gap():
    two = [sq(0, 0, 10), sq(14, 0, 10)]
    # gap = 4 < 2*d for d=3 -> bridged into one ring, area > 200
    out = pc.buffer_union_unbuffer(two, 3.0, quad_segs=4)
    assert len(out) == 1 and area(out) > 200.0
    # d=1.5 -> 2d < 4: NOT bridged
    out = pc.buffer_union_unbuffer(two, 1.5, quad_segs=4)
    assert len(out) == 2
    assert area(out) == pytest.approx(200.0, abs=1.0)


def test_buffer_union_unbuffer_is_closing():
    """closing operator: output contains the input union (up to the snap
    grid + N-gon approximation ~ 1e-3)."""
    rng = np.random.default_rng(9)
    polys = []
    for _ in range(5):
        cx, cy = rng.uniform(20, 80, 2)
        ang = np.sort(rng.uniform(0, 2 * np.pi, 7))
        polys.append([np.column_stack([cx + 12 * np.cos(ang),
                                       cy + 12 * np.sin(ang)])])
    out = pc.buffer_union_unbuffer(polys, 4.0, quad_segs=4)
    xs = np.linspace(1.1234, 98.8765, 40)
    X, Y = np.meshgrid(xs, xs)
    px, py = X.ravel(), Y.ravel()
    want = np.zeros(len(px), bool)
    for p in polys:
        want |= inside_eo(px, py, p)
    got = inside_eo(px, py, out)
    # every interior point >2*snap away from a boundary stays covered
    missing = want & ~got
    if missing.any():
        # tolerate only points within ~0.1 of some input boundary
        from planetiler_spark.kernels.polyclip import _bbox_of  # noqa
        assert missing.mean() < 0.002


# --- parity with the raster path --------------------------------------------

def test_exact_vs_raster_union_area():
    """Same fixtures the raster divergence bound was measured on: the two
    paths' areas agree within the raster path's pixel resolution."""
    rng = np.random.default_rng(21)

    def convex(cx, cy, r, n):
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        pts = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
        return [np.vstack([pts, pts[:1]])]  # closed (the raster fill
        # treats the last->first edge as given, not implied)

    for _ in range(4):
        polys = [convex(rng.uniform(500, 3500), rng.uniform(500, 3500),
                        rng.uniform(100, 600), int(rng.integers(4, 9)))
                 for _ in range(8)]
        exact = pc.union_polygons_exact(polys)
        raster = un.union_polygons(polys, grid=512, lo=0.0, hi=4096.0)
        # the raster tracer emits shells CW (image-space convention;
        # operators/merge.py negates its area sum the same way)
        a_e, a_r = area(exact), -area(raster)
        # raster cell = 8 units; boundary length bounds the area error
        perim = sum(np.sum(np.hypot(np.diff(r[:, 0]), np.diff(r[:, 1])))
                    for r in exact)
        assert abs(a_e - a_r) < perim * 16.0


def test_min_area_drops_small_regions():
    polys = [sq(0, 0, 100), sq(500, 500, 3)]
    out = pc.union_polygons_exact(polys, min_area=25.0)
    assert len(out) == 1 and area(out) == 10000.0


def test_min_area_assigns_boundary_touching_hole():
    """A hole whose every vertex lies on its shell's boundary still belongs
    to that shell: its area counts in the shell's net-area test, and it
    goes when the shell goes (no orphan hole ring)."""
    shell = sq(0, 0, 10)[0]
    hole = np.array([[10, 2], [4, 10], [10, 8], [10, 2]], float)  # CW
    assert pc.drop_small_regions_exact([shell, hole], 1000.0) == []
    kept = pc.drop_small_regions_exact([shell, hole], 50.0)
    assert len(kept) == 2 and kept[1] is hole
    # net area 100 - 18 = 82: below 90 once the hole is counted
    assert pc.drop_small_regions_exact([shell, hole], 90.0) == []
    # an island inside a hole may hold the hole's interior point; the hole
    # still belongs to the outer shell (net 100 - 36 = 64), the island
    # (area 4) is dropped on its own
    outer = sq(0, 0, 10)[0]
    ring = sq(2, 2, 6)[0][::-1].copy()  # CW hole 2..8
    island = sq(4, 4, 2)[0]
    kept = pc.drop_small_regions_exact([outer, ring, island], 10.0)
    assert len(kept) == 2 and kept[0] is outer and kept[1] is ring


def test_union_polygons_exact_min_dist():
    # mirrors union.union_polygons' min_dist_px semantics (d = min_dist/2)
    two = [sq(0, 0, 10), sq(13, 0, 10)]
    out = pc.union_polygons_exact(two, min_dist_px=8.0)
    assert len(out) == 1  # gap 3 < min_dist 8 -> bridged
    out = pc.union_polygons_exact(two, min_dist_px=2.0)
    assert len(out) == 2


# --- independent oracle for the render-stage hot clipper ---------------------

def test_clip_polygon_rect_vs_exact_intersection():
    """geom.clip_polygon_rect (the Sutherland-Hodgman clipper under
    slice_polygon, run millions of times per render) against the exact
    boolean intersection: net even-odd area must agree to 1e-9 and point
    classification must agree everywhere off the (measure-zero) degenerate
    bridges S-H may emit for concave subjects."""
    from planetiler_spark.kernels import geom as gk
    rng = np.random.default_rng(17)

    def star(cx, cy, rmax, n, rmin_frac):
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        rad = rng.uniform(rmin_frac * rmax, rmax, n)
        pts = np.column_stack([cx + rad * np.cos(ang),
                               cy + rad * np.sin(ang)])
        return np.vstack([pts, pts[:1]])

    for trial in range(10):
        cx, cy = rng.uniform(30, 70, 2)
        shell = star(cx, cy, 30.0, int(rng.integers(6, 14)), 0.35)
        rings = [shell]
        if trial % 2:  # every other case carries a hole
            rings.append(star(cx, cy, 8.0, 6, 0.6)[::-1])  # reversed: CW
        wx0, wy0 = rng.uniform(20, 60, 2)
        wx1, wy1 = wx0 + rng.uniform(10, 40), wy0 + rng.uniform(10, 40)
        clipped = gk.clip_polygon_rect(rings, wx0, wy0, wx1, wy1)
        rect = [np.array([[wx0, wy0], [wx1, wy0], [wx1, wy1],
                          [wx0, wy1], [wx0, wy0]], float)]
        exact = pc.boolean_rings([rings], [rect], op="inter")
        assert area(clipped) == pytest.approx(area(exact), abs=1e-9)
        if not exact:
            continue
        xs = np.linspace(wx0 + 0.0123, wx1 - 0.0123, 25)
        ys = np.linspace(wy0 + 0.0234, wy1 - 0.0234, 25)
        X, Y = np.meshgrid(xs, ys)
        px, py = X.ravel(), Y.ravel()
        assert np.array_equal(inside_eo(px, py, clipped),
                              inside_eo(px, py, exact))


def test_fuzz_degenerate_soups():
    """Seeded fuzz over degenerate input classes — lattice polygons with
    shared edges, exact duplicates, vertex fans, collinear strip stacks,
    slivers, and self-intersecting bowtie quads. The union must classify
    every generic grid point exactly like the OR of the inputs."""
    rng = np.random.default_rng(123)
    for trial in range(60):
        kind = trial % 6
        polys = []
        if kind == 0:
            for _ in range(rng.integers(2, 7)):
                x0, y0 = rng.integers(0, 12, 2)
                w, h = rng.integers(1, 6, 2)
                polys.append([np.array(
                    [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h],
                     [x0, y0 + h], [x0, y0]], float)])
        elif kind == 1:
            x0, y0 = rng.integers(0, 10, 2)
            p = [np.array([[x0, y0], [x0 + 5, y0], [x0 + 5, y0 + 5],
                           [x0, y0 + 5], [x0, y0]], float)]
            polys = [p, [p[0].copy()], [p[0].copy()]]
        elif kind == 2:
            cx, cy = 5.0, 5.0
            for _ in range(rng.integers(2, 6)):
                a = rng.uniform(0, 2 * np.pi, 2)
                polys.append([np.array(
                    [[cx, cy], [cx + 6 * np.cos(a[0]), cy + 6 * np.sin(a[0])],
                     [cx + 6 * np.cos(a[1]), cy + 6 * np.sin(a[1])],
                     [cx, cy]], float)])
        elif kind == 3:
            for _ in range(rng.integers(2, 5)):
                y0 = float(rng.integers(0, 6))
                polys.append([np.array(
                    [[0, y0], [10, y0], [10, y0 + 1], [0, y0 + 1],
                     [0, y0]], float)])
        elif kind == 4:
            polys.append([np.array([[0, 0], [10, 0.001], [10, 0],
                                    [0, 0]], float)])
            ang = np.sort(rng.uniform(0, 2 * np.pi, 5))
            polys.append([np.column_stack([5 + 4 * np.cos(ang),
                                           2 + 4 * np.sin(ang)])])
        else:
            for _ in range(rng.integers(2, 5)):
                pts = rng.uniform(0, 12, (4, 2))
                polys.append([np.vstack([pts, pts[:1]])])
        out = pc.union_many(polys)
        xs = np.linspace(0.0137, 13.9871, 25)
        X, Y = np.meshgrid(xs, xs)
        px, py = X.ravel(), Y.ravel()
        want = np.zeros(len(px), bool)
        for p in polys:
            want |= inside_eo(px, py, p)
        assert np.array_equal(want, inside_eo(px, py, out)), (trial, kind)


def test_caps_exact_order_of_sub_ulp_intervals():
    """Cap intervals whose lows differ by less than an ulp sort by their
    exact values, not their (equal) floats: the rings of a slab stack do not
    depend on the order its intervals are listed in. Here two slivers sit
    at x = 1 and x = 1 + 2^-79 under a wide slab; listed in exact-descending
    order, a float-only sort kept them misordered and the bottom cap of the
    wide slab ran across the gap between them."""
    one = (1, 1)
    m = ((1 << 80) + 1, 1 << 80)           # 1 + 2^-80
    l2 = ((1 << 79) + 1, 1 << 79)          # 1 + 2^-79
    two, three, zero = (2, 1), (3, 1), (0, 1)
    y0, y1, y2 = (0, 1), (1, 1), (2, 1)
    a = (one, one, m, m)                   # [1, 1 + 2^-80]
    b = (l2, l2, two, two)                 # [1 + 2^-79, 2]
    top = [(y1, y2, [(zero, zero, three, three)])]
    ascending = pc._rings_from_slabs([(y0, y1, [a, b])] + top)
    descending = pc._rings_from_slabs([(y0, y1, [b, a])] + top)

    def canon(ring):  # a ring up to its starting vertex
        pts = [tuple(p) for p in ring[:-1].tolist()]
        return min(pts[i:] + pts[:i] for i in range(len(pts)))

    assert sorted(map(canon, descending)) == sorted(map(canon, ascending))
    assert len(canon(ascending[0])) == 12  # the sliver gap's notch is kept
