"""Geometry kernel tests — semantics mirror the reference's JTS-based operators
(PolygonIndexTest, DouglasPeuckerSimplifierTest, TiledGeometryTest patterns)."""

import numpy as np
import pytest

from planetiler_spark.kernels import geom as g


def square(cx=0.0, cy=0.0, r=1.0):
    return np.array([[cx - r, cy - r], [cx + r, cy - r], [cx + r, cy + r], [cx - r, cy + r], [cx - r, cy - r]])


# --- WKB round trip ---

def test_wkb_point_roundtrip():
    typ, (x, y) = g.parse_wkb(g.wkb_point(1.5, -2.25))
    assert typ == "point" and (x, y) == (1.5, -2.25)


def test_wkb_linestring_roundtrip():
    coords = np.array([[0.0, 0.0], [1.0, 2.0], [3.0, -4.0]])
    typ, arr = g.parse_wkb(g.wkb_linestring(coords))
    assert typ == "linestring"
    np.testing.assert_array_equal(arr, coords)


def test_wkb_polygon_roundtrip():
    shell = square(r=2.0)
    hole = square(r=0.5)
    typ, rings = g.parse_wkb(g.wkb_polygon([shell, hole]))
    assert typ == "polygon" and len(rings) == 2
    np.testing.assert_array_equal(rings[0], shell)
    np.testing.assert_array_equal(rings[1], hole)


def test_wkb_multipolygon_roundtrip():
    p1 = [square(0, 0, 1)]
    p2 = [square(5, 5, 2), square(5, 5, 0.5)]
    typ, polys = g.parse_wkb(g.wkb_multipolygon([p1, p2]))
    assert typ == "multipolygon" and len(polys) == 2
    assert len(polys[1]) == 2
    np.testing.assert_array_equal(polys[1][1], square(5, 5, 0.5))


# --- PIP ---

def test_points_in_polygon_with_hole():
    rings = [square(r=2.0), square(r=0.5)]
    px = np.array([0.0, 1.0, 3.0, 0.4])
    py = np.array([0.0, 1.0, 0.0, 0.0])
    # center is inside the hole -> outside; (1,1) inside; (3,0) outside; (0.4,0) in hole -> out
    np.testing.assert_array_equal(g.points_in_polygon(px, py, rings), [False, True, False, False])


def test_polygon_index_containing_overlap():
    # two overlapping squares — points in the overlap match both (PolygonIndex.getContaining :52)
    idx = g.PolygonIndex(ids=["a", "b"], polys=[[square(0, 0, 1)], [square(1, 0, 1)]])
    pt, poly = idx.get_containing(np.array([0.5, -0.5, 1.5, 5.0]), np.array([0.0, 0.0, 0.0, 0.0]))
    pairs = sorted(zip(pt.tolist(), poly.tolist()))
    assert pairs == [(0, 0), (0, 1), (1, 0), (2, 1)]


def test_polygon_index_nearest_fallback():
    # PolygonIndex.getContainingOrNearest :93-124 — miss falls back to nearest within range
    idx = g.PolygonIndex(ids=["a"], polys=[[square(0, 0, 1)]])
    pt, poly, fb = idx.get_containing_or_nearest(np.array([0.0, 1.5, 9.0]), np.array([0.0, 0.0, 0.0]), within=1.0)
    rows = sorted(zip(pt.tolist(), poly.tolist(), fb.tolist()))
    assert rows == [(0, 0, False), (1, 0, True)]  # 9.0 beyond `within` -> dropped


def star(rng, cx, cy, r, n):
    """A closed star-shaped (mostly concave) ring; about a third of its
    vertices repeat the previous y, so the ring has horizontal edges."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = r * rng.uniform(0.4, 1.0, n)
    xy = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    flat = np.flatnonzero(rng.uniform(size=n) < 0.3)
    xy[flat[flat > 0], 1] = xy[flat[flat > 0] - 1, 1]
    return np.vstack([xy, xy[:1]])


def random_polygons(seed, n, scale):
    """n overlapping star polygons, some with one or two holes, scaled by
    `scale` and moved ~3 * scale off the origin."""
    rng = np.random.default_rng(seed)
    polys = []
    for _ in range(n):
        c = rng.uniform(0, 4, 2)
        r = rng.uniform(0.3, 1.2)
        rings = [star(rng, c[0], c[1], r, int(rng.integers(5, 16)))]
        for h in range(int(rng.integers(0, 3))):
            off = (h - 0.5) * 0.35 * r if h else 0.0
            rings.append(star(rng, c[0] + off, c[1], 0.12 * r, int(rng.integers(3, 9))))
        polys.append([ring * scale + np.array([3.0, -2.0]) * scale for ring in rings])
    return polys


def probe_points(rng, idx, polys, n):
    """Uniform points plus the hard cases: vertices, edge midpoints, fine-grid
    lines, NaN and points outside every bbox."""
    lo, hi = idx.bboxes[:, :2].min(axis=0), idx.bboxes[:, 2:].max(axis=0)
    span = hi - lo
    xy = [rng.uniform(lo - 0.1 * span, hi + 0.1 * span, (n, 2))]
    rings = [r for rs in polys for r in rs]
    verts = np.concatenate([r[:-1] for r in rings])
    mids = np.concatenate([(r[:-1] + r[1:]) / 2 for r in rings])
    xy += [verts, mids]
    ox, oy, size = idx._fine[:3]  # the fine grid's origin and cell size
    k = rng.integers(0, int(span.max() / size) + 2, (n // 4, 2))
    u = rng.uniform(lo, hi, (n // 4, 2))
    xy += [np.column_stack([ox + k[:, 0] * size, u[:, 1]]),
           np.column_stack([u[:, 0], oy + k[:, 1] * size]),
           np.array([[np.nan, lo[1]], [lo[0], np.nan], [np.nan, np.nan],
                     [hi[0] + 10 * span[0], hi[1]], [lo[0], lo[1] - 10 * span[1]]])]
    xy = np.concatenate(xy)
    return xy[:, 0], xy[:, 1]


def brute_containing(px, py, polys):
    inside = np.array([g.points_in_polygon(px, py, rings) for rings in polys]).reshape(len(polys), len(px))
    poly, pt = np.nonzero(inside)
    o = np.lexsort((poly, pt))
    return pt[o], poly[o]


def brute_nearest(px, py, polys, within):
    """One row per containing polygon, else the nearest polygon within
    `within` (lowest id on ties), by per-polygon kernels."""
    pt, poly = brute_containing(px, py, polys)
    miss = np.setdiff1d(np.flatnonzero(np.isfinite(px) & np.isfinite(py)), pt)
    if len(polys) and len(miss):
        d = np.array([g.dist_to_polygon(px[miss], py[miss], rings) for rings in polys])
        best = np.argmin(d, axis=0)
        ok = d[best, np.arange(len(miss))] <= within
        fb_pt, fb_poly = miss[ok], best[ok]
    else:
        fb_pt = fb_poly = np.empty(0, dtype=np.int64)
    return (np.concatenate([pt, fb_pt]), np.concatenate([poly, fb_poly]),
            np.concatenate([np.zeros(len(pt), bool), np.ones(len(fb_pt), bool)]))


def assert_same(got, want):
    assert len(got) == len(want)
    for a, b in zip(got, want):
        np.testing.assert_array_equal(a, b)


@pytest.mark.parametrize("scale", [1e-3, 1.0, 1e7])
def test_polygon_index_matches_brute_force(scale):
    polys = random_polygons(7, 40, scale)
    polys.append(polys[3])  # a twin: every fallback near it is an exact tie
    idx = g.PolygonIndex(ids=list(range(len(polys))), polys=polys)
    px, py = probe_points(np.random.default_rng(11), idx, polys, 4000)
    assert_same(idx.get_containing(px, py), brute_containing(px, py, polys))
    within = 0.5 * idx.cell
    assert_same(idx.get_containing_or_nearest(px, py, within),
                brute_nearest(px, py, polys, within))


def test_polygon_index_chunk_edges_match_brute_force(monkeypatch):
    # tiny build chunks, point blocks and edge chunks: every boundary case
    monkeypatch.setattr(g, "_BUILD_CELLS", 50)
    monkeypatch.setattr(g, "_BLOCK", 97)
    monkeypatch.setattr(g, "_EDGE_CHUNK", 7)
    test_polygon_index_matches_brute_force(1.0)
    test_polygon_index_edge_lists_match_brute_force(21)


def test_polygon_index_wide_fallback_matches_brute_force():
    polys = random_polygons(8, 25, 1.0)
    polys.append(polys[5])
    idx = g.PolygonIndex(ids=list(range(len(polys))), polys=polys)
    px, py = probe_points(np.random.default_rng(12), idx, polys, 3000)
    for cells in (2.5, 5.0):  # wider than the grid cell: pad cells around each miss
        within = cells * idx.cell
        want = brute_nearest(px, py, polys, within)
        assert want[2].sum() > 100
        assert_same(idx.get_containing_or_nearest(px, py, within), want)


def test_polygon_index_empty_and_single():
    px = np.array([0.0, 0.5, 3.0, np.nan])
    py = np.array([0.0, 0.9, 0.0, 0.0])
    empty = g.PolygonIndex(ids=[], polys=[])
    assert_same(empty.get_containing(px, py), (np.empty(0), np.empty(0)))
    assert_same(empty.get_containing_or_nearest(px, py, 1.0),
                (np.empty(0), np.empty(0), np.empty(0, bool)))
    polys = random_polygons(9, 1, 1.0)
    one = g.PolygonIndex(ids=["a"], polys=polys)
    qx, qy = probe_points(np.random.default_rng(13), one, polys, 2000)
    assert_same(one.get_containing(qx, qy), brute_containing(qx, qy, polys))
    assert_same(one.get_containing_or_nearest(qx, qy, 0.3 * one.cell),
                brute_nearest(qx, qy, polys, 0.3 * one.cell))


def test_polygon_index_size_follows_polygons_not_extent():
    # two unit squares 1e6 apart: a dense grid over the extent would hold
    # ~1e12 fine cells; the sparse index holds only the occupied ones
    import pickle
    idx = g.PolygonIndex(ids=["a", "b"], polys=[[square(0, 0, 0.5)], [square(1e6, 1e6, 0.5)]])
    assert len(pickle.dumps(idx)) < 1 << 20
    pt, poly, fb = idx.get_containing_or_nearest(
        np.array([0.1, 1e6 - 0.2, 5e5, 1e6 + 0.7]), np.array([0.1, 1e6, 5e5, 1e6]), 0.5)
    assert list(zip(pt, poly, fb)) == [(0, 0, False), (1, 1, False), (3, 1, True)]


def test_polygon_index_outsized_polygon_coarsens_the_grid():
    # one polygon 2,000x the median size would cover ~6e8 fine and ~4e6
    # coarse cells at the median-derived sizes; the build coarsens both grids
    # to the cell budget
    import pickle
    rng = np.random.default_rng(14)
    polys = [[square(x, y, 0.5)] for x, y in rng.uniform(-900, 900, (60, 2))]
    polys.append(random_polygons(15, 1, 1000.0)[0])
    idx = g.PolygonIndex(ids=list(range(len(polys))), polys=polys)
    budget = 1024 * len(polys) + (1 << 18)
    assert len(idx._full_poly) + len(idx._part_poly) <= budget
    assert len(idx._pad_poly) <= budget
    assert len(pickle.dumps(idx)) < 16 << 20
    px, py = probe_points(np.random.default_rng(16), idx, polys, 3000)
    assert_same(idx.get_containing(px, py), brute_containing(px, py, polys))


def comb(rng, cx, cy, r, teeth, angle=0.0):
    """A closed ring whose left and right sides zig-zag in `teeth` teeth of
    random depth, joined by a horizontal top and bottom edge, turned by
    `angle`. Its long side edges span several fine rows: in the rows they
    span, the cells along the other side lie wholly left of them (folded
    into the base bit); in the rows where they end, the edges must be
    tested; and each side lies wholly left of the other side's cells."""
    ys = np.linspace(cy - r, cy + r, 2 * teeth + 1)
    dent = np.where(np.arange(len(ys)) % 2, rng.uniform(0.1, 0.5, len(ys)) * r, 0.0)
    xy = np.concatenate([np.column_stack([cx + r - dent, ys]),
                         np.column_stack([cx - r + dent, ys])[::-1]])
    c, s = np.cos(angle), np.sin(angle)
    xy = (xy - [cx, cy]) @ np.array([[c, s], [-s, c]]) + [cx, cy]
    return np.vstack([xy, xy[:1]])


def comb_polygons(seed):
    """Upright and turned combs, some with a comb-shaped hole, among stars."""
    rng = np.random.default_rng(seed)
    polys = []
    for i in range(24):
        c = rng.uniform(0, 4, 2)
        r = rng.uniform(0.5, 1.0)
        angle = 0.0 if i % 3 == 0 else rng.uniform(0, np.pi)
        rings = [comb(rng, c[0], c[1], r, int(rng.integers(1, 4)), angle)]
        if i % 4 == 1:
            rings.append(comb(rng, c[0], c[1], 0.4 * r, 2, angle))
        polys.append(rings)
    return polys + random_polygons(seed + 1, 8, 1.0)


def near_edge_points(polys, m):
    """Points off each edge's midpoint, across the edge, by fractions and
    multiples of the margin `m`."""
    rings = [r for rs in polys for r in rs]
    a = np.concatenate([r[:-1] for r in rings])
    b = np.concatenate([r[1:] for r in rings])
    d = b - a
    normal = np.column_stack([-d[:, 1], d[:, 0]]) / np.maximum(np.hypot(*d.T), 1e-300)[:, None]
    xy = np.concatenate([(a + b) / 2 + f * m * normal for f in (-2, -1, -0.5, 0.5, 1, 2)])
    return xy[:, 0], xy[:, 1]


@pytest.mark.parametrize("seed", [21, 22])
def test_polygon_index_edge_lists_match_brute_force(seed):
    polys = comb_polygons(seed)
    idx = g.PolygonIndex(ids=list(range(len(polys))), polys=polys)
    assert idx._part_base.any()  # some partial pairs fold edges into the bit
    px, py = probe_points(np.random.default_rng(seed), idx, polys, 20000)
    qx, qy = near_edge_points(polys, idx._m)
    px, py = np.concatenate([px, qx]), np.concatenate([py, qy])
    assert_same(idx.get_containing(px, py), brute_containing(px, py, polys))
    within = 0.5 * idx.cell
    assert_same(idx.get_containing_or_nearest(px, py, within),
                brute_nearest(px, py, polys, within))


def pair_lists(idx):
    """Each partial pair's (cell column, cell row, polygon) and its edge ids."""
    nx = idx._fine[3]
    key = np.repeat(idx._keys, np.diff(idx._part_off))
    lists = np.split(idx._part_edge, idx._part_edge_off[1:-1])
    return key % nx, key // nx, idx._part_poly, lists


def test_polygon_index_edge_lists_keep_edges_within_the_margin():
    # interior vertices moved to half a margin beside the fine grid lines,
    # which leaves every bbox and so the grid as it was: an edge that ends
    # there comes within the margin of the next cell, and a cell's list
    # must hold every edge within the margin of it
    polys = comb_polygons(23)
    idx0 = g.PolygonIndex(ids=list(range(len(polys))), polys=polys)
    ox, oy, fc = idx0._fine[:3]
    m = idx0._m
    moved = []
    for rings in polys:
        lo = np.min([r.min(axis=0) for r in rings], axis=0)
        hi = np.max([r.max(axis=0) for r in rings], axis=0)
        out = []
        for r in rings:
            r = r.copy()
            side = np.where(np.arange(len(r)) % 2, 0.5, -0.5) * m
            snap = np.column_stack([ox + np.round((r[:, 0] - ox) / fc) * fc,
                                    oy + np.round((r[:, 1] - oy) / fc) * fc]) + side[:, None]
            ok = ((snap > lo) & (snap < hi) & (r > lo) & (r < hi)).all(axis=1)
            ok[-1] = ok[0]
            r[ok] = snap[ok]
            r[-1] = r[0]
            out.append(r)
        moved.append(out)
    idx = g.PolygonIndex(ids=list(range(len(moved))), polys=moved)
    assert idx._fine == idx0._fine and idx._m == m
    gx, gy, poly, lists = pair_lists(idx)
    assert min(len(e) for e in lists) >= 1
    x0, y0, x1, y1 = idx._edges.T
    near = 0
    for cx, cy, p, listed, base in zip(gx, gy, poly, lists, idx._part_base):
        e = np.arange(idx._estart[p], idx._estart[p + 1])
        # each edge's x-range within the row band dilated by 0.9 m
        ylo, yhi = oy + cy * fc - 0.9 * m, oy + (cy + 1) * fc + 0.9 * m
        dy = y1[e] - y0[e]
        with np.errstate(divide="ignore", invalid="ignore"):
            ta, tb = (ylo - y0[e]) / dy, (yhi - y0[e]) / dy
        flat = dy == 0
        t0 = np.where(flat, 0.0, np.clip(np.minimum(ta, tb), 0, 1))
        t1 = np.where(flat, 1.0, np.clip(np.maximum(ta, tb), 0, 1))
        inband = np.where(flat, (y0[e] >= ylo) & (y0[e] <= yhi), t1 > t0)
        xa = x0[e] + t0 * (x1[e] - x0[e])
        xb = x0[e] + t1 * (x1[e] - x0[e])
        xlo, xhi = ox + cx * fc - 0.9 * m, ox + (cx + 1) * fc + 0.9 * m
        within = inband & (np.maximum(xa, xb) >= xlo) & (np.minimum(xa, xb) <= xhi)
        assert np.isin(e[within], listed).all()
        # the unlisted edges right of the cell are folded into the base bit:
        # each spans the dilated band
        folded = inband & ~np.isin(e, listed) & (np.minimum(xa, xb) > xhi)
        assert ((np.minimum(y0[e], y1[e]) < ylo) & (np.maximum(y0[e], y1[e]) > yhi))[folded].all()
        assert base == folded.sum() % 2
        near += int((within & ((np.maximum(xa, xb) < xlo + m) | (np.minimum(xa, xb) > xhi - m))).sum())
    assert near > 50  # the moved vertices put edges inside the margin


def test_polygon_index_edge_lists_do_less_work():
    # a count, not a timing: every partial pair lists at least one edge, and
    # on average under half of its polygon's edges
    from planetiler_spark.sources import images as src
    idx = src.zones_index()
    n = np.diff(idx._part_edge_off)
    assert len(n) == len(idx._part_poly) and n.min() >= 1
    assert n.mean() < 0.5 * idx._nedges[idx._part_poly].mean()


def test_polygon_index_pickle_drops_polys():
    import pickle
    polys = random_polygons(17, 30, 1.0)
    idx = g.PolygonIndex(ids=list(range(len(polys))), polys=polys)
    sent = pickle.loads(pickle.dumps(idx))
    assert not hasattr(sent, "polys") and hasattr(idx, "polys")
    px, py = probe_points(np.random.default_rng(18), idx, polys, 3000)
    for within in (0.5 * idx.cell, 3 * idx.cell):
        assert_same(sent.get_containing_or_nearest(px, py, within),
                    idx.get_containing_or_nearest(px, py, within))


def test_dist_to_polygon():
    d = g.dist_to_polygon(np.array([0.0, 2.0, 0.0]), np.array([0.0, 0.0, 3.0]), [square(r=1.0)])
    np.testing.assert_allclose(d, [0.0, 1.0, 2.0])


# --- DP simplify ---

def test_simplify_dp_collinear():
    line = np.array([[0.0, 0], [1, 0.001], [2, 0], [3, -0.001], [4, 0]])
    out = g.simplify_dp(line, 0.01)
    np.testing.assert_array_equal(out, [[0, 0], [4, 0]])


def test_simplify_dp_keeps_spike():
    line = np.array([[0.0, 0], [1, 0], [2, 5], [3, 0], [4, 0]])
    out = g.simplify_dp(line, 0.5)
    assert any((out == [2, 5]).all(axis=1))


def test_simplify_ring_min_points():
    ring = square(r=1.0)
    out = g.simplify_dp(ring, 100.0, is_ring=True)  # huge tolerance would collapse it
    assert len(out) >= 4  # DouglasPeuckerSimplifier.java:82-89 guard


# --- orientation / area / centroid ---

def test_ring_area_and_orientation():
    ccw = square(r=1.0)  # this winding is CCW in y-up
    assert g.ring_signed_area(ccw) == pytest.approx(4.0)
    cw = ccw[::-1]
    assert g.ring_signed_area(cw) == pytest.approx(-4.0)
    assert g.ring_signed_area(g.ensure_orientation(cw, ccw=True)) > 0


def test_ring_centroid():
    cx, cy = g.ring_centroid(square(3, -2, 1))
    assert (cx, cy) == (pytest.approx(3.0), pytest.approx(-2.0))


# --- clipping ---

def test_clip_polygon_rect_partial():
    rings = g.clip_polygon_rect([square(0, 0, 2)], 0, 0, 10, 10)
    assert len(rings) == 1
    r = rings[0]
    assert r[:, 0].min() == 0 and r[:, 1].min() == 0
    assert r[:, 0].max() == 2 and r[:, 1].max() == 2
    # area of the surviving quadrant
    assert abs(g.ring_signed_area(r)) == pytest.approx(4.0)


def test_clip_polygon_rect_outside():
    assert g.clip_polygon_rect([square(10, 10, 1)], 0, 0, 5, 5) == []


def test_clip_polygon_rect_covering():
    # rect entirely inside the polygon -> full rect survives
    rings = g.clip_polygon_rect([square(0, 0, 100)], -1, -1, 1, 1)
    assert len(rings) == 1
    assert abs(g.ring_signed_area(rings[0])) == pytest.approx(4.0)


def test_clip_line_pieces():
    # zigzag crossing the box twice -> two pieces (TiledGeometry slice behavior)
    line = np.array([[-2.0, 0.5], [2.0, 0.5], [2.0, 3.0], [-2.0, 3.0], [-2.0, 0.8], [2.0, 0.8]])
    pieces = g.clip_line_rect(line, 0, 0, 1, 1)
    assert len(pieces) == 2
    for p in pieces:
        assert (p[:, 0] >= 0).all() and (p[:, 0] <= 1).all()


def test_clip_line_fully_inside():
    line = np.array([[0.1, 0.1], [0.9, 0.9]])
    pieces = g.clip_line_rect(line, 0, 0, 1, 1)
    assert len(pieces) == 1
    np.testing.assert_allclose(pieces[0], line)


# --- misc scalar geometry (GeoUtils.java isConvex/pointAlongOffset/innermost) ---

def test_is_convex():
    sq = square(0, 0, 2)
    assert g.is_convex(sq)
    concave = np.array([[0, 0], [4, 0], [2, 1], [4, 4], [0, 4], [0, 0]], dtype=float)
    assert not g.is_convex(concave)
    assert g.is_convex(sq[::-1])  # orientation-agnostic


def test_point_along_offset():
    p = g.point_along_offset(np.array([0.0, 0.0]), np.array([10.0, 0.0]), 0.5, 2.0)
    np.testing.assert_allclose(p, [5.0, 2.0])
    p = g.point_along_offset(np.array([0.0, 0.0]), np.array([0.0, 10.0]), 0.25, 1.0)
    np.testing.assert_allclose(p, [-1.0, 2.5])


def test_innermost_point_centered_square():
    sq = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    x, y = g.innermost_point([sq])
    assert abs(x - 5) < 0.2 and abs(y - 5) < 0.2


def test_innermost_point_with_hole():
    sq = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    hole = np.array([[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]], dtype=float)
    x, y = g.innermost_point([sq, hole])
    assert not (4 < x < 6 and 4 < y < 6)  # not inside the hole
    assert g.points_in_polygon(np.array([x]), np.array([y]), [sq, hole])[0]


def test_polygon_to_linestring():
    sq = square(0, 0, 1)
    lines = g.polygon_to_linestring([sq, sq * 0.5])
    assert len(lines) == 2
    np.testing.assert_allclose(lines[0], sq)


# --- polygon validity / repair chain (GeoUtils.snapAndFixPolygon:315-399) ----

def test_self_intersection_detection():
    import numpy as np
    from planetiler_spark.kernels import geom as gk
    bowtie = np.array([[0, 0], [4, 0], [0, 4], [4, 4], [0, 0]], dtype=float)
    square = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
    hole = np.array([[1, 1], [3, 1], [3, 3], [1, 3], [1, 1]], dtype=float)
    assert gk.polygon_self_intersects([bowtie])
    assert not gk.polygon_self_intersects([square])
    assert not gk.polygon_self_intersects([square, hole])
    # hole crossing the shell boundary: cross-ring intersection detected
    esc = np.array([[3, 3], [6, 3], [6, 5], [3, 5], [3, 3]], dtype=float)
    assert gk.polygon_self_intersects([square, esc])


def test_repair_bowtie():
    import numpy as np
    from planetiler_spark.kernels import geom as gk
    bowtie = np.array([[0, 0], [4, 0], [0, 4], [4, 4], [0, 0]], dtype=float)
    fixed = gk.repair_polygon([bowtie], 0.0, 4.0, grid=256)
    assert fixed, "repair produced no rings"
    assert not gk.polygon_self_intersects(fixed)
    # even-odd bowtie = two triangles of area 4 each (raster tolerance 5%)
    area = sum(abs(gk.ring_signed_area(r)) for r in fixed)
    assert abs(area - 8.0) < 0.4, area


def test_repair_valid_passthrough():
    import numpy as np
    from planetiler_spark.kernels import geom as gk
    square = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
    hole = np.array([[1, 1], [1, 3], [3, 3], [3, 1], [1, 1]], dtype=float)
    out = gk.repair_polygon([square, hole], 0.0, 4.0)
    assert len(out) == 2
    # orientation normalized: shell CCW (positive signed area), hole CW
    assert gk.ring_signed_area(out[0]) > 0
    assert gk.ring_signed_area(out[1]) < 0
    # vertex sets preserved (no resampling on the valid path)
    assert {tuple(p) for p in out[0]} == {tuple(p) for p in square}


def test_line_centroid_length_weighted():
    # one long + one short segment: the vertex mean would sit at x=4/3,
    # the length-weighted centroid at x=(10*5 + 1*10.5)/11
    line = np.array([[0.0, 0.0], [10.0, 0.0], [11.0, 0.0]])
    cx, cy = g.line_centroid(line)
    assert abs(cx - (10 * 5 + 1 * 10.5) / 11) < 1e-12 and cy == 0.0


def test_polygon_centroid_honors_holes():
    shell = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
    hole = np.array([[2, 1], [3, 1], [3, 3], [2, 3], [2, 1]], dtype=float)
    cx, cy = g.polygon_centroid([shell, hole])
    # mass 16 at (2,2) minus mass 2 at (2.5,2): cx = (32 - 5)/14
    assert abs(cx - 27 / 14) < 1e-12 and abs(cy - 2.0) < 1e-12
    # shell-only unchanged
    cx0, cy0 = g.polygon_centroid([shell])
    assert (cx0, cy0) == (2.0, 2.0)


def test_repair_bowtie_exact():
    """method="exact" = the literal JTS buffer(0) even-odd regularization:
    the bowtie splits into two triangles meeting at the exact crossing
    (2,2), total area exactly 8, shells CCW like the valid path."""
    import numpy as np
    from planetiler_spark.kernels import geom as gk
    bowtie = np.array([[0, 0], [4, 0], [0, 4], [4, 4], [0, 0]], dtype=float)
    fixed = gk.repair_polygon([bowtie], 0.0, 4.0, method="exact")
    assert not gk.polygon_self_intersects(fixed)
    assert sum(gk.ring_signed_area(r) for r in fixed) == 8.0
    assert all(gk.ring_signed_area(r) > 0 for r in fixed)
    pts = {tuple(p) for r in fixed for p in r}
    assert (2.0, 2.0) in pts  # the exact self-intersection vertex
