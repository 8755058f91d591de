"""Exact polygon boolean operations — vector-precision FeatureMerge semantics.

Reference semantics being implemented (FeatureMerge.java):
  - mergeOverlappingPolygons:292-300  -> union of the group (JTS buffer(0))
  - mergeNearbyPolygons:323-394       -> per-polygon buffer(+d), union,
    buffer(-d) ("bufferUnionUnbuffer", :407-427)
  - groupPolygonsByProximity:438-456  -> bbox-cluster decomposition

This kernel is an ORIGINAL exact algorithm (not a port of GEOS/JTS or
Clipper): a horizontal slab decomposition over exact rational arithmetic.

    1. Every input coordinate becomes an exact rational — floats are dyadic
       (`float.as_integer_ratio`), so this is lossless. Rationals are plain
       normalized (num, den) int tuples: ~10x faster than fractions.Fraction
       (no class dispatch), hashable for exact endpoint matching, and most
       predicates reduce to integer sign tests.
    2. Slab boundaries = every vertex y plus every y where two edges cross
       (crossings computed exactly, so inside a slab the left-to-right
       order of edges is constant).
    3. Per slab, sweep the spanning edges left to right maintaining
       even-odd parity per input polygon; a coverage predicate (union /
       intersection / difference / xor over two polygon groups) turns
       parity state into covered x-intervals, i.e. trapezoids. The active
       set is event-driven and per-span boundary x values are carried from
       slab to slab (each boundary x computed once).
    4. Boundary = trapezoid side edges (exact sub-segments of input edges)
       plus the *net* horizontal caps between adjacent slabs (exact
       interval subtraction at each shared y, so coincident caps cancel).
    5. Directed segments (interior kept on the left) are linked into rings
       by exact endpoint matching; at degree>2 nodes the next segment is
       the sharpest left turn (first clockwise from the reversed incoming
       direction, decided by exact sign tests), which peels simple rings.
       Exactly-collinear runs are fused.

Output rings carry orientation: CCW (positive signed area, y-up) = shell,
CW = hole — the same flat-ring contract as kernels/union.py, so the two
paths are directly comparable (test_polyclip cross-checks them against the
raster path's measured divergence bound).

Exactness: union/intersection/difference/xor are EXACT for float inputs —
every output vertex is either an input vertex or the exact rational
intersection of two input edges, rounded to float only on return (<=1ulp).
Buffers are exact unions over an N-gon disc approximation (quad_segs arcs,
the same approximation GEOS OffsetCurveBuilder makes), with piece
coordinates snapped to a 2^-12 dyadic grid to keep rationals small.

Scale note (100 TB): this runs per tile group inside the reduce, like the
raster path — proximity clusters sweep independently and each cluster is
O(E^2) crossing tests with a float bbox prefilter, fine for per-tile edge
counts. The raster path stays the default for huge fused groups;
`method="exact"` is the vector-precision option (operators/merge.py).
"""

from __future__ import annotations

from math import gcd
from operator import itemgetter

import numpy as np

__all__ = [
    "boolean_rings", "union_many", "dilate_rings", "erode_rings",
    "buffer_union_unbuffer", "union_polygons_exact",
    "drop_small_regions_exact",
]


# ---------------------------------------------------------------------------
# rational tuples: normalized (num, den), den > 0
# ---------------------------------------------------------------------------

def _rat(n, d):
    if d < 0:
        n, d = -n, -d
    g = gcd(n, d)
    return (n // g, d // g) if g > 1 else (n, d)


def _rfloat(x):
    """Exact rational from a float (dyadic)."""
    n, d = float(x).as_integer_ratio()
    return (n, d)  # as_integer_ratio is already normalized


def _rsub(a, b):
    return _rat(a[0] * b[1] - b[0] * a[1], a[1] * b[1])


def _radd(a, b):
    return _rat(a[0] * b[1] + b[0] * a[1], a[1] * b[1])


def _rmul(a, b):
    return _rat(a[0] * b[0], a[1] * b[1])


def _rdiv(a, b):
    return _rat(a[0] * b[1], a[1] * b[0])


def _rcmp(a, b):
    """sign(a - b) via integer cross-multiplication (dens positive)."""
    v = a[0] * b[1] - b[0] * a[1]
    return (v > 0) - (v < 0)


def _rf(a):
    return a[0] / a[1]


def _exact_sorted(items, key=itemgetter(0)):
    """`items` in ascending exact order of the rational `key(item)`: a
    float sort, then an insertion pass with the exact comparator that
    repairs float near-ties (cheap: the float order is nearly right)."""
    out = sorted(items, key=lambda v: _rf(key(v)))
    for i in range(1, len(out)):
        j = i
        while j > 0 and _rcmp(key(out[j - 1]), key(out[j])) > 0:
            out[j - 1], out[j] = out[j], out[j - 1]
            j -= 1
    return out


# ---------------------------------------------------------------------------
# input conversion
# ---------------------------------------------------------------------------

def _to_rat_rings(polys):
    """polys: list of polygons, each a list of (N,2) float arrays (rings).
    Returns per-polygon edge lists [(x1,y1,x2,y2), ...] of rational tuples,
    zero-length edges dropped. Rings are interpreted even-odd, so ring
    role/orientation does not matter."""
    out = []
    for rings in polys:
        edges = []
        for ring in rings:
            pts = [(_rfloat(x), _rfloat(y)) for x, y in np.asarray(ring)]
            if pts and pts[0] != pts[-1]:
                pts.append(pts[0])
            for a, b in zip(pts[:-1], pts[1:]):
                if a != b:
                    edges.append((a[0], a[1], b[0], b[1]))
        out.append(edges)
    return out


def _cross_ys(edges_flat):
    """Exact y-coordinates of all pairwise edge crossings/touches. Float
    bbox prefilter (exact here: the coords came from floats); the crossing
    decision and the intersection itself are exact rationals."""
    if not edges_flat:
        return []
    E = len(edges_flat)
    fx1 = np.array([_rf(e[0]) for e in edges_flat])
    fy1 = np.array([_rf(e[1]) for e in edges_flat])
    fx2 = np.array([_rf(e[2]) for e in edges_flat])
    fy2 = np.array([_rf(e[3]) for e in edges_flat])
    bxlo, bxhi = np.minimum(fx1, fx2), np.maximum(fx1, fx2)
    bylo, byhi = np.minimum(fy1, fy2), np.maximum(fy1, fy2)
    ys = []
    for i in range(E):
        j_ok = np.nonzero(
            (bxlo[i] <= bxhi) & (bxhi[i] >= bxlo) &
            (bylo[i] <= byhi) & (byhi[i] >= bylo))[0]
        x1, y1, x2, y2 = edges_flat[i]
        dx1, dy1 = _rsub(x2, x1), _rsub(y2, y1)
        for j in j_ok:
            if j <= i:
                continue
            x3, y3, x4, y4 = edges_flat[j]
            dx2, dy2 = _rsub(x4, x3), _rsub(y4, y3)
            den = _rsub(_rmul(dx1, dy2), _rmul(dy1, dx2))
            if den[0] == 0:
                continue  # parallel/collinear: order never swaps mid-slab
            ex, ey = _rsub(x3, x1), _rsub(y3, y1)
            tn = _rsub(_rmul(ex, dy2), _rmul(ey, dx2))
            t = _rdiv(tn, den)
            if t[0] < 0 or _rcmp(t, (1, 1)) > 0:
                continue
            un = _rsub(_rmul(ex, dy1), _rmul(ey, dx1))
            u = _rdiv(un, den)
            if u[0] < 0 or _rcmp(u, (1, 1)) > 0:
                continue
            ys.append(_radd(y1, _rmul(t, dy1)))
    return ys


def _pick_next(d_in, cands):
    """Index of the outgoing direction that is first CLOCKWISE from the
    reversed incoming direction (sharpest left turn — the choice that
    keeps interior-on-the-left traversals on simple rings). Directions are
    rational pairs; every test is an exact integer sign test.

    Rotational classes from ref = -d_in, going CW:
      class 1: strictly CW side of ref   (cross < 0)
      class 2: exactly opposite ref      (cross == 0, dot < 0)
      class 3: strictly CCW side of ref  (cross > 0)
      class 4: same direction as ref     (immediate backtrack — last)
    Within classes 1/3, u precedes v iff cross(u, v) < 0."""
    rx, ry = (-d_in[0][0], d_in[0][1]), (-d_in[1][0], d_in[1][1])

    def _sign2(a, b, c, d):
        # sign(a*b - c*d) for rationals
        v = a[0] * b[0] * c[1] * d[1] - c[0] * d[0] * a[1] * b[1]
        return (v > 0) - (v < 0)

    def cls(c):
        cr = _sign2(rx, c[1], ry, c[0])
        if cr == 0:
            dt = _sign2(rx, c[0], (-ry[0], ry[1]), c[1])
            return 4 if dt > 0 else 2
        return 1 if cr < 0 else 3

    best, best_cls = 0, cls(cands[0])
    for i in range(1, len(cands)):
        ci = cls(cands[i])
        if ci < best_cls:
            best, best_cls = i, ci
        elif ci == best_cls and ci in (1, 3):
            u, v = cands[i], cands[best]
            if _sign2(u[0], v[1], u[1], v[0]) < 0:
                best = i
    return best


# ---------------------------------------------------------------------------
# the slab sweep
# ---------------------------------------------------------------------------

def _op_covered(op):
    if op == "union":
        return lambda a, b: a or b
    if op == "inter":
        return lambda a, b: a and b
    if op == "diff":
        return lambda a, b: a and not b
    if op == "xor":
        return lambda a, b: a != b
    raise ValueError(f"unknown op {op!r}")


def boolean_rings(polys_a, polys_b, op="union"):
    """Exact boolean op between region A (union of polys_a) and region B
    (union of polys_b). Each poly is a list of (N,2) float ring arrays,
    interpreted even-odd. Returns a flat list of float (N,2) rings:
    CCW = shell, CW = hole."""
    covered = _op_covered(op)
    groups = _to_rat_rings(polys_a) + _to_rat_rings(polys_b)
    na = len(polys_a)
    flat, owner = [], []
    for pi, edges in enumerate(groups):
        for e in edges:
            flat.append(e)
            owner.append(pi)
    if not flat:
        return []

    ys = set()
    for (x1, y1, x2, y2) in flat:
        ys.add(y1)
        ys.add(y2)
    ys.update(_cross_ys(flat))
    ys = _exact_sorted(ys, key=lambda y: y)
    # drop exact duplicates
    dedup = [ys[0]]
    for y in ys[1:]:
        if y != dedup[-1]:
            dedup.append(y)
    ys = dedup

    # non-horizontal edges as bottom-to-top spans: [ylo, yhi, xlo, xhi, pi,
    # x_at_current_lower_boundary] (the last slot is a per-slab cache —
    # adjacent slabs share a boundary, so each boundary x is computed once)
    spans = []
    for (x1, y1, x2, y2), pi in zip(flat, owner):
        c = _rcmp(y1, y2)
        if c == 0:
            continue  # horizontal edges only shape the caps
        if c < 0:
            spans.append([y1, y2, x1, x2, pi, None,
                          _rsub(x2, x1), _rsub(y2, y1)])
        else:
            spans.append([y2, y1, x2, x1, pi, None,
                          _rsub(x1, x2), _rsub(y1, y2)])
    spans = _exact_sorted(spans)

    def x_at(s, y):
        # x = xlo + (y - ylo) * dx / dy, fused into one normalization:
        # with xlo=a/b, y=c/d, ylo=e/f, dx=g/h, dy=i/j this is
        # (a*d*f*h*i + b*(c*f - e*d)*g*j) / (b*d*f*h*i)
        if y == s[0]:
            return s[2]
        if y == s[1]:
            return s[3]
        a, b = s[2]
        c, d = y
        e, f = s[0]
        g, h = s[6]
        i2, j2 = s[7]
        dfhi = d * f * h * i2
        return _rat(a * dfhi + b * (c * f - e * d) * g * j2, b * dfhi)

    npoly = len(groups)
    # per slab: (y0, y1, [(xl0, xl1, xr0, xr1), ...]) with xl0 = left x at
    # y0, xl1 = left x at y1, etc.  Trapezoids are disjoint, x-ordered.
    slab_ivals = []
    live = []
    next_add = 0
    nspan = len(spans)
    for y0, y1 in zip(ys[:-1], ys[1:]):
        while next_add < nspan and _rcmp(spans[next_add][0], y0) <= 0:
            s = spans[next_add]
            s[5] = x_at(s, y0)
            live.append(s)
            next_add += 1
        active = []
        kept = []
        for s in live:
            if _rcmp(s[1], y1) < 0:    # ends below this slab: retire
                continue
            kept.append(s)
            xa = s[5] if s[5] is not None else x_at(s, y0)
            xb = x_at(s, y1)
            s[5] = xb                  # x at the next slab's lower boundary
            active.append((_radd(xa, xb), xa, xb, s[4]))  # key = 2*x(ymid)
        live = kept
        if not active:
            slab_ivals.append((y0, y1, []))
            continue
        active = _exact_sorted(active)
        parity = [0] * npoly
        odd_a = odd_b = 0
        ivals = []
        cur_l = None
        was = False
        i, n = 0, len(active)
        while i < n:
            j = i
            key = active[i][0]
            while j < n and active[j][0] == key:
                pi = active[j][3]
                parity[pi] ^= 1
                d = 1 if parity[pi] else -1
                if pi < na:
                    odd_a += d
                else:
                    odd_b += d
                j += 1
            now = covered(odd_a > 0, odd_b > 0)
            if now and not was:
                cur_l = (active[i][1], active[i][2])
            elif was and not now:
                xl0, xl1 = cur_l
                xr0, xr1 = active[i][1], active[i][2]
                if not (xl0 == xr0 and xl1 == xr1):  # zero-width sliver
                    ivals.append((xl0, xl1, xr0, xr1))
            was = now
            i = j
        slab_ivals.append((y0, y1, ivals))

    return _rings_from_slabs(slab_ivals)


def _sub_intervals(keep, minus):
    """Exact 1-D interval subtraction: parts of `keep` not covered by
    `minus`. Both x-sorted lists of (lo, hi) rational tuples."""
    out = []
    for lo, hi in keep:
        cur = lo
        for mlo, mhi in minus:
            if _rcmp(mhi, cur) <= 0:
                continue
            if _rcmp(mlo, hi) >= 0:
                break
            if _rcmp(mlo, cur) > 0:
                out.append((cur, mlo))
            if _rcmp(mhi, cur) > 0:
                cur = mhi
            if _rcmp(cur, hi) >= 0:
                break
        if _rcmp(cur, hi) < 0:
            out.append((cur, hi))
    return out


def _rings_from_slabs(slab_ivals):
    """Directed boundary segments from the trapezoid slabs (interior on
    the left, y-up), then exact ring linking."""
    segs = []
    nslab = len(slab_ivals)
    for si, (y0, y1, ivals) in enumerate(slab_ivals):
        for (xl0, xl1, xr0, xr1) in ivals:
            segs.append(((xl1, y1), (xl0, y0)))   # left side: downward
            segs.append(((xr0, y0), (xr1, y1)))   # right side: upward
        below = slab_ivals[si - 1][2] if si > 0 else []
        mine_at = _exact_sorted((xl0, xr0) for (xl0, xl1, xr0, xr1) in ivals
                                if xl0 != xr0)
        below_at = _exact_sorted((xl1, xr1) for (xl0, xl1, xr0, xr1) in below
                                 if xl1 != xr1)
        # bottom caps of this slab's region (interior above): +x direction
        for lo, hi in _sub_intervals(mine_at, below_at):
            segs.append(((lo, y0), (hi, y0)))
        # top caps of the region below (interior below): -x direction
        for lo, hi in _sub_intervals(below_at, mine_at):
            segs.append(((hi, y0), (lo, y0)))
        if si == nslab - 1:
            top_at = _exact_sorted((xl1, xr1) for (xl0, xl1, xr0, xr1) in ivals
                                   if xl1 != xr1)
            for lo, hi in top_at:
                segs.append(((hi, y1), (lo, y1)))

    # --- link directed segments into rings -------------------------------
    adj = {}
    for i, (p0, p1) in enumerate(segs):
        adj.setdefault(p0, []).append((p1, i))
    used = [False] * len(segs)
    rings = []
    for i0, (p0, p1) in enumerate(segs):
        if used[i0]:
            continue
        used[i0] = True
        ring = [p0, p1]
        prev, cur = p0, p1
        ok = True
        while cur != ring[0]:
            cands = [e for e in adj.get(cur, ()) if not used[e[1]]]
            if not cands:
                ok = False  # open chain — cannot happen in a regular
                break       # arrangement; drop defensively
            if len(cands) == 1:
                nxt, seg_i = cands[0]
            else:
                d_in = (_rsub(cur[0], prev[0]), _rsub(cur[1], prev[1]))
                dirs = [(_rsub(e[0][0], cur[0]), _rsub(e[0][1], cur[1]))
                        for e in cands]
                nxt, seg_i = cands[_pick_next(d_in, dirs)]
            used[seg_i] = True
            ring.append(nxt)
            prev, cur = cur, nxt
        if not ok or len(ring) < 4:
            continue
        fused = _fuse_collinear(ring[:-1])
        if len(fused) >= 3:
            rings.append(fused)

    return [np.array([[_rf(x), _rf(y)] for x, y in r + [r[0]]],
                     dtype=np.float64) for r in rings]


def _fuse_collinear(pts):
    """Remove vertices whose two adjacent segments are exactly collinear
    and co-directed (the slab decomposition fragments input edges)."""
    n = len(pts)
    if n < 4:
        return pts
    keep = []
    for i in range(n):
        a, b, c = pts[i - 1], pts[i], pts[(i + 1) % n]
        d1 = (_rsub(b[0], a[0]), _rsub(b[1], a[1]))
        d2 = (_rsub(c[0], b[0]), _rsub(c[1], b[1]))
        cross = d1[0][0] * d2[1][0] * d1[1][1] * d2[0][1] - \
            d1[1][0] * d2[0][0] * d1[0][1] * d2[1][1]
        if cross == 0:
            dot = d1[0][0] * d2[0][0] * d1[1][1] * d2[1][1] + \
                d1[1][0] * d2[1][0] * d1[0][1] * d2[0][1]
            if dot > 0:
                continue
        keep.append(b)
    return keep if len(keep) >= 3 else pts


# ---------------------------------------------------------------------------
# public ops
# ---------------------------------------------------------------------------

def _bbox_of(rings):
    xs = np.concatenate([np.asarray(r)[:, 0] for r in rings])
    ys = np.concatenate([np.asarray(r)[:, 1] for r in rings])
    return float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max())


def _bbox_clusters(bboxes, pad=0.0):
    """Connected components of bbox-overlap (expanded by pad) — the
    FeatureMerge.groupPolygonsByProximity:438-456 analog. Two geometries in
    different clusters cannot interact in a union/buffer, so each cluster
    sweeps independently."""
    n = len(bboxes)
    parent = list(range(n))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for i in range(n):
        x0, y0, x1, y1 = bboxes[i]
        for j in range(i + 1, n):
            a0, b0, a1, b1 = bboxes[j]
            if x0 - pad <= a1 and x1 + pad >= a0 and \
               y0 - pad <= b1 and y1 + pad >= b0:
                ra, rb = find(i), find(j)
                if ra != rb:
                    parent[ra] = rb
    groups = {}
    for i in range(n):
        groups.setdefault(find(i), []).append(i)
    return list(groups.values())


def union_many(polys):
    """Exact union of N polygons (each a list of float rings, even-odd).
    FeatureMerge.mergeOverlappingPolygons:292 semantics (buffer(0) union).
    Disjoint bbox clusters sweep independently."""
    if not polys:
        return []
    clusters = _bbox_clusters([_bbox_of(p) for p in polys])
    out = []
    for idx in clusters:
        out.extend(boolean_rings([polys[i] for i in idx], [], op="union"))
    return out


# Buffer pieces are N-gon approximations already, so their coordinates are
# snapped to a fine dyadic grid (2^-12 units ~ 1/65536 px at EXTENT scale):
# full-width float coordinates (2^-52 denominators) make the exact rational
# crossing math far slower for zero geometric benefit here.
_SNAP = 4096.0


def _snap(a):
    return np.round(np.asarray(a, dtype=np.float64) * _SNAP) / _SNAP


def _disc(cx, cy, r, quad_segs):
    n = max(4, 4 * quad_segs)
    ang = np.linspace(0.0, 2 * np.pi, n, endpoint=False)
    return _snap(np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)]))


def _edge_discs(rings, d, quad_segs):
    """Minkowski dilation pieces for the BOUNDARY of `rings` by a disc of
    radius d: a rectangle per edge plus a disc per vertex."""
    pieces = []
    for ring in rings:
        ring = np.asarray(ring, dtype=np.float64)
        if len(ring) < 2:
            continue
        closed = ring if np.array_equal(ring[0], ring[-1]) \
            else np.vstack([ring, ring[:1]])
        a, b = closed[:-1], closed[1:]
        dx, dy = b[:, 0] - a[:, 0], b[:, 1] - a[:, 1]
        ln = np.hypot(dx, dy)
        for i in range(len(a)):
            if ln[i] == 0:
                continue
            nx, ny = -dy[i] / ln[i] * d, dx[i] / ln[i] * d
            pieces.append([_snap(np.array(
                [[a[i, 0] + nx, a[i, 1] + ny], [b[i, 0] + nx, b[i, 1] + ny],
                 [b[i, 0] - nx, b[i, 1] - ny], [a[i, 0] - nx, a[i, 1] - ny],
                 [a[i, 0] + nx, a[i, 1] + ny]], dtype=np.float64))])
            pieces.append([_disc(a[i, 0], a[i, 1], d, quad_segs)])
    return pieces


def dilate_rings(polys, d, quad_segs=8):
    """polygon.buffer(+d) analog: exact union of the polygons with their
    boundaries' disc sweeps (N-gon arc approximation, as GEOS)."""
    if d <= 0:
        return union_many(polys)
    polys = [[_snap(r) for r in rings] for rings in polys]
    clusters = _bbox_clusters([_bbox_of(p) for p in polys], pad=2 * d)
    out = []
    for idx in clusters:
        pieces = [polys[i] for i in idx]
        for i in idx:
            pieces.extend(_edge_discs(polys[i], d, quad_segs))
        out.extend(boolean_rings(pieces, [], op="union"))
    return out


def erode_rings(rings, d, quad_segs=8):
    """region.buffer(-d) analog on a flat oriented ring list (one even-odd
    region): the region minus the disc sweep of its own boundary."""
    if not rings:
        return []
    if d <= 0:
        return list(rings)
    rings = [_snap(r) for r in rings]
    clusters = _bbox_clusters([_bbox_of([r]) for r in rings], pad=2 * d)
    out = []
    for idx in clusters:
        sub = [rings[i] for i in idx]
        sweep = _edge_discs(sub, d, quad_segs)
        out.extend(boolean_rings([sub], sweep, op="diff"))
    return out


def buffer_union_unbuffer(polys, d, quad_segs=8):
    """FeatureMerge.bufferUnionUnbuffer:407-427: buffer(+d) each polygon,
    union everything, buffer(-d) the result — joins almost-touching
    polygons (gap < 2d) without growing the outline."""
    if d <= 0:
        return union_many(polys)
    dilated = dilate_rings(polys, d, quad_segs=quad_segs)
    return erode_rings(dilated, d, quad_segs=quad_segs)


def _interior_point(ring):
    """A point strictly inside a closed ring: the middle of the widest
    inside span of a horizontal line through the ring, taken halfway
    between two vertex y levels so it meets no vertex."""
    ys = np.unique(ring[:, 1])
    if len(ys) < 2:
        return None
    k = int(np.argmax(np.diff(ys)))
    y = 0.5 * (ys[k] + ys[k + 1])
    x0, y0, x1, y1 = ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1]
    cross = (y0 > y) != (y1 > y)
    xs = np.sort(x0[cross] + (y - y0[cross]) * (x1[cross] - x0[cross])
                 / (y1[cross] - y0[cross]))
    spans = xs[1::2] - xs[0::2]
    j = int(np.argmax(spans))
    return 0.5 * (xs[2 * j] + xs[2 * j + 1]), y


def drop_small_regions_exact(rings, min_area):
    """Drop whole regions (a CCW shell plus its CW holes) whose NET area is
    below min_area — the vector analog of union.drop_small_regions (and of
    FeatureMerge.extractPolygons' minArea filter, FeatureMerge.java:476)."""
    from . import geom as gk

    if min_area <= 0 or not rings:
        return rings
    areas = [float(gk.ring_signed_area(r)) for r in rings]
    shells = [(i, a) for i, a in enumerate(areas) if a > 0]
    holes = [i for i, a in enumerate(areas) if a <= 0]
    # assign each hole to the smallest shell larger than it that contains
    # a point strictly inside it (its vertices may all sit on the shell's
    # boundary; an island inside the hole is smaller and may hold the point)
    shell_holes = {i: [] for i, _ in shells}
    unassigned = []
    for hi_ in holes:
        best, best_area = None, None
        pt = _interior_point(rings[hi_])
        for si, sa in shells if pt is not None else ():
            if sa <= -areas[hi_]:
                continue
            if bool(gk.points_in_polygon(np.array([pt[0]]), np.array([pt[1]]),
                                         [rings[si]])[0]):
                if best is None or sa < best_area:
                    best, best_area = si, sa
        if best is not None:
            shell_holes[best].append(hi_)
        else:
            unassigned.append(hi_)  # keep rather than silently fill
    out = []
    for si, sa in shells:
        net = sa + sum(areas[h] for h in shell_holes[si])
        if net >= min_area:
            out.append(rings[si])
            out.extend(rings[h] for h in shell_holes[si])
    out.extend(rings[h] for h in unassigned)
    return out


def union_polygons_exact(polys, min_dist_px=0.0, min_area=0.0, quad_segs=4):
    """Drop-in vector-precision counterpart of union.union_polygons
    (same flat-ring contract; min_dist_px / min_area in EXTENT units):
    exact union, with min_dist_px > 0 switching to the reference's
    bufferUnionUnbuffer at d = min_dist_px / 2 — the same bridging radius
    the raster path uses (union.py:264)."""
    if min_dist_px > 0:
        rings = buffer_union_unbuffer(polys, min_dist_px / 2.0,
                                      quad_segs=quad_segs)
    else:
        rings = union_many(polys)
    return drop_small_regions_exact(rings, min_area)
