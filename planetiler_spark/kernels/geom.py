"""Pure-numpy geometry kernels (no shapely/GEOS in this environment).

Implements the geometry semantics the engine needs, re-derived from the
reference's JTS usage (all paths under /root/reference/planetiler-core/src/main/java/com/onthegomap/planetiler/):

  - point-in-polygon + nearest-fallback:  geo/PolygonIndex.java:20-145
    (STRtree envelope query + exact contains; here: a raster-interval grid
    of full and partial cells + even-odd ray cast on partial cells only)
  - Douglas-Peucker simplification:       geo/DouglasPeuckerSimplifier.java:33-100
    (iterative DP on squared segment distance, min-4-point polygon-ring guard)
  - rectangle clipping (Sutherland-Hodgman / Cohen-style), the primitive behind
    stripe tile slicing:                  render/TiledGeometry.java:220-231
    (intersectX/intersectY linear interpolation)
  - ring area / orientation / centroid:   geo/GeoUtils.java:319-329 (orientation fix)
  - WKB codec for Point/LineString/Polygon/MultiPolygon (standard OGC WKB,
    little-endian) so geometry travels as a Spark `binary` column.

Everything operates on float64 numpy arrays; polygons are (N,2) ring arrays,
first ring = shell, rest = holes (shell CCW-or-CW agnostic: even-odd rule).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

# --- WKB ---------------------------------------------------------------------

_WKB_POINT = 1
_WKB_LINESTRING = 2
_WKB_POLYGON = 3
_WKB_MULTIPOLYGON = 6


def wkb_point(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, _WKB_POINT, x, y)


def wkb_linestring(coords: np.ndarray) -> bytes:
    coords = np.asarray(coords, dtype="<f8")
    return struct.pack("<BII", 1, _WKB_LINESTRING, len(coords)) + coords.tobytes()


def wkb_polygon(rings: list[np.ndarray]) -> bytes:
    out = [struct.pack("<BII", 1, _WKB_POLYGON, len(rings))]
    for r in rings:
        r = np.asarray(r, dtype="<f8")
        out.append(struct.pack("<I", len(r)) + r.tobytes())
    return b"".join(out)


def wkb_multipolygon(polys: list[list[np.ndarray]]) -> bytes:
    out = [struct.pack("<BII", 1, _WKB_MULTIPOLYGON, len(polys))]
    for rings in polys:
        out.append(wkb_polygon(rings))
    return b"".join(out)


def parse_wkb(buf: bytes):
    """Parse WKB -> (geom_type:str, data). Point -> (x,y); LineString -> (N,2);
    Polygon -> [rings]; MultiPolygon -> [[rings], ...]. Little/big endian supported."""
    geom, _ = _parse_wkb_at(memoryview(buf), 0)
    return geom


def _parse_wkb_at(mv, off):
    bo = "<" if mv[off] == 1 else ">"
    (typ,) = struct.unpack_from(bo + "I", mv, off + 1)
    typ = typ & 0xFF  # ignore SRID/dimension flags
    off += 5
    if typ == _WKB_POINT:
        x, y = struct.unpack_from(bo + "dd", mv, off)
        return ("point", (x, y)), off + 16
    if typ == _WKB_LINESTRING:
        (n,) = struct.unpack_from(bo + "I", mv, off)
        off += 4
        arr = np.frombuffer(mv, dtype=bo + "f8", count=2 * n, offset=off).reshape(n, 2).astype(np.float64)
        return ("linestring", arr), off + 16 * n
    if typ == _WKB_POLYGON:
        (nrings,) = struct.unpack_from(bo + "I", mv, off)
        off += 4
        rings = []
        for _ in range(nrings):
            (n,) = struct.unpack_from(bo + "I", mv, off)
            off += 4
            rings.append(np.frombuffer(mv, dtype=bo + "f8", count=2 * n, offset=off).reshape(n, 2).astype(np.float64))
            off += 16 * n
        return ("polygon", rings), off
    if typ == _WKB_MULTIPOLYGON:
        (np_,) = struct.unpack_from(bo + "I", mv, off)
        off += 4
        polys = []
        for _ in range(np_):
            (_g, data), off = _parse_wkb_at(mv, off)
            polys.append(data)
        return ("multipolygon", polys), off
    raise ValueError(f"unsupported WKB type {typ}")


# --- tile-local parts codec ----------------------------------------------------
# Serialize a list of int32 (N,2) coordinate parts (rings / line pieces) into
# one binary column value, so sliced geometry travels the shuffle compactly
# (the reference ships msgpack'd commands the same way, FeatureGroup.java:252).

def pack_parts(parts: list[np.ndarray]) -> bytes:
    out = [struct.pack("<I", len(parts))]
    for p in parts:
        a = np.ascontiguousarray(p, dtype="<i4")
        out.append(struct.pack("<I", len(a)))
        out.append(a.tobytes())
    return b"".join(out)


def unpack_parts(buf: bytes) -> list[np.ndarray]:
    mv = memoryview(buf)
    (n,) = struct.unpack_from("<I", mv, 0)
    off = 4
    parts = []
    for _ in range(n):
        (ln,) = struct.unpack_from("<I", mv, off)
        off += 4
        parts.append(np.frombuffer(mv, dtype="<i4", count=2 * ln, offset=off)
                     .reshape(ln, 2).astype(np.int64))
        off += 8 * ln
    return parts


# --- ring math ----------------------------------------------------------------

def ring_signed_area(ring: np.ndarray) -> float:
    """Shoelace; positive = CCW in a y-up frame. World coords are y-down, so
    'outer CCW after Y-flip' (GeoUtils.java:319-329) == negative signed area here."""
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def line_centroid(line: np.ndarray) -> tuple[float, float]:
    """LENGTH-WEIGHTED linestring centroid (JTS Centroid line semantics —
    ADVICE r2: the unweighted vertex mean diverges when segment lengths
    vary): sum of segment midpoints weighted by segment length."""
    seg = np.sqrt(((line[1:] - line[:-1]) ** 2).sum(axis=1))
    total = seg.sum()
    if total == 0:
        return float(line[:, 0].mean()), float(line[:, 1].mean())
    mid = (line[1:] + line[:-1]) / 2.0
    return (float((mid[:, 0] * seg).sum() / total),
            float((mid[:, 1] * seg).sum() / total))


def polygon_centroid(rings: list[np.ndarray]) -> tuple[float, float]:
    """Area centroid honoring holes (JTS Centroid polygon semantics —
    ADVICE r2: the shell-only centroid ignored holes): hole areas subtract
    from both the moment and the mass; degenerate (zero-area) polygons fall
    back to the shell centroid."""
    ax = abs(ring_signed_area(rings[0]))
    cx0, cy0 = ring_centroid(rings[0])
    num_x, num_y, den = ax * cx0, ax * cy0, ax
    for r in rings[1:]:
        if len(r) < 4:
            continue
        a = abs(ring_signed_area(r))
        cx, cy = ring_centroid(r)
        num_x -= a * cx
        num_y -= a * cy
        den -= a
    if abs(den) < 1e-18:
        return ring_centroid(rings[0])
    return num_x / den, num_y / den


def ring_centroid(ring: np.ndarray) -> tuple[float, float]:
    a = ring_signed_area(ring)
    if abs(a) < 1e-18:
        return float(ring[:, 0].mean()), float(ring[:, 1].mean())
    x, y = ring[:, 0], ring[:, 1]
    cross = x[:-1] * y[1:] - x[1:] * y[:-1]
    cx = float(np.sum((x[:-1] + x[1:]) * cross) / (6 * a))
    cy = float(np.sum((y[:-1] + y[1:]) * cross) / (6 * a))
    return cx, cy


def ensure_orientation(ring: np.ndarray, ccw: bool) -> np.ndarray:
    area = ring_signed_area(ring)
    if (area > 0) != ccw:
        return ring[::-1].copy()
    return ring


def line_length(coords: np.ndarray) -> float:
    d = np.diff(coords, axis=0)
    return float(np.sqrt((d * d).sum(axis=1)).sum())


# --- misc scalar geometry (GeoUtils.java) --------------------------------------

def is_convex(ring: np.ndarray, tolerance: float = 0.1) -> bool:
    """GeoUtils.isConvex:497-563 — all cross products share a sign, allowing
    slightly-concave corners within a relative tolerance of the dominant turn."""
    pts = ring[:-1] if np.array_equal(ring[0], ring[-1]) else ring
    if len(pts) < 3:
        return False
    a = np.diff(np.vstack([pts, pts[:2]]), axis=0)
    cross = a[:-1, 0] * a[1:, 1] - a[:-1, 1] * a[1:, 0]
    scale = np.abs(cross).max()
    if scale == 0:
        return False
    neg = cross < -tolerance * scale
    pos = cross > tolerance * scale
    return not (neg.any() and pos.any())


def point_along_offset(a: np.ndarray, b: np.ndarray, ratio: float,
                       offset: float) -> np.ndarray:
    """GeoUtils.pointAlongOffset:480 — point at `ratio` along segment a->b,
    displaced `offset` perpendicular (to the left of travel)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    p = a + ratio * (b - a)
    d = b - a
    ln = float(np.hypot(*d))
    if ln == 0:
        return p
    normal = np.array([-d[1], d[0]]) / ln
    return p + offset * normal


def polygon_to_linestring(rings: list[np.ndarray]) -> list[np.ndarray]:
    """GeoUtils.polygonToLineString:443 — polygon boundary as linestrings."""
    return [r.copy() for r in rings]


def innermost_point(rings: list[np.ndarray], tolerance: float = 0.01) -> tuple[float, float]:
    """Pole of inaccessibility (WithGeometry.innermostPoint:? via polylabel):
    iterative grid refinement maximizing distance to the boundary. `tolerance`
    is relative to the bbox diagonal."""
    shell = rings[0]
    minx, miny = shell[:, 0].min(), shell[:, 1].min()
    maxx, maxy = shell[:, 0].max(), shell[:, 1].max()
    diag = float(np.hypot(maxx - minx, maxy - miny))
    if diag == 0:
        return float(minx), float(miny)
    # coarse-to-fine grid: evaluate cells, refine around the best
    best_xy = (float((minx + maxx) / 2), float((miny + maxy) / 2))
    best_d = -np.inf
    cx0, cy0, cx1, cy1 = minx, miny, maxx, maxy
    for _ in range(12):
        xs = np.linspace(cx0, cx1, 9)
        ys = np.linspace(cy0, cy1, 9)
        gx, gy = np.meshgrid(xs, ys)
        px, py = gx.ravel(), gy.ravel()
        inside = points_in_polygon(px, py, rings)
        if inside.any():
            d = dist_to_boundary(px[inside], py[inside], rings)
            j = int(np.argmax(d))
            if d[j] > best_d:
                best_d = float(d[j])
                best_xy = (float(px[inside][j]), float(py[inside][j]))
        span_x = (cx1 - cx0) / 4
        span_y = (cy1 - cy0) / 4
        if np.hypot(span_x, span_y) < tolerance * diag:
            break
        cx0, cx1 = best_xy[0] - span_x, best_xy[0] + span_x
        cy0, cy1 = best_xy[1] - span_y, best_xy[1] + span_y
    return best_xy


def polygon_self_intersects(rings: list[np.ndarray]) -> bool:
    """True if any two non-adjacent edges (within or across rings) PROPERLY
    cross — the bowtie/self-intersection test behind the repair chain
    (GeoUtils.snapAndFixPolygon:315-399 calls JTS isValid; proper crossings
    are the failure mode rounding/clipping actually produces). Vectorized
    all-pairs orientation test, O(E^2) — polygon rings here are small."""
    if sum(len(r) for r in rings) <= 40:
        # tiny fragments (the overwhelming case after tile clipping): a pure-
        # Python prologue + scalar pair loop with early exit is ~30x cheaper
        # than the numpy gather (asarray/roll/concatenate per ring cost more
        # than the whole O(E^2) test at E~5; same measured pattern as the
        # small-geometry clip kernels; identical float64 arithmetic)
        axl, ayl, bxl, byl, ridl, sidl, nszl = [], [], [], [], [], [], []
        for k, ring in enumerate(rings):
            pts = [(float(p[0]), float(p[1]))
                   for p in (ring.tolist() if isinstance(ring, np.ndarray) else ring)]
            if len(pts) >= 2 and pts[0] == pts[-1]:
                pts = pts[:-1]
            n = len(pts)
            if n < 2:
                continue
            for s in range(n):
                x0, y0 = pts[s]
                x1, y1 = pts[(s + 1) % n]
                axl.append(x0); ayl.append(y0)
                bxl.append(x1); byl.append(y1)
                ridl.append(k); sidl.append(s); nszl.append(n)
        m = len(axl)
        for i in range(m - 1):
            oxi, oyi, pxi, pyi = axl[i], ayl[i], bxl[i], byl[i]
            dxi, dyi = pxi - oxi, pyi - oyi
            for j in range(i + 1, m):
                if ridl[i] == ridl[j]:
                    dd = sidl[j] - sidl[i]
                    if dd <= 1 or dd == nszl[i] - 1:
                        continue
                d1 = dxi * (ayl[j] - oyi) - dyi * (axl[j] - oxi)
                d2 = dxi * (byl[j] - oyi) - dyi * (bxl[j] - oxi)
                if d1 * d2 >= 0:
                    continue
                dxj, dyj = bxl[j] - axl[j], byl[j] - ayl[j]
                d3 = dxj * (oyi - ayl[j]) - dyj * (oxi - axl[j])
                d4 = dxj * (pyi - ayl[j]) - dyj * (pxi - axl[j])
                if d3 * d4 < 0:
                    return True
        return False

    ax, ay, bx, by, rid, sid = [], [], [], [], [], []
    for k, ring in enumerate(rings):
        r = np.asarray(ring, dtype=np.float64)
        if len(r) < 2:
            continue
        closed = np.array_equal(r[0], r[-1])
        p = r[:-1] if closed else r
        n = len(p)
        if n < 2:
            continue
        nxt = np.roll(np.arange(n), -1)
        ax.append(p[:, 0]); ay.append(p[:, 1])
        bx.append(p[nxt, 0]); by.append(p[nxt, 1])
        rid.append(np.full(n, k)); sid.append(np.arange(n))
    if not ax:
        return False
    ax = np.concatenate(ax); ay = np.concatenate(ay)
    bx = np.concatenate(bx); by = np.concatenate(by)
    rid = np.concatenate(rid); sid = np.concatenate(sid)
    m = len(ax)
    sizes = np.array([np.sum(rid == k) for k in range(len(rings))])
    nsz = sizes[rid]

    def cross(ox, oy, px, py, qx, qy):
        return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)

    # blockwise over row chunks: bounds the temporaries at (chunk x m) so a
    # pathological many-edge fragment can't allocate O(E^2) gigabytes
    # (ADVICE r2: polygon_self_intersects had no size guard)
    chunk = max(32, (1 << 22) // max(m, 1))
    for lo in range(0, m, chunk):
        s = slice(lo, min(lo + chunk, m))
        d1 = cross(ax[s, None], ay[s, None], bx[s, None], by[s, None], ax[None, :], ay[None, :])
        d2 = cross(ax[s, None], ay[s, None], bx[s, None], by[s, None], bx[None, :], by[None, :])
        d3 = cross(ax[None, :], ay[None, :], bx[None, :], by[None, :], ax[s, None], ay[s, None])
        d4 = cross(ax[None, :], ay[None, :], bx[None, :], by[None, :], bx[s, None], by[s, None])
        proper = (d1 * d2 < 0) & (d3 * d4 < 0)
        same_ring = rid[s, None] == rid[None, :]
        dd = np.abs(sid[s, None] - sid[None, :])
        adjacent = same_ring & ((dd <= 1) | (dd == nsz[s, None] - 1))
        if bool((proper & ~adjacent).any()):
            return True
    return False


def repair_polygon(rings: list[np.ndarray], lo: float, hi: float,
                   grid: int = 512, method: str = "raster"
                   ) -> list[np.ndarray]:
    """snapAndFixPolygon analog (GeoUtils.java:315-399) without GEOS:

    - valid input -> returned unchanged except orientation normalization
      (OrientationFixer: shells CCW, holes CW in tile coords);
    - self-intersecting input (bowtie etc.) -> EVEN-ODD regularization.
      method="raster" (default, the render-path choice): scanline-fill at
      `grid` resolution over [lo, hi) and re-trace with marching squares
      (sub-pixel precision — the geometry snaps to the 4096 grid next, so
      the raster error is invisible; kernels/union.py rationale).
      method="exact": kernels/polyclip even-odd regularization — the
      literal semantics JTS buffer(0) applies (every output vertex an
      input vertex or exact edge intersection; no grid).
    Returns [] when the repaired region is empty."""
    from . import union as un

    if not rings:
        return []
    if not polygon_self_intersects(rings):
        out = []
        for i, ring in enumerate(rings):
            r = np.asarray(ring, dtype=np.float64)
            if len(r) < 4:
                continue
            out.append(ensure_orientation(r, ccw=(i == 0)))
        return out
    if method == "exact":
        from . import polyclip as pcl
        window = [np.array([[lo, lo], [hi, lo], [hi, hi], [lo, hi],
                            [lo, lo]], dtype=np.float64)]
        # clip to [lo, hi) like the raster fill does (same spatial domain
        # on both methods)
        return pcl.boolean_rings([list(rings)], [window], op="inter")
    mask = un.rasterize_rings([np.asarray(r, dtype=np.float64) for r in rings],
                              grid, lo, hi)
    # trace_contours emits shells CW/holes CCW (image-space convention);
    # reverse to match the valid path's shells-CCW contract — the MVT
    # winding every other producer path (slice_polygon, ensure_orientation)
    # ships
    return [r[::-1] for r in un.trace_contours(mask, lo, hi)]


def point_on_surface(rings: list[np.ndarray]) -> tuple[float, float]:
    """Interior point (JTS InteriorPointArea analog — the backing of
    FeatureCollector.pointOnSurface:205): intersect the polygon with its
    horizontal bisector, take the midpoint of the WIDEST inside interval
    (even-odd crossing parity across all rings, so holes are honored)."""
    shell = rings[0]
    y = (float(shell[:, 1].min()) + float(shell[:, 1].max())) / 2.0
    xs = []
    for ring in rings:
        a = ring[:-1] if np.array_equal(ring[0], ring[-1]) else ring
        x0, y0 = a[:, 0], a[:, 1]
        x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
        cross = ((y0 <= y) & (y1 > y)) | ((y1 <= y) & (y0 > y))
        if cross.any():
            t = (y - y0[cross]) / (y1[cross] - y0[cross])
            xs.append(x0[cross] + t * (x1[cross] - x0[cross]))
    if not xs:
        return ring_centroid(shell)
    X = np.sort(np.concatenate(xs))
    if len(X) < 2:
        return ring_centroid(shell)
    widths = X[1::2] - X[0::2]
    i = int(np.argmax(widths))
    return float((X[2 * i] + X[2 * i + 1]) / 2.0), y


# --- point in polygon (even-odd ray cast), vectorized over points --------------

def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd crossing test of many points against one closed ring."""
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    px = px[:, None]
    py = py[:, None]
    cond = (y0 > py) != (y1 > py)
    # x coordinate of edge at scanline py
    with np.errstate(divide="ignore", invalid="ignore"):
        xi = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
    crossings = cond & (px < xi)
    return (crossings.sum(axis=1) % 2).astype(bool)


def points_in_polygon(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd over all rings: inside shell, outside holes."""
    inside = np.zeros(len(px), dtype=bool)
    for r in rings:
        inside ^= points_in_ring(px, py, r)
    return inside


def point_segment_dist_sq(px, py, x0, y0, x1, y1):
    """Vectorized squared distance from points to segments (broadcast-compatible).
    Same math as DouglasPeuckerSimplifier.getSqSegDist (DouglasPeuckerSimplifier.java:95)."""
    dx = x1 - x0
    dy = y1 - y0
    denom = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((px - x0) * dx + (py - y0) * dy) / denom
    t = np.where(denom > 0, np.clip(t, 0.0, 1.0), 0.0)
    cx = x0 + t * dx
    cy = y0 + t * dy
    return (px - cx) ** 2 + (py - cy) ** 2


def dist_to_boundary(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Unsigned distance from points to the polygon's ring boundary."""
    n = len(px)
    best = np.full(n, np.inf)
    for r in rings:
        x0, y0 = r[:-1, 0], r[:-1, 1]
        x1, y1 = r[1:, 0], r[1:, 1]
        d = point_segment_dist_sq(px[:, None], py[:, None], x0, y0, x1, y1).min(axis=1)
        best = np.minimum(best, d)
    return np.sqrt(best)


def dist_to_polygon(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Distance from points to polygon boundary (0 if inside).
    Mirrors PolygonIndex.getContainingOrNearest's JTS distance fallback (:93-124)."""
    best = dist_to_boundary(px, py, rings)
    best[points_in_polygon(px, py, rings)] = 0.0
    return best


# --- polygon grid index (replaces JTS STRtree, PolygonIndex.java:20-145) -------

# fine cells per coarse cell side: on the 16,384-zone join 8-16 all probe
# 3-4x faster than the coarse grid; finer probes faster but grows the build
# and the broadcast (12: ~0.33 s, 16 MB; 16: ~0.5 s, 22 MB)
_FINE = 12
# points per probe block and (pair, edge) entries per parity chunk: bound the
# probe's temporaries whatever the batch size
_BLOCK = 16384
_EDGE_CHUNK = 1 << 16
# polygon bbox cells rasterised per build chunk
_BUILD_CELLS = 1 << 19


def _segments(counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """For a concatenation of segments with these lengths: each element's
    segment index and its position within the segment."""
    counts = np.asarray(counts, dtype=np.int64)
    seg = np.repeat(np.arange(len(counts)), counts)
    return seg, np.arange(len(seg)) - (np.cumsum(counts) - counts)[seg]


def _grid(lo: np.ndarray, hi: np.ndarray, size: float, border: int, n: int) -> tuple:
    """(ox, oy, size, nx, ny): a grid over the box [lo, hi] with `border`
    spare cells on every side. Cells are at least `size` on a side, and
    coarse enough that any cell key times `n` fits in an int64."""
    size = max(size, float((hi - lo).max()) * np.sqrt(max(n, 1)) / (1 << 30))
    nx, ny = (np.floor((hi - lo) / size).astype(np.int64) + 2 * border + 1).tolist()
    ox, oy = (lo - border * size).tolist()
    return ox, oy, size, nx, ny


def _cell_keys(grid: tuple, x: np.ndarray, y: np.ndarray):
    """Each point's cell key `gy * nx + gx`, and whether it lies on the grid
    (NaN does not)."""
    ox, oy, size, nx, ny = grid
    fx = np.floor((x - ox) / size)
    fy = np.floor((y - oy) / size)
    ok = (fx >= 0) & (fx < nx) & (fy >= 0) & (fy < ny)
    return np.where(ok, fy, 0).astype(np.int64) * nx + np.where(ok, fx, 0).astype(np.int64), ok


def _csr(codes: np.ndarray, keys: np.ndarray, n: int):
    """Sorted `key * n + val` codes as a CSR under the sorted `keys`:
    offsets (one per key, plus the end; int32 below 2^31 codes) and int32
    vals, ascending per key."""
    off = np.append(np.searchsorted(codes, keys * n), len(codes))
    return off.astype(np.int32 if len(codes) < 1 << 31 else np.int64), (codes % n).astype(np.int32)


def _chunks(counts: np.ndarray, limit: int):
    """(lo, hi) bounds of consecutive runs of items whose counts sum to
    about `limit`, at least one item each."""
    cum = np.cumsum(counts)
    lo = 0
    while lo < len(cum):
        done = cum[lo - 1] if lo else 0
        hi = max(int(np.searchsorted(cum, done + limit, side="right")), lo + 1)
        yield lo, hi
        lo = hi


def _expand(pts: np.ndarray, slots: np.ndarray, off: np.ndarray):
    """(point, position) pairs for every position that the CSR offsets
    `off` list under each point's slot, point-major, positions ascending."""
    start = off[slots].astype(np.int64)
    n = off[slots + 1] - start
    pos = np.arange(int(n.sum())) - np.repeat(np.cumsum(n) - n - start, n)
    return np.repeat(pts, n), pos


def _starts(a: np.ndarray) -> np.ndarray:
    """Indices where a run of equal values begins in `a`."""
    return np.flatnonzero(np.r_[True, a[1:] != a[:-1]][:len(a)])


def _runs(start: np.ndarray, n: np.ndarray):
    """The flat positions of the runs start[i] .. start[i] + n[i] (each
    n[i] >= 1), in chunks of about _EDGE_CHUNK positions: (lo, hi, n,
    starts, pos) gives the chunk's runs lo..hi, their lengths, their
    starts within the chunk and the positions."""
    for lo, hi in _chunks(n, _EDGE_CHUNK):
        c = n[lo:hi]
        starts = np.cumsum(c) - c
        yield lo, hi, c, starts, (np.arange(int(starts[-1] + c[-1]))
                                  + np.repeat(start[lo:hi].astype(np.int64) - starts, c))


@dataclass
class PolygonIndex:
    """Grid index over polygons; built on the driver, broadcast to executors,
    probed with vectorized numpy inside pandas UDFs.

    Matches PolygonIndex.java semantics:
      - get_containing(points): all polygons whose interior contains each point
        (STRtree envelope candidates -> exact test, :52-60)
      - get_containing_or_nearest(points, within): containment first, else the
        nearest polygon within `within` distance (:93-124)

    Containment uses a raster-interval approximation ("Raster Intervals",
    SIGMOD 2023): a fine grid, `cell / _FINE` on a side, where each polygon
    classifies the cells of its bbox as
      - partial: some edge lies within the margin `m` of the closed cell
        (found from each edge's own row spans, dilated by `m`);
      - full: not partial, and the cell centre is inside by the even-odd
        scanline rule;
      - outside: anything else, dropped.
    Two sparse CSR lists (sorted int64 keys of the occupied cells, int32
    offsets, int32 polygon ids ascending per cell) hold the full and the
    partial (cell, polygon) pairs, so the index grows with those pairs, not
    with the extent. A probe finds each point's cell by binary search; its
    full polygons contain it with no edge test, and only its partial pairs
    run the crossing test. Each partial pair carries its own edge list (an
    int32 CSR of edge ids) and a base parity bit: the probe XORs the bit
    with the crossings of the listed edges, over flat (pair, edge) arrays
    with one add.reduceat per pair. Parity of the TOTAL crossings across
    all of a polygon's rings equals the XOR of per-ring parities, so one
    list per pair is exact.

    A pair's list holds the polygon's edges within `m` of the cell's row
    band (the band dilated by `m`), minus two kinds:
      - dropped: the cell lies right of every column the edge comes within
        `m` of inside the dilated band. For any point of the row, the
        crossing x lies within the edge's part inside the band, more than
        `m` left of the cell, so `px < xi` is false;
      - folded: the cell lies left of every such column and the edge spans
        the dilated band. Every point of the row then lies strictly inside
        the edge's y-span and more than `m` left of its crossing, so the
        edge always crosses; the base bit counts these edges.
    Edges outside the dilated band have both ends above or both below any
    point of the row, and never cross. The edge that made a cell partial
    is never dropped or folded, so every list holds at least one edge.

    Why a full cell is exact, bit for bit: `m = 1e-9 * max(1, max|coord|)`.
    A point in a full cell lies at least `m` from every edge (the float
    cell lookup misplaces a point by ~1e-16 * |coord|, far below `m`). For
    each edge whose half-open y-span holds the point, the exact crossing x
    lies at least `m` from the point, while the float crossing
    `x0 + (py-y0)*(x1-x0)/(y1-y0)` errs by a few ulps of max|coord| (the
    factor (py-y0)/(y1-y0) is in [0, 1]). So no `px < xi` comparison can
    flip: the float test gives the exact even-odd answer, which is the same
    for every point of the cell (no edge enters it) as for its centre.
    Points within `m` of an edge fall in partial cells and get the float
    test itself, so every answer equals the per-polygon kernel's. The same
    margin makes the dropped and folded edges exact for every point the
    float lookup can place in the cell: each such edge's float test has the
    one answer the bullets above give.

    The nearest fallback uses a coarse grid (`cell` = median bbox extent):
    a CSR of the polygons whose bbox, padded by one cell, meets each cell.

    Only the driver's object keeps `polys`: the probe reads the pooled
    edges, so a pickled index (the broadcast) leaves them out.
    """

    ids: list
    polys: list  # list of list-of-rings (float64 (N,2))
    bboxes: np.ndarray = field(init=False)  # (P,4) minx,miny,maxx,maxy
    cell: float = field(init=False)

    def __post_init__(self):
        n = len(self.polys)
        rings = [r for rs in self.polys for r in rs]
        nring = np.array([len(rs) for rs in self.polys], dtype=np.int64)
        rlen = np.array([len(r) for r in rings], dtype=np.int64)
        self._nedges = np.bincount(np.repeat(np.arange(n), nring),
                                   weights=np.maximum(rlen - 1, 0), minlength=n).astype(np.int64)
        self._estart = np.append(0, np.cumsum(self._nedges))
        xy = np.concatenate(rings + [np.empty((0, 2))])
        first = np.ones(len(xy), dtype=bool)  # vertices that start an edge
        first[(np.cumsum(rlen) - 1)[rlen > 0]] = False
        e = np.flatnonzero(first)
        # every edge once, as one row x0, y0, x1, y1: probes gather rows
        self._edges = np.concatenate([xy[e], xy[e + 1]], axis=1)
        x0, y0, x1, y1 = self._edges.T
        bb = np.full((n, 4), np.nan)
        has = self._nedges > 0
        if has.any():
            at = self._estart[:-1][has]
            bb[has, 0] = np.minimum.reduceat(np.minimum(x0, x1), at)
            bb[has, 1] = np.minimum.reduceat(np.minimum(y0, y1), at)
            bb[has, 2] = np.maximum.reduceat(np.maximum(x0, x1), at)
            bb[has, 3] = np.maximum.reduceat(np.maximum(y0, y1), at)
        self.bboxes = bb
        # cell ~ median bbox extent: ~1-4 covered cells per polygon
        spans = np.maximum(bb[has, 2] - bb[has, 0], bb[has, 3] - bb[has, 1])
        self.cell = float(max(np.median(spans), 1e-6)) if len(spans) else 1.0
        self._m = 1e-9 * max(1.0, float(np.abs(bb[has]).max())) if has.any() else 0.0
        self._fine = self._pad = (0.0, 0.0, 1.0, 0, 0)
        self._keys = self._pad_keys = np.empty(0, dtype=np.int64)
        self._full_off = self._part_off = self._pad_off = np.zeros(1, dtype=np.int32)
        self._full_poly = self._part_poly = self._pad_poly = np.empty(0, dtype=np.int32)
        self._part_edge_off = np.zeros(1, dtype=np.int32)
        self._part_edge = np.empty(0, dtype=np.int32)
        self._part_base = np.empty(0, dtype=bool)
        if has.any():
            lo, hi = bb[has, :2].min(axis=0), bb[has, 2:].max(axis=0)
            self._build_fine(has, lo, hi)
            self._build_pad(has, lo, hi)

    def __getstate__(self):
        state = dict(self.__dict__)
        del state["polys"]
        return state

    # -- build (driver-side, once; the whole object is broadcast) --------------

    def _cover(self, has, lo, hi, size, border, pad):
        """A grid (see _grid) of cells at least `size`, and each polygon's
        first cell and cell counts along x and y over its bbox dilated by
        `pad` cells plus the margin. The cells are coarsened only when
        outsized polygons would cover more than 1024 per polygon plus 2^18
        in all, so the index never grows with the area of one polygon."""
        bb, n = self.bboxes, len(self.bboxes)
        budget = 1024.0 * n + (1 << 18)
        while True:
            grid = ox, oy, c, _, _ = _grid(lo, hi, size, border, n)
            d = pad * c + self._m
            gx0 = np.where(has, np.floor((bb[:, 0] - d - ox) / c), 0)
            gy0 = np.where(has, np.floor((bb[:, 1] - d - oy) / c), 0)
            ncx = np.where(has, np.floor((bb[:, 2] + d - ox) / c) - gx0 + 1, 0)
            ncy = np.where(has, np.floor((bb[:, 3] + d - oy) / c) - gy0 + 1, 0)
            total = float((ncx * ncy).sum())
            if total <= budget:
                return (grid,) + tuple(a.astype(np.int64) for a in (gx0, gy0, ncx, ncy))
            size = c * 1.01 * np.sqrt(total / budget)

    def _build_fine(self, has, lo, hi):
        """Classify each polygon's fine cells as full or partial, and list
        each partial pair's edges, in polygon chunks of at most _BUILD_CELLS
        bbox cells."""
        n = len(self.polys)
        self._fine, gx0, gy0, ncx, ncy = self._cover(
            has, lo, hi, max(self.cell / _FINE, 8 * self._m), 1, 0)
        cells = np.cumsum(ncx * ncy)
        chunks = []
        p0 = 0
        while p0 < n:
            p1 = max(int(np.searchsorted(cells, cells[p0] - ncx[p0] * ncy[p0] + _BUILD_CELLS,
                                         side="right")), p0 + 1)
            chunks.append(self._classify(p0, p1, gx0, gy0, ncx, ncy))
            p0 = p1
        full, code, edge, base = (np.concatenate(a) for a in zip(*chunks))
        del chunks
        full.sort()
        # list entries sorted by their pair's code: each run is one partial
        # pair's edge list
        order = np.argsort(code)
        code = code[order]
        first = _starts(code)
        part = code[first]
        self._part_edge = edge[order].astype(np.int32 if len(self._edges) < 1 << 31 else np.int64)
        self._part_edge_off = np.append(first, len(code)).astype(
            np.int32 if len(code) < 1 << 31 else np.int64)
        self._part_base = base[order[first]]
        fk, pk = full // n, part // n
        self._keys = np.union1d(fk[_starts(fk)], pk[_starts(pk)])
        self._full_off, self._full_poly = _csr(full, self._keys, n)
        self._part_off, self._part_poly = _csr(part, self._keys, n)

    def _classify(self, p0, p1, gx0, gy0, ncx, ncy):
        """For polygons p0..p1: the codes `key * P + poly` of the full fine
        cells, and the partial cells' edge lists as one entry per listed
        edge: the cell's code, the edge id and the cell's base bit."""
        m, n = self._m, len(self.polys)
        ox, oy, fc, nx, _ = self._fine
        gx0, gy0, ncx, ncy = gx0[p0:p1], gy0[p0:p1], ncx[p0:p1], ncy[p0:p1]
        # each polygon's bbox raster, row by row: raster row r belongs to local
        # polygon rp[r], has length ncx[rp[r]] and starts at rstart[r]
        rp, lrow = _segments(ncy)
        rstart = np.cumsum(ncx[rp]) - ncx[rp]
        rfirst = np.cumsum(ncy) - ncy
        e0, e1 = self._estart[p0], self._estart[p1]
        ep, _ = _segments(self._nedges[p0:p1])
        x0, y0, x1, y1 = self._edges[e0:e1].T
        # (edge, row) pairs: the fine rows each edge comes within m of
        r0 = np.maximum(np.floor((np.minimum(y0, y1) - m - oy) / fc).astype(np.int64), gy0[ep])
        r1 = np.minimum(np.floor((np.maximum(y0, y1) + m - oy) / fc).astype(np.int64),
                        gy0[ep] + ncy[ep] - 1)
        er, k = _segments(np.maximum(r1 - r0 + 1, 0))
        row = r0[er] + k
        x0, y0, x1, y1, ep = x0[er], y0[er], x1[er], y1[er], ep[er]
        start = rstart[rfirst[ep] + row - gy0[ep]]  # raster index of the row's first cell
        base = start - gx0[ep]  # raster index of column 0
        dx, dy = x1 - x0, y1 - y0
        # partial: the cells within m of the edge's x-range inside the row's
        # band, the band itself dilated by m
        ylo = oy + row * fc - m
        with np.errstate(divide="ignore", invalid="ignore"):
            ta, tb = (ylo - y0) / dy, (ylo + fc + 2 * m - y0) / dy
        flat = dy == 0
        xa = x0 + np.where(flat, 0.0, np.clip(np.minimum(ta, tb), 0.0, 1.0)) * dx
        xb = x0 + np.where(flat, 1.0, np.clip(np.maximum(ta, tb), 0.0, 1.0)) * dx
        c0 = np.maximum(np.floor((np.minimum(xa, xb) - m - ox) / fc).astype(np.int64), gx0[ep])
        c1 = np.minimum(np.floor((np.maximum(xa, xb) + m - ox) / fc).astype(np.int64),
                        gx0[ep] + ncx[ep] - 1)
        rc, k = _segments(np.maximum(c1 - c0 + 1, 0))
        touch = base[rc] + c0[rc] + k  # raster index of each cell an edge touches
        partial = np.zeros(int((ncx * ncy).sum()), dtype=bool)
        partial[touch] = True
        # even-odd at each cell centre: the row's centre line crossings,
        # counted into their columns; a cell is inside when an odd number lie
        # right of its column (its own column holds one only if it is partial).
        # The high 32 bits count the edges that span the dilated band into
        # their first column c0: those right of a cell always cross its ray
        yc = oy + (row + 0.5) * fc
        hit = (y0 > yc) != (y1 > yc)
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = x0[hit] + (yc[hit] - y0[hit]) * dx[hit] / dy[hit]
        col = np.clip(np.floor((xi - ox) / fc).astype(np.int64),
                      gx0[ep[hit]], gx0[ep[hit]] + ncx[ep[hit]] - 1)
        span = (np.minimum(y0, y1) < ylo) & (np.maximum(y0, y1) > ylo + fc + 2 * m)
        cs = np.cumsum(np.bincount(base[hit] + col, minlength=len(partial))
                       + (np.bincount((base + c0)[span], minlength=len(partial)) << 32))
        rs = np.repeat(np.arange(len(rp)), ncx[rp])  # each cell's raster row
        right = cs[(rstart + ncx[rp] - 1)[rs]] - cs
        full = (right & 1).astype(bool) & ~partial
        # a cell's code is its row's, plus n per raster index
        rowcode = ((gy0[rp] + lrow) * nx + gx0[rp] - rstart) * n + rp + p0

        def codes(sel):
            return rowcode[rs[sel]] + sel * n

        # a partial cell lists the edges that touch it, and each edge that
        # lies right of it (c0 beyond its column) but ends inside the
        # dilated band; the spanning ones fold into its base bit, and the
        # edges left of it (c1 before its column) drop out
        part = np.flatnonzero(partial)
        upto = np.cumsum(partial, dtype=np.int32 if len(partial) < 1 << 31 else np.int64)
        end = np.flatnonzero(~span)
        lo, hi = start[end], (base + c0)[end]  # raster indices: the row's first cell, c0
        lo, hi = upto[lo] - partial[lo], upto[hi] - partial[hi]  # partial cells before them
        seg, k = _segments(hi - lo)
        cell = np.concatenate([touch, part[lo[seg] + k]])
        edge = e0 + er[np.concatenate([rc, end[seg]])]
        return (codes(np.flatnonzero(full)), codes(cell), edge,
                ((right[cell] >> 32) & 1).astype(bool))

    def _build_pad(self, has, lo, hi):
        """Coarse cell -> ascending ids of the polygons whose bbox, padded by
        one cell, meets the cell: a superset of every polygon within `cell`
        of any point in it (the grid's cells are at least `cell`)."""
        n = len(self.polys)
        self._pad, cx0, cy0, ncx, ncy = self._cover(has, lo, hi, self.cell, 2, 1)
        p, k = _segments(ncx * ncy)
        codes = ((cy0[p] + k // ncx[p]) * self._pad[3] + cx0[p] + k % ncx[p]) * n + p
        codes.sort()
        self._pad_keys = np.unique(codes // n)
        self._pad_off, self._pad_poly = _csr(codes, self._pad_keys, n)

    # -- probe ------------------------------------------------------------------

    @staticmethod
    def _slots(keys, q, ok):
        """Index of each query key in the sorted `keys`; -1 where absent or
        where `ok` is False."""
        if not len(keys):
            return np.full(len(q), -1, dtype=np.int64)
        pos = np.minimum(np.searchsorted(keys, q), len(keys) - 1)
        return np.where(ok & (keys[pos] == q), pos, -1)

    def _parity(self, px, py, pt, pair):
        """Even-odd containment of point pt[i] in the polygon of partial pair
        pair[i]: the pair's base bit XOR the crossings of its listed edges,
        by the crossing test of points_in_ring over flat (pair, edge)
        arrays."""
        out = np.empty(len(pt), dtype=bool)
        start = self._part_edge_off[pair]
        for lo, hi, n, starts, pos in _runs(start, self._part_edge_off[pair + 1] - start):
            x0, y0, x1, y1 = np.take(self._edges, self._part_edge[pos], axis=0).T
            x = np.repeat(px[pt[lo:hi]], n)
            y = np.repeat(py[pt[lo:hi]], n)
            cond = (y0 > y) != (y1 > y)
            with np.errstate(divide="ignore", invalid="ignore"):
                xi = x0 + (y - y0) * (x1 - x0) / (y1 - y0)
            crossings = (cond & (x < xi)).view(np.uint8)
            out[lo:hi] = (np.add.reduceat(crossings, starts) ^ self._part_base[pair[lo:hi]]) & 1
        return out

    def get_containing(self, px: np.ndarray, py: np.ndarray):
        """Returns (point_idx, poly_idx) arrays for every containment pair,
        ordered by (point, polygon)."""
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        npoly = np.int64(max(len(self.bboxes), 1))
        out = [np.empty(0, dtype=np.int64)]
        for lo in range(0, len(px), _BLOCK):
            bx, by = px[lo:lo + _BLOCK], py[lo:lo + _BLOCK]
            slot = self._slots(self._keys, *_cell_keys(self._fine, bx, by))
            pts = np.flatnonzero(slot >= 0)
            slot = slot[pts]
            fpt, fpos = _expand(pts, slot, self._full_off)
            ppt, ppos = _expand(pts, slot, self._part_off)
            keep = self._parity(bx, by, ppt, ppos)
            key = np.concatenate([fpt * npoly + self._full_poly[fpos],
                                  ppt[keep] * npoly + self._part_poly[ppos[keep]]])
            key.sort(kind="stable")
            out.append(key + lo * npoly)
        key = np.concatenate(out)
        del out  # free the block runs before divmod writes two more arrays
        return np.divmod(key, npoly)

    def get_containing_or_nearest(self, px: np.ndarray, py: np.ndarray, within: float):
        """Returns (point_idx, poly_idx, fallback_flag). Points contained by >=1
        polygon yield one row per containing polygon (fallback=False); points in
        no polygon yield their nearest polygon within `within` (fallback=True);
        on exact distance ties the lowest polygon id wins."""
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        pt, poly = self.get_containing(px, py)
        contained = np.zeros(len(px), dtype=bool)
        contained[pt] = True
        miss = np.flatnonzero(~contained & np.isfinite(px) & np.isfinite(py))
        fb_i, fb_poly = self._nearest(px[miss], py[miss], within)
        fb_pt = miss[fb_i]
        return (np.concatenate([pt, fb_pt]),
                np.concatenate([poly, fb_poly]),
                np.concatenate([np.zeros(len(pt), dtype=bool), np.ones(len(fb_pt), dtype=bool)]))

    def _nearest(self, mx, my, within):
        """Nearest polygon within `within` of each (finite) miss: the pad
        cells within `reach` cells of the miss's own give (miss, candidate)
        pairs; pairs listed twice count once, and pairs whose bbox, dilated
        by `within` plus the margin, misses the point go (they can never
        win). Then one flat distance pass with a minimum.reduceat per pair,
        in chunks of misses that list about _EDGE_CHUNK candidates.

        The pad lists reach one cell `c` past each bbox, so a polygon within
        `within` of a point is listed in some cell at most
        ceil(within / c) - 1 cells from the point's own (plus the margin);
        for `within` <= `c`, in its own."""
        ox, oy, c, nx, ny = self._pad
        reach = max(np.ceil(within / c) - 1, 0.0)  # a float: `within` may be inf
        fx, fy = np.floor((mx - ox) / c), np.floor((my - oy) / c)
        cx0 = np.clip(fx - reach, 0, nx).astype(np.int64)
        cx1 = np.clip(fx + reach + 1, 0, nx).astype(np.int64)
        cy0 = np.clip(fy - reach, 0, ny).astype(np.int64)
        cy1 = np.clip(fy + reach + 1, 0, ny).astype(np.int64)
        # each miss's rows of the window, then the occupied cells of each row
        # as one run of slots in the sorted keys
        pts, k = _segments(np.where(cx1 > cx0, cy1 - cy0, 0))
        rowkey = (cy0[pts] + k) * nx
        a = np.searchsorted(self._pad_keys, rowkey + cx0[pts])
        b = np.searchsorted(self._pad_keys, rowkey + cx1[pts])
        seg, k = _segments(b - a)
        pts, slot = pts[seg], a[seg] + k
        listed = np.bincount(pts, weights=self._pad_off[slot + 1] - self._pad_off[slot],
                             minlength=len(mx))
        npoly = np.int64(len(self.bboxes))
        box = self.bboxes + np.array([-1.0, -1.0, 1.0, 1.0]) * (within + self._m)
        out_i, out_poly = [np.empty(0, dtype=np.int64)], [np.empty(0, dtype=np.int64)]
        for lo, hi in _chunks(listed, _EDGE_CHUNK):
            a, b = np.searchsorted(pts, [lo, hi])
            pi, pos = _expand(pts[a:b], slot[a:b], self._pad_off)
            cand = self._pad_poly[pos]
            x, y = mx[pi], my[pi]
            x0, y0, x1, y1 = np.take(box, cand, axis=0).T
            near = (x0 <= x) & (x <= x1) & (y0 <= y) & (y <= y1)
            # sorted unique codes: point-major, ascending polygon ids
            pi, cand = np.divmod(np.unique(pi[near] * npoly + cand[near]), npoly)
            if not len(pi):
                continue
            d = np.empty(len(pi))
            for elo, ehi, n, starts, pos in _runs(self._estart[cand], self._nedges[cand]):
                x0, y0, x1, y1 = np.take(self._edges, pos, axis=0).T
                d2 = point_segment_dist_sq(np.repeat(mx[pi[elo:ehi]], n),
                                           np.repeat(my[pi[elo:ehi]], n), x0, y0, x1, y1)
                d[elo:ehi] = np.sqrt(np.minimum.reduceat(d2, starts))
            # per point, the first pair at the minimum distance is the
            # lowest-id nearest polygon
            run = _starts(pi)
            best = np.repeat(np.minimum.reduceat(d, run), np.diff(np.r_[run, len(d)]))
            w = np.flatnonzero(d == best)
            w = w[_starts(pi[w])]
            w = w[d[w] <= within]
            out_i.append(pi[w])
            out_poly.append(cand[w])
        return np.concatenate(out_i), np.concatenate(out_poly)


# --- Douglas-Peucker simplification (DouglasPeuckerSimplifier.java:33-100) ------

def simplify_dp(coords: np.ndarray, tolerance: float, is_ring: bool = False) -> np.ndarray:
    """Iterative DP keeping points whose squared distance from the chord exceeds
    tolerance^2. Matches the reference's no-repair variant; rings keep >=4 points
    (DouglasPeuckerSimplifier.java:82-89 min-points guard)."""
    n = len(coords)
    if n <= 2 or tolerance < 0:
        return coords
    sq_tol = tolerance * tolerance
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    x, y = coords[:, 0], coords[:, 1]
    while stack:
        i0, i1 = stack.pop()
        if i1 - i0 < 2:
            continue
        seg = slice(i0 + 1, i1)
        d = point_segment_dist_sq(x[seg], y[seg], x[i0], y[i0], x[i1], y[i1])
        j = int(np.argmax(d))
        if d[j] > sq_tol:
            mid = i0 + 1 + j
            keep[mid] = True
            stack.append((i0, mid))
            stack.append((mid, i1))
    out = coords[keep]
    if is_ring and len(out) < 4:
        # keep enough points to stay a valid ring: fall back to the 4 extreme points
        idx = np.unique(np.clip(np.linspace(0, n - 1, 4).round().astype(int), 0, n - 1))
        out = coords[np.union1d(np.nonzero(keep)[0], idx)]
    return out


# --- rectangle clipping --------------------------------------------------------

_SMALL_RING = 64  # below this, scalar loops beat numpy's per-op overhead ~10x


def _clip_small(xs: list, ys: list, minx, miny, maxx, maxy):
    """4-pass Sutherland-Hodgman on Python float lists — same arithmetic as
    the vectorized path (bit-identical outputs), ~10x faster for tiny rings
    where numpy is pure overhead. Measured 17.5us vs 197.5us per 14-vertex
    clip; this runs per (boundary tile x feature x zoom) in the render
    stage, i.e. millions of times."""
    for axis, bound, keep_min in ((0, minx, True), (0, maxx, False),
                                  (1, miny, True), (1, maxy, False)):
        if not xs:
            return xs, ys
        vs = xs if axis == 0 else ys
        n = len(xs)
        nx: list = []
        ny: list = []
        for i in range(n):
            j = i + 1 if i + 1 < n else 0
            vi = vs[i]
            vj = vs[j]
            ins_i = vi >= bound if keep_min else vi <= bound
            ins_j = vj >= bound if keep_min else vj <= bound
            if ins_i:
                nx.append(xs[i])
                ny.append(ys[i])
            if ins_i != ins_j:
                t = (bound - vi) / (vj - vi)
                if axis == 0:
                    nx.append(bound)
                    ny.append(ys[i] + t * (ys[j] - ys[i]))
                else:
                    nx.append(xs[i] + t * (xs[j] - xs[i]))
                    ny.append(bound)
        xs, ys = nx, ny
    return xs, ys


def clip_polygon_rect(rings: list[np.ndarray], minx, miny, maxx, maxy) -> list[np.ndarray]:
    """Sutherland-Hodgman clip of each ring to an axis-aligned rect; linear edge
    interpolation identical to TiledGeometry.intersectX/intersectY (:220-231).
    Returns surviving rings (closed); degenerate rings dropped. Small rings
    take a scalar fast path; the arithmetic (and thus output) is identical."""
    out = []
    for ring in rings:
        closed = np.array_equal(ring[0], ring[-1])
        if len(ring) <= _SMALL_RING:
            poly = ring[:-1] if closed else ring
            xs, ys = _clip_small(poly[:, 0].tolist(), poly[:, 1].tolist(),
                                 minx, miny, maxx, maxy)
            if len(xs) >= 3:
                xs.append(xs[0])
                ys.append(ys[0])
                out.append(np.column_stack([xs, ys]))
            continue
        poly = ring[:-1] if closed else ring
        for axis, lo, is_min in ((0, minx, True), (0, maxx, False), (1, miny, True), (1, maxy, False)):
            if len(poly) == 0:
                break
            poly = _clip_half_plane(poly, axis, lo, is_min)
        if len(poly) >= 3:
            out.append(np.vstack([poly, poly[:1]]))
    return out


def _clip_half_plane(poly: np.ndarray, axis: int, bound: float, keep_min: bool) -> np.ndarray:
    """One Sutherland-Hodgman half-plane pass, fully vectorized: output =
    kept vertices interleaved with boundary intersections at their ring
    positions (no per-vertex Python — this runs millions of times per
    render stage)."""
    v = poly[:, axis]
    inside = (v >= bound) if keep_min else (v <= bound)
    if inside.all():
        return poly
    if not inside.any():
        return np.empty((0, 2))
    nxt_inside = np.concatenate((inside[1:], inside[:1]))
    cross = inside != nxt_inside
    counts = inside.astype(np.int64) + cross
    off = np.zeros(len(poly) + 1, dtype=np.int64)
    np.cumsum(counts, out=off[1:])
    out = np.empty((int(off[-1]), 2))
    out[off[:-1][inside]] = poly[inside]
    ci = np.nonzero(cross)[0]
    cj = (ci + 1) % len(poly)
    other = 1 - axis
    t = (bound - v[ci]) / (v[cj] - v[ci])
    dest = off[:-1][ci] + inside[ci]
    out[dest, axis] = bound
    out[dest, other] = poly[ci, other] + t * (poly[cj, other] - poly[ci, other])
    return out


def clip_line_rect(coords: np.ndarray, minx, miny, maxx, maxy) -> list[np.ndarray]:
    """Clip a polyline to a rect, returning the list of inside segments (possibly
    several pieces). Matches TiledGeometry sliceX/sliceY piecewise behavior."""
    pieces = []
    cur = []
    for i in range(len(coords) - 1):
        p0, p1 = coords[i], coords[i + 1]
        seg = _clip_segment(p0, p1, minx, miny, maxx, maxy)
        if seg is None:
            if len(cur) >= 2:
                pieces.append(np.asarray(cur))
            cur = []
            continue
        a, b = seg
        if not cur:
            cur = [a]
        elif not np.allclose(cur[-1], a):
            if len(cur) >= 2:
                pieces.append(np.asarray(cur))
            cur = [a]
        cur.append(b)
    if len(cur) >= 2:
        pieces.append(np.asarray(cur))
    return pieces


def _clip_segment(p0, p1, minx, miny, maxx, maxy):
    """Liang-Barsky segment/rect clip; returns (a, b) or None."""
    x0, y0 = p0
    x1, y1 = p1
    dx, dy = x1 - x0, y1 - y0
    t0, t1 = 0.0, 1.0
    for p, q in ((-dx, x0 - minx), (dx, maxx - x0), (-dy, y0 - miny), (dy, maxy - y0)):
        if p == 0:
            if q < 0:
                return None
            continue
        r = q / p
        if p < 0:
            if r > t1:
                return None
            t0 = max(t0, r)
        else:
            if r < t0:
                return None
            t1 = min(t1, r)
    a = np.array([x0 + t0 * dx, y0 + t0 * dy])
    b = np.array([x0 + t1 * dx, y0 + t1 * dy])
    return a, b
