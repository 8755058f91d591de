"""Render stage: slice features into per-tile fragments, vectorized.

Reference semantics (per-zoom render loop render/FeatureRenderer.java:62-111;
slicing render/TiledGeometry.java:71-600):

  - points duplicate into neighbor tiles whose buffer zone they fall in
    (TiledGeometry.slicePoint:245-260); buffer default 4px/256
  - polygons/lines: covered-tile enumeration from the scaled bbox, then
    rect-clip per tile with buffer (sliceX:406/sliceY:502, here Sutherland-
    Hodgman over the same linear interpolation), DP simplify per zoom
    (FeatureRenderer default pipeline :107), round to the 4096 tile grid
  - tiles whose clip equals the full buffered rect are "filled" interiors ->
    emitted as constant fill rows, no geometry carried
    (FeatureRenderer.emitFilledTiles:290-315)
  - x wraps at the antimeridian (sliceWorldCopy:332-360), y clamps

All functions are numpy-vectorized and run inside Arrow-batched
mapInPandas/pandas UDFs — no per-row Python in the Spark hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..kernels import geom as gk
from ..kernels import mvt
from ..kernels import tile_math as tm

BUFFER_PX = 4.0  # FeatureCollector default bufferPixels
BUFFER_TILE = BUFFER_PX / 256.0
EXTENT = mvt.EXTENT
SIMPLIFY_TOL_PX = 0.1  # PlanetilerConfig simplifyTolerance default
NEIGHBOR_BUFFER_EPS = 0.1 / 4096  # TiledGeometry.java:74


def slice_points(wx: np.ndarray, wy: np.ndarray, zoom: int,
                 buffer_tile: float = BUFFER_TILE):
    """Vectorized point slicing at one zoom.

    Returns (row_idx, tile_x, tile_y, ex, ey): one output per (point, tile)
    incl. neighbor-buffer duplicates; (ex, ey) are tile-local EXTENT coords
    relative to that tile (may fall outside [0, EXTENT] in the buffer).
    """
    n = 1 << zoom
    sx = np.asarray(wx, dtype=np.float64) * n
    sy = np.asarray(wy, dtype=np.float64) * n
    tx = np.clip(np.floor(sx).astype(np.int64), 0, n - 1)
    ty = np.clip(np.floor(sy).astype(np.int64), 0, n - 1)
    fx = sx - tx
    fy = sy - ty
    rows, utxs, utys = [], [], []
    eps = buffer_tile + NEIGHBOR_BUFFER_EPS
    for dx in (-1, 0, 1):
        if dx == -1:
            mx = fx < eps
        elif dx == 1:
            mx = fx > 1.0 - eps
        else:
            mx = np.ones(len(sx), dtype=bool)
        for dy in (-1, 0, 1):
            if dy == -1:
                my = fy < eps
            elif dy == 1:
                my = fy > 1.0 - eps
            else:
                my = np.ones(len(sy), dtype=bool)
            m = mx & my
            nty = ty + dy
            if dy != 0:
                m = m & (nty >= 0) & (nty < n)  # y clamps off the map
            sel = np.nonzero(m)[0]
            rows.append(sel)
            utxs.append(tx[sel] + dx)  # unwrapped; x wraps below (antimeridian)
            utys.append(nty[sel])
    row_idx = np.concatenate(rows)
    utx = np.concatenate(utxs)
    out_ty = np.concatenate(utys)
    # extent coords are relative to the UNWRAPPED neighbor (adjacent square);
    # the emitted tile x wraps modulo 2^z (TiledGeometry.sliceWorldCopy:332).
    ex = np.round((sx[row_idx] - utx) * EXTENT).astype(np.int64)
    ey = np.round((sy[row_idx] - out_ty) * EXTENT).astype(np.int64)
    out_tx = np.mod(utx, n)
    return row_idx, out_tx, out_ty, ex, ey


def _covered_range(lo: float, hi: float, n: int, buffer_tile: float):
    t0 = int(np.floor(lo - buffer_tile))
    t1 = int(np.floor(hi + buffer_tile))
    return max(t0, 0), min(t1, n - 1)


def _touched_cells(rings: list[np.ndarray], tx0: int, ty0: int,
                   rows: int, cols: int, eps: float) -> np.ndarray:
    """Bool (rows, cols) grid of cells whose BUFFERED rect may intersect a
    ring edge. Rasterized by sampling each edge at <=0.45-cell steps and
    marking each sample cell's 3x3 neighborhood — a guaranteed superset for
    eps < ~0.3 cell (the nearest sample to any touched cell is within
    eps + step/2 < 1 cell chebyshev), with none of the quadratic overcount
    an edge-bbox rasterization has on long diagonal edges. Conservative
    overcount is fine: extra boundary cells just take the exact-clip path."""
    touched = np.zeros((rows, cols), dtype=bool)
    for ring in rings:
        xa, ya = ring[:-1, 0], ring[:-1, 1]
        xb, yb = ring[1:, 0], ring[1:, 1]
        span = np.maximum(np.abs(xb - xa), np.abs(yb - ya))
        ns = np.maximum(np.ceil(span / 0.45).astype(np.int64) + 1, 2)
        cum = np.zeros(len(ns) + 1, dtype=np.int64)
        np.cumsum(ns, out=cum[1:])
        eidx = np.repeat(np.arange(len(xa)), ns)
        t = (np.arange(cum[-1]) - cum[:-1][eidx]) / (ns[eidx] - 1)
        px = xa[eidx] + t * (xb - xa)[eidx]
        py = ya[eidx] + t * (yb - ya)[eidx]
        cx = np.floor(px).astype(np.int64) - tx0
        cy = np.floor(py).astype(np.int64) - ty0
        for dx in (-1, 0, 1):
            gx = np.clip(cx + dx, 0, cols - 1)
            for dy in (-1, 0, 1):
                touched[np.clip(cy + dy, 0, rows - 1), gx] = True
    return touched


def slice_polygon(rings: list[np.ndarray], zoom: int,
                  buffer_tile: float = BUFFER_TILE,
                  tol_px: float = SIMPLIFY_TOL_PX):
    """Slice one world-coordinate polygon into per-tile fragments at a zoom.

    Cost shape (matches TiledGeometry's design intent): DP-simplify runs ONCE
    on the zoom-scaled geometry (FeatureRenderer.java:107 simplifies BEFORE
    slicing), then cells are classified vectorized — only cells touched by a
    ring edge pay the exact Sutherland-Hodgman clip; every untouched cell is
    resolved by ONE batched point-in-polygon call on the cell centers
    (interior -> fill row with no geometry, the run-length interior emission
    of TiledGeometry:84,:701; exterior -> skipped).

    Yields (tile_x, tile_y, kind, parts) where kind is "fill" (interior tile,
    parts=None — caller emits the constant fill square) or "clip"
    (parts = list of int (N,2) EXTENT-coordinate rings).
    """
    n = 1 << zoom
    tol_tile = tol_px / 256.0
    scaled = []
    for r in rings:
        simp = gk.simplify_dp(r * n, tol_tile, is_ring=True)
        if len(simp) >= 4:
            scaled.append(simp)
    if not scaled:
        return
    shell = scaled[0]
    sx0, sy0 = float(shell[:, 0].min()), float(shell[:, 1].min())
    sx1, sy1 = float(shell[:, 0].max()), float(shell[:, 1].max())
    tx0, tx1 = _covered_range(sx0, sx1, n, buffer_tile)
    ty0, ty1 = _covered_range(sy0, sy1, n, buffer_tile)
    if tx1 < tx0 or ty1 < ty0:
        return
    rows, cols = ty1 - ty0 + 1, tx1 - tx0 + 1
    touched = _touched_cells(scaled, tx0, ty0, rows, cols,
                             buffer_tile + NEIGHBOR_BUFFER_EPS)

    # untouched cells: fill iff the center is inside (no edge crosses them)
    uty, utx = np.nonzero(~touched)
    if len(utx):
        inside = gk.points_in_polygon(tx0 + utx + 0.5, ty0 + uty + 0.5, scaled)
        for k in np.nonzero(inside)[0]:
            yield int(tx0 + utx[k]), int(ty0 + uty[k]), "fill", None

    full_area = (1.0 + 2 * buffer_tile) ** 2
    bty, btx = np.nonzero(touched)
    for k in range(len(btx)):
        tx = int(tx0 + btx[k])
        ty = int(ty0 + bty[k])
        minx, miny = tx - buffer_tile, ty - buffer_tile
        maxx, maxy = tx + 1 + buffer_tile, ty + 1 + buffer_tile
        clipped = gk.clip_polygon_rect(scaled, minx, miny, maxx, maxy)
        if not clipped:
            continue
        area = sum(abs(gk.ring_signed_area(r)) for r in clipped[:1]) - \
            sum(abs(gk.ring_signed_area(r)) for r in clipped[1:])
        if len(clipped) == 1 and abs(area - full_area) < 1e-9:
            yield tx, ty, "fill", None
            continue
        parts = []
        for ring in clipped:
            snapped = np.round((ring - (tx, ty)) * EXTENT).astype(np.int64)
            # drop consecutive duplicates introduced by snapping
            keep = np.ones(len(snapped), dtype=bool)
            keep[1:] = np.any(np.diff(snapped, axis=0) != 0, axis=1)
            snapped = snapped[keep]
            if len(snapped) >= 3:
                if not np.array_equal(snapped[0], snapped[-1]):
                    snapped = np.vstack([snapped, snapped[:1]])
                if len(snapped) >= 4:
                    parts.append(snapped)
        if parts:
            yield tx, ty, "clip", parts


LINE_SCALE_BITS_MAX = 31 - 14  # FeatureRenderer.java:268 overflow cap


def line_scale_bits(zoom: int, max_zoom: int = 14) -> int:
    """Extra precision bits for line storage at a zoom
    (FeatureRenderer.java:262-269): lines keep up to 2^17 sub-extent
    precision until AFTER merge so rounding can't introduce artificial
    endpoint intersections; FeatureGroup unscales on emit (:216-220)."""
    return max(0, min(LINE_SCALE_BITS_MAX, max(max_zoom, 14) - zoom))


def slice_line(coords: np.ndarray, zoom: int,
               buffer_tile: float = BUFFER_TILE,
               tol_px: float = SIMPLIFY_TOL_PX,
               min_len_px: float = 1.0,
               scale_bits: int = 0):
    """Slice one world-coordinate linestring into per-tile pieces at a zoom.
    Skips the zoom entirely if the line is below min_len_px on screen
    (FeatureRenderer.java:71-95 cheap prefilter).

    Yields (tile_x, tile_y, parts) with parts = list of int (N,2) coords in
    EXTENT << scale_bits units (scale_bits > 0 keeps the reference's extra
    line precision through merge — see line_scale_bits).
    """
    n = 1 << zoom
    scaled = np.asarray(coords, dtype=np.float64) * n
    if gk.line_length(scaled) * 256.0 < min_len_px:
        return
    scaled = gk.simplify_dp(scaled, tol_px / 256.0)  # once per zoom, pre-slice
    sx0, sy0 = scaled[:, 0].min(), scaled[:, 1].min()
    sx1, sy1 = scaled[:, 0].max(), scaled[:, 1].max()
    tx0, tx1 = _covered_range(float(sx0), float(sx1), n, buffer_tile)
    ty0, ty1 = _covered_range(float(sy0), float(sy1), n, buffer_tile)
    rows, cols = ty1 - ty0 + 1, tx1 - tx0 + 1
    # lines never fill: only edge-touched cells can hold pieces at all
    touched = _touched_cells([scaled], tx0, ty0, rows, cols,
                             buffer_tile + NEIGHBOR_BUFFER_EPS)
    bty, btx = np.nonzero(touched)
    for k in range(len(btx)):
        tx = int(tx0 + btx[k])
        ty = int(ty0 + bty[k])
        pieces = gk.clip_line_rect(
            scaled, tx - buffer_tile, ty - buffer_tile,
            tx + 1 + buffer_tile, ty + 1 + buffer_tile)
        parts = []
        ext = EXTENT << scale_bits
        for piece in pieces:
            snapped = np.round((piece - (tx, ty)) * ext).astype(np.int64)
            keep = np.ones(len(snapped), dtype=bool)
            keep[1:] = np.any(np.diff(snapped, axis=0) != 0, axis=1)
            snapped = snapped[keep]
            if len(snapped) >= 2:
                parts.append(snapped)
        if parts:
            yield tx, ty, parts


def render_points_pdf(pdf: pd.DataFrame, wx: np.ndarray, wy: np.ndarray,
                      zooms: range, layer: int,
                      sort_key: np.ndarray | None = None) -> pd.DataFrame:
    """Explode a batch of point rows across zooms into the sorted-KV model:
    one output row per (feature, zoom, tile) with the 64-bit feature key
    (FeatureGroup.encodeKey:176-180) and the tile's PMTiles Hilbert id
    (TileCoord.hilbertEncoded:158-161), taken from the slice's own (x, y)."""
    if sort_key is None:
        sort_key = np.zeros(len(pdf), dtype=np.int64)
    outs = []
    for z in zooms:
        idx, txs, tys, ex, ey = slice_points(wx, wy, z)
        tile_id = tm.tile_encode(txs, tys, z)
        key = tm.encode_sort_key(tile_id, layer, sort_key[idx], 0)
        out = pd.DataFrame({
            "key": key,
            "tile_id": tile_id,
            "zoom": np.full(len(idx), z, dtype=np.int32),
            "ex": ex,
            "ey": ey,
            "hilbert_id": tm.ZOOM_START_INDEX[z] + tm.hilbert_xy_to_index(z, txs, tys),
        })
        out["feature_id"] = pdf.index.to_numpy()[idx]
        outs.append(out)
    if not outs:
        return pd.DataFrame(columns=["key", "tile_id", "zoom", "ex", "ey",
                                     "hilbert_id", "feature_id"])
    return pd.concat(outs, ignore_index=True)
