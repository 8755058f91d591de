"""Deterministic synthetic `images` + `zones` fixtures (FIXTURES.md §1-2).

Input shape per BASELINE.json input_hint:
  images(image_id:string, bytes:binary, w:int, h:int, fmt:string, caption:string, phash:long)

The geo-anchor is NOT stored — both the engine and the oracle derive it from
`phash` with the identical integer-mixing rules below, so results can never
drift. 20% of rows are pulled into 8 "city" hotspots to create the dense-tile
skew the north rule requires handling.

Generation is distributed (`spark.range(n) -> mapInPandas`) so the same code
path scales from 10^4 pytest rows to the 10^12-row production shape; a pandas
variant (`images_pdf`) feeds the single-threaded oracle.

Reference analog: the reference synthesizes in-memory test worlds in
PlanetilerTests.java:82-180; this module plays that role for the graft.
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pandas as pd

from ..kernels import tile_math as tm
from ..kernels import geom as gk
from ..kernels import image as ik

_U64 = np.uint64
_GOLDEN = _U64(0x9E3779B97F4A7C15)

# 8 deterministic "city" hotspot centers (lon, lat)
CITY_CENTERS = np.array([
    (-74.0060, 40.7128),   # New York
    (2.3522, 48.8566),     # Paris
    (139.6917, 35.6895),   # Tokyo
    (-0.1278, 51.5074),    # London
    (116.4074, 39.9042),   # Beijing
    (-46.6333, -23.5505),  # Sao Paulo
    (151.2093, -33.8688),  # Sydney
    (77.2090, 28.6139),    # Delhi
])
CITY_SIGMA_DEG = 0.02
HOTSPOT_FRACTION = 0.2
DEFAULT_SIZE = 64
BIG_SIZE = 128  # every 10th image, exercises variable sizes
FMT_CYCLE = ("png", "png", "jpeg", "png")  # 75% lossless


def splitmix64(x) -> np.ndarray:
    """SplitMix64 mix of int64/uint64 array -> uint64 (deterministic everywhere)."""
    z = np.asarray(x).astype(_U64) + _GOLDEN
    z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
    return z ^ (z >> _U64(31))


def _unit(u64: np.ndarray) -> np.ndarray:
    """uint64 -> float64 uniform in [0,1)."""
    return (u64 >> _U64(11)).astype(np.float64) / float(1 << 53)


def phash_of(i) -> np.ndarray:
    """phash column: splitmix64(i) reinterpreted as int64 (FIXTURES.md §1)."""
    return splitmix64(i).astype(np.int64)


def anchor_world(phash: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Derive the (worldX, worldY) geo-anchor from phash. worldY uniform ==
    inverse-mercator-uniform latitude, so the tile pyramid is uniformly loaded;
    20% of rows snap to gaussian city hotspots (skew)."""
    h = np.asarray(phash).astype(_U64)
    u_x = _unit(splitmix64(h ^ _U64(0xA5A5A5A5A5A5A5A5)))
    u_y = _unit(splitmix64(h ^ _U64(0x5A5A5A5A5A5A5A5A)))
    u_sel = _unit(splitmix64(h ^ _U64(0xC3C3C3C3C3C3C3C3)))
    wx = u_x
    wy = u_y * 0.98 + 0.01  # keep clear of the mercator clamp edges

    hot = u_sel < HOTSPOT_FRACTION
    if hot.any():
        city = (splitmix64(h ^ _U64(0x0F0F0F0F0F0F0F0F)) % _U64(len(CITY_CENTERS))).astype(np.int64)
        u1 = np.maximum(_unit(splitmix64(h ^ _U64(0x1111111111111111))), 1e-12)
        u2 = _unit(splitmix64(h ^ _U64(0x2222222222222222)))
        r = np.sqrt(-2.0 * np.log(u1)) * CITY_SIGMA_DEG
        dlon = r * np.cos(2 * np.pi * u2)
        dlat = r * np.sin(2 * np.pi * u2)
        lon = CITY_CENTERS[city, 0] + dlon
        lat = CITY_CENTERS[city, 1] + dlat
        wx = np.where(hot, tm.get_world_x(lon), wx)
        wy = np.where(hot, tm.get_world_y(lat), wy)
    return wx, wy


def anchor_lonlat(phash: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    wx, wy = anchor_world(phash)
    return tm.get_world_lon(wx), tm.get_world_lat(wy)


def _pixels(i: int, w: int, h: int) -> np.ndarray:
    """pixel(x,y,c) = (i*7919 + x*31 + y*17 + c*11) % 256 (FIXTURES.md §1)."""
    x = np.arange(w, dtype=np.int64) * 31
    y = np.arange(h, dtype=np.int64) * 17
    c = np.arange(3, dtype=np.int64) * 11
    return ((i * 7919 + x[None, :, None] + y[:, None, None] + c[None, None, :]) % 256).astype(np.uint8)


def images_batch(ids: np.ndarray, with_bytes: bool = True) -> pd.DataFrame:
    """Generate one deterministic batch of image rows for integer ids."""
    ids = np.asarray(ids, dtype=np.int64)
    ph = phash_of(ids)
    wx, wy = anchor_world(ph)
    tx, ty = tm.tile_of_world(wx, wy, 14)
    big = ids % 10 == 9
    w = np.where(big, BIG_SIZE, DEFAULT_SIZE).astype(np.int32)
    h = w.copy()
    fmts = [FMT_CYCLE[int(i) % len(FMT_CYCLE)] for i in ids]
    captions = [f"caption for img{int(i)} at tile 14/{int(x)}/{int(y)}"
                for i, x, y in zip(ids, tx, ty)]
    if with_bytes:
        blobs = [ik.encode_image(_pixels(int(i), int(wi), int(hi)), f)
                 for i, wi, hi, f in zip(ids, w, h, fmts)]
    else:
        blobs = [b""] * len(ids)
    return pd.DataFrame({
        "image_id": [f"img{int(i):012d}" for i in ids],
        "bytes": blobs,
        "w": w,
        "h": h,
        "fmt": fmts,
        "caption": captions,
        "phash": ph,
    })


IMAGES_SCHEMA = "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"


def images_df(spark, n: int, partitions: int = 64, with_bytes: bool = True):
    """Distributed deterministic images table: spark.range -> mapInPandas.
    Partitioned by `bucket(phash, partitions)` downstream (checkpoint unit)."""
    def gen(batches):
        for pdf in batches:
            yield images_batch(pdf["id"].to_numpy(), with_bytes=with_bytes)

    return spark.range(0, n, numPartitions=partitions).mapInPandas(gen, IMAGES_SCHEMA)


FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".fixtures")
# bump when images_batch / the codecs change what the stored rows contain
# (v2: jpeg encoder's DCT switched from einsum to matmul — FP association
# order can flip rint ties, so stored jpeg bytes may differ; v3: jpegs carry
# DRI restart intervals so the lockstep batch decoder gets short streams)
FIXTURE_VERSION = 3


def images_table(spark, n: int, partitions: int = 64, with_bytes: bool = True):
    """The images input as a STORED table (BASELINE.json input_hint: the input
    is a table of image+caption rows — e.g. Iceberg/parquet — not a generator).
    Materializes images_df once under .fixtures/ and reads it back, so queries
    and benches measure the engine, not fixture synthesis + jpeg encode
    (tools/bench_scaling.py has always done this for the scaling evidence).
    Read partitioning is bumped back to `partitions` when Spark's file
    bin-packing would collapse a small table into too few splits."""
    key = f"images_v{FIXTURE_VERSION}_n{n}_b{int(with_bytes)}"
    path = os.path.join(FIXTURE_DIR, key)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (images_df(spark, n, partitions=partitions, with_bytes=with_bytes)
         .write.mode("overwrite").parquet(path))
    df = spark.read.parquet(path)
    if df.rdd.getNumPartitions() < partitions:
        df = df.repartition(partitions)
    return df


# ---------------------------------------------------------------------------
# zones — broadcastable polygon table (FIXTURES.md §2)
# ---------------------------------------------------------------------------

ZONE_KINDS = ("park", "water", "admin", "landuse")
N_ZONES = 512


def _convex_hull(pts: np.ndarray) -> np.ndarray:
    """Andrew monotone chain; returns closed CCW ring."""
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

    def half(points):
        out = []
        for p in points:
            while len(out) >= 2 and np.cross(out[-1] - out[-2], p - out[-2]) <= 0:
                out.pop()
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    hull = np.array(lower[:-1] + upper[:-1])
    return np.vstack([hull, hull[:1]])


@functools.lru_cache(maxsize=4)
def zones_pdf(n_zones: int = N_ZONES) -> pd.DataFrame:
    """n_zones convex polygons around seeded sites (+8 overlapping, +4 with
    holes), in world coordinates. Small enough to broadcast, like the
    reference's in-memory STRtree (PolygonIndex.java:24). The default 512
    is the fixture size; benchmarks pass thousands (planet-scale zone tables
    are ~100k polygons)."""
    rng = np.random.default_rng(42)
    sites = rng.uniform(0.05, 0.95, size=(n_zones, 2))
    rows = []
    for k in range(n_zones):
        radius = rng.uniform(0.004, 0.018)
        pts = sites[k] + rng.normal(0, radius, size=(14, 2))
        shell = _convex_hull(pts)
        rings = [shell]
        if k < 4:  # 4 polygons with holes
            hole_r = radius * 0.2
            ang = np.linspace(0, 2 * np.pi, 9)
            hole = np.stack([sites[k, 0] + hole_r * np.cos(ang), sites[k, 1] + hole_r * np.sin(ang)], axis=1)
            rings.append(hole)
        rows.append((f"zone{k:04d}", gk.wkb_polygon(rings), ZONE_KINDS[k % 4]))
    # 8 deliberately overlapping polygons: duplicate sites of the first 8 shifted slightly
    for j in range(8):
        k = n_zones + j
        radius = 0.012
        pts = sites[j] + np.array([0.004, 0.0]) + rng.normal(0, radius, size=(14, 2))
        rows.append((f"zone{k:04d}", gk.wkb_polygon([_convex_hull(pts)]), ZONE_KINDS[k % 4]))
    return pd.DataFrame(rows, columns=["zone_id", "wkb", "kind"])


def rect_zone_coords(n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Deterministic DYADIC rectangle zones (x0, y0, x1, y1 world coords) for
    the oracle-backed zones_tileset gate row. Every coordinate is an integer
    multiple of 2^-20, so (a) repr(float) VALUES round-trip exactly into the
    DuckDB replay, and (b) any non-zero distance between a scaled rect edge
    and a buffered tile boundary is >= 2^-20 * 2^z >> the encoder's 1e-9
    full-cover area tolerance — exact coordinate equality IS the fill test.
    Sides >= 2^12/2^20 ~ 0.004 world units keep DP simplification from ever
    touching a corner at z0 (corner deviation >= side/sqrt(2) ~ 7x the
    0.1/256 tolerance), so the sliced geometry is exactly the rect."""
    x0i, y0i, x1i, y1i = rect_zone_ints(n)
    q = float(1 << 20)
    return (x0i.astype(np.float64) / q, y0i.astype(np.float64) / q,
            x1i.astype(np.float64) / q, y1i.astype(np.float64) / q)


def rect_zone_ints(n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Integer 2^-20-unit numerators of the rect-zone coordinates — what the
    oracle inlines as VALUES (integer literals divide exactly by 1048576.0 in
    DuckDB; float literals would parse as DECIMAL and overflow/diverge)."""
    i = np.arange(n, dtype=np.int64)
    x0i = (_U64(53248) + splitmix64(i ^ np.int64(0x51)) % _U64(901120))
    y0i = (_U64(53248) + splitmix64(i ^ np.int64(0x52)) % _U64(901120))
    wi = (_U64(4200) + splitmix64(i ^ np.int64(0x53)) % _U64(37000))
    hi = (_U64(4200) + splitmix64(i ^ np.int64(0x54)) % _U64(37000))
    return x0i, y0i, x0i + wi, y0i + hi


def rect_zones_pdf(n: int) -> pd.DataFrame:
    """Rect-zone fixture table (zone_id, wkb, kind) — same schema as
    zones_pdf, consumed by the full zones render+encode pipeline."""
    x0, y0, x1, y1 = rect_zone_coords(n)
    rows = []
    for k in range(n):
        ring = np.array([[x0[k], y0[k]], [x1[k], y0[k]], [x1[k], y1[k]],
                         [x0[k], y1[k]], [x0[k], y0[k]]])
        rows.append((f"rect{k:04d}", gk.wkb_polygon([ring]), ZONE_KINDS[k % 4]))
    return pd.DataFrame(rows, columns=["zone_id", "wkb", "kind"])


def _mix1(g: int, salt: int) -> int:
    return int(splitmix64(np.array([g], dtype=np.int64) ^ np.int64(salt))[0])


def merge_line_segments(n_groups: int) -> list[tuple]:
    """Deterministic per-tile LINE-MERGE fixture for the oracle-backed
    tile_feature_merge gate row: each group is one (tile, zone_id) whose
    segments are an axis-parallel integer staircase path with ~25% of the
    steps removed. Properties that make the merge outcome closed-form:
    endpoints are exact integers (touching is exact), max endpoint degree is
    2 and the walk is strictly monotone (no loops, no accidental
    coincidences), and every segment is axis-parallel so lengths are exact
    integers (sqrt of a perfect square). Merged-stroke count per group =
    segments - interior joins (endpoint-degree argument) = runs of kept
    steps. Returns (gid, tile_id, zone_id, x0, y0, x1, y1) tuples."""
    rows = []
    for g in range(n_groups):
        tid = int(tm.tile_encode(_mix1(g, 1) % 64, _mix1(g, 2) % 64, 6))
        m = 6 + _mix1(g, 3) % 7
        x = 256 + _mix1(g, 4) % 512
        y = 256 + _mix1(g, 5) % 512
        for i in range(m):
            step = 16 + _mix1(g * 64 + i, 7) % 65
            nx, ny = (x + step, y) if i % 2 == 0 else (x, y + step)
            if _mix1(g * 64 + i, 9) % 4 != 0:
                rows.append((g, tid, f"g{g:04d}", x, y, nx, ny))
            x, y = nx, ny
    return rows


_POLY_CLUSTER_SLOTS = ((256, 256), (256, 2304), (2304, 256), (2304, 2304))


def merge_poly_rects(n_groups: int) -> list[tuple]:
    """Deterministic POLYGON-UNION fixture: each group is one (tile, kind)
    holding 1-4 clusters of 1-4 chained rectangles. Consecutive chain rects
    overlap by 64 EXTENT units and clusters sit >= 1400 units apart — both
    far beyond the raster union's ~8.25-unit pixel at grid=512, so the union
    merges exactly the overlap graph's connected components (one output ring
    per cluster, no holes by construction). Returns
    (gid, tile_id, kind, rid, x0, y0, x1, y1) tuples."""
    rows = []
    for g in range(n_groups):
        t = g // 4
        tid = int(tm.tile_encode(t % 64, (t // 64) % 64, 6))
        kind = ZONE_KINDS[g % 4]
        rid = 0
        for c in range(1 + _mix1(g, 11) % 4):
            bx, by = _POLY_CLUSTER_SLOTS[c]
            for j in range(1 + _mix1(g * 8 + c, 13) % 4):
                rows.append((g, tid, kind, rid,
                             bx + 96 * j, by, bx + 96 * j + 160, by + 128))
                rid += 1
    return rows


def merge_line_fixture_pdf(n_groups: int) -> pd.DataFrame:
    """merge_line_segments as engine line-feature rows (merge.py
    LINE_FEATURES_SCHEMA: packed 2-point parts at scale 0)."""
    segs = merge_line_segments(n_groups)
    tids = np.array([t for _, t, *_ in segs], dtype=np.int64)
    return pd.DataFrame({
        "key": [int(tm.encode_sort_key(t, 2, 0, 0)) for t in tids],
        "tile_id": tids,
        "zoom": np.full(len(segs), 6, dtype=np.int32),
        "zone_id": [z for _, _, z, *_ in segs],
        "kind": [ZONE_KINDS[g % 4] for g, *_ in segs],
        "scale": np.zeros(len(segs), dtype=np.int32),
        "parts": [gk.pack_parts([np.array([[r[3], r[4]], [r[5], r[6]]],
                                          dtype=np.int64)]) for r in segs],
        "hilbert_id": tm.hilbert_encode(*tm.tile_decode(tids)),
    })


def merge_poly_fixture_pdf(n_groups: int) -> pd.DataFrame:
    """merge_poly_rects as engine zone-fragment rows (tile_pipeline
    ZONE_FEATURES_COLS: packed rect rings, no fills)."""
    rects = merge_poly_rects(n_groups)
    tids = np.array([t for _, t, *_ in rects], dtype=np.int64)

    def ring(r):
        x0, y0, x1, y1 = r[4], r[5], r[6], r[7]
        return gk.pack_parts([np.array(
            [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]],
            dtype=np.int64)])

    return pd.DataFrame({
        "key": [int(tm.encode_sort_key(t, 1, 0, 0)) for t in tids],
        "tile_id": tids,
        "zoom": np.full(len(rects), 6, dtype=np.int32),
        "zone_id": [f"g{g:04d}" for g, *_ in rects],
        "kind": [k for _, _, k, *_ in rects],
        "fill": np.zeros(len(rects), dtype=bool),
        "parts": [ring(r) for r in rects],
        "hilbert_id": tm.hilbert_encode(*tm.tile_decode(tids)),
    })


@functools.lru_cache(maxsize=4)
def zones_index(n_zones: int = N_ZONES) -> gk.PolygonIndex:
    pdf = zones_pdf(n_zones)
    ids, polys = [], []
    for zid, wkb in zip(pdf["zone_id"], pdf["wkb"]):
        typ, rings = gk.parse_wkb(wkb)
        assert typ == "polygon"
        ids.append(zid)
        polys.append(rings)
    return gk.PolygonIndex(ids=ids, polys=polys)
