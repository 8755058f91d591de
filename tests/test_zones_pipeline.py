"""Polygon render path end-to-end: zones -> clip/fill/simplify -> MVT tiles.
Checks structural invariants + a pandas oracle for covered-tile sets."""

import numpy as np
import pytest

from planetiler_spark.kernels import geom as gk
from planetiler_spark.kernels import mvt
from planetiler_spark.kernels import tile_math as tm
from planetiler_spark.operators import render as R
from planetiler_spark.operators import tile_pipeline as tp
from planetiler_spark.sources import images as src


@pytest.fixture(scope="module")
def tiles(spark):
    return tp.zones_tileset(spark, min_zoom=0, max_zoom=6).collect()


def test_tile_cover_matches_oracle(spark, tiles):
    got = {}
    for r in tiles:
        got.setdefault(r.zoom, set()).add((r.x, r.y))
    # oracle: slice every zone single-threaded with the same kernel
    want = {}
    for _, row in src.zones_pdf().iterrows():
        typ, rings = gk.parse_wkb(row["wkb"])
        for z in range(0, 7):
            for tx, ty, kind, parts in R.slice_polygon(rings, z):
                want.setdefault(z, set()).add((int(tx), int(ty)))
    assert got == want


def test_polygons_decode_valid(spark, tiles):
    n_fill = n_poly = 0
    for r in tiles[:200]:
        decoded = mvt.decode_tile(bytes(r.tile_bytes))
        assert list(decoded) == ["zones"]
        for f in decoded["zones"]:
            assert f["type"] == mvt.GEOM_POLYGON
            assert f["attrs"]["kind"] in src.ZONE_KINDS
            for ring in f["geometry"]:
                assert len(ring) >= 4  # closed ring
            ext = max(abs(int(v)) for ring in f["geometry"] for v in ring.ravel())
            assert ext <= mvt.EXTENT + 4096 // 4  # within tile+buffer
            is_fill = (len(f["geometry"]) == 1 and len(f["geometry"][0]) == 5
                       and f["geometry"][0].min() < 0)
            n_fill += is_fill
            n_poly += 1
    assert n_poly > 0


def test_fill_tiles_exist_at_high_zoom(spark, tiles):
    # zones are ~0.01-0.04 world units; at z6 wholly-interior tiles exist
    by_zoom = {}
    for r in tiles:
        decoded = mvt.decode_tile(bytes(r.tile_bytes))
        for f in decoded["zones"]:
            g = f["geometry"]
            if len(g) == 1 and len(g[0]) == 5 and g[0].min() < 0:
                by_zoom[r.zoom] = by_zoom.get(r.zoom, 0) + 1
    assert sum(by_zoom.values()) > 0, "no interior fill tiles emitted"


def test_holes_preserved(spark, tiles):
    # zones 0..3 have holes; some tile should contain a 2-ring polygon
    multi_ring = 0
    for r in tiles:
        decoded = mvt.decode_tile(bytes(r.tile_bytes))
        for f in decoded["zones"]:
            if f["attrs"]["zone_id"] in {"zone0000", "zone0001", "zone0002", "zone0003"}:
                if len(f["geometry"]) >= 2:
                    multi_ring += 1
    assert multi_ring > 0


def test_zones_output_total_order(spark, tiles):
    """The analytic range-token exchange must leave the tileset in total
    zoom-major Hilbert order without any repartitionByRange downstream."""
    hid = np.array([r.hilbert_id for r in tiles], dtype=np.int64)
    assert np.all(np.diff(hid) > 0)
    want = tm.hilbert_encode(np.array([r.x for r in tiles]),
                             np.array([r.y for r in tiles]),
                             np.array([r.zoom for r in tiles]))
    assert hid.tolist() == want.tolist()


def zones_tiles_digest(rows):
    """(tiles, sha256 over per-tile (hilbert_id, n_features,
    sha256(tile_bytes)) lines in Hilbert order)."""
    import hashlib

    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: r.hilbert_id):
        h.update(f"{r.hilbert_id} {r.n_features} "
                 f"{hashlib.sha256(bytes(r.tile_bytes)).hexdigest()}\n".encode())
    return len(rows), h.hexdigest()


# zones_tileset(spark, 0, 7, n_zones=64), recorded from the row exchange the
# bucket-packed tile exchange replaced.
ZONES_TILES = 2881
ZONES_SHA256 = \
    "abc87b55592a7966d30766891f23058032fbb46ac2559893b6e1781ba9c7ef37"


@pytest.mark.parametrize("partitions", [4, 9])
def test_zones_tiles_bytes_pinned(spark, shuffle_partitions, partitions):
    shuffle_partitions(partitions)
    rows = tp.zones_tileset(spark, 0, 7, n_zones=64).collect()
    assert zones_tiles_digest(rows) == (ZONES_TILES, ZONES_SHA256)
