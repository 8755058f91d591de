"""Distributed per-tile line merge: slicing a ring into pieces then merging
within each tile must preserve total length and reduce piece counts
(FeatureMerge.mergeLineStrings semantics)."""

import pytest

from planetiler_spark.operators import merge as mg


@pytest.fixture(scope="module")
def merged(spark):
    feats = mg.render_boundary_lines(spark, min_zoom=5, max_zoom=6)
    return mg.merge_tile_lines(feats).collect()


def test_length_preserved(merged):
    assert len(merged) > 0
    for r in merged:
        assert r.len_after == pytest.approx(r.len_before, rel=1e-6), \
            f"length changed in tile {r.tile_id} zone {r.zone_id}"


def test_merge_reduces_pieces(merged):
    assert all(r.n_merged <= r.n_pieces for r in merged)
    # at least some tiles actually merge multiple pieces into fewer strokes
    assert any(r.n_merged < r.n_pieces for r in merged)


def test_single_boundary_in_interior_tile(merged):
    # a tile fully containing a small zone's boundary gets exactly 1 stroke
    singles = [r for r in merged if r.n_pieces >= 2 and r.n_merged == 1]
    assert len(singles) > 0


def test_merge_points_by_attrs(spark):
    """mergeMultiPoint semantics (FeatureMerge.mergeMultiPoint): same-attr
    points within a tile collapse into one multipoint row; counts and
    coordinate sums verify membership exactly."""
    rows = [
        # tile 1: two 'poi' points + one 'shop' point
        (1, "poi", 10, 20), (1, "poi", 30, 40), (1, "shop", 5, 5),
        # tile 2: one 'poi'
        (2, "poi", 7, 9),
    ]
    df = spark.createDataFrame(rows, "tile_id long, kind string, ex long, ey long")
    got = {(r.tile_id, r.kind): (r.n_points, r.sum_x, r.sum_y)
           for r in mg.merge_points_by_attrs(df, ["kind"]).collect()}
    assert got == {
        (1, "poi"): (2, 40, 60),
        (1, "shop"): (1, 5, 5),
        (2, "poi"): (1, 7, 9),
    }


def test_merge_tile_polygons_area_invariants(spark):
    from planetiler_spark.operators import tile_pipeline as tp
    feats = tp.render_zone_features(spark, min_zoom=4, max_zoom=5)
    merged = mg.merge_tile_polygons(feats).collect()
    assert len(merged) > 0
    overlaps_collapsed = 0
    for r in merged:
        # union area can't exceed input sum (5% raster tolerance + buffer
        # area beyond the tile is included in both)
        assert r.area_out_px2 <= r.area_in_px2 * 1.05 + 1000, r
        # sub-pixel-THIN slivers legitimately vanish (same as the reference's
        # min-pixel-size drop); anything with real 2-D extent must survive
        if r.area_in_px2 > 4000:
            assert r.n_rings >= 1, r
        if r.n_input > 1 and r.area_out_px2 < r.area_in_px2 * 0.98:
            overlaps_collapsed += 1
    assert overlaps_collapsed > 0  # overlapping twins actually merged


def test_merge_tile_polygons_exact_matches_raster(spark):
    """The exact vector path (kernels/polyclip.py) against the raster
    default on the same rendered zone fragments: identical grouping keys,
    union areas within the raster path's resolution, and the exact path's
    output NEVER exceeds the input area (a hard invariant only the exact
    union can assert without tolerance)."""
    from planetiler_spark.operators import tile_pipeline as tp
    feats = tp.render_zone_features(spark, min_zoom=4, max_zoom=4)
    raster = {(r.tile_id, r.kind): r
              for r in mg.merge_tile_polygons(feats).collect()}
    exact = {(r.tile_id, r.kind): r
             for r in mg.merge_tile_polygons(feats, method="exact").collect()}
    assert raster.keys() == exact.keys()
    compared = 0
    for k, e in exact.items():
        r = raster[k]
        assert e.n_input == r.n_input
        # exact union: hard invariants, no tolerance
        assert e.area_out_px2 <= e.area_in_px2 + 1e-6, k
        if e.n_input == 1:
            assert e.area_out_px2 == pytest.approx(e.area_in_px2, rel=1e-9)
        # cross-path agreement: raster cell at grid=512 over the buffered
        # window is ~8.25 units; the discretization error scales with the
        # boundary length (~sqrt(area) for compact shapes), one cell deep
        if r.n_rings > 0 and e.n_rings > 0:
            tol = max(300.0, 12.0 * e.area_in_px2 ** 0.5
                      + 0.02 * e.area_in_px2)
            assert abs(e.area_out_px2 - r.area_out_px2) <= tol, \
                (k, e.area_out_px2, r.area_out_px2)
            compared += 1
    assert compared > 10


def rows_digest(rows):
    """(rows, sha256 over the sorted reprs of every row)."""
    import hashlib

    lines = sorted(repr(tuple(r)) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


# Sorted-row digests recorded from the row exchange the bucket-packed tile
# exchange replaced: merge_tile_lines over render_boundary_lines(5, 6), and
# merge_tile_polygons over render_zone_features(4, 5) (raster) and (4, 4)
# (exact).
MERGED_LINES = (
    6975, "c5a2ece2104cc8fa1cf665434c1858fb6f2c31fb8ed33cb7fac34f5d4a14a782")
MERGED_POLYS_RASTER = (
    2429, "4881ff6b83b42138bae50b0f0356420d246b48a4b8b29fc1a347cb1ee4bbf8c7")
MERGED_POLYS_EXACT = (
    715, "479717faa5ec18550fb12c5dae4d30b92d8c5d1c5ad38027f88cf038b7961f2f")


def test_merge_tile_lines_pinned(merged):
    assert rows_digest(merged) == MERGED_LINES


@pytest.mark.parametrize("method", ["raster", "exact"])
def test_merge_tile_polygons_pinned(spark, method):
    from planetiler_spark.operators import tile_pipeline as tp
    max_zoom = 5 if method == "raster" else 4
    feats = tp.render_zone_features(spark, min_zoom=4, max_zoom=max_zoom)
    got = rows_digest(mg.merge_tile_polygons(feats, method=method).collect())
    assert got == {"raster": MERGED_POLYS_RASTER,
                   "exact": MERGED_POLYS_EXACT}[method]
