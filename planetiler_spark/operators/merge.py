"""Per-tile feature merging — FeatureMerge re-expressed on the tile reduce.

Reference semantics (FeatureMerge.java):
  - mergeLineStrings:101-231 — per attr-group, connect touching line pieces
    into maximal strokes (LoopLineMerger), drop short stubs, min-length
    filter; output order = index of first merged element (:91-99)
  - mergeMultiPoint:116 / mergeMultiPolygon:126 — same-attr geometries
    concatenated, members ordered by hilbert index (:154-157)
  - groupByAttrs:434-439 — hash-group features by identical attrs

The line demo source is the zones' boundaries (GeoUtils.polygonToLineString
:443): rings sliced into per-tile pieces at render time, then re-merged into
contiguous strokes inside each tile — slicing+merging round-trips the
boundary length, which the tests assert.

Both merge ops are per-bucket reduces of the one tile exchange
(tile_pipeline.tile_exchange): their inputs are bucket-packed rows, as
render_boundary_lines / render_zone_features emit them or pack_rows makes
them from existing rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..kernels import geom as gk
from ..kernels import lines as lk
from ..kernels import tile_math as tm
from . import render as R
from .tile_pipeline import _packer, _record_batch, tile_exchange

LINE_FEATURES_SCHEMA = ("key long, tile_id long, zoom int, zone_id string, "
                        "kind string, scale int, parts binary, hilbert_id long")
MERGED_SCHEMA = ("tile_id long, zoom int, zone_id string, kind string, "
                 "n_pieces long, n_merged long, len_before double, len_after double")


def render_boundary_lines(spark: SparkSession, min_zoom: int = 4,
                          max_zoom: int = 7) -> DataFrame:
    """zones -> boundary linestrings (polygonToLineString) -> per-tile line
    pieces across zooms (TiledGeometry slicing, no simplification so merge
    length checks are exact). Pieces are stored at the reference's
    zoom-dependent extra precision (FeatureRenderer.java:262-269 via
    render.line_scale_bits) and only unscaled AFTER merging. Rows
    (LINE_FEATURES_SCHEMA) leave bucket-packed for the tile exchange."""
    from ..sources import images as src

    zones = spark.createDataFrame(src.zones_pdf())
    pack, schema = _packer(spark, min_zoom, max_zoom)

    def gen(batches):
        for rb in batches:
            rows = {k: [] for k in ("key", "tile_id", "zoom", "zone_id",
                                    "kind", "scale", "parts")}
            txs, tys = [], []
            for r in rb.to_pandas().itertuples(index=False):
                typ, rings = gk.parse_wkb(bytes(r.wkb))
                for z in range(min_zoom, max_zoom + 1):
                    sb = R.line_scale_bits(z, max_zoom)
                    for tx, ty, parts in R.slice_line(rings[0], z, tol_px=-1.0,
                                                      scale_bits=sb):
                        tid = int(tm.tile_encode(tx, ty, z))
                        rows["key"].append(int(tm.encode_sort_key(tid, 2, 0, 0)))
                        rows["tile_id"].append(tid)
                        rows["zoom"].append(z)
                        rows["zone_id"].append(r.zone_id)
                        rows["kind"].append(r.kind)
                        rows["scale"].append(sb)
                        rows["parts"].append(gk.pack_parts(parts))
                        txs.append(tx)
                        tys.append(ty)
            out = pd.DataFrame(rows)
            if len(out):
                out["zoom"] = out["zoom"].astype("int32")
                out["scale"] = out["scale"].astype("int32")
                out["hilbert_id"] = tm.hilbert_encode(
                    np.array(txs, dtype=np.int64), np.array(tys, dtype=np.int64),
                    out["zoom"].to_numpy())
                yield pack(out)

    return zones.repartition(16, "zone_id").mapInArrow(gen, schema)


def merge_tile_lines(feats: DataFrame, min_length: float = 0.0,
                     stub_min_length: float = 0.0) -> DataFrame:
    """Per (tile, attr-group): merge touching line pieces (bucket-packed
    LINE_FEATURES_SCHEMA rows) into strokes (mergeLineStrings semantics) —
    returns merge stats per group so results stay verifiable without
    shipping geometry."""

    def reduce_tiles(t):
        pdf = t.to_pandas()
        out = {k: [] for k in ("tile_id", "zoom", "zone_id", "kind",
                               "n_pieces", "n_merged", "len_before", "len_after")}
        for (tid, zid), grp in pdf.groupby(["tile_id", "zone_id"], sort=True):
            # merge at the stored extra precision (touching endpoints connect
            # at exact scaled integers), unscale only afterwards — the
            # FeatureGroup.java:216-220 unscale-after-merge contract
            sb = int(grp["scale"].iloc[0]) if "scale" in grp else 0
            unscale = float(1 << sb)
            pieces = []
            for buf in grp["parts"]:
                pieces.extend(p.astype(np.float64) / unscale
                              for p in gk.unpack_parts(bytes(buf)))
            merged = lk.merge_line_strings(pieces, min_length=min_length,
                                           stub_min_length=stub_min_length,
                                           grid=1.0 / unscale)
            x, y, z = tm.tile_decode(np.int64(tid))
            out["tile_id"].append(int(tid))
            out["zoom"].append(int(z))
            out["zone_id"].append(zid)
            out["kind"].append(grp["kind"].iloc[0])
            out["n_pieces"].append(len(pieces))
            out["n_merged"].append(len(merged))
            out["len_before"].append(float(sum(gk.line_length(p) for p in pieces)))
            out["len_after"].append(float(sum(gk.line_length(m) for m in merged)))
        return _record_batch(out, MERGED_SCHEMA)

    return tile_exchange(feats, reduce_tiles, MERGED_SCHEMA, ["key", "zone_id"])


def merge_points_by_attrs(df: DataFrame, attr_cols: list[str],
                          x_col: str = "ex", y_col: str = "ey") -> DataFrame:
    """mergeMultiPoint: same-attr points in a tile -> one multipoint feature
    (member order = input order; count + centroid columns for verification)."""
    from pyspark.sql import functions as F
    return (df.groupBy("tile_id", *attr_cols)
            .agg(F.count("*").alias("n_points"),
                 F.sum(x_col).cast("long").alias("sum_x"),
                 F.sum(y_col).cast("long").alias("sum_y")))


MERGED_POLY_SCHEMA = ("tile_id long, zoom int, kind string, n_input long, "
                      "n_rings long, area_in_px2 double, area_out_px2 double")


def merge_tile_polygons(feats: DataFrame, min_dist_px: float = 0.0,
                        min_area: float = 0.0,
                        method: str = "raster") -> DataFrame:
    """Per (tile, kind): union overlapping/nearby polygons
    (FeatureMerge.mergeOverlappingPolygons:291-300 / mergeNearbyPolygons
    :323-394). Input = bucket-packed zone polygon fragments, as
    render_zone_features emits them (fill rows become full-tile squares).
    Outputs area accounting: union area <= input area (overlaps collapse)
    and >= largest input.

    method="raster" (default): kernels/union.py scanline+morphology union —
    the scale path for huge fused groups (bounded work per tile regardless
    of vertex count; divergence from the exact union measured <=2.82 EXTENT
    units, test_union). method="exact": kernels/polyclip.py exact rational
    boolean ops — vector-precision output, the reference's actual
    buffer-union-unbuffer semantics."""
    if method not in ("raster", "exact"):
        raise ValueError(f"unknown method {method!r}")
    from ..kernels import mvt
    from ..kernels import polyclip as pcl
    from ..kernels import union as un
    from . import render as R

    buf = R.BUFFER_PX * mvt.EXTENT / 256.0  # 64 extent units
    lo, hi = -buf, mvt.EXTENT + buf  # raster window covers tile + buffer
    full_tile = [np.array([[lo, lo], [hi, lo], [hi, hi], [lo, hi], [lo, lo]],
                          dtype=float)]

    def reduce_tiles(t):
        pdf = t.to_pandas()
        out = {k: [] for k in ("tile_id", "zoom", "kind", "n_input",
                               "n_rings", "area_in_px2", "area_out_px2")}
        for (tid, kind), grp in pdf.groupby(["tile_id", "kind"], sort=True):
            polys = []
            area_in = 0.0
            for fill, buf in zip(grp["fill"], grp["parts"]):
                rings = full_tile if fill else [
                    p.astype(np.float64) for p in gk.unpack_parts(bytes(buf))]
                polys.append(rings)
                area_in += abs(gk.ring_signed_area(rings[0])) - sum(
                    abs(gk.ring_signed_area(r)) for r in rings[1:])
            if method == "exact":
                merged = pcl.union_polygons_exact(polys,
                                                  min_dist_px=min_dist_px,
                                                  min_area=min_area)
                area_out = float(sum(gk.ring_signed_area(r) for r in merged))
            else:
                merged = un.union_polygons(polys, grid=512,
                                           min_dist_px=min_dist_px,
                                           min_area=min_area, lo=lo, hi=hi)
                # the raster tracer emits shells CW (image-space convention)
                area_out = float(-sum(gk.ring_signed_area(r) for r in merged))
            x, y, z = tm.tile_decode(np.int64(tid))
            out["tile_id"].append(int(tid))
            out["zoom"].append(int(z))
            out["kind"].append(kind)
            out["n_input"].append(len(polys))
            out["n_rings"].append(len(merged))
            out["area_in_px2"].append(float(area_in))
            out["area_out_px2"].append(area_out)
        return _record_batch(out, MERGED_POLY_SCHEMA)

    return tile_exchange(feats, reduce_tiles, MERGED_POLY_SCHEMA,
                         ["key", "zone_id"])


def merge_multipolygon(polys: list[list[np.ndarray]], extent: int = 4096
                       ) -> list[list[np.ndarray]]:
    """FeatureMerge.mergeMultiPolygon:126 / mergeGeometries:141-162: same-attr
    polygons concatenated into one multipolygon with members ordered by the
    hilbert index of each polygon's first vertex (:154-157,
    VectorTile.hilbertIndex:448) — deterministic, locality-preserving member
    order independent of input order."""
    def hkey(rings):
        x = int(np.clip(rings[0][0, 0], 0, extent - 1)) * 32767 // max(extent - 1, 1)
        y = int(np.clip(rings[0][0, 1], 0, extent - 1)) * 32767 // max(extent - 1, 1)
        return int(tm.hilbert_xy_to_index(15, np.int64(x), np.int64(y)))

    return sorted(polys, key=hkey)
