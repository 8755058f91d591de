"""Spatial joins over the images table — broadcast polygon index + kNN.

Reference semantics:
  - PIP zone assignment: geo/PolygonIndex.java:20-145 — in-memory STRtree of
    zone polygons, envelope candidates -> exact contains, with
    nearest-within-threshold fallback (getContainingOrNearest:93-124).
    Spark-first: build the index ONCE on the driver, broadcast it once per
    live SparkContext and zone count (`zones_broadcast`), probe with fully
    vectorized numpy inside Arrow-batched mapInPandas — the distributed
    analog of the reference's per-worker shared index. The probe is a
    raster-interval grid (`kernels/geom.py PolygonIndex`): points in a cell
    wholly inside a zone take it with no edge test, and only cells crossed
    by a zone's boundary run the even-odd crossing test, over the few
    edges listed for that (cell, zone) pair. The broadcast carries the
    pooled edges and lists, not the zones' ring arrays.
  - kNN: geo/PointIndex.java:22-106 — envelope query expanded by radius,
    post-filter by true distance. Here the probe side is billions of rows and
    the target side (zone sites) is broadcastable, so each Arrow batch
    computes a (batch x sites) vectorized distance matrix + argpartition —
    the brute-force-over-broadcast baseline; the ring-expansion equi-join
    variant for big-both-sides lives in plans/queries.py (knn_grid).

Both avoid per-row Python entirely (input_hint mandate).
"""

from __future__ import annotations

import weakref

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernels import geom as gk
from ..sources import images as src

PIP_SCHEMA = "image_id string, zone_id string, kind string, fallback boolean"
PIP_COMPACT_SCHEMA = "phash long, zone_idx int, fallback boolean"
PIP_AGG_SCHEMA = "zone_idx int, fallback boolean, n long"
KNN_SCHEMA = "image_id string, zone_id string, rank int, d2 double"

# SparkContext -> {n_zones: broadcast}; a stopped session's context drops out
# with its last reference, and the next session broadcasts afresh
_ZONE_BROADCASTS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def zones_broadcast(spark, n_zones: int | None = None):
    """The broadcast `(PolygonIndex, kinds)` of the `n_zones` zone table, one
    per live SparkContext and zone count: each join reuses it instead of
    pickling the index again and leaving another copy on every executor."""
    sc = spark.sparkContext
    n = n_zones or src.N_ZONES
    per_sc = _ZONE_BROADCASTS.setdefault(sc, {})
    if n not in per_sc:
        per_sc[n] = sc.broadcast((src.zones_index(n), src.zones_pdf(n)["kind"].tolist()))
    return per_sc[n]


def pip_zones(images: DataFrame, within: float | None = 0.01,
              n_zones: int | None = None, compact: bool = False,
              aggregate: bool = False) -> DataFrame:
    """Assign each image's geo-anchor to containing zones (all of them, overlap
    multiplicity included); misses fall back to the nearest zone within
    `within` world units, flagged. `within=None` -> containment only.

    compact=True emits (phash, zone_idx int, fallback) instead of strings —
    the 100TB shape: join outputs carry compact keys (the reference interns
    layer/attr strings to ints for the same reason, FeatureGroup.java:65-66);
    enrich zone_id/kind later with a broadcast dim join (`zone_dim`).

    aggregate=True emits per-batch PARTIAL COUNTS (zone_idx, fallback, n)
    instead of raw join rows — the map-side combine of the join→aggregate
    pipeline; finish with groupBy(zone_idx, fallback).sum(n). Total row count
    is conserved (sum(n) == number of raw join rows)."""
    bidx = zones_broadcast(images.sparkSession, n_zones)

    def probe(batches):
        index, kinds = bidx.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            wx, wy = src.anchor_world(pdf["phash"].to_numpy())
            if within is None:
                pt, poly = index.get_containing(wx, wy)
                fb = np.zeros(len(pt), dtype=bool)
            else:
                pt, poly, fb = index.get_containing_or_nearest(wx, wy, within)
            if aggregate:
                counts = np.bincount(poly * 2 + fb)
                key = np.flatnonzero(counts)
                yield pd.DataFrame({
                    "zone_idx": (key // 2).astype(np.int32),
                    "fallback": (key % 2).astype(bool),
                    "n": counts[key].astype(np.int64),
                })
                continue
            if compact:
                yield pd.DataFrame({
                    "phash": pdf["phash"].to_numpy()[pt],
                    "zone_idx": poly.astype(np.int32),
                    "fallback": fb,
                })
                continue
            ids = pdf["image_id"].to_numpy()
            yield pd.DataFrame({
                "image_id": ids[pt],
                "zone_id": np.asarray(index.ids, dtype=object)[poly],
                "kind": np.asarray(kinds, dtype=object)[poly],
                "fallback": fb,
            })

    if aggregate:
        return images.select("phash").mapInPandas(probe, PIP_AGG_SCHEMA)
    if compact:
        return images.select("phash").mapInPandas(probe, PIP_COMPACT_SCHEMA)
    return images.select("image_id", "phash").mapInPandas(probe, PIP_SCHEMA)


def zone_dim(spark, n_zones: int | None = None) -> DataFrame:
    """Broadcastable zone dimension (zone_idx -> zone_id, kind) for enriching
    compact PIP output."""
    zones = src.zones_pdf(n_zones or src.N_ZONES)
    zones = zones.reset_index().rename(columns={"index": "zone_idx"})
    return spark.createDataFrame(zones[["zone_idx", "zone_id", "kind"]])


def knn_zones(images: DataFrame, k: int = 5) -> DataFrame:
    """k nearest zone centroids per image: broadcast the small side, one
    vectorized (batch x sites) distance matrix per Arrow batch, argpartition
    top-k, full tie-breakers (d2, zone_id) for determinism."""
    spark = images.sparkSession
    zones = src.zones_pdf()
    cents = np.array([gk.ring_centroid(gk.parse_wkb(w)[1][0]) for w in zones["wkb"]])
    zid = zones["zone_id"].to_numpy()
    order0 = np.argsort(zid, kind="mergesort")  # pre-sort ids for tie-breaks
    bc = spark.sparkContext.broadcast((cents[order0], zid[order0]))

    def probe(batches):
        centers, ids = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            wx, wy = src.anchor_world(pdf["phash"].to_numpy())
            n = len(wx)
            dx = wx[:, None] - centers[None, :, 0]
            dy = wy[:, None] - centers[None, :, 1]
            d2 = dx * dx + dy * dy
            part = np.argpartition(d2, k - 1, axis=1)[:, :k]
            rows = np.arange(n)[:, None]
            dk = d2[rows, part]
            # rank the k candidates per row by (distance, zone index): one
            # global lexsort keyed (row, dk, idx) — rows stay contiguous
            flat = np.lexsort((part.ravel(), dk.ravel(),
                               np.repeat(np.arange(n), k)))
            col = (flat - np.repeat(np.arange(n), k) * k).reshape(n, k)
            sel = part[rows, col]
            seld = dk[rows, col]
            yield pd.DataFrame({
                "image_id": np.repeat(pdf["image_id"].to_numpy(), k),
                "zone_id": ids[sel.ravel()],
                "rank": np.tile(np.arange(1, k + 1, dtype=np.int32), n),
                "d2": seld.ravel(),
            })

    return images.select("image_id", "phash").mapInPandas(probe, KNN_SCHEMA)
