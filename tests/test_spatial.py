"""Broadcast spatial-join tests vs a single-threaded oracle —
PolygonIndex.java:20-145 / PointIndex.java:22-106 semantics."""

import numpy as np
import pytest

from planetiler_spark.kernels import geom as gk
from planetiler_spark.operators import spatial as sp
from planetiler_spark.sources import images as src

N = 300


@pytest.fixture(scope="module")
def images(spark):
    df = src.images_df(spark, N, partitions=4, with_bytes=False)
    df.cache().count()
    return df


def test_pip_matches_oracle(spark, images):
    got = {(r.image_id, r.zone_id, r.fallback)
           for r in sp.pip_zones(images, within=0.01).collect()}
    # oracle: same index probed single-threaded in one call
    ids = np.arange(N)
    wx, wy = src.anchor_world(src.phash_of(ids))
    idx = src.zones_index()
    pt, poly, fb = idx.get_containing_or_nearest(wx, wy, 0.01)
    want = {(f"img{ids[p]:012d}", idx.ids[z], bool(f))
            for p, z, f in zip(pt, poly, fb)}
    assert got == want
    assert len(got) > 0


def test_pip_overlap_multiplicity(spark):
    # zones 0..7 have deliberately overlapping twins (zone0512..0519):
    # a point inside both must yield two rows (PolygonIndex.getContaining:52-60)
    idx = src.zones_index()
    # centroid of the overlap twin is inside both in most cases; probe many
    ids = np.arange(3000)
    wx, wy = src.anchor_world(src.phash_of(ids))
    pt, poly = idx.get_containing(wx, wy)
    import collections
    per_point = collections.Counter(pt.tolist())
    assert any(v >= 2 for v in per_point.values())


def test_pip_containment_only(spark, images):
    rows = sp.pip_zones(images, within=None).collect()
    assert all(not r.fallback for r in rows)
    assert all(r.kind in src.ZONE_KINDS for r in rows)


def test_knn_matches_bruteforce_oracle(spark, images):
    k = 5
    got = sorted((r.image_id, r.rank, r.zone_id)
                 for r in sp.knn_zones(images, k=k).collect())
    zones = src.zones_pdf()
    cents = np.array([gk.ring_centroid(gk.parse_wkb(w)[1][0]) for w in zones["wkb"]])
    zid = zones["zone_id"].to_numpy()
    o = np.argsort(zid, kind="mergesort")
    cents, zid = cents[o], zid[o]
    ids = np.arange(N)
    wx, wy = src.anchor_world(src.phash_of(ids))
    want = []
    for i in range(N):
        d2 = (wx[i] - cents[:, 0]) ** 2 + (wy[i] - cents[:, 1]) ** 2
        order = sorted(range(len(zid)), key=lambda j: (d2[j], j))[:k]
        for r, j in enumerate(order, start=1):
            want.append((f"img{i:012d}", r, zid[j]))
    assert got == sorted(want)


def test_knn_rank_count(spark, images):
    df = sp.knn_zones(images, k=3)
    counts = df.groupBy("image_id").count().collect()
    assert all(r["count"] == 3 for r in counts)
    assert len(counts) == N


def test_pip_aggregate_mode_conserves_rows(spark, images):
    """aggregate=True map-side partial counts must sum to exactly the raw
    join-row count, per (zone_idx, fallback) group."""
    from pyspark.sql import functions as F
    raw = sp.pip_zones(images, within=0.01, compact=True)
    agg = sp.pip_zones(images, within=0.01, aggregate=True)
    total_raw = raw.count()
    final = agg.groupBy("zone_idx", "fallback").agg(F.sum("n").alias("n"))
    assert final.agg(F.sum("n")).collect()[0][0] == total_raw
    raw_groups = {(r.zone_idx, r.fallback): r["count"]
                  for r in raw.groupBy("zone_idx", "fallback").count().collect()}
    agg_groups = {(r.zone_idx, r.fallback): r.n for r in final.collect()}
    assert raw_groups == agg_groups


def test_pip_zones_share_one_broadcast(spark, images, monkeypatch):
    """Two joins over the same zone count in one session pickle the index
    once: both probes read one broadcast."""
    sc = spark.sparkContext
    made = []

    def spy(value):
        made.append(real(value))
        return made[-1]

    real = sc.broadcast
    monkeypatch.setattr(sc, "broadcast", spy)
    n = 64  # a zone count no other test joins against
    a = sp.pip_zones(images, n_zones=n, aggregate=True).collect()
    b = sp.pip_zones(images, n_zones=n, within=None).collect()
    assert len(made) == 1 and len(a) > 0 and len(b) > 0
    assert sp.zones_broadcast(spark, n)._jbroadcast.id() == made[0]._jbroadcast.id()


def test_zone_broadcast_per_context_and_zone_count():
    """A new SparkContext (a session started after a stop) gets its own
    broadcast; so does each zone count."""
    class Context:
        def broadcast(self, value):
            return object()

    class Session:
        def __init__(self):
            self.sparkContext = Context()

    s1, s2 = Session(), Session()
    assert sp.zones_broadcast(s1, 8) is sp.zones_broadcast(s1, 8)
    assert sp.zones_broadcast(s2, 8) is not sp.zones_broadcast(s1, 8)
    assert sp.zones_broadcast(s1, 16) is not sp.zones_broadcast(s1, 8)


def test_knn_grid_shuffle_fallback(spark):
    """Broadcast guard: with a tiny broadcast_limit the exploded indexed side
    must switch every join to a shuffle hash join (no BroadcastExchange in
    the plan) and still return exactly the broadcast path's rows."""
    from planetiler_spark.plans import queries as Q

    sf = "/root/testdata/sf0.001"
    base = Q.knn_grid(spark, sf)
    guarded = Q.knn_grid(spark, sf, broadcast_limit=10)
    plan = guarded._jdf.queryExecution().executedPlan().toString()
    base_plan = base._jdf.queryExecution().executedPlan().toString()
    # the exploded indexed side must join by shuffle now (Catalyst may still
    # broadcast the tiny probe-derived `safe` key lists — that is desired)
    assert "ShuffledHashJoin" in plan
    assert plan.count("BroadcastExchange") < base_plan.count("BroadcastExchange")
    a = sorted(map(tuple, base.collect()))
    b = sorted(map(tuple, guarded.collect()))
    assert a == b and len(a) > 0
