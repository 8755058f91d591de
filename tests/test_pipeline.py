"""End-to-end pipeline tests on a tiny in-memory images table — the
PlanetilerTests.java:82-180 harness shape: tiny input -> full distributed
pipeline -> exact expected tile map + per-row raster/caption invariants."""

import numpy as np
import pytest

from planetiler_spark.kernels import image as ik
from planetiler_spark.kernels import mvt
from planetiler_spark.kernels import tile_math as tm
from planetiler_spark.operators import tile_pipeline as tp
from planetiler_spark.sources import images as src

N = 64  # tiny but covers png/jpeg/big-size/hotspot variety


@pytest.fixture(scope="module")
def images(spark):
    df = src.images_df(spark, N, partitions=4)
    df.cache().count()
    return df


def expected_tiles_oracle(zooms):
    """Single-threaded pandas oracle: z -> {(x, y): {image_ids}} incl. buffer
    duplicates — independent re-derivation of the same published semantics."""
    ids = np.arange(N)
    ph = src.phash_of(ids)
    wx, wy = src.anchor_world(ph)
    out = {}
    for z in zooms:
        n = 1 << z
        tiles = {}
        for i in range(N):
            sx, sy = wx[i] * n, wy[i] * n
            tx0, ty0 = min(int(sx), n - 1), min(int(sy), n - 1)
            fx, fy = sx - tx0, sy - ty0
            eps = 4.0 / 256 + 0.1 / 4096
            for dx in (-1, 0, 1):
                if (dx == -1 and fx >= eps) or (dx == 1 and fx <= 1 - eps):
                    continue
                for dy in (-1, 0, 1):
                    if (dy == -1 and fy >= eps) or (dy == 1 and fy <= 1 - eps):
                        continue
                    ty = ty0 + dy
                    if ty < 0 or ty >= n:
                        continue
                    tiles.setdefault(((tx0 + dx) % n, ty), set()).add(f"img{i:012d}")
        out[z] = tiles
    return out


def test_vector_tiles_exact_assignment(spark, images):
    tiles = tp.tileset(spark, images, min_zoom=0, max_zoom=6).collect()
    want = expected_tiles_oracle(range(0, 7))
    got = {}
    for r in tiles:
        decoded = mvt.decode_tile(bytes(r.tile_bytes))
        ids = {f["attrs"]["image_id"] for f in decoded["images"]}
        got.setdefault(r.zoom, {})[(r.x, r.y)] = ids
        assert r.n_features == len(decoded["images"])
    for z in range(0, 7):
        assert got.get(z, {}) == want[z], f"zoom {z} tile map mismatch"


def assert_hilbert_order(rows):
    """Archive order: hilbert_id strictly ascends over the rows as the
    partitions hand them out, and is each tile's PMTiles id."""
    hid = np.array([r.hilbert_id for r in rows], dtype=np.int64)
    assert len(hid) and np.all(np.diff(hid) > 0)
    xyz = (np.array([r.x for r in rows]), np.array([r.y for r in rows]),
           np.array([r.zoom for r in rows]))
    assert hid.tolist() == tm.hilbert_encode(*xyz).tolist()
    assert [r.tile_id for r in rows] == tm.tile_encode(*xyz).tolist()


def test_tiles_sorted_zoom_major(spark, images):
    tiles = tp.tileset(spark, images, min_zoom=0, max_zoom=4)
    assert_hilbert_order(list(tiles.select("hilbert_id", "tile_id", "zoom",
                                           "x", "y").toLocalIterator()))


def test_tileset_to_pmtiles_runs_one_exchange(spark, images, tmp_path,
                                              monkeypatch):
    """The part-writer job over a tileset holds the tile exchange and no
    other: write_pmtiles appends the tileset's own partitions, without the
    range sort it keeps for frames in other orders."""
    import re

    from planetiler_spark.sources import archives as ar

    tiles = tp.tileset(spark, images, min_zoom=0, max_zoom=6)
    job = (tiles.select(*ar._PM_COLS)
           .mapInArrow(ar._pm_part_writer(str(tmp_path)), ar._PM_PART_SCHEMA))
    plan = job._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan

    def no_sort(df):
        raise AssertionError("write_pmtiles re-sorted an ordered tileset")

    monkeypatch.setattr(ar, "_pm_sorted", no_sort)
    path = str(tmp_path / "t.pmtiles")
    stats = ar.write_pmtiles(tiles, path)
    assert stats["tiles"] == tiles.count()
    assert ar.read_pmtiles(path) == {
        (r.zoom, r.x, r.y): bytes(r.tile_bytes) for r in tiles.collect()}


def test_z0_tile_has_all_points(spark, images):
    tiles = tp.tileset(spark, images, min_zoom=0, max_zoom=0).collect()
    assert len(tiles) == 1
    decoded = mvt.decode_tile(bytes(tiles[0].tile_bytes))
    ids = {f["attrs"]["image_id"] for f in decoded["images"]}
    assert len(ids) == N  # every image lands on the single z0 tile
    # antimeridian-adjacent points ALSO appear as wrapped buffer copies in the
    # same tile, at extent coords outside [0, EXTENT] (sliceWorldCopy:332)
    extra = tiles[0].n_features - N
    wrapped = [f for f in decoded["images"]
               if not (0 <= f["geometry"][0][0][0] <= mvt.EXTENT)]
    assert extra == len(wrapped)


def test_raster_patches_invariants(spark, images):
    patches = tp.render_patches(images)
    checks = tp.verify_patches(patches).collect()
    assert len(checks) > 0
    bad = [c for c in checks if not (c.pixels_ok and c.caption_ok)]
    assert bad == [], f"{len(bad)} failing patches, e.g. {bad[:3]}"
    # lossless rows are exact (psnr inf -> capped 1e9), lossy >= 40
    assert all(c.psnr >= 40.0 for c in checks)


def test_raster_tiles_cover_and_decode(spark, images):
    rast = tp.raster_tileset(spark, images).collect()
    assert len(rast) > 0
    total_patches = tp.render_patches(images).count()
    assert sum(r.n_images for r in rast) == total_patches
    r0 = rast[0]
    canvas = ik.decode_png(bytes(r0.raster))
    assert canvas.shape == (256, 256, 3)
    x, y, z = tm.tile_decode(np.int64(r0.tile_id))
    assert (int(x), int(y), int(z)) == (r0.x, r0.y, r0.zoom)


def test_content_hash_dedup_consistency(spark, images):
    tiles = tp.tileset(spark, images, min_zoom=2, max_zoom=2).collect()
    by_hash = {}
    for r in tiles:
        by_hash.setdefault(r.content_hash, set()).add(bytes(r.tile_bytes))
    for h, blobs in by_hash.items():
        assert len(blobs) == 1  # same hash -> byte-identical tile


def test_packed_transport_equals_row_path(spark, images):
    """The bucket-packed transport (analytic range exchange + blob rows) must
    be BYTE-identical to the row path, in total zoom-major Hilbert order,
    with the same thinning selection."""
    a = tp.tileset(spark, images, min_zoom=0, max_zoom=7, packed=False,
                   thin_limit=4).collect()
    b = tp.tileset(spark, images, min_zoom=0, max_zoom=7, packed=True,
                   thin_limit=4).collect()
    am = {r.tile_id: (r.zoom, r.x, r.y, r.n_features, bytes(r.tile_bytes),
                      r.content_hash) for r in a}
    bm = {r.tile_id: (r.zoom, r.x, r.y, r.n_features, bytes(r.tile_bytes),
                      r.content_hash) for r in b}
    assert am == bm
    assert_hilbert_order(b)  # total order without any range-sampling pass


def test_partition_tokens_exact(spark):
    """token[i] must land on partition index i under repartition(p, token) —
    the hash-preimage construction behind the analytic range exchange."""
    from pyspark.sql import functions as F

    from planetiler_spark.operators import partitioning as pt

    p = 16
    toks = pt.partition_tokens(spark, p)
    df = spark.createDataFrame([(int(t),) for t in toks], "tok long")
    got = (df.repartition(p, "tok")
           .withColumn("pid", F.spark_partition_id()).collect())
    assert {int(r["tok"]): int(r["pid"]) for r in got} == \
        {int(toks[i]): i for i in range(p)}


def test_tile_range_partitioning_properties(spark):
    from planetiler_spark.operators import partitioning as pt

    b, pid = pt.tile_range_partitioning(0, 11, 32, 8)
    assert np.all(np.diff(b) > 0)            # strictly ascending boundaries
    assert np.all(np.diff(pid) >= 0)         # partition ids non-decreasing
    assert pid[0] == 0 and pid[-1] == 31     # full partition range used
    assert b[0] == int(tm.ZOOM_START_INDEX[0])
    # every tile id maps to a bucket of its own zoom's range
    for z in (0, 3, 11):
        tid = int(tm.tile_encode(np.int64((1 << z) - 1), np.int64(0), np.int64(z)))
        k = int(np.searchsorted(b, tid, side="right") - 1)
        assert int(tm.ZOOM_START_INDEX[z]) <= int(b[k]) <= tid


def test_pack_unpack_roundtrip():
    import pandas as pd

    from planetiler_spark.operators.partitioning import tile_range_partitioning

    rng = np.random.RandomState(7)
    n = 500
    zs = rng.randint(0, 9, n)
    xs = rng.randint(0, 1 << 8, n) % (1 << zs)
    ys = rng.randint(0, 1 << 8, n) % (1 << zs)
    out = pd.DataFrame({
        "hilbert_id": tm.hilbert_encode(xs, ys, zs),
        "ex": rng.randint(-64, 4160, n).astype(np.int64),
        "ey": rng.randint(-64, 4160, n).astype(np.int64),
        "sort_key": rng.randint(0, 1000, n).astype(np.int64),
        "image_id": np.array([f"img{i:012d}" for i in rng.randint(0, 99, n)],
                             dtype=object),
        "caption": np.array([f"caption {i} é東" for i in range(n)],
                            dtype=object),
    })
    b, pid = tile_range_partitioning(0, 8, 8, 4)
    packed = tp._pack_feature_runs(out, b, pid)
    assert (packed["bucket"].to_numpy() ==
            np.sort(packed["bucket"].to_numpy())).all()
    got = []
    for blob in packed["blob"]:
        tid, ex, ey, sk, ids, caps = tp._unpack_blob(memoryview(blob))
        for j in range(len(tid)):
            got.append((int(tid[j]), int(ex[j]), int(ey[j]), int(sk[j]),
                        ids[j].as_py(), caps[j].as_py()))
    want = sorted(
        ((int(r.hilbert_id), int(r.ex), int(r.ey), int(r.sort_key),
          r.image_id, r.caption) for r in out.itertuples(index=False)),
        key=lambda t: np.searchsorted(b, t[0], side="right"))
    assert sorted(got) == sorted(want)
    # bucket grouping is a partition of the rows (per-bucket counts add up)
    assert sum(int(np.frombuffer(bl, np.uint32, 1)[0])
               for bl in packed["blob"]) == n


def test_verify_stored_bytes_path_equals_legacy(spark, images):
    """verify_patches(patches, images) — lossy truth from the STORED bytes,
    batch-decoded — must agree row-for-row with the legacy re-derivation
    path (the fixture stores exactly encode(pristine), so both decode the
    same bitstream)."""
    patches = tp.render_patches(images).cache()
    legacy = {(r.image_id, r.tile_id): (round(r.psnr, 9), r.pixels_ok, r.caption_ok)
              for r in tp.verify_patches(patches).collect()}
    joined = {(r.image_id, r.tile_id): (round(r.psnr, 9), r.pixels_ok, r.caption_ok)
              for r in tp.verify_patches(patches, images).collect()}
    patches.unpersist()
    assert legacy == joined
    assert all(ok for _, ok, _ in joined.values())


def test_decode_images_batch_equals_serial():
    from planetiler_spark.kernels import image as _ik

    pdf = src.images_batch(np.arange(40), with_bytes=True)
    bufs = [bytes(b) for b in pdf["bytes"]]
    fmts = list(pdf["fmt"])
    got = _ik.decode_images(bufs, fmts)
    for g, b, f in zip(got, bufs, fmts):
        assert np.array_equal(g, _ik.decode_image(b, f))


def test_token_partition_count_mismatch_raises(spark, images):
    """A range-exchange token column built for one partition count must not
    silently feed an exchange with a different count."""
    feats = tp.render_features_packed(images, 0, 4, partitions=8)
    with pytest.raises(Exception, match="different.*partition count"):
        tp.encode_vector_tiles_packed(feats, partitions=16).count()
