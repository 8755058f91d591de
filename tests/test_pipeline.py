"""End-to-end pipeline tests on a tiny in-memory images table — the
PlanetilerTests.java:82-180 harness shape: tiny input -> full distributed
pipeline -> exact expected tile map + per-row raster/caption invariants."""

import numpy as np
import pytest
from conftest import (_packed_exchanges, _python_maps_above,
                      _shuffle_exchanges, _written_job, assert_hilbert_order)

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


def test_tiles_sorted_zoom_major(spark, images):
    tiles = tp.tileset(spark, images, min_zoom=0, max_zoom=4)
    assert_hilbert_order(list(tiles.select("hilbert_id", "tile_id", "zoom",
                                           "x", "y").toLocalIterator()))


def test_tileset_to_pmtiles_runs_one_exchange(spark, images, tmp_path,
                                              monkeypatch):
    """The job write_pmtiles runs over a tileset holds the tile exchange
    and no other, and one Python map above it: the part writer runs inside
    the tile reduce, with no range sort and no second hand-off."""
    from planetiler_spark.sources import archives as ar

    tiles = tp.tileset(spark, images, min_zoom=0, max_zoom=6)
    path = str(tmp_path / "t.pmtiles")
    stats, job = _written_job(monkeypatch, tiles, path)
    exs, packed = _packed_exchanges(job)
    assert len(packed) == 1 and len(exs) == 1
    assert _python_maps_above(job, packed[0]) == 1
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
    checks = tp.verify_patches(patches, images).collect()
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


def raster_tiles_digest(rows):
    """(tiles, sha256 over per-tile (tile_id, n_images, sha256(raster))
    lines in tile_id order)."""
    import hashlib

    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: r.tile_id):
        h.update(f"{r.tile_id} {r.n_images} "
                 f"{hashlib.sha256(bytes(r.raster)).hexdigest()}\n".encode())
    return len(rows), h.hexdigest()


# raster_tileset over the 64-image fixture, recorded from the row exchange
# the bucket-packed tile exchange replaced.
RASTER_TILES = 94
RASTER_SHA256 = \
    "c6bf1e05bdbfca2e7395cc4b40f1c48dc306de7ff542587bf0e3c8d687da14f0"


@pytest.mark.parametrize("partitions", [4, 9])
def test_raster_tiles_bytes_pinned(spark, images, shuffle_partitions,
                                   partitions):
    """Same raster tiles at any shuffle partition count and input order."""
    from pyspark.sql import functions as F

    shuffle_partitions(partitions)
    for frame in (images, images.repartition(5).orderBy(F.rand(7))):
        rows = tp.raster_tileset(spark, frame).collect()
        assert raster_tiles_digest(rows) == (RASTER_TILES, RASTER_SHA256)


def test_content_hash_dedup_consistency(spark, images):
    tiles = tp.tileset(spark, images, min_zoom=2, max_zoom=2).collect()
    by_hash = {}
    for r in tiles:
        by_hash.setdefault(r.content_hash, set()).add(bytes(r.tile_bytes))
    for h, blobs in by_hash.items():
        assert len(blobs) == 1  # same hash -> byte-identical tile


# Per-tile (hilbert_id, n_features, sha256(tile_bytes)) of
# tileset(images, 0, 7, thin_limit=4), recorded from the row-per-feature
# transport the bucket-packed exchange replaced (byte-identical by test then).
TRANSPORT_TILES = 303
TRANSPORT_SHA256 = \
    "3951ffa5720f775e74af4fd62abe4580540b0b19dae8acc483c56e6443cd2e6d"


def _tiles_digest(rows):
    import hashlib

    h = hashlib.sha256()
    for r in rows:
        h.update(f"{r.hilbert_id} {r.n_features} "
                 f"{hashlib.sha256(bytes(r.tile_bytes)).hexdigest()}\n".encode())
    return len(rows), h.hexdigest()


@pytest.mark.parametrize("partitions", [4, 9])
def test_packed_transport_bytes_pinned(spark, images, partitions):
    """The bucket-packed exchange reproduces the recorded tiles byte for
    byte, in total zoom-major Hilbert order, with the same thinning
    selection, whatever the shuffle partition count."""
    rows = tp.tileset(spark, images, min_zoom=0, max_zoom=7, thin_limit=4,
                      shuffle_partitions=partitions).collect()
    assert _tiles_digest(rows) == (TRANSPORT_TILES, TRANSPORT_SHA256)
    assert_hilbert_order(rows)  # total order without any range-sampling pass


def test_tileset_has_one_transport(spark, images):
    import inspect

    assert "packed" not in inspect.signature(tp.tileset).parameters
    with pytest.raises(TypeError):
        tp.tileset(spark, images, 0, 2, **{"packed": True})


def test_tile_exchange_carries_packed_buckets(spark, images):
    """The one tile exchange moves bucket-packed blobs, not per-feature
    rows: its input schema is (bucket, token, blob) and it writes far
    fewer records than the tiles hold features."""
    from planetiler_spark.operators import partitioning as pt

    tiles = tp.tileset(spark, images, min_zoom=0, max_zoom=7,
                       shuffle_partitions=4)
    n_features = sum(r.n_features for r in tiles.collect())
    (ex,) = _shuffle_exchanges(tiles._jdf.queryExecution().executedPlan())
    out = ex.child().output()
    assert [out.apply(i).name() for i in range(out.size())] == \
        ["bucket", pt.token_col(4), "blob"]
    records = ex.metrics().apply("shuffleRecordsWritten").value()
    assert 0 < records < n_features / 4


@pytest.mark.parametrize("flow", ["zones", "raster", "merge_polygons"])
def test_flow_exchange_carries_packed_buckets(spark, images, flow):
    """Zones, raster and the polygon merge reach their tiles through the
    one bucket-packed tile exchange. The zone renders also repartition
    their input polygons by zone_id; that is the only other exchange."""
    from planetiler_spark.operators import merge as mg

    frame = {
        "zones": lambda: tp.zones_tileset(spark, 0, 5, n_zones=16),
        "raster": lambda: tp.raster_tileset(spark, images),
        "merge_polygons": lambda: mg.merge_tile_polygons(
            tp.render_zone_features(spark, 4, 5, n_zones=16)),
    }[flow]()
    exs, packed = _packed_exchanges(frame)
    assert len(packed) == 1
    assert len(exs) == (1 if flow == "raster" else 2)


def test_zones_tileset_to_pmtiles_runs_one_tile_exchange(spark, tmp_path,
                                                         monkeypatch):
    """write_pmtiles runs its part writer inside the zones tile reduce: the
    job holds the tile exchange, one Python map above it, and the render's
    input repartition(16, "zone_id"); no range sort of its own."""
    from planetiler_spark.sources import archives as ar

    tiles = tp.zones_tileset(spark, 0, 6, n_zones=32)
    path = str(tmp_path / "z.pmtiles")
    stats, job = _written_job(monkeypatch, tiles, path)
    exs, packed = _packed_exchanges(job)
    assert len(packed) == 1 and len(exs) == 2
    assert _python_maps_above(job, packed[0]) == 1
    (render_in,) = [ex for ex in exs if ex is not packed[0]]
    part = render_in.outputPartitioning()
    assert part.numPartitions() == 16 and "zone_id" in part.toString()
    assert stats["tiles"] == tiles.count()
    assert ar.read_pmtiles(path) == {
        (r.zoom, r.x, r.y): bytes(r.tile_bytes) for r in tiles.collect()}


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
    import pyarrow as pa

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
    edges = np.append(b, tm.ZOOM_START_INDEX[9])
    packed = tp._pack(out, edges, pid, "tok")
    bks = packed.column("bucket").to_numpy()
    assert np.all(np.diff(bks) > 0)          # one row per bucket, ascending
    assert packed.column("tok").to_numpy().tolist() == pid[bks].tolist()
    got = []
    for k, blob in zip(bks, packed.column("blob")):
        t = pa.ipc.open_stream(blob.as_buffer()).read_all()
        assert t.schema.field("ex").type == "int32"
        hid = t.column("hilbert_id").to_numpy()
        assert np.all(np.searchsorted(b, hid, side="right") - 1 == k)
        got += list(zip(*(t.column(c).to_pylist() for c in out.columns)))
    want = list(out.itertuples(index=False, name=None))
    assert len(got) == n and sorted(got) == sorted(want)


def test_pack_rejects_ids_outside_the_buckets():
    import pandas as pd

    from planetiler_spark.operators.partitioning import tile_range_partitioning

    b, pid = tile_range_partitioning(2, 4, 4)
    edges = np.append(b, tm.ZOOM_START_INDEX[5])
    for hid in (int(tm.ZOOM_START_INDEX[2]) - 1, int(tm.ZOOM_START_INDEX[5])):
        with pytest.raises(ValueError, match="outside"):
            tp._pack(pd.DataFrame({"hilbert_id": [hid]}), edges, pid, "tok")


def test_verify_stored_bytes_path_equals_legacy(spark, images):
    """verify_patches(patches, images) — lossy truth from the STORED bytes,
    batch-decoded — must give every jpeg row the psnr of the re-derived
    truth decode(encode(pristine)) (the fixture stores exactly
    encode(pristine), so both decode the same bitstream), and pass every
    pixel and caption check."""
    import functools

    rows = tp.verify_patches(tp.render_patches(images), images).collect()
    fmts = {r.image_id: r.fmt for r in images.select("image_id", "fmt").collect()}

    @functools.cache
    def lossy_psnr(image_id):
        i = int(image_id[3:])
        w = h = src.BIG_SIZE if i % 10 == 9 else src.DEFAULT_SIZE
        full = src._pixels(i, w, h)
        dec = ik.decode_image(ik.encode_image(full, "jpeg"), "jpeg")
        return round(ik.psnr(full, dec), 9)

    jpeg = [r for r in rows if fmts[r.image_id] == "jpeg"]
    assert jpeg and all(r.pixels_ok and r.caption_ok for r in rows)
    assert [round(r.psnr, 9) for r in jpeg] == \
        [lossy_psnr(r.image_id) for r in jpeg]
    assert all(r.psnr == 1e9 for r in rows if fmts[r.image_id] != "jpeg")


def test_decode_images_batch_equals_serial():
    from planetiler_spark.kernels import image as _ik

    pdf = src.images_batch(np.arange(40), with_bytes=True)
    bufs = [bytes(b) for b in pdf["bytes"]]
    fmts = list(pdf["fmt"])
    got = _ik.decode_images(bufs, fmts)
    for g, b, f in zip(got, bufs, fmts):
        assert np.array_equal(g, _ik.decode_image(b, f))
