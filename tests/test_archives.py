"""Archive sink round-trips: MBTiles (plain + normalized dedup), PMTiles v3,
files tree, CSV/JSON streams — all archives must agree tile-for-tile
(util/CompareArchives.java:48 is the model)."""

import gzip
import json
import os
import sqlite3

import pytest

from planetiler_spark.operators import tile_pipeline as tp
from planetiler_spark.sources import archives as ar
from planetiler_spark.sources import images as src

N = 64


@pytest.fixture(scope="module")
def tiles(spark):
    imgs = src.images_df(spark, N, partitions=4, with_bytes=False)
    t = tp.tileset(spark, imgs, min_zoom=0, max_zoom=5)
    t.cache().count()
    return t


@pytest.fixture(scope="module")
def tile_map(tiles):
    return {(r.zoom, r.x, r.y): bytes(r.tile_bytes) for r in tiles.collect()}


def test_mbtiles_roundtrip(tiles, tile_map, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("mb") / "out.mbtiles")
    stats = ar.write_mbtiles(tiles, path, {"minzoom": 0, "maxzoom": 5},
                             normalized=False)
    assert stats["tiles"] == len(tile_map)
    assert ar.read_mbtiles(path) == tile_map


def test_mbtiles_normalized_dedup(tiles, tile_map, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("mbn") / "out.mbtiles")
    stats = ar.write_mbtiles(tiles, path, normalized=True)
    assert ar.read_mbtiles(path) == tile_map  # view reconstructs everything
    assert stats["unique_blobs"] <= stats["tiles"]
    # sqlite actually holds only unique blobs
    con = sqlite3.connect(path)
    (n_data,) = con.execute("SELECT count(*) FROM tiles_data").fetchone()
    con.close()
    assert n_data == stats["unique_blobs"]


def test_pmtiles_roundtrip(tiles, tile_map, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pm") / "out.pmtiles")
    stats = ar.write_pmtiles(tiles, path, {"name": "test"})
    assert stats["tiles"] == len(tile_map)
    got = ar.read_pmtiles(path)
    assert got == tile_map
    assert stats["unique_blobs"] <= stats["tiles"]
    assert os.path.getsize(path) == stats["bytes"]


def _leaf_frame(spark, n=20000):
    """n distinct z8 tiles -> n directory entries (> 16384 root cap at 20k)."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame({
        "zoom": [8] * n, "x": [i % 256 for i in range(n)],
        "y": [i // 256 for i in range(n)],
        "tile_bytes": [f"tile-{i}".encode() for i in range(n)],
        "content_hash": [f"h{i}" for i in range(n)],
    }))


def test_pmtiles_leaf_directories(spark, tmp_path_factory):
    """>16384 directory entries must spill into leaf directories (spec §3 /
    WriteablePmtiles.java:40) and still round-trip tile-for-tile."""
    n = 20000
    xs = [i % 256 for i in range(n)]
    ys = [i // 256 for i in range(n)]
    df = _leaf_frame(spark, n)
    path = str(tmp_path_factory.mktemp("pml") / "big.pmtiles")
    stats = ar.write_pmtiles(df, path)
    assert stats["tiles"] == n
    assert stats["n_leaves"] >= 2  # root holds pointers, not entries
    got = ar.read_pmtiles(path)
    assert len(got) == n
    for i in (0, 1, 12345, n - 1):
        assert got[(8, xs[i], ys[i])] == f"tile-{i}".encode()
    # header stats (spec bytes 72/80/88): addressed / entries / contents
    import struct as st
    with open(path, "rb") as f:
        hdr = f.read(127)
    addressed, entries, contents = st.unpack_from("<QQQ", hdr, 72)
    assert addressed == n and contents == n and entries >= 16384


def test_pmtiles_dedup_and_runs(spark, tmp_path_factory):
    """Identical consecutive tiles collapse to run-length entries and share
    one stored blob."""
    import pandas as pd

    n = 64  # one z3 row of identical tiles + distinct ones
    pdf = pd.DataFrame({
        "zoom": [3] * n, "x": [i % 8 for i in range(n)], "y": [i // 8 for i in range(n)],
        "tile_bytes": [b"ocean"] * 32 + [f"land-{i}".encode() for i in range(32)],
        "content_hash": ["ocean"] * 32 + [f"l{i}" for i in range(32)],
    })
    df = spark.createDataFrame(pdf)
    path = str(tmp_path_factory.mktemp("pmd") / "dedup.pmtiles")
    stats = ar.write_pmtiles(df, path)
    assert stats["unique_blobs"] == 33
    assert stats["entries"] < stats["tiles"]  # hilbert-adjacent oceans run-length'd
    got = ar.read_pmtiles(path)
    assert len(got) == n
    assert got[(3, 0, 0)] == b"ocean"


def test_files_archive_roundtrip(tiles, tile_map, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("files") / "tree")
    n = ar.write_files_archive(tiles, base)
    assert n == len(tile_map)
    assert ar.read_files_archive(base) == tile_map
    assert json.load(open(os.path.join(base, "metadata.json")))["format"] == "pbf"


def test_csv_and_json_archives(spark, tiles, tile_map, tmp_path_factory):
    import base64
    csvp = str(tmp_path_factory.mktemp("csv") / "tiles")
    ar.write_csv_archive(tiles, csvp)
    rows = spark.read.csv(csvp).collect()
    assert len(rows) == len(tile_map)
    jsonp = str(tmp_path_factory.mktemp("json") / "tiles")
    ar.write_json_archive(tiles, jsonp)
    jrows = spark.read.json(jsonp).collect()
    assert len(jrows) == len(tile_map)
    r0 = jrows[0]
    assert base64.b64decode(r0.encoded_data) == tile_map[(r0.z, r0.x, r0.y)]


def test_proto_stream_archive_roundtrip(tiles, tile_map, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("proto") / "tiles.pb")
    n = ar.write_proto_archive(tiles, path, {"name": "t", "format": "pbf",
                                             "max_zoom": 5})
    assert n == len(tile_map)
    got, meta = ar.read_proto_archive(path)
    assert got == tile_map
    assert meta["name"] == "t" and meta["format"] == "pbf"
    assert meta["max_zoom"] == 5 and meta["tile_compression"] == 1


def test_all_archives_agree(tile_map):
    # gzip payloads decode to the same MVT bytes regardless of archive
    blob = next(iter(tile_map.values()))
    assert gzip.decompress(blob)


def test_pmtiles_dir_build_bounded_memory():
    """1M-entry directory build (VERDICT r2 #7): the compact (N,4) int64
    entries + vectorized varint streams must round-trip through the
    root+leaf directories bit-exactly while peak extra memory stays within
    a few copies of the 32MB entry array (the old list-of-lists held ~250
    bytes/entry and serialized per-value in Python)."""
    import tracemalloc

    import numpy as np

    n = 1_000_000
    rng = np.random.default_rng(5)
    entries = np.empty((n, 4), dtype=np.int64)
    entries[:, 0] = np.cumsum(rng.integers(1, 5, n))          # tids ascending
    lens = rng.integers(30, 4000, n)
    entries[:, 1] = np.cumsum(lens) - lens                    # contiguous offs
    entries[:, 2] = lens
    entries[:, 3] = rng.integers(1, 3, n)                     # run lengths
    # sprinkle dedup back-references (non-contiguous offsets)
    back = rng.integers(0, n, 1000)
    entries[back, 1] = entries[0, 1]
    entries[back, 2] = entries[0, 2]

    tracemalloc.start()
    root, leaves, n_leaves = ar._pm_build_dirs(entries)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert n_leaves > 0
    assert peak < 400 * 1024 * 1024, f"peak {peak/1e6:.0f}MB"

    # parse every leaf back and compare entry-for-entry
    got = np.empty((0, 4), dtype=np.int64)
    rt, rr, rl, ro = ar._pm_parse_dir(root)
    pos = 0
    chunks = []
    for t, r, ln, off in zip(rt, rr, rl, ro):
        assert r == 0  # leaf pointer
        lt, lr, ll, lo = ar._pm_parse_dir(bytes(leaves[off:off + ln]))
        chunks.append(np.stack([lt, lo, ll, lr], axis=1))
    got = np.concatenate(chunks)
    assert got.shape == entries.shape
    assert np.array_equal(got, entries)


# ---------------------------------------------------------------------------
# PMTiles byte identity. The digests were recorded from an earlier writer
# (a sampled repartitionByRange over a persisted frame, drained one Row per
# tile); the executor-assembled archive must reproduce every byte, at any
# shuffle partition count, input order, Arrow batch size and task retry.
# ---------------------------------------------------------------------------

RECORDED_SHA256 = {
    # 200 images, tileset z0-11: 1417 distinct tiles
    "images": "f9b9f91875892f475159003c17fa6d275551b1703e2d901a607d0fa033b59657",
    # 32 zones, zones_tileset z0-8: 4217 tiles, 3202 entries, 2837 blobs
    "zones": "3461bf596d16e49d310cf49ee1a1b4f2303d992390fafa5b7504d6e96e65c474",
    # _leaf_frame: 20000 entries in two leaf directories
    "leaf": "b2948e92f918e677ccb94c2853da85838cb17830f79258eac874dc7253f3d15c",
    # zones with dedup_cap=64: duplicates past the cap are stored again
    "zones_cap64": "ea6a7d390bc9cf931774295da6faa9ed7297f1a077c649c4e7f3e1a4dc2eb036",
    # _edge_frame: a 12-tile identical run across a partition edge
    "edge": "02bddf8d010321b45b5e1bb52ade32cd514308aebeef40a34983b89aaf7d9cd4",
    "empty": "60427d1f5cf22c8e816417a82b16a1acf868d0cd1bea093193d4271591a2b408",
    # test_osm_encode's synthetic matched features, z8-14: 15 tiles
    # (recorded from the row-exchange OSM encoder and the writer's range sort)
    "osm": "a0a6ad2f8612493f4467795c1ec05f8cf32d57a202db55ebb02e138b1d9c45d7",
}


def _sha256(path):
    import hashlib
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


@pytest.fixture(scope="module")
def images_z11(spark):
    imgs = src.images_df(spark, 200, partitions=4, with_bytes=False)
    t = tp.tileset(spark, imgs, min_zoom=0, max_zoom=11).cache()
    t.count()
    yield t
    t.unpersist()


@pytest.fixture(scope="module")
def zones_z8(spark):
    t = tp.zones_tileset(spark, 0, 8, n_zones=32).cache()
    t.count()
    yield t
    t.unpersist()


@pytest.fixture
def arrow_batch_rows(spark):
    """Set the Arrow batch size of mapInArrow inputs for one test."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    yield lambda n: spark.conf.set(key, str(n))
    spark.conf.set(key, old)


def _edge_frame(spark):
    """16 consecutive Hilbert ids around the first partition edge of the
    writer's range exchange at 4 shuffle partitions (the end of z4 and the
    start of z5); the middle 12 share one blob."""
    import numpy as np
    import pandas as pd

    from planetiler_spark.kernels import tile_math as tm
    from planetiler_spark.operators import partitioning as pt

    bounds, pid = pt.tile_range_partitioning(0, tm.MAX_MAXZOOM, 4)
    edge = int(bounds[np.flatnonzero(np.diff(pid))[0] + 1])
    ids = np.arange(edge - 8, edge + 8)
    x, y, z = tm.hilbert_decode(ids)
    same = (ids >= edge - 6) & (ids < edge + 6)
    names = ["ocean" if m else f"t{i}" for i, m in zip(ids, same)]
    return spark.createDataFrame(pd.DataFrame({
        "zoom": z, "x": x, "y": y,
        "tile_bytes": [nm.encode() for nm in names], "content_hash": names}))


@pytest.mark.parametrize("case", ["images", "zones", "leaf"])
def test_pmtiles_bytes_match_recorded(spark, images_z11, zones_z8, case,
                                      tmp_path):
    df = {"images": images_z11, "zones": zones_z8,
          "leaf": _leaf_frame(spark)}[case]
    path = str(tmp_path / f"{case}.pmtiles")
    ar.write_pmtiles(df, path)
    assert _sha256(path) == RECORDED_SHA256[case]


@pytest.mark.parametrize("case", ["images", "zones"])
def test_pmtiles_bytes_independent_of_partitions_and_order(
        spark, images_z11, zones_z8, shuffle_partitions, case, tmp_path):
    """Same archive at shuffle partitions p and 2p+1, with the input rows in
    tile order or permuted across a different partitioning."""
    from pyspark.sql import functions as F

    df = {"images": images_z11, "zones": zones_z8}[case]
    permuted = df.repartition(7).orderBy(F.rand(11))
    for p in (4, 9):
        shuffle_partitions(p)
        for k, frame in enumerate((df, permuted)):
            path = str(tmp_path / f"{case}_{p}_{k}.pmtiles")
            ar.write_pmtiles(frame, path)
            assert _sha256(path) == RECORDED_SHA256[case], (p, k)


@pytest.mark.parametrize("case", ["images", "zones"])
def test_pipeline_archive_independent_of_partitions_and_order(
        spark, shuffle_partitions, case, tmp_path):
    """The whole tile pipeline, not just the writer: the tileset built at
    shuffle partitions p and 2p+1, from input rows in order or permuted,
    gives the recorded archive. Core counts (local[1] against local[4])
    need a session each and are not covered here."""
    from pyspark.sql import functions as F

    def build(permuted):
        if case == "images":
            imgs = src.images_df(spark, 200, partitions=4, with_bytes=False)
            if permuted:
                imgs = imgs.repartition(5).orderBy(F.rand(7))
            return tp.tileset(spark, imgs, min_zoom=0, max_zoom=11)
        zones = src.zones_pdf(32)
        if permuted:
            zones = zones.sample(frac=1.0, random_state=7)
        return tp.zones_tileset(spark, 0, 8, zones_pdf=zones)

    for p in (4, 9):
        shuffle_partitions(p)
        for permuted in (False, True):
            path = str(tmp_path / f"{case}_{p}_{permuted}.pmtiles")
            ar.write_pmtiles(build(permuted), path)
            assert _sha256(path) == RECORDED_SHA256[case], (p, permuted)


def test_pmtiles_run_spans_partition_edge(spark, shuffle_partitions,
                                          arrow_batch_rows, tmp_path):
    """An identical-tile run that crosses a partition edge (and, with
    3-row Arrow batches, every batch cut) still becomes one run-length
    entry."""
    shuffle_partitions(4)
    df = _edge_frame(spark)
    for rows in (10_000, 3):
        arrow_batch_rows(rows)
        path = str(tmp_path / f"edge_{rows}.pmtiles")
        stats = ar.write_pmtiles(df, path)
        assert _sha256(path) == RECORDED_SHA256["edge"], rows
        assert stats["tiles"] == 16 and stats["entries"] == 5
        assert stats["unique_blobs"] == 5
    got = ar.read_pmtiles(path)
    assert len(got) == 16
    assert sum(v == b"ocean" for v in got.values()) == 12


def test_pmtiles_dedup_cap_reached(zones_z8, tmp_path):
    path = str(tmp_path / "cap.pmtiles")
    stats = ar.write_pmtiles(zones_z8, path, dedup_cap=64)
    assert stats["unique_blobs"] == 64
    assert _sha256(path) == RECORDED_SHA256["zones_cap64"]
    assert ar.read_pmtiles(path) == {
        (r.zoom, r.x, r.y): bytes(r.tile_bytes) for r in zones_z8.collect()}


def test_pmtiles_empty_input(spark, tmp_path):
    empty = spark.createDataFrame(
        [], "zoom int, x int, y int, tile_bytes binary, content_hash string")
    path = str(tmp_path / "empty.pmtiles")
    stats = ar.write_pmtiles(empty, path)
    assert stats["tiles"] == stats["entries"] == stats["unique_blobs"] == 0
    assert _sha256(path) == RECORDED_SHA256["empty"]
    assert ar.read_pmtiles(path) == {}


def test_pmtiles_small_chunk_cap(zones_z8, arrow_batch_rows, tmp_path):
    """Arrow batches far smaller than a partition split every part file
    into many writes, so dedup within a part crosses batch cuts; the
    archive does not change."""
    arrow_batch_rows(64)
    path = str(tmp_path / "small_chunks.pmtiles")
    ar.write_pmtiles(zones_z8, path)
    assert _sha256(path) == RECORDED_SHA256["zones"]


def test_ipc_chunks_split_by_bytes_in_order():
    import pyarrow as pa

    rows = [bytes([i % 251]) * 100 for i in range(1000)]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(range(1000), pa.int64()), pa.array(rows, pa.binary())],
        ["i", "blob"])
    cells = list(ar._ipc_chunks(10_000)(iter([batch, batch.slice(0, 0)])))
    assert len(cells) >= 10
    back = [b for c in cells
            for b in pa.ipc.open_stream(c.column(0)[0].as_buffer())]
    assert all(c.column(0)[0].as_buffer().size < 2 * 10_000 for c in cells)
    assert pa.Table.from_batches(back).equals(pa.Table.from_batches([batch]))


def test_pmtiles_failed_write_leaves_no_files(zones_z8, tmp_path):
    """A job that fails upstream of the writer leaves neither part files nor
    a partial archive behind."""
    def fail(batches):
        for b in batches:
            raise RuntimeError("upstream failure")
            yield b

    broken = zones_z8.mapInArrow(fail, zones_z8.schema)
    path = str(tmp_path / "failed.pmtiles")
    with pytest.raises(Exception, match="upstream failure"):
        ar.write_pmtiles(broken, path)
    assert os.listdir(tmp_path) == []


class _TaskContextStub:
    def __init__(self, part, attempt_id):
        self.part, self.attempt_id = part, attempt_id

    def partitionId(self):
        return self.part

    def taskAttemptId(self):
        return self.attempt_id


def test_pmtiles_part_writer_retry_is_idempotent(zones_z8, monkeypatch,
                                                  tmp_path):
    """A task attempt that dies mid-stream publishes nothing and leaves no
    temp file; its retry publishes whole part files, and the archive
    assembled from them has the recorded bytes."""
    from pyspark import TaskContext

    # any contiguous split of the Hilbert-sorted tiles is a valid partitioning
    table = ar._pm_sorted(zones_z8).toArrow()
    cuts = [0, 1000, 2500, table.num_rows]
    pieces = [table.slice(a, b - a).to_batches(max_chunksize=300)
              for a, b in zip(cuts, cuts[1:])]
    parts = tmp_path / "z.pmtiles.parts"
    parts.mkdir()
    writer = ar._pm_part_writer(str(parts))
    ctx = []
    monkeypatch.setattr(TaskContext, "get", lambda: ctx[-1])

    def attempt(part, attempt_id, batches):
        ctx.append(_TaskContextStub(part, attempt_id))
        return [b.to_pylist()[0] for b in writer(batches)]

    def dies_midway(batches):
        yield from batches[:2]
        raise RuntimeError("executor lost")

    summary = attempt(0, 1, iter(pieces[0]))
    with pytest.raises(RuntimeError, match="executor lost"):
        attempt(1, 2, dies_midway(pieces[1]))
    assert sorted(os.listdir(parts)) == ["part-00000.data", "part-00000.idx"]
    summary += attempt(1, 3, iter(pieces[1]))
    summary += attempt(2, 4, iter(pieces[2]))
    assert sorted(os.listdir(parts)) == [
        f"part-{i:05d}.{ext}" for i in range(3) for ext in ("data", "idx")]
    assert [s["tiles"] for s in summary] == [1000, 1500, table.num_rows - 2500]

    path = str(tmp_path / "z.pmtiles")
    ar._pm_assemble(str(parts), summary, path, None, ar._MAX_DIR_ENTRIES,
                    1 << 22)
    assert _sha256(path) == RECORDED_SHA256["zones"]


def test_fused_part_writer_retry_is_idempotent(spark, monkeypatch, tmp_path):
    """The part writer inside the tile reduce, writer(stream(...)) over
    packed zones buckets: an attempt that dies mid-stream publishes nothing
    and leaves no temp file; its retry publishes whole part files, and the
    archive assembled from them has the recorded bytes."""
    import numpy as np
    from pyspark import TaskContext

    shuffled, stream = tp.tile_reduce_of(
        tp.zones_tileset(spark, 0, 8, n_zones=32))
    # the packed rows in partition order ascend by bucket; a bucket holds
    # whole tiles, so any contiguous split at a bucket edge is a valid
    # partitioning
    table = shuffled.toArrow()
    edges = np.flatnonzero(np.diff(table.column("bucket").to_numpy())) + 1
    cuts = [0, int(edges[len(edges) // 3]), int(edges[2 * len(edges) // 3]),
            table.num_rows]
    pieces = [table.slice(a, b - a).to_batches(max_chunksize=5)
              for a, b in zip(cuts, cuts[1:])]
    assert all(len(p) > 2 for p in pieces)
    parts = tmp_path / "z.pmtiles.parts"
    parts.mkdir()
    writer = ar._pm_part_writer(str(parts))
    ctx = []
    monkeypatch.setattr(TaskContext, "get", lambda: ctx[-1])

    def attempt(part, attempt_id, batches):
        ctx.append(_TaskContextStub(part, attempt_id))
        return [b.to_pylist()[0] for b in writer(stream(batches))]

    def dies_midway(batches):
        yield from batches[:2]
        raise RuntimeError("executor lost")

    summary = attempt(0, 1, iter(pieces[0]))
    with pytest.raises(RuntimeError, match="executor lost"):
        attempt(1, 2, dies_midway(pieces[1]))
    assert sorted(os.listdir(parts)) == ["part-00000.data", "part-00000.idx"]
    summary += attempt(1, 3, iter(pieces[1]))
    summary += attempt(2, 4, iter(pieces[2]))
    assert sorted(os.listdir(parts)) == [
        f"part-{i:05d}.{ext}" for i in range(3) for ext in ("data", "idx")]
    assert ar._pm_in_order(summary)
    assert sum(s["tiles"] for s in summary) == 4217

    path = str(tmp_path / "z.pmtiles")
    ar._pm_assemble(str(parts), summary, path, None, ar._MAX_DIR_ENTRIES,
                    1 << 22)
    assert _sha256(path) == RECORDED_SHA256["zones"]


_RETRY_SCRIPT = """
import json, os, sys
from pyspark import TaskContext
from pyspark.sql import SparkSession
from planetiler_spark.operators import tile_pipeline as tp
from planetiler_spark.sources import archives as ar
from planetiler_spark.sources import images as src

out, marker = sys.argv[1], sys.argv[2]
# local[N, F]: F attempts per task; local mode ignores spark.task.maxFailures
spark = (SparkSession.builder.master("local[4,2]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("OFF")
encode = tp.point_tile_reduce(thin_limit=64)


def flaky(table):
    ctx = TaskContext.get()
    if ctx.partitionId() == 2 and ctx.attemptNumber() == 0:
        open(marker, "w").close()
        raise RuntimeError("injected reduce failure")
    return encode(table)


imgs = src.images_df(spark, 200, partitions=4, with_bytes=False)
feats = tp.render_features_packed(imgs, 0, 11, thin_limit=64)
tiles = tp.tile_exchange(feats, flaky, tp.TILE_SCHEMA, tp.POINT_ORDER)
stats = ar.write_pmtiles(tiles, out)
print(json.dumps({"tiles": stats["tiles"]}))
"""


def _run_spark_script(script, *args):
    """Run `script` in a fresh Python process (its own Spark) with the repo
    and the test modules importable; fails the test if it fails."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).parent.parent
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [str(repo), str(repo / "tests"), os.environ.get("PYTHONPATH", "")]))
    res = subprocess.run(
        [sys.executable, "-c", script, *map(str, args)],
        capture_output=True, text=True, timeout=600, cwd=repo, env=env)
    assert res.returncode == 0, res.stderr[-3000:]
    return res


def test_pmtiles_spark_task_retry(tmp_path):
    """A real Spark task retry: one tile reduce partition raises on its
    first attempt, inside the fused part-writer job. The retried write
    gives the recorded archive and leaves no part files behind."""
    out, marker = tmp_path / "retry.pmtiles", tmp_path / "failed-once"
    res = _run_spark_script(_RETRY_SCRIPT, out, marker)
    assert marker.exists()            # the first attempt did fail
    assert json.loads(res.stdout.strip().splitlines()[-1])["tiles"] == 1417
    assert _sha256(str(out)) == RECORDED_SHA256["images"]
    assert sorted(os.listdir(tmp_path)) == ["failed-once", "retry.pmtiles"]


_CORES_SCRIPT = """
import sys
from pyspark.sql import SparkSession
from planetiler_spark.operators import tile_pipeline as tp
from planetiler_spark.sources import archives as ar
from planetiler_spark.sources import images as src
from test_osm_encode import osm_tileset

cores, out = int(sys.argv[1]), sys.argv[2]
spark = (SparkSession.builder.master(f"local[{cores}]")
         .config("spark.sql.shuffle.partitions", str(2 * cores))
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("OFF")
imgs = src.images_df(spark, 200, partitions=4, with_bytes=False)
ar.write_pmtiles(tp.tileset(spark, imgs, min_zoom=0, max_zoom=11),
                 f"{out}/images.pmtiles")
ar.write_pmtiles(osm_tileset(spark), f"{out}/osm.pmtiles")
"""


@pytest.mark.parametrize("cores", [1, 4])
def test_pmtiles_bytes_independent_of_core_count(tmp_path, cores):
    """A fresh Spark at local[1] and at local[4], with twice as many
    shuffle partitions as cores (as the CLIs set them), writes the
    recorded images archive and the recorded synthetic OSM archive."""
    _run_spark_script(_CORES_SCRIPT, cores, tmp_path)
    assert _sha256(str(tmp_path / "images.pmtiles")) == RECORDED_SHA256["images"]
    assert _sha256(str(tmp_path / "osm.pmtiles")) == RECORDED_SHA256["osm"]


@pytest.mark.parametrize("frame", ["cached", "derived"])
def test_cached_and_derived_tilesets_take_the_unfused_path(
        spark, monkeypatch, frame, tmp_path):
    """A cached tileset is the frame tileset() returned (cache() returns
    self), yet the write must read the cache, not run the reduce again; a
    derived frame has no tile reduce. Both are written from their own
    partitions, with the recorded bytes."""
    imgs = src.images_df(spark, 200, partitions=4, with_bytes=False)
    tiles = tp.tileset(spark, imgs, min_zoom=0, max_zoom=11)
    if frame == "cached":
        tiles.cache().count()
    else:
        tiles = tiles.select(*tiles.columns)

    def no_fuse(*args):
        raise AssertionError("the fused part writer ran")

    monkeypatch.setattr(ar, "_pm_write_fused", no_fuse)
    path = str(tmp_path / f"{frame}.pmtiles")
    try:
        ar.write_pmtiles(tiles, path)
    finally:
        tiles.unpersist()
    assert _sha256(path) == RECORDED_SHA256["images"]


def test_pmtiles_zoom_stats_match_spark(spark, tmp_path):
    """stats["zooms"] from the part summaries equals an exact Spark
    aggregate over the same tileset, and the archive bytes do not move."""
    from pyspark.sql import functions as F

    imgs = src.images_df(spark, 200, partitions=4, with_bytes=False)
    tiles = tp.tileset(spark, imgs, min_zoom=0, max_zoom=11)
    path = str(tmp_path / "zooms.pmtiles")
    stats = ar.write_pmtiles(tiles, path)
    size = F.length("tile_bytes")
    want = {r.zoom: {"tiles": r.n, "bytes": r.b, "max_bytes": r.m}
            for r in tiles.groupBy("zoom").agg(
                F.count("*").alias("n"), F.sum(size).alias("b"),
                F.max(size).alias("m")).collect()}
    assert stats["zooms"] == want
    assert sorted(want) == list(range(12))
    assert _sha256(path) == RECORDED_SHA256["images"]


def test_content_keys_match_reference_loop():
    """The vectorized keys equal a per-string reference: a 16-digit
    lowercase hex hash is its own 64 bits, anything else an 8-byte
    blake2b (wrong length, upper case, non-hex, empty)."""
    import hashlib

    import pyarrow as pa

    hashes = ["0123456789abcdef", "h0", "ffffffffffffffff", "ocean",
              "0123456789ABCDEF", "", "00000000000000zz", "0" * 15,
              "f" * 17, "8000000000000000"]

    def reference(h):
        if len(h) == 16 and all(c in "0123456789abcdef" for c in h):
            return int(h, 16)
        return int.from_bytes(hashlib.blake2b(h.encode(), digest_size=8)
                              .digest(), "big")

    arr = pa.array(["pad"] + hashes).slice(1)   # a non-zero array offset
    assert ar._content_keys(arr).tolist() == [reference(h) for h in hashes]


def test_copy_ranges_without_copy_file_range(monkeypatch, tmp_path):
    """Where the filesystem refuses copy_file_range, the ranges are copied
    through user space with the same result."""
    import errno

    src = tmp_path / "src"
    src.write_bytes(bytes(range(256)) * 4)
    ranges = ([10, 300, 1000], [5, 200, 24])
    want = b"".join(src.read_bytes()[o:o + n] for o, n in zip(*ranges))

    def refuse(*args):
        raise OSError(errno.EXDEV, "cross-device")

    for patch in (False, True):
        if patch:
            monkeypatch.setattr(os, "copy_file_range", refuse)
        dst = tmp_path / f"dst{patch}"
        with open(dst, "wb") as f:
            f.write(b"hdr")
            f.flush()
            ar._copy_ranges(f.fileno(), str(src), *ranges)
        assert dst.read_bytes() == b"hdr" + want
