"""Tile archive sinks — MBTiles, PMTiles, files tree, CSV/JSON streams.

Reference parity (SURVEY §2.2):
  - MBTiles (mbtiles/Mbtiles.java:282-345): sqlite `tiles(z, col, row, data)`
    with TMS row flip, plus the fork's NORMALIZED layout `tiles_shallow ⋈
    tiles_data` deduping identical tile contents by id — here keyed by the
    pipeline's content_hash (the order-free replacement for consecutive-tile
    memoization, TileArchiveWriter.java:277-300).
  - PMTiles v3 (pmtiles/WriteablePmtiles.java:40, Pmtiles.java:82-119 and the
    public spec): Hilbert-clustered single file, varint directories, run-length
    + offset dedup of identical tiles.
  - Files archive (files/WriteableFilesArchive.java:47): {z}/{x}/{y}.pbf tree.
  - CSV / JSON stream archives (stream/WriteableCsvArchive.java:68,
    WriteableJsonStreamArchive.java:32): df.write, fully parallel.

PMTiles is assembled on the executors, the shape of the reference's emit
phase (tiles encoded on every core, one ordered writer that only appends,
TileArchiveWriter.java:128-207). The engine's tilesets leave their one tile
exchange already in Hilbert order (a `hilbert_id` column says so), so each
task writes the tileset's own partition, with no second sort, to two part
files under `<path>.parts/`: the partition's blobs (each stored once per
partition) and a raw int64 index of four values per tile. A tileset that
comes straight from the tile exchange is written inside the tile reduce's
own Python map: the encoder's record batches go to the part writer with no
trip through the JVM. Frames in any other order are range-sorted first.
The driver reads the indexes one partition at a time, dedups and
run-length-encodes them with whole-array numpy, writes header and
directories, and builds the data section by copying byte ranges out of the
part files (`os.copy_file_range`); it never holds a tile's bytes.
MBTiles and the proto stream have one writer each (sqlite, a stream) and
drain on the driver through `_drain`: executors frame each partition's
record batches, in order, as Arrow IPC chunks of about `_CHUNK_BYTES`, read
with `toLocalIterator` (the next partition computed while this one is
written). The files tree and CSV/JSON streams write from executors.

Writers that write from executors (PMTiles parts, files tree) need storage
that the executors and the driver both see: a local path in local mode, a
shared mount on a cluster.
"""

from __future__ import annotations

import contextlib
import errno
import gzip
import json
import os
import shutil
import sqlite3
import struct
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from ..kernels import tile_math as tm


# Arrow IPC bytes per drained chunk: large enough that the per-chunk costs
# (one Row, one IPC open) vanish, small enough that a chunk is a small share
# of driver memory.
_CHUNK_BYTES = 8 << 20


def _ipc_chunks(cap: int):
    """mapInArrow function: re-frame a partition's record batches, in order,
    as Arrow IPC streams of at most about `cap` bytes, one binary cell each
    (a batch larger than `cap` is sliced by rows)."""
    def frame(batches):
        import pyarrow as pa

        pending, size = [], 0

        def flush():
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, pending[0].schema) as w:
                for b in pending:
                    w.write_batch(b)
            buf = sink.getvalue()
            ends = pa.py_buffer(np.array([0, buf.size], dtype=np.int32))
            cell = pa.Array.from_buffers(pa.binary(), 1, [None, ends, buf])
            return pa.RecordBatch.from_arrays([cell], ["chunk"])

        for batch in batches:
            step = max(1, cap * batch.num_rows // max(batch.nbytes, 1))
            for i in range(0, batch.num_rows, step):
                piece = batch.slice(i, step)
                if pending and size + piece.nbytes > cap:
                    yield flush()
                    pending, size = [], 0
                pending.append(piece)
                size += piece.nbytes
        if pending:
            yield flush()
    return frame


def _drain(df):
    """df's record batches on the driver, in partition order and row order
    within a partition. The cap is read here, on the driver, so it travels
    with the closure."""
    import pyarrow as pa

    chunks = df.mapInArrow(_ipc_chunks(_CHUNK_BYTES), "chunk binary")
    for row in chunks.toLocalIterator(prefetchPartitions=True):
        yield from pa.ipc.open_stream(pa.py_buffer(row[0]))


def _binary_values(arr):
    """(end offsets, contiguous value bytes) of a pyarrow binary array."""
    ends = np.frombuffer(arr.buffers()[1], dtype=np.int32,
                         count=len(arr) + 1, offset=4 * arr.offset)
    lo, hi = int(ends[0]), int(ends[-1])
    data = arr.buffers()[2]
    return ends, (data.slice(lo, hi - lo) if hi > lo else b"")


@contextlib.contextmanager
def _parts_dir(path: str):
    """A fresh `<path>.parts/` directory for part files, removed when the
    block ends, however it ends."""
    parts = path + ".parts"
    shutil.rmtree(parts, ignore_errors=True)
    os.makedirs(parts)
    try:
        yield parts
    finally:
        shutil.rmtree(parts, ignore_errors=True)


@contextlib.contextmanager
def _part_files(parts_dir: str, *suffixes: str):
    """(partition id, *open files) for this task's part-NNNNN<suffix> files.
    Each task attempt writes its own temp names and publishes them with
    os.replace only when the block finishes; a failed or abandoned attempt
    removes its temp files. A retried or speculative task therefore
    publishes only whole files."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    stem = os.path.join(parts_dir, f"part-{ctx.partitionId():05d}")
    tmp = f".attempt-{ctx.taskAttemptId()}"
    files = [open(stem + s + tmp, "wb") for s in suffixes]
    try:
        yield (ctx.partitionId(), *files)
    except BaseException:
        for f in files:
            f.close()
            os.remove(f.name)
        raise
    for f in files:
        f.close()
    for s in suffixes:
        os.replace(stem + s + tmp, stem + s)


def _copy_ranges(dst_fd: int, src_path: str, starts, lens) -> None:
    """Append byte ranges of src_path to dst_fd at its current position, in
    the kernel (os.copy_file_range) where the filesystem allows it."""
    src = os.open(src_path, os.O_RDONLY)
    try:
        for off, n in zip(np.asarray(starts).tolist(), np.asarray(lens).tolist()):
            while n:
                try:
                    done = os.copy_file_range(src, dst_fd, n, off)
                except OSError as e:
                    if e.errno not in (errno.EXDEV, errno.EINVAL,
                                       errno.EOPNOTSUPP, errno.ENOSYS):
                        raise
                    done = os.write(dst_fd, os.pread(src, min(n, 1 << 24), off))
                if not done:
                    raise IOError(f"{src_path} is shorter than its index")
                off += done
                n -= done
    finally:
        os.close(src)


# ---------------------------------------------------------------------------
# MBTiles
# ---------------------------------------------------------------------------

def write_mbtiles(tiles_df, path: str, metadata: dict | None = None,
                  normalized: bool = True) -> dict:
    """tiles_df: (zoom, x, y, tile_bytes[, content_hash]) -> sqlite, one
    executemany per drained batch. normalized=True dedups identical tile
    contents by content_hash (ocean tiles stored once)."""
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    cur = con.cursor()
    cur.execute("PRAGMA journal_mode=OFF")
    cur.execute("PRAGMA synchronous=OFF")
    cur.execute("CREATE TABLE metadata (name text, value text)")
    cols = ["zoom", "x", "y", "tile_bytes"] + (["content_hash"] if normalized else [])
    n = 0
    uniq = 0
    if normalized:
        # fork's normalized schema (Mbtiles.java createTablesWithoutIndexes)
        cur.execute("""CREATE TABLE tiles_data
                       (tile_data_id integer primary key, tile_data blob)""")
        cur.execute("""CREATE TABLE tiles_shallow
                       (zoom_level integer, tile_column integer, tile_row integer,
                        tile_data_id integer,
                        primary key(zoom_level, tile_column, tile_row))
                       WITHOUT ROWID""")
        cur.execute("""CREATE VIEW tiles AS
                       SELECT zoom_level, tile_column, tile_row, tile_data
                       FROM tiles_shallow JOIN tiles_data USING (tile_data_id)""")
    else:
        cur.execute("""CREATE TABLE tiles
                       (zoom_level integer, tile_column integer, tile_row integer,
                        tile_data blob)""")
    hash_to_id: dict[str, int] = {}
    for b in _drain(tiles_df.select(*cols)):
        z = b.column(0).to_numpy().astype(np.int64)
        rows = (1 << z) - 1 - b.column(2).to_numpy()  # TMS flip (Mbtiles.java tileRow)
        keys = (z.tolist(), b.column(1).to_pylist(), rows.tolist())
        if normalized:
            ids, fresh = [], []
            for i, h in enumerate(b.column(4).to_pylist()):
                tid = hash_to_id.get(h)
                if tid is None:
                    tid = hash_to_id[h] = len(hash_to_id) + 1
                    fresh.append(i)
                ids.append(tid)
            blobs = b.column(3).take(np.asarray(fresh, dtype=np.int64)).to_pylist()
            cur.executemany("INSERT INTO tiles_data VALUES (?, ?)",
                            zip([ids[i] for i in fresh], blobs))
            cur.executemany("INSERT INTO tiles_shallow VALUES (?, ?, ?, ?)",
                            zip(*keys, ids))
            uniq += len(fresh)
        else:
            cur.executemany("INSERT INTO tiles VALUES (?, ?, ?, ?)",
                            zip(*keys, b.column(3).to_pylist()))
        n += b.num_rows
    if not normalized:
        cur.execute("CREATE UNIQUE INDEX tile_index ON tiles "
                    "(zoom_level, tile_column, tile_row)")
        uniq = n
    meta = {"format": "pbf", "type": "overlay", "name": "planetiler_spark",
            **(metadata or {})}
    cur.executemany("INSERT INTO metadata VALUES (?, ?)",
                    [(k, str(v)) for k, v in meta.items()])
    con.commit()
    con.close()
    return {"tiles": n, "unique_blobs": uniq}


def read_mbtiles(path: str) -> dict:
    """{(z, x, y): bytes} with y back in XYZ orientation (for verification —
    the analog of mbtiles/Verify.java + CompareArchives)."""
    con = sqlite3.connect(path)
    out = {}
    for z, col, row, data in con.execute(
            "SELECT zoom_level, tile_column, tile_row, tile_data FROM tiles"):
        out[(z, col, (1 << z) - 1 - row)] = data
    con.close()
    return out


# ---------------------------------------------------------------------------
# PMTiles v3 (public spec; reference pmtiles/Pmtiles.java)
# ---------------------------------------------------------------------------

_PM_MAGIC = b"PMTiles"
_PM_HEADER_LEN = 127
_MAX_DIR_ENTRIES = 16384


def _pm_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _pm_varints_flat(vals: np.ndarray) -> bytes:
    """Vectorized LEB128 of an int64 array, concatenated (mvt.varint_matrix
    + one boolean-mask compaction — no per-value Python)."""
    from ..kernels.mvt import varint_matrix

    B, L = varint_matrix(np.asarray(vals, dtype=np.int64))
    if B.shape[1] == 1:
        return B.tobytes()
    mask = np.arange(B.shape[1])[None, :] < L[:, None]
    return B[mask].tobytes()


def _pm_dir(entries) -> bytes:
    """Serialize directory: delta tile ids, runlengths, lengths, offsets
    (Pmtiles.java directory layout / spec §directories). entries: (N,4)
    int64 array (or any sequence of [tid, off, len, run]) — the four varint
    streams are built with whole-array numpy passes."""
    arr = np.asarray(entries, dtype=np.int64).reshape(-1, 4)
    n = len(arr)
    buf = bytearray(_pm_varint(n))
    if n:
        tid, off, ln = arr[:, 0], arr[:, 1], arr[:, 2]
        buf += _pm_varints_flat(np.diff(tid, prepend=np.int64(0)))
        buf += _pm_varints_flat(arr[:, 3])
        buf += _pm_varints_flat(ln)
        prev_end = np.empty(n, dtype=np.int64)
        prev_end[0] = -1  # first entry never takes the contiguous shortcut
        np.add(off[:-1], ln[:-1], out=prev_end[1:])
        buf += _pm_varints_flat(np.where(off == prev_end, 0, off + 1))
    return gzip.compress(bytes(buf), mtime=0)


def _pm_build_dirs(entries, max_dir_entries: int = _MAX_DIR_ENTRIES):
    """entries ((N,4) int64) -> (root_bytes, leaves_bytes). If the entry list
    fits in one directory it all goes in the root; otherwise entries are
    chunked into leaf directories and the root holds one pointer entry per
    leaf (run_length=0, offset into the leaf section — spec §3 semantics,
    pmtiles/WriteablePmtiles.java:40 buildRootLeaves)."""
    entries = np.asarray(entries, dtype=np.int64).reshape(-1, 4)
    if len(entries) <= max_dir_entries:
        return _pm_dir(entries), b"", 0
    leaf_size = max_dir_entries
    while (len(entries) + leaf_size - 1) // leaf_size > max_dir_entries:
        leaf_size *= 2
    chunks = [entries[i:i + leaf_size] for i in range(0, len(entries), leaf_size)]
    # gzip level 9 dominates; zlib releases the GIL, so leaves compress in
    # parallel (each leaf is compressed on its own: the bytes do not change)
    with ThreadPoolExecutor(os.cpu_count()) as pool:
        sers = list(pool.map(_pm_dir, chunks))
    root_entries = []
    leaves = bytearray()
    for chunk, ser in zip(chunks, sers):
        root_entries.append((int(chunk[0][0]), len(leaves), len(ser), 0))
        leaves += ser
    return _pm_dir(root_entries), bytes(leaves), len(root_entries)


def _hilbert_tokens(spark, p: int):
    """(token column name, PMTiles tile ids -> int64 tokens) of the analytic
    range exchange (operators/partitioning.py): `repartition(p, token)`
    puts lower ids on lower partitions. The tile pipelines build the same
    tokens over their own zoom range; this writer-side twin serves frames
    that arrive out of Hilbert order, and since it cannot know their
    zooms, its buckets span every legal zoom; their balance sets only the
    parallelism, never the order."""
    from ..operators import partitioning as pt

    boundaries, pid = pt.tile_range_partitioning(0, tm.MAX_MAXZOOM, p)
    bucket_tok = pt.partition_tokens(spark, p)[pid]

    def tokens(ids):
        return bucket_tok[np.searchsorted(boundaries, ids, side="right") - 1]
    return pt.token_col(p), tokens


def _pm_tile_ids(b) -> np.ndarray:
    """PMTiles Hilbert id of each tile of a record batch (zoom, x, y)."""
    return tm.hilbert_encode(b.column("x").to_numpy(), b.column("y").to_numpy(),
                             b.column("zoom").to_numpy())


_PM_COLS = ("zoom", "x", "y", "tile_bytes", "content_hash")


def _pm_sorted(tiles_df):
    """tiles_df (zoom, x, y, tile_bytes, content_hash) -> the same columns in
    total Hilbert order: partition i holds lower ids than partition i+1 and
    each partition is sorted. One mapInArrow computes each tile's id and
    range token, so a plain hash exchange on the token is the range
    exchange (no sampling job). write_pmtiles needs this only for frames
    that are not already in Hilbert order."""
    from pyspark.sql import functions as F

    spark = tiles_df.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tok, tokens = _hilbert_tokens(spark, p)

    def keyed(batches):
        import pyarrow as pa

        for b in batches:
            hid = _pm_tile_ids(b)
            yield pa.RecordBatch.from_arrays(
                [pa.array(hid, pa.int64()), *b.columns,
                 pa.array(tokens(hid), pa.int64())],
                ["hilbert_id", *_PM_COLS, tok])

    return (tiles_df
            .select(F.col("zoom").cast("int"), F.col("x").cast("int"),
                    F.col("y").cast("int"), "tile_bytes", "content_hash")
            .mapInArrow(keyed, "hilbert_id long, zoom int, x int, y int, "
                               f"tile_bytes binary, content_hash string, {tok} long")
            .repartition(p, tok)
            .sortWithinPartitions("hilbert_id")
            .select(*_PM_COLS))


# hex digit value of each byte; -1 for anything but 0-9 and a-f
_HEX = np.full(256, -1, dtype=np.int64)
_HEX[np.frombuffer(b"0123456789abcdef", dtype=np.uint8)] = np.arange(16)


def _content_keys(hashes) -> np.ndarray:
    """uint64 dedup key of each content_hash in a pyarrow string array. A
    16-digit lowercase hex hash (the pipeline's form) is its own 64 bits,
    decoded with whole-array numpy; any other string maps to an 8-byte
    blake2b digest."""
    import hashlib

    ends, raw = _binary_values(hashes)
    raw = np.frombuffer(raw, dtype=np.uint8)
    starts = ends[:-1] - ends[0]
    keys = np.zeros(len(hashes), dtype=np.uint64)
    exact = np.diff(ends) == 16
    nib = _HEX[raw[starts[exact, None] + np.arange(16)]]
    ok = (nib >= 0).all(axis=1)
    exact[exact] = ok
    shifts = (4 * np.arange(15, -1, -1)).astype(np.uint64)
    keys[exact] = np.bitwise_or.reduce(
        nib[ok].astype(np.uint64) << shifts, axis=1)
    for i in np.flatnonzero(~exact).tolist():
        digest = hashlib.blake2b(raw[starts[i]:ends[i + 1] - ends[0]].tobytes(),
                                 digest_size=8).digest()
        keys[i] = int.from_bytes(digest, "big")
    return keys


_PM_PART_SCHEMA = ("part long, tiles long, data_bytes long, first_id long, "
                   "last_id long, increasing boolean, zoom_tiles array<long>, "
                   "zoom_bytes array<long>, zoom_max_bytes array<long>")


def _pm_part_writer(parts_dir: str):
    """mapInArrow function over one partition of (zoom, x, y, tile_bytes,
    content_hash), expected in Hilbert order. Writes part-NNNNN.data, the
    partition's blobs with any blob already seen in this partition skipped,
    and part-NNNNN.idx, raw int64 [hilbert id, content key, length, offset
    in the .data file] per tile; yields one summary row. The Hilbert ids
    are computed here from (zoom, x, y), never taken from the frame, and
    the summary says whether they strictly increase (first_id, last_id,
    increasing), so the driver can check the partition order. Per zoom
    0..MAX_MAXZOOM it also counts the tiles, their total bytes and the
    largest tile (zoom_tiles, zoom_bytes, zoom_max_bytes).

    Columns are read by name, so the batches may carry more of them: the
    tile reduce's own TILE_SCHEMA batches go in as they are."""
    nz = tm.MAX_MAXZOOM + 1

    def write(batches):
        import pyarrow as pa

        seen_k = np.empty(0, dtype=np.uint64)   # sorted keys in this part
        seen_o = np.empty(0, dtype=np.int64)    # their offsets in .data
        n = size = 0
        z_tiles = np.zeros(nz, dtype=np.int64)
        z_bytes = np.zeros(nz, dtype=np.int64)
        z_max = np.zeros(nz, dtype=np.int64)
        first = last = -1
        increasing = True
        with _part_files(parts_dir, ".data", ".idx") as (part, dataf, idxf):
            for b in batches:
                if not b.num_rows:
                    continue
                hid = _pm_tile_ids(b)
                increasing = increasing and bool(hid[0] > last) \
                    and bool(np.all(hid[1:] > hid[:-1]))
                if not n:
                    first = int(hid[0])
                last = int(hid[-1])
                blobs = b.column("tile_bytes")
                ln = np.diff(_binary_values(blobs)[0]).astype(np.int64)
                key = _content_keys(b.column("content_hash"))
                pos = np.searchsorted(seen_k, key)
                hit = pos < len(seen_k)
                hit[hit] = seen_k[pos[hit]] == key[hit]
                off = np.empty(len(key), dtype=np.int64)
                off[hit] = seen_o[pos[hit]]
                miss = np.flatnonzero(~hit)
                uk, first_at, inv = np.unique(key[miss], return_index=True,
                                              return_inverse=True)
                order = np.argsort(first_at)       # new keys, first seen first
                new = miss[first_at[order]]
                uo = np.empty(len(uk), dtype=np.int64)
                uo[order] = size + np.cumsum(ln[new]) - ln[new]
                off[miss] = uo[inv]
                taken = blobs if len(new) == len(key) else \
                    blobs.take(pa.array(new, pa.int64()))
                dataf.write(_binary_values(taken)[1])
                size += int(ln[new].sum())
                at = np.searchsorted(seen_k, uk)
                seen_k, seen_o = np.insert(seen_k, at, uk), np.insert(seen_o, at, uo)
                idxf.write(np.stack([hid, key.view(np.int64), ln, off],
                                    axis=1).tobytes())
                zoom = b.column("zoom").to_numpy()
                z_tiles += np.bincount(zoom, minlength=nz)
                np.add.at(z_bytes, zoom, ln)
                np.maximum.at(z_max, zoom, ln)
                n += b.num_rows
        yield pa.RecordBatch.from_pylist(
            [{"part": part, "tiles": n, "data_bytes": size,
              "first_id": first, "last_id": last, "increasing": increasing,
              "zoom_tiles": z_tiles.tolist(), "zoom_bytes": z_bytes.tolist(),
              "zoom_max_bytes": z_max.tolist()}])
    return write


def _pm_write_parts(ordered, parts_dir: str) -> list[dict]:
    """Run the part writer over `ordered`'s own partitions in one job; its
    summary rows."""
    rows = (ordered.select(*_PM_COLS)
            .mapInArrow(_pm_part_writer(parts_dir), _PM_PART_SCHEMA)
            .collect())
    return [r.asDict() for r in rows]


def _pm_write_fused(shuffled, stream, parts_dir: str) -> list[dict]:
    """Run the part writer inside the tile reduce: one mapInArrow over the
    tile exchange's shuffled rows whose function is the writer over the
    reduce's `stream` (operators/tile_pipeline.tile_exchange). Finished
    tiles never leave the Python worker; its summary rows."""
    writer = _pm_part_writer(parts_dir)
    rows = (shuffled.mapInArrow(lambda it: writer(stream(it)), _PM_PART_SCHEMA)
            .collect())
    return [r.asDict() for r in rows]


def _pm_in_order(parts) -> bool:
    """True when the parts, read in partition order, hold strictly
    increasing Hilbert ids: each partition increases and each non-empty
    partition starts above the previous one's last id."""
    last = -1
    for s in sorted(parts, key=lambda r: r["part"]):
        if not s["tiles"]:
            continue
        if not s["increasing"] or s["first_id"] <= last:
            return False
        last = s["last_id"]
    return True


def _pm_assemble(parts_dir: str, parts, path: str, metadata: dict | None,
                 max_dir_entries: int, dedup_cap: int) -> dict:
    """Driver half of write_pmtiles: the part indexes, read one partition at
    a time in partition order, become directory entries and a copy plan;
    the archive is written beside the parts and moved to `path` when whole.
    parts: the part writer's summary rows.

    Dedup is global and first-occurrence-wins, as a tile-by-tile writer
    would do it: a sorted array remembers up to dedup_cap content keys with
    their data offsets, and a repeat of a key that is not remembered is
    stored again. Memory is one partition's index plus the run entries and
    the remembered keys."""
    rem_k = np.empty(0, dtype=np.uint64)     # remembered keys, sorted
    rem_o = np.empty(0, dtype=np.int64)      # their data offsets
    blocks: list[np.ndarray] = []   # (k, 4) [tid, off, len, run] per run
    copies = []                     # (part file, source starts, lengths)
    last = None                     # (tid, off, len) of the last tile
    n_tiles = data_len = 0
    for s in sorted(parts, key=lambda r: r["part"]):
        if not s["tiles"]:
            continue
        stem = os.path.join(parts_dir, f"part-{s['part']:05d}")
        idx = np.fromfile(stem + ".idx", dtype=np.int64).reshape(-1, 4)
        if len(idx) != s["tiles"] or os.path.getsize(stem + ".data") != s["data_bytes"]:
            raise IOError(f"{stem}: part files differ from their task's summary")
        n = len(idx)
        tid, key, ln, src = idx[:, 0], idx[:, 1].view(np.uint64), idx[:, 2], idx[:, 3]
        pos = np.searchsorted(rem_k, key)
        hit = pos < len(rem_k)
        hit[hit] = rem_k[pos[hit]] == key[hit]
        off = np.empty(n, dtype=np.int64)
        off[hit] = rem_o[pos[hit]]
        miss = np.flatnonzero(~hit)
        uk, first, inv = np.unique(key[miss], return_index=True,
                                   return_inverse=True)
        # the first (dedup_cap - remembered) new keys, by first occurrence,
        # are remembered; a miss is stored unless it repeats one of those
        keep = np.zeros(len(uk), dtype=bool)
        keep[np.argsort(first)[:max(0, dedup_cap - len(rem_k))]] = True
        first_at = miss[first]
        stored = (first_at[inv] == miss) | ~keep[inv]
        fresh = miss[stored]
        off[fresh] = data_len + np.cumsum(ln[fresh]) - ln[fresh]
        data_len += int(ln[fresh].sum())
        repeat = miss[~stored]
        off[repeat] = off[first_at[inv[~stored]]]
        at = np.searchsorted(rem_k, uk[keep])
        rem_k = np.insert(rem_k, at, uk[keep])
        rem_o = np.insert(rem_o, at, off[first_at[keep]])
        # stored blobs go out in tile order; adjacent source ranges coalesce
        if len(fresh):
            s_src, s_ln = src[fresh], ln[fresh]
            cut = np.flatnonzero(np.r_[True, s_src[1:] != s_src[:-1] + s_ln[:-1]])
            copies.append((stem + ".data", s_src[cut], np.add.reduceat(s_ln, cut)))
        # a tile continues the current run when it is the next Hilbert id
        # with the same blob; the first tile compares with the last one of
        # the previous partition, so runs merge across partition edges
        cont = np.empty(n, dtype=bool)
        cont[1:] = (tid[1:] == tid[:-1] + 1) & (off[1:] == off[:-1]) \
            & (ln[1:] == ln[:-1])
        cont[0] = last is not None and \
            (int(tid[0]), int(off[0]), int(ln[0])) == (last[0] + 1, last[1], last[2])
        starts = np.flatnonzero(~cont)
        lead = int(starts[0]) if len(starts) else n
        if lead:
            blocks[-1][-1, 3] += lead
        if len(starts):
            blocks.append(np.stack([tid[starts], off[starts], ln[starts],
                                    np.diff(starts, append=n)], axis=1))
        last = (int(tid[-1]), int(off[-1]), int(ln[-1]))
        n_tiles += n

    zooms = _pm_zoom_stats(parts)
    minz, maxz = (min(zooms), max(zooms)) if zooms else (0, 0)
    entries = np.concatenate(blocks) if blocks \
        else np.empty((0, 4), dtype=np.int64)
    root, leaves, n_leaves = _pm_build_dirs(entries, max_dir_entries)
    meta_bytes = gzip.compress(json.dumps(metadata or {}).encode(), mtime=0)

    root_off = _PM_HEADER_LEN
    meta_off = root_off + len(root)
    leaf_off = meta_off + len(meta_bytes)
    data_off = leaf_off + len(leaves)
    hdr = bytearray(_PM_HEADER_LEN)
    hdr[0:7] = _PM_MAGIC
    hdr[7] = 3  # spec version
    struct.pack_into("<QQQQQQQQ", hdr, 8,
                     root_off, len(root), meta_off, len(meta_bytes),
                     leaf_off, len(leaves), data_off, data_len)
    # spec bytes 72/80/88: addressed tiles / tile entries / tile contents
    # (Pmtiles.java:122-124)
    struct.pack_into("<QQQ", hdr, 72, n_tiles, len(entries), len(rem_k))
    hdr[96] = 1   # clustered
    hdr[97] = 2   # internal compression: gzip
    hdr[98] = 2   # tile compression: gzip
    hdr[99] = 1   # tile type: mvt
    hdr[100] = minz
    hdr[101] = maxz
    tmp = os.path.join(parts_dir, "archive.tmp")
    with open(tmp, "wb") as out:
        out.write(bytes(hdr) + root + meta_bytes + leaves)
        out.flush()
        for part_path, starts, lens in copies:
            _copy_ranges(out.fileno(), part_path, starts, lens)
    os.replace(tmp, path)
    return {"tiles": n_tiles, "entries": len(entries),
            "unique_blobs": len(rem_k), "n_leaves": n_leaves,
            "bytes": data_off + data_len, "zooms": zooms}


def _pm_zoom_stats(parts) -> dict:
    """The part summaries' per-zoom columns merged: {zoom: {"tiles",
    "bytes", "max_bytes"}} for every zoom that holds a tile (addressed
    tiles, each counted with its own length, before any dedup)."""
    if not parts:
        return {}
    tiles = np.sum([s["zoom_tiles"] for s in parts], axis=0)
    size = np.sum([s["zoom_bytes"] for s in parts], axis=0)
    top = np.max([s["zoom_max_bytes"] for s in parts], axis=0)
    return {z: {"tiles": int(tiles[z]), "bytes": int(size[z]),
                "max_bytes": int(top[z])} for z in np.flatnonzero(tiles).tolist()}


def write_pmtiles(tiles_df, path: str, metadata: dict | None = None,
                  max_dir_entries: int = _MAX_DIR_ENTRIES,
                  dedup_cap: int = 1 << 22) -> dict:
    """Hilbert-clustered single-file archive with run-length + content dedup
    and root+leaf directories. tiles_df must carry (zoom, x, y, tile_bytes,
    content_hash).

    ASSEMBLED ON THE EXECUTORS: every task writes its partition's blobs and
    index to part files under `<path>.parts/` (`_pm_part_writer`); a single
    collect() runs all partitions in parallel. Which job writes them:
      - a frame straight from the tile exchange (`tileset`,
        `zones_tileset`, `encode_osm_tiles`; tile_pipeline.tile_reduce_of)
        and not cached: the part writer runs inside the tile reduce, one
        mapInArrow over the exchange's shuffled rows (`_pm_write_fused`),
        so finished tiles never return to the JVM;
      - a cached frame (cache() and persist() return the frame itself;
        fusing would run the render, the exchange and the reduce again
        and ignore the cache), or any other frame with a `hilbert_id`
        column, such as one derived from a tileset by select or filter:
        the part writer over the frame's own partitions, with no exchange
        and no sort;
      - a frame without the column (a foreign or synthetic frame): the
        part writer after `_pm_sorted`, an analytic range exchange.
    The part writer computes every tile's id from (zoom, x, y) and reports
    whether its partition increases; if the partitions of the first two
    kinds are not in total Hilbert order after all, the parts are
    discarded and the frame is written again through `_pm_sorted`.

    The driver then reads the indexes in partition order, does a global
    first-occurrence content dedup over 64-bit keys (bounded by dedup_cap),
    builds run-length entries that merge across partition edges, writes
    header and directories, and copies the data section out of the part
    files (`_pm_assemble`). Tile bytes never reach the driver. Directories
    follow the public PMTiles v3 spec (pmtiles/Pmtiles.java:82-119): entries
    beyond max_dir_entries spill into leaf directories with root pointer
    entries.

    The part files and the finished archive are published by rename, and
    `<path>.parts/` is removed however the write ends, so a failed write
    leaves no partial archive. On a cluster `<path>` must be on storage
    that the executors and the driver both see.

    The returned stats carry `zooms`: per zoom, the tile count, total
    bytes and largest tile, summed by the part writers (no extra job)."""
    from ..operators.tile_pipeline import tile_reduce_of

    with _parts_dir(path) as parts:
        summary = None
        if "hilbert_id" in tiles_df.columns:
            reduce = None if tiles_df.is_cached else tile_reduce_of(tiles_df)
            summary = (_pm_write_fused(*reduce, parts) if reduce is not None
                       else _pm_write_parts(tiles_df, parts))
            if not _pm_in_order(summary):
                summary = None
                shutil.rmtree(parts)
                os.makedirs(parts)
        if summary is None:
            summary = _pm_write_parts(_pm_sorted(tiles_df), parts)
        return _pm_assemble(parts, summary, path, metadata, max_dir_entries,
                            dedup_cap)


def _pm_varints(raw: bytes) -> np.ndarray:
    """Every LEB128 varint of `raw`, decoded with whole-array passes (the
    inverse of _pm_varints_flat)."""
    b = np.frombuffer(raw, dtype=np.uint8)
    ends = np.flatnonzero(b < 0x80)
    if len(b) and (not len(ends) or ends[-1] != len(b) - 1):
        raise ValueError("truncated varint stream")
    if not len(ends):
        return np.empty(0, dtype=np.int64)
    starts = np.concatenate(([0], ends[:-1] + 1))
    shift = (np.arange(len(b)) - np.repeat(starts, ends - starts + 1)) * 7
    if shift.max() > 63:
        raise ValueError("varint wider than 64 bits")
    vals = (b & 0x7F).astype(np.uint64) << shift.astype(np.uint64)
    return np.add.reduceat(vals, starts).astype(np.int64)


def _pm_parse_dir(comp: bytes):
    """Decompress + parse one serialized directory -> (tids, runs, lens, offs)
    int64 arrays. run == 0 marks a leaf-pointer entry (offset into the leaf
    section)."""
    v = _pm_varints(gzip.decompress(comp))
    n = int(v[0])
    if len(v) != 1 + 4 * n:
        raise ValueError("directory length mismatch")
    tids = np.cumsum(v[1:1 + n])
    runs, lens, raw = v[1 + n:1 + 2 * n], v[1 + 2 * n:1 + 3 * n], v[1 + 3 * n:]
    if n and raw[0] == 0:
        raise ValueError("first directory entry has no offset")
    # raw offset 0 = previous offset + previous length: chain each entry
    # from the last entry with an explicit offset
    idx = np.arange(n)
    anchor = np.maximum.accumulate(np.where(raw != 0, idx, 0))
    clen = np.concatenate(([0], np.cumsum(lens)))
    offs = raw[anchor] - 1 + clen[idx] - clen[anchor]
    return tids, runs, lens, offs


def read_pmtiles(path: str) -> dict:
    """{(z, x, y): bytes} — verification reader; follows leaf directories.
    Each directory is decoded whole and all tile ids go through one batched
    hilbert_decode."""
    with open(path, "rb") as f:
        buf = f.read()
    assert buf[:7] == _PM_MAGIC and buf[7] == 3
    (root_off, root_len, _mo, _ml, leaf_off, _ll, data_off, _dl) = \
        struct.unpack_from("<QQQQQQQQ", buf, 8)
    dirs = [buf[root_off:root_off + root_len]]
    tile_entries = []
    for comp in dirs:  # grows while leaf pointers are found
        tids, runs, lens, offs = _pm_parse_dir(comp)
        leaf = runs == 0
        dirs += [buf[leaf_off + o:leaf_off + o + ln]
                 for o, ln in zip(offs[leaf].tolist(), lens[leaf].tolist())]
        tile_entries.append((tids[~leaf], runs[~leaf], lens[~leaf], offs[~leaf]))
    tids, runs, lens, offs = (np.concatenate(c) for c in zip(*tile_entries))
    # one id per addressed tile: a run covers consecutive ids sharing a blob
    entry = np.repeat(np.arange(len(tids)), runs)
    first = np.repeat(np.cumsum(runs) - runs, runs)
    x, y, z = tm.hilbert_decode(tids[entry] + np.arange(len(entry)) - first)
    blobs = [buf[data_off + o:data_off + o + ln]
             for o, ln in zip(offs.tolist(), lens.tolist())]
    return {(zz, xx, yy): blobs[e] for zz, xx, yy, e in
            zip(z.tolist(), x.tolist(), y.tolist(), entry.tolist())}


# ---------------------------------------------------------------------------
# files archive + stream archives
# ---------------------------------------------------------------------------

def write_files_archive(tiles_df, base: str, metadata: dict | None = None) -> int:
    """{base}/{z}/{x}/{y}.pbf tree (TileSchemeEncoding z/x/y default),
    written in parallel from executors via foreachPartition (on a cluster,
    base must be on storage that the executors and the driver both see)."""
    os.makedirs(base, exist_ok=True)

    def write_part(it):
        for r in it:
            d = os.path.join(base, str(r.zoom), str(r.x))
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, f"{r.y}.pbf"), "wb") as f:
                f.write(bytes(r.tile_bytes))

    tiles_df.select("zoom", "x", "y", "tile_bytes").foreachPartition(write_part)
    with open(os.path.join(base, "metadata.json"), "w") as f:
        json.dump({"format": "pbf", **(metadata or {})}, f)
    n = 0
    for z in os.listdir(base):
        if z.isdigit():
            for x in os.listdir(os.path.join(base, z)):
                n += len(os.listdir(os.path.join(base, z, x)))
    return n


def read_files_archive(base: str) -> dict:
    out = {}
    for z in os.listdir(base):
        if not z.isdigit():
            continue
        for x in os.listdir(os.path.join(base, z)):
            for fn in os.listdir(os.path.join(base, z, x)):
                with open(os.path.join(base, z, x, fn), "rb") as f:
                    out[(int(z), int(x), int(fn.split(".")[0]))] = f.read()
    return out


def write_proto_archive(tiles_df, path: str, metadata: dict | None = None) -> int:
    """Length-delimited protobuf stream archive
    (stream/WriteableProtoStreamArchive.java:39, schema
    stream_archive_proto.proto): an empty initialization Entry, one
    Entry{tile: TileEntry{x,y,z,encoded_data}} per tile, then
    Entry{finish: FinishEntry{metadata}}. Canonical proto3 encoding
    (zero-valued scalar fields omitted), hand-rolled with the same varint
    helpers as the MVT codec. The driver drains the frame in its partition
    order (`_drain`) and writes each batch's entries with one write."""
    from ..kernels.mvt import _varint, _len_delim, _tag

    n = 0
    with open(path, "wb") as f:
        f.write(_varint(0))  # initialization: empty Entry (initialize():57)
        for b in _drain(tiles_df.select("zoom", "x", "y", "tile_bytes")):
            out = []
            for z, x, y, blob in zip(*(c.to_pylist() for c in b.columns)):
                te = b""
                if x:
                    te += _tag(1, 0) + _varint(x)
                if y:
                    te += _tag(2, 0) + _varint(y)
                if z:
                    te += _tag(3, 0) + _varint(z)
                te += _len_delim(4, blob)
                ent = _len_delim(1, te)
                out.append(_varint(len(ent)) + ent)
            f.write(b"".join(out))
            n += b.num_rows
        md = b""
        for field, key in ((1, "name"), (2, "description"), (3, "attribution"),
                           (4, "version"), (5, "type"), (6, "format")):
            if (metadata or {}).get(key):
                md += _len_delim(field, str(metadata[key]).encode())
        meta = metadata or {}
        if meta.get("min_zoom"):
            md += _tag(9, 0) + _varint(int(meta["min_zoom"]))
        if meta.get("max_zoom"):
            md += _tag(10, 0) + _varint(int(meta["max_zoom"]))
        md += _tag(13, 0) + _varint(1)  # TILE_COMPRESSION_GZIP
        ent = _len_delim(3, _len_delim(1, md))
        f.write(_varint(len(ent)) + ent)
    return n


def read_proto_archive(path: str):
    """Verification reader: ({(z, x, y): bytes}, metadata dict)."""
    from ..kernels.mvt import _read_varint

    with open(path, "rb") as f:
        buf = memoryview(f.read())
    tiles = {}
    meta = {}
    off = 0

    def parse_fields(mv):
        pos = 0
        out = []
        while pos < len(mv):
            key, pos = _read_varint(mv, pos)
            field, wire = key >> 3, key & 7
            if wire == 0:
                v, pos = _read_varint(mv, pos)
                out.append((field, v))
            elif wire == 2:
                ln, pos = _read_varint(mv, pos)
                out.append((field, bytes(mv[pos:pos + ln])))
                pos += ln
            else:
                raise ValueError(f"unexpected wire type {wire}")
        return out

    meta_names = {1: "name", 2: "description", 3: "attribution", 4: "version",
                  5: "type", 6: "format", 9: "min_zoom", 10: "max_zoom",
                  13: "tile_compression"}
    while off < len(buf):
        ln, off = _read_varint(buf, off)
        entry = buf[off:off + ln]
        off += ln
        for field, val in parse_fields(entry):
            if field == 1:  # tile
                x = y = z = 0
                data = b""
                for tf, tv in parse_fields(memoryview(val)):
                    if tf == 1:
                        x = tv
                    elif tf == 2:
                        y = tv
                    elif tf == 3:
                        z = tv
                    elif tf == 4:
                        data = tv
                tiles[(z, x, y)] = data
            elif field == 3:  # finish -> metadata
                for ff, fv in parse_fields(memoryview(val)):
                    if ff == 1:
                        for mf, mval in parse_fields(memoryview(fv)):
                            name = meta_names.get(mf, mf)
                            meta[name] = (mval.decode() if isinstance(mval, bytes)
                                          else mval)
    return tiles, meta


def write_csv_archive(tiles_df, path: str, base64_data: bool = True):
    """Streaming CSV archive (stream/WriteableCsvArchive.java:68): one line per
    tile, data base64'd — parallel df.write."""
    from pyspark.sql import functions as F
    enc = (F.regexp_replace(F.base64("tile_bytes"), "[\\r\\n]", "")
           if base64_data else F.hex("tile_bytes"))
    df = tiles_df.select("x", "y", "zoom", enc.alias("encoded_data"))
    df.write.mode("overwrite").csv(path)


def write_json_archive(tiles_df, path: str):
    """Streaming JSON archive (stream/WriteableJsonStreamArchive.java:32)."""
    from pyspark.sql import functions as F
    df = tiles_df.select(
        F.col("x"), F.col("y"), F.col("zoom").alias("z"),
        F.regexp_replace(F.base64("tile_bytes"), "[\\r\\n]", "").alias("encoded_data"))
    df.write.mode("overwrite").json(path)
