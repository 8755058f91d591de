"""Output checks, run outside the timed window.

The archive's header and directories are re-read with a reader written
here from the PMTiles v3 spec (vectorized, so a 100k-tile archive reads in
well under a second), then compared with what the job should have produced
from its stored input. Engine code is used only for tile-id arithmetic and
to decode a sample of tile contents.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import struct

import numpy as np

HEADER_LEN = 127


class CheckFailed(Exception):
    pass


def require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 22), b""):
            h.update(chunk)
    return h.hexdigest()


# ---------------------------------------------------------------------------
# PMTiles v3 reader
# ---------------------------------------------------------------------------

def _varints(buf: bytes) -> np.ndarray:
    """All LEB128 varints of ``buf`` as uint64, vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    ends = np.nonzero(b < 0x80)[0]
    require(len(ends) > 0 and ends[-1] == len(b) - 1, "truncated varint stream")
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    group = np.repeat(np.arange(len(ends)), ends - starts + 1)
    shift = (np.arange(len(b)) - starts[group]).astype(np.uint64) * np.uint64(7)
    require(bool((shift < 64).all()), "varint wider than 64 bits")
    vals = (b & 0x7F).astype(np.uint64) << shift
    return np.add.reduceat(vals, starts)


def _directory(comp: bytes):
    """One gzip'd directory -> (tile_id, run, length, offset) int64 arrays."""
    v = _varints(gzip.decompress(comp)).astype(np.int64)
    n = int(v[0])
    require(len(v) == 1 + 4 * n, "directory length mismatch")
    tids = np.cumsum(v[1:1 + n])
    runs = v[1 + n:1 + 2 * n]
    lens = v[1 + 2 * n:1 + 3 * n]
    raw = v[1 + 3 * n:1 + 4 * n]
    # offset 0 means "previous offset + previous length": chain from the
    # last explicit offset
    require(n == 0 or raw[0] != 0, "first directory entry has no offset")
    idx = np.arange(n)
    anchor = np.maximum.accumulate(np.where(raw != 0, idx, 0))
    clen = np.concatenate([[0], np.cumsum(lens)])
    offs = (raw[anchor] - 1) + clen[idx] - clen[anchor]
    return tids, runs, lens, offs


def read_archive(path: str) -> dict:
    """Header fields plus the flattened tile entries of a PMTiles file."""
    with open(path, "rb") as f:
        buf = f.read()
    require(len(buf) >= HEADER_LEN and buf[:7] == b"PMTiles" and buf[7] == 3,
            "not a PMTiles v3 file")
    (root_off, root_len, _meta_off, _meta_len, leaf_off, leaf_len,
     data_off, data_len, n_addressed, n_entries, n_contents) = \
        struct.unpack_from("<11Q", buf, 8)
    require(data_off + data_len == len(buf), "data section does not end the file")
    tids, runs, lens, offs = _directory(buf[root_off:root_off + root_len])
    leaf = runs == 0
    parts = [(tids[~leaf], runs[~leaf], lens[~leaf], offs[~leaf])]
    for off, ln in zip(offs[leaf], lens[leaf]):
        require(off + ln <= leaf_len, "leaf directory outside its section")
        d = _directory(buf[leaf_off + off:leaf_off + off + ln])
        require(bool((d[1] > 0).all()), "nested leaf directories")
        parts.append(d)
    tids, runs, lens, offs = (np.concatenate(c) for c in zip(*parts))
    order = np.argsort(tids, kind="stable")
    tids, runs, lens, offs = tids[order], runs[order], lens[order], offs[order]
    return {"buf": buf, "data_off": data_off, "data_len": data_len,
            "n_addressed": n_addressed, "n_entries": n_entries,
            "n_contents": n_contents, "minzoom": buf[100], "maxzoom": buf[101],
            "tids": tids, "runs": runs, "lens": lens, "offs": offs}


def addressed_tile_ids(a: dict) -> np.ndarray:
    """Every addressed tile id (runs expanded)."""
    runs = a["runs"]
    start = np.repeat(a["tids"], runs)
    first = np.repeat(np.cumsum(runs) - runs, runs)
    return start + (np.arange(int(runs.sum())) - first)


def check_archive(path: str, stats: dict, minzoom: int, maxzoom: int,
                  layer: str, expected: "TileExpectation") -> dict:
    """Structural checks (counts, ranges, ordering), the expected tile set,
    and a decode of a fixed sample of tiles. Returns the archive summary."""
    from planetiler_spark.kernels import mvt

    a = read_archive(path)
    n = int(a["runs"].sum())
    require(n == a["n_addressed"] == stats["tiles"],
            f"re-read {n} tiles, header {a['n_addressed']}, drained {stats['tiles']}")
    require(len(a["tids"]) == a["n_entries"] == stats["entries"], "entry count")
    require(len(set(zip(a["offs"].tolist(), a["lens"].tolist())))
            == a["n_contents"] == stats["unique_blobs"], "unique content count")
    require(bool((a["tids"][1:] >= a["tids"][:-1] + a["runs"][:-1]).all()),
            "overlapping tile runs")
    require(bool(((a["offs"] >= 0) & (a["lens"] > 0)
                  & (a["offs"] + a["lens"] <= a["data_len"])).all()),
            "tile data outside the data section")
    require((a["minzoom"], a["maxzoom"]) == (minzoom, maxzoom), "zoom range")
    ids = addressed_tile_ids(a)
    expected.check(ids)
    # decode a fixed sample of entries: gzip + MVT must parse, one layer
    pick = np.unique(np.linspace(0, len(a["tids"]) - 1, 64).astype(int))
    base = a["data_off"]
    for i in pick:
        blob = a["buf"][base + a["offs"][i]:base + a["offs"][i] + a["lens"][i]]
        tile = mvt.decode_tile(gzip.decompress(blob))
        require(list(tile) == [layer] and len(tile[layer]) > 0,
                f"tile entry {i} does not decode to a non-empty '{layer}' layer")
    return {"tiles": n, "entries": len(a["tids"]), "contents": a["n_contents"]}


class TileExpectation:
    """Which tiles the job must address, derived from the stored input
    without running the engine's render: every ``must`` tile is present and
    every addressed tile is in ``may``."""

    def __init__(self, must: np.ndarray, may: np.ndarray):
        self.must = np.unique(must)
        self.may = np.unique(may)

    def check(self, ids: np.ndarray) -> None:
        require(len(np.unique(ids)) == len(ids), "duplicate tile ids")
        missing = ~np.isin(self.must, ids, assume_unique=True)
        require(not missing.any(), f"{int(missing.sum())} expected tiles missing")
        stray = ~np.isin(ids, self.may, assume_unique=True)
        require(not stray.any(), f"{int(stray.sum())} tiles outside the input's reach")


def _hilbert_ids(x, y, z: int) -> np.ndarray:
    from planetiler_spark.kernels import tile_math as tm
    return tm.hilbert_encode(x.astype(np.int64), y.astype(np.int64), z)


def point_expectation(wx: np.ndarray, wy: np.ndarray, minzoom: int,
                      maxzoom: int) -> TileExpectation:
    """Points: each point's own tile must exist at every zoom (the density
    cap always keeps at least one feature per cell); any addressed tile is
    the point's tile or one of its 8 neighbours (buffer duplicates)."""
    must, may = [], []
    for z in range(minzoom, maxzoom + 1):
        n = 1 << z
        tx = np.clip(np.floor(wx * n), 0, n - 1).astype(np.int64)
        ty = np.clip(np.floor(wy * n), 0, n - 1).astype(np.int64)
        must.append(_hilbert_ids(tx, ty, z))
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                ny = ty + dy
                ok = (ny >= 0) & (ny < n)
                may.append(_hilbert_ids((tx[ok] + dx) % n, ny[ok], z))
    return TileExpectation(np.concatenate(must), np.concatenate(may))


def polygon_expectation(polys: list, minzoom: int, maxzoom: int,
                        buffer_tile: float) -> TileExpectation:
    """Convex polygons: the tile holding each polygon's vertex mean (an
    interior point) must exist at every zoom; any addressed tile lies in
    some polygon's buffered bounding-box tile range."""
    must, may = [], []
    for z in range(minzoom, maxzoom + 1):
        n = 1 << z
        for ring in polys:
            cx, cy = ring[:-1].mean(axis=0)
            must.append(_hilbert_ids(np.array([int(cx * n)]), np.array([int(cy * n)]), z))
            x0, y0 = np.floor((ring.min(axis=0) * n) - buffer_tile).astype(int)
            x1, y1 = np.floor((ring.max(axis=0) * n) + buffer_tile).astype(int)
            xs, ys = np.meshgrid(np.arange(x0, x1 + 1), np.arange(max(y0, 0), min(y1, n - 1) + 1))
            may.append(_hilbert_ids(xs.ravel() % n, ys.ravel(), z))
    return TileExpectation(np.concatenate(must), np.concatenate(may))


# ---------------------------------------------------------------------------
# digests recorded per seed
# ---------------------------------------------------------------------------

def recorded_digest(work: str, key: str, digest: str) -> bool:
    """True when ``digest`` equals the digest recorded for ``key``; the first
    verified digest for a key is recorded."""
    path = os.path.join(work, "digests", key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)["sha256"] == digest
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump({"sha256": digest}, f)
    os.replace(path + ".tmp", path)
    return True
