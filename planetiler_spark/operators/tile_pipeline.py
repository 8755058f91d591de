"""The flagship job: Planetiler's 3-phase pipeline over the images table,
re-expressed Spark-first (ARCHITECTURE.md:5-11 of the reference).

  phase 1 RENDER  — mapInPandas: phash -> geo-anchor -> slice into per-tile
                    fragments across zooms (FeatureRenderer.java:62-111,
                    TiledGeometry.slicePoint:245-260), each with the
                    fragment's PMTiles Hilbert tile id, then PACK each
                    render batch into one binary row per Hilbert-id range
                    bucket (_pack_feature_runs)
  phase 2 SORT    — the shuffle IS the external merge sort
                    (ExternalMergeSort.java:168): an analytic range exchange
                    on the bucket's partition token (partitioning.py),
                    sorted within partitions by bucket
  phase 3 EMIT    — mapInArrow per bucket: re-sort its features by
                    (hilbert_id, sort_key, image_id) — the feature key order
                    of FeatureGroup.encodeKey:176-196 — then consecutive
                    same-tile runs: label-grid limit, MVT encode + gzip
                    (VectorTile.java, TileArchiveWriter.java), content-hash
                    for order-free tile dedup

The sort key's tile field is the Hilbert id, as in the reference when it
writes PMTiles (TileOrder.encode, FeatureGroup.java:168-196): the tileset
leaves the reduce in total zoom-major Hilbert order with a `hilbert_id`
column, so the PMTiles writer appends the tileset's own partitions without
a second sort.

Raster graft axis: at max zoom each image's bytes are decoded ONCE in the
render stage, cropped to the tiles it overlaps, and shipped as per-tile PNG
patches (ships only needed pixels — the 100TB-friendly choice); the tile
reduce pastes patches into a 256x256 canvas per tile. Per-row invariant
(BASELINE.json input_hint): decoded patch pixels vs the deterministic source
are exact for png and PSNR>=40dB for the lossy codec; caption equality rides
along. `verify_patches` checks both distributed.

Skew (north_rule): dense city tiles are thinned by the label-grid top-K in
two tiers — a map-side partial cap per render batch (`_partial_thin`) and
the exact cap inside the tile reduce — so no single tile run explodes;
shuffle partitions are explicit everywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels import image as ik
from ..kernels import mvt
from ..kernels import tile_math as tm
from ..sources import images as src
from . import render as R

MAX_ZOOM = 14
FEATURES_SCHEMA = ("key long, tile_id long, zoom int, ex int, ey int, "
                   "image_id string, caption string, sort_key int, "
                   "hilbert_id long")
PATCH_SCHEMA = ("tile_id long, image_id string, px0 int, py0 int, "
                "pw int, ph int, patch binary, caption string, fmt string")
TILE_SCHEMA = ("tile_id long, zoom int, x int, y int, n_features long, "
               "tile_bytes binary, content_hash string, hilbert_id long")
RASTER_SCHEMA = "tile_id long, zoom int, x int, y int, n_images long, raster binary"
VERIFY_SCHEMA = ("image_id string, tile_id long, psnr double, pixels_ok boolean, "
                 "caption_ok boolean")


# ---------------------------------------------------------------------------
# phase 1: render
# ---------------------------------------------------------------------------

def _cell_key(tids: np.ndarray, ex: np.ndarray, ey: np.ndarray, cell: int) -> np.ndarray:
    """(tile, label-grid cell) composite key; 8 bits per axis suffice because
    cells per tile = 256/grid_px (+/- buffer)."""
    return (tids << 16) ^ (((ex // cell) & 0xFF) << 8) ^ ((ey // cell) & 0xFF)


def _partial_thin(out: pd.DataFrame, thin_limit: int, cell: int) -> pd.DataFrame:
    """Map-side combine for the label-grid limit: keep the first `thin_limit`
    rows per (tile, cell) by (sort_key, image_id) WITHIN this batch. Exact: it
    keeps a superset of the global top-K (same ordering keys), and the tile
    reduce re-applies the limit globally. Slashes shuffle volume for hot city
    tiles (the north_rule skew case) just like the reference's in-memory
    label-grid drop during tile assembly (FeatureGroup.java:616-637)."""
    n = len(out)
    if n == 0:
        return out
    ck = _cell_key(out["tile_id"].to_numpy(), out["ex"].to_numpy(),
                   out["ey"].to_numpy(), cell)
    order = np.lexsort((out["image_id"].to_numpy(), out["sort_key"].to_numpy(), ck))
    cks = ck[order]
    change = np.empty(n, dtype=bool)
    change[0] = True
    change[1:] = cks[1:] != cks[:-1]
    grp_start = np.maximum.accumulate(np.where(change, np.arange(n), 0))
    keep_sorted = (np.arange(n) - grp_start) < thin_limit
    keep = np.empty(n, dtype=bool)
    keep[order] = keep_sorted
    return out[keep]


def _render_batch(pdf: pd.DataFrame, zooms: range, thin_limit: int | None,
                  cell: int) -> pd.DataFrame:
    """One images batch -> per-(feature, zoom, tile) rows with their Hilbert
    ids, after the map-side partial label-grid cap."""
    ph = pdf["phash"].to_numpy()
    wx, wy = src.anchor_world(ph)
    sort_key = (ph % 1000).astype(np.int64)  # deterministic draw order
    out = R.render_points_pdf(pdf, wx, wy, zooms, layer=0, sort_key=sort_key)
    idx = out.pop("feature_id").to_numpy()
    out["image_id"] = pdf["image_id"].to_numpy()[idx]
    out["caption"] = pdf["caption"].to_numpy()[idx]
    out["sort_key"] = sort_key[idx]
    if thin_limit is not None:
        out = _partial_thin(out, thin_limit, cell)
    return out


def render_features(images: DataFrame, min_zoom: int = 0,
                    max_zoom: int = MAX_ZOOM, thin_limit: int | None = None,
                    grid_px: int = 32) -> DataFrame:
    """images -> per-(feature, zoom, tile) rows in the sorted-KV model, each
    with its PMTiles `hilbert_id`, unpacked: one row per feature, as the
    streaming feature log stores them (pack_features ships them to the tile
    reduce). thin_limit applies the map-side partial label-grid cap (see
    _partial_thin)."""
    zooms = range(min_zoom, max_zoom + 1)
    cell = grid_px * 4096 // 256

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield _render_batch(pdf, zooms, thin_limit, cell)

    cols = [c for c in images.columns if c != "bytes"]  # column pruning: no pixels in the vector path
    return images.select(*cols).mapInPandas(gen, FEATURES_SCHEMA)


def _range_tokens(spark: SparkSession, min_zoom: int, max_zoom: int, p: int):
    """(bucket boundaries over the Hilbert ids of min_zoom..max_zoom, each
    bucket's partition token, the token column's name) for an analytic
    range exchange into p partitions (partitioning.py)."""
    from . import partitioning as pt

    boundaries, pid = pt.tile_range_partitioning(min_zoom, max_zoom, p)
    return boundaries, pt.partition_tokens(spark, p)[pid], pt.token_col(p)


def _packed_schema(p: int) -> str:
    from . import partitioning as pt
    return f"bucket int, {pt.token_col(p)} long, blob binary"


def _string_buffers(arr):
    """(offsets int32[n+1], data uint8[*]) numpy views of a pyarrow string
    array, offset-normalized (a sliced array's offsets buffer starts at its
    logical offset, not index 0 — same hazard PointTileStream.as_binary
    guards)."""
    import pyarrow as pa
    if arr.offset:
        arr = pa.concat_arrays([arr])
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], dtype=np.int32, count=len(arr) + 1)
    data = (np.frombuffer(bufs[2], dtype=np.uint8)
            if bufs[2] is not None else np.empty(0, dtype=np.uint8))
    return off, data


def _pack_feature_runs(out: pd.DataFrame, boundaries: np.ndarray,
                       bucket_tok: np.ndarray,
                       tok_name: str = "tok") -> pd.DataFrame:
    """Pack one render batch into ONE binary row per contiguous-range bucket
    of Hilbert ids:
    [n u32 | hilbert_id i64[n] | ex i32[n] | ey i32[n] | sort_key i32[n] |
     id_off u32[n+1] | id_bytes | cap_off u32[n+1] | cap_bytes].

    This is the transport fix for the measured floor of the tile pipeline:
    Spark's per-row UnsafeRow<->Arrow conversion costs ~1.3us/row regardless
    of width (a no-op mapInArrow over the shuffled features cost the same as
    the full MVT encode), so the features cross the row boundary packed
    ~50-500x fewer rows instead. String payloads move as UTF-8 + offsets the
    reduce re-hydrates into Arrow arrays zero-copy — no Python string objects
    exist on either side."""
    import pyarrow as pa
    n = len(out)
    if n == 0:
        return pd.DataFrame({"bucket": pd.Series([], dtype="int32"),
                             tok_name: pd.Series([], dtype="int64"),
                             "blob": pd.Series([], dtype=object)})
    hids = out["hilbert_id"].to_numpy()
    bucket = np.searchsorted(boundaries, hids, side="right") - 1
    order = np.argsort(bucket, kind="stable")
    b_s = bucket[order]
    hids_s = np.ascontiguousarray(hids[order], dtype="<i8")
    ex_s = np.ascontiguousarray(out["ex"].to_numpy()[order], dtype="<i4")
    ey_s = np.ascontiguousarray(out["ey"].to_numpy()[order], dtype="<i4")
    sk_s = np.ascontiguousarray(out["sort_key"].to_numpy()[order], dtype="<i4")
    take = pa.array(order)
    ids = pa.array(out["image_id"].to_numpy(), type=pa.string()).take(take)
    caps = pa.array(out["caption"].to_numpy(), type=pa.string()).take(take)
    id_off, id_data = _string_buffers(ids)
    cap_off, cap_data = _string_buffers(caps)
    starts = np.nonzero(np.diff(b_s, prepend=b_s[0] - 1))[0]
    ends = np.append(starts[1:], n)
    blobs = []
    for s, e in zip(starts, ends):
        blobs.append(b"".join((
            np.uint32(e - s).tobytes(),
            hids_s[s:e].tobytes(),
            ex_s[s:e].tobytes(), ey_s[s:e].tobytes(), sk_s[s:e].tobytes(),
            np.ascontiguousarray(id_off[s:e + 1] - id_off[s], dtype="<u4").tobytes(),
            id_data[id_off[s]:id_off[e]].tobytes(),
            np.ascontiguousarray(cap_off[s:e + 1] - cap_off[s], dtype="<u4").tobytes(),
            cap_data[cap_off[s]:cap_off[e]].tobytes(),
        )))
    bks = b_s[starts]
    return pd.DataFrame({"bucket": bks.astype(np.int32),
                         tok_name: bucket_tok[bks],
                         "blob": blobs})


def _unpack_blob(mv):
    """Inverse of one _pack_feature_runs blob: numpy views over the
    (unaligned-tolerant) buffer + zero-copy Arrow string rehydration."""
    import pyarrow as pa
    n = int(np.frombuffer(mv, np.uint32, 1)[0])
    o = 4
    hid = np.frombuffer(mv, "<i8", n, o); o += 8 * n
    ex = np.frombuffer(mv, "<i4", n, o); o += 4 * n
    ey = np.frombuffer(mv, "<i4", n, o); o += 4 * n
    sk = np.frombuffer(mv, "<i4", n, o); o += 4 * n

    def strings(o):
        off = np.frombuffer(mv, "<u4", n + 1, o)
        o += 4 * (n + 1)
        nbytes = int(off[n])
        arr = pa.Array.from_buffers(pa.utf8(), n, [
            None,
            pa.py_buffer(np.ascontiguousarray(off, dtype=np.int32)),
            pa.py_buffer(bytes(mv[o:o + nbytes]))])
        return arr, o + nbytes

    ids, o = strings(o)
    caps, _ = strings(o)
    return hid, ex, ey, sk, ids, caps


def render_features_packed(images: DataFrame, min_zoom: int = 0,
                           max_zoom: int = MAX_ZOOM,
                           thin_limit: int | None = None, grid_px: int = 32,
                           counters=None, partitions: int | None = None) -> DataFrame:
    """images -> bucket-packed features: the per-batch render + map-side
    partial thin of render_features, then each batch's features leave the
    Python worker as one row per analytic Hilbert-id-range bucket (see
    partitioning.py). `partitions` MUST match the value passed to
    encode_vector_tiles_packed (the partition tokens are baked per p)."""
    spark = images.sparkSession
    p = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    boundaries, bucket_tok, tok_name = _range_tokens(spark, min_zoom, max_zoom, p)
    zooms = range(min_zoom, max_zoom + 1)
    cell = grid_px * 4096 // 256

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = _render_batch(pdf, zooms, thin_limit, cell)
            if counters is not None:
                counters.add("features", len(out))
            yield _pack_feature_runs(out, boundaries, bucket_tok, tok_name)

    cols = [c for c in images.columns if c != "bytes"]
    return images.select(*cols).mapInPandas(gen, _packed_schema(p))


def pack_features(feats: DataFrame, min_zoom: int, max_zoom: int) -> DataFrame:
    """Already-rendered feature rows (render_features' schema, e.g. read back
    from a feature log) -> the bucket-packed rows render_features_packed
    emits: same boundaries, same tokens, same blob layout, for the session's
    shuffle partition count (the one encode_vector_tiles_packed defaults to)."""
    spark = feats.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    boundaries, bucket_tok, tok_name = _range_tokens(spark, min_zoom, max_zoom, p)

    def gen(batches):
        for pdf in batches:
            if len(pdf):
                yield _pack_feature_runs(pdf, boundaries, bucket_tok, tok_name)

    return (feats.select("hilbert_id", "ex", "ey", "sort_key", "image_id", "caption")
            .mapInPandas(gen, _packed_schema(p)))


def encode_vector_tiles_packed(packed: DataFrame, partitions: int | None = None,
                               thin_limit: int | None = None,
                               grid_px: int = 32, counters=None) -> DataFrame:
    """The vector-tile reduce over bucket-packed features. The exchange is a
    plain hash shuffle on the partition TOKEN (exact bucket->partition
    placement, see partitioning.partition_tokens), so the output is in TOTAL
    zoom-major Hilbert order — partitions ascend with Hilbert-id range,
    buckets ascend within a partition, tiles ascend within a bucket — and the
    sampling double-compute of repartitionByRange never happens.

    Features cross the exchange ~50-500x fewer rows than one per feature:
    Spark's per-row UnsafeRow<->Arrow conversion (~1.3us/row regardless of
    width) was the tile reduce's floor. Per bucket the features are
    re-sorted (hilbert_id, sort_key, image_id) — the feature key order
    (FeatureGroup.encodeKey:176-196 with layer 0) plus image_id as the
    tie-break — then encoded by _encode_tile_runs.

    thin_limit: label-grid density cap applied inside the reduce, in sortKey
    order (FeatureGroup.TileFeatures.add:616-637 drops beyond-limit features
    exactly like this, during tile assembly); costs no extra shuffle."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from . import partitioning as pt

    cell = grid_px * mvt.EXTENT // 256
    p = int(partitions or packed.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    tok_name = pt.resolve_token_col(packed.columns, p)
    if tok_name is None:
        raise ValueError("encode_vector_tiles_packed needs bucket-packed "
                         "input from render_features_packed or pack_features")
    shuffled = packed.repartition(p, tok_name).sortWithinPartitions("bucket")

    def reduce_bucket(blob_views):
        parts = [_unpack_blob(mv) for mv in blob_views]
        if len(parts) == 1:
            hid, ex, ey, sk, ids, caps = parts[0]
        else:
            hid = np.concatenate([x[0] for x in parts])
            ex = np.concatenate([x[1] for x in parts])
            ey = np.concatenate([x[2] for x in parts])
            sk = np.concatenate([x[3] for x in parts])
            ids = pa.concat_arrays([x[4] for x in parts])
            caps = pa.concat_arrays([x[5] for x in parts])
        order = pc.sort_indices(
            pa.table({"t": hid, "s": sk, "i": ids}),
            sort_keys=[("t", "ascending"), ("s", "ascending"),
                       ("i", "ascending")])
        idx = order.to_numpy()
        return _encode_tile_runs(
            hid[idx].astype(np.int64), ex[idx].astype(np.int64),
            ey[idx].astype(np.int64), sk[idx].astype(np.int64),
            ids.take(order), caps.take(order), thin_limit, cell, counters)

    def stream(batches):
        held: list = []          # memoryviews of the open bucket's blobs
        held_bucket: int | None = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            bks = rb.column(0).to_numpy()
            if len(bks) > 1 and not np.all(bks[1:] >= bks[:-1]):
                raise ValueError("encode_vector_tiles_packed: batch not "
                                 "sorted by bucket")
            col = rb.column(2)
            if col.offset:
                col = pa.concat_arrays([col])
            off = np.frombuffer(col.buffers()[1], dtype=np.int32,
                                count=len(col) + 1)
            data = memoryview(col.buffers()[2])
            starts = np.nonzero(np.diff(bks, prepend=bks[0] - 1))[0]
            ends = np.append(starts[1:], len(bks))
            for s, e in zip(starts, ends):
                views = [data[off[i]:off[i + 1]] for i in range(s, e)]
                if held and held_bucket == bks[s]:
                    held.extend(views)
                    continue
                if held:
                    out = reduce_bucket(held)
                    if out is not None:
                        yield out
                held = views
                held_bucket = int(bks[s])
        if held:
            out = reduce_bucket(held)
            if out is not None:
                yield out

    return shuffled.mapInArrow(stream, TILE_SCHEMA)


def render_patches(images: DataFrame, zoom: int = MAX_ZOOM) -> DataFrame:
    """Raster render: decode each image once, crop per overlapping tile,
    re-encode the crop as PNG. One output row per (image, tile)."""
    n = 1 << zoom

    def gen(batches):
        for pdf in batches:
            rows = {k: [] for k in ("tile_id", "image_id", "px0", "py0", "pw",
                                    "ph", "patch", "caption", "fmt")}
            # decode the whole Arrow batch at once: jpegs go through the
            # lockstep batch entropy decoder (~3x the serial walk)
            decoded = ik.decode_images(list(pdf["bytes"]), list(pdf["fmt"]))
            for pix, r in zip(decoded, pdf.itertuples(index=False)):
                ph = np.int64(r.phash)
                wx, wy = src.anchor_world(np.array([ph]))
                # global pixel coords of the image's top-left at this zoom
                gx0 = int(round(float(wx[0]) * 256 * n)) - r.w // 2
                gy0 = int(round(float(wy[0]) * 256 * n)) - r.h // 2
                for ty in range(max(gy0 // 256, 0), min((gy0 + r.h - 1) // 256, n - 1) + 1):
                    for tx in range((gx0 // 256), ((gx0 + r.w - 1) // 256) + 1):
                        px0 = gx0 - tx * 256   # image origin in tile pixels
                        py0 = gy0 - ty * 256
                        cx0, cy0 = max(0, -px0), max(0, -py0)
                        cx1, cy1 = min(r.w, 256 - px0), min(r.h, 256 - py0)
                        if cx1 <= cx0 or cy1 <= cy0:
                            continue
                        crop = pix[cy0:cy1, cx0:cx1]
                        rows["tile_id"].append(tm.tile_encode(np.mod(tx, n), ty, zoom))
                        rows["image_id"].append(r.image_id)
                        rows["px0"].append(px0 + cx0)
                        rows["py0"].append(py0 + cy0)
                        rows["pw"].append(cx1 - cx0)
                        rows["ph"].append(cy1 - cy0)
                        rows["patch"].append(ik.encode_png(np.ascontiguousarray(crop), level=1))
                        rows["caption"].append(r.caption)
                        rows["fmt"].append(r.fmt)
            yield pd.DataFrame(rows)

    return images.mapInPandas(gen, PATCH_SCHEMA)


# ---------------------------------------------------------------------------
# phase 3: tile reduce
# ---------------------------------------------------------------------------

def _grouped_by_tile(df: DataFrame, partitions: int | None, order_cols: list[str],
                     reduce_fn):
    """The reference's phase-3 shape, Spark-first: hash-repartition by tile so
    each tile's rows land in one partition, sort within partitions by tile
    (the shuffle+sort IS ExternalMergeSort.java:168), then stream Arrow
    batches grouping CONSECUTIVE same-tile runs — exactly
    FeatureGroup.groupIntoTiles:339-378 — with carry-over across batch
    boundaries. Orders of magnitude less per-group overhead than
    groupBy().applyInPandas at millions of small tiles.

    The tile key is `hilbert_id` when the input carries one (archive order),
    else `tile_id` (TMS order)."""
    p = partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    # a `tok` column (hash-preimage partition token over analytic tile-id
    # range buckets, operators/partitioning.py) turns this hash exchange
    # into an exact RANGE exchange: output is then in total tile order, so
    # no repartitionByRange (whose boundary sampling re-executes the whole
    # upstream plan) is ever needed downstream
    from . import partitioning as pt

    tile_col = "hilbert_id" if "hilbert_id" in df.columns else "tile_id"
    key = pt.resolve_token_col(df.columns, int(p)) or tile_col
    shuffled = (df.repartition(int(p), key)
                .sortWithinPartitions(tile_col, *order_cols))

    def stream(batches):
        # Carry-over across Arrow batch boundaries is O(total): the trailing
        # (possibly continuing) tile is held as a LIST of chunks and concat'd
        # exactly once when it completes — a dense city tile spanning hundreds
        # of batches costs linear copies, never quadratic.
        held: list[pd.DataFrame] = []
        held_tile: int | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            tids = pdf[tile_col].to_numpy()
            # guard the sortedness precondition: searchsorted on an unsorted
            # tids array would silently mis-group instead of erroring
            if len(tids) > 1 and not np.all(tids[1:] >= tids[:-1]):
                raise ValueError(f"_grouped_by_tile: batch not sorted by {tile_col} "
                                 "(upstream sortWithinPartitions missing?)")
            if held and held_tile != tids[0]:
                yield from reduce_fn(pd.concat(held, ignore_index=True)
                                     if len(held) > 1 else held[0])
                held = []
            last_start = int(np.searchsorted(tids, tids[-1], side="left"))
            if held and last_start == 0:
                held.append(pdf)  # whole batch continues the held tile
                continue
            if held:
                first_end = int(np.searchsorted(tids, tids[0], side="right"))
                held.append(pdf.iloc[:first_end])
                yield from reduce_fn(pd.concat(held, ignore_index=True))
                held = []
                body = pdf.iloc[first_end:last_start]
            else:
                body = pdf.iloc[:last_start]
            if len(body):
                yield from reduce_fn(body)
            held = [pdf.iloc[last_start:]]
            held_tile = int(tids[-1])
        if held:
            yield from reduce_fn(pd.concat(held, ignore_index=True)
                                 if len(held) > 1 else held[0])

    return shuffled, stream


def _cumcount(keys: np.ndarray) -> np.ndarray:
    """Order-preserving rank within each key group (pandas
    groupby.cumcount, pure numpy)."""
    _, inv = np.unique(keys, return_inverse=True)
    perm = np.argsort(inv, kind="stable")
    counts = np.bincount(inv)
    starts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    rank = np.empty(len(keys), dtype=np.int64)
    rank[perm] = np.arange(len(keys), dtype=np.int64) - np.repeat(starts, counts)
    return rank


def _encode_tile_runs(hids, ex, ey, sk, ids, caps, thin_limit, cell, counters):
    """Encode tail of the vector-tile reduce: label-grid cap
    (in sortKey order — FeatureGroup.TileFeatures.add:616-637), consecutive
    tile runs, PointTileStream encode. Inputs MUST already be sorted by
    (hilbert_id, sort_key, image_id); returns a RecordBatch (TILE_SCHEMA,
    tiles in Hilbert order) or None."""
    import hashlib
    import pyarrow as pa
    if thin_limit is not None:
        # vectorized label-grid cap: rows are already in (tile, sortKey)
        # order, so rank-within-(tile,cell) = order of appearance
        keep = _cumcount(_cell_key(hids, ex, ey, cell)) < thin_limit
        if not keep.all():
            idx = np.nonzero(keep)[0]
            hids, ex, ey, sk = hids[idx], ex[idx], ey[idx], sk[idx]
            ids = ids.take(pa.array(idx))
            caps = caps.take(pa.array(idx))
    n = len(hids)
    if n == 0:
        return None
    starts = np.nonzero(np.diff(hids, prepend=hids[0] - 1))[0]
    ends = np.append(starts[1:], n)
    xs, ys, zs = tm.hilbert_decode(hids[starts])
    stream = mvt.PointTileStream(ex, ey, sk, ids, caps)
    blobs = list(stream.encode_tiles(starts, ends))
    if counters is not None:  # per reduce call, not per tile
        counters.add("tiles", len(starts))
    return pa.RecordBatch.from_arrays([
        pa.array(tm.tile_encode(xs, ys, zs), type=pa.int64()),
        pa.array(zs.astype(np.int32), type=pa.int32()),
        pa.array(xs.astype(np.int32), type=pa.int32()),
        pa.array(ys.astype(np.int32), type=pa.int32()),
        pa.array((ends - starts).astype(np.int64), type=pa.int64()),
        pa.array(blobs, type=pa.binary()),
        pa.array([hashlib.sha256(b).hexdigest()[:16] for b in blobs],
                 type=pa.string()),
        pa.array(hids[starts], type=pa.int64()),
    ], names=["tile_id", "zoom", "x", "y", "n_features",
              "tile_bytes", "content_hash", "hilbert_id"])


def encode_raster_tiles(patches: DataFrame, partitions: int | None = None) -> DataFrame:
    """Paste per-image patches into a 256x256 canvas per tile (deterministic
    z-order: image_id asc, later wins) and PNG-encode — the raster<->vector
    graft operator (sorted consecutive-tile grouping, see _grouped_by_tile)."""

    def reduce_tiles(pdf: pd.DataFrame):
        tids = pdf["tile_id"].to_numpy()
        starts = np.nonzero(np.diff(tids, prepend=tids[0] - 1))[0]
        ends = np.append(starts[1:], len(tids))
        xs, ys, zs = tm.tile_decode(tids[starts])
        out = {k: [] for k in ("tile_id", "zoom", "x", "y", "n_images", "raster")}
        px0a, py0a = pdf["px0"].to_numpy(), pdf["py0"].to_numpy()
        pwa, pha = pdf["pw"].to_numpy(), pdf["ph"].to_numpy()
        patches_a = pdf["patch"].to_numpy()
        for g, (s, e) in enumerate(zip(starts, ends)):
            canvas = np.zeros((256, 256, 3), dtype=np.uint8)
            for i in range(s, e):
                patch = ik.decode_png(bytes(patches_a[i]))
                canvas[py0a[i]:py0a[i] + pha[i], px0a[i]:px0a[i] + pwa[i]] = patch
            out["tile_id"].append(int(tids[s]))
            out["zoom"].append(int(zs[g]))
            out["x"].append(int(xs[g]))
            out["y"].append(int(ys[g]))
            out["n_images"].append(e - s)
            out["raster"].append(ik.encode_png(canvas))  # final artifact: full compression
        yield pd.DataFrame(out)

    shuffled, stream = _grouped_by_tile(patches, partitions,
                                        ["image_id"], reduce_tiles)
    return shuffled.mapInPandas(stream, RASTER_SCHEMA)


def verify_patches(patches: DataFrame, images: DataFrame | None = None) -> DataFrame:
    """Per-row invariant (BASELINE.json input_hint): decoded patch pixels match
    the deterministic source exactly (png) / PSNR>=40dB (lossy), and the
    caption embeds the correct z14 anchor tile. Distributed verify job —
    the analog of the reference's `verify` CLI (mbtiles/Verify.java:111).

    With `images` given, the lossy truth is decode(STORED bytes) — the bytes
    the pipeline actually read (identical to decode(encode(pristine)): the
    fixture stores exactly encode(pristine)) — joined in by image_id and
    batch-decoded via the lockstep entropy decoder. That both strengthens the
    check (it verifies the real input bytes, not a re-synthesis) and drops
    the per-image re-ENCODE (~8 ms each) the legacy path pays; the legacy
    re-derivation path remains for images=None and is asserted equal in
    tests."""
    if images is not None:
        jp = images.select(F.col("image_id"),
                           F.col("bytes").alias("src_bytes")).where(
                               F.col("fmt") == "jpeg")
        joined = (patches.join(jp, "image_id", "left")
                  .repartition("image_id")
                  .sortWithinPartitions("image_id", "tile_id"))

        def check_joined(batches):
            # rows arrive sorted by image_id, so each image's patches are
            # consecutive: decode lossy truths in bounded chunks of unique
            # images (one decode_images call each) instead of holding every
            # decoded image of the batch at once
            UNIQ_CHUNK = 256

            def row_chunks(pdf):
                ids = pdf["image_id"].to_numpy()
                n = len(ids)
                run_starts = np.concatenate(
                    [[0], np.nonzero(ids[1:] != ids[:-1])[0] + 1, [n]])
                for u0 in range(0, len(run_starts) - 1, UNIQ_CHUNK):
                    u1 = min(u0 + UNIQ_CHUNK, len(run_starts) - 1)
                    yield pdf.iloc[int(run_starts[u0]):int(run_starts[u1])]

            for whole in batches:
              for pdf in row_chunks(whole):
                out = {k: [] for k in ("image_id", "tile_id", "psnr",
                                       "pixels_ok", "caption_ok")}
                # one lossy decode per unique jpeg image, batch-decoded
                uniq: dict[str, np.ndarray | None] = {}
                ub, uf, uk = [], [], []
                for r in pdf.itertuples(index=False):
                    if r.fmt == "jpeg" and r.image_id not in uniq:
                        uniq[r.image_id] = None
                        ub.append(bytes(r.src_bytes))
                        uf.append("jpeg")
                        uk.append(r.image_id)
                if ub:
                    for k, d in zip(uk, ik.decode_images(ub, uf)):
                        uniq[k] = d
                pr_cache: dict[int, np.ndarray] = {}
                n = 1 << MAX_ZOOM
                for r in pdf.itertuples(index=False):
                    i = int(r.image_id[3:])
                    got = ik.decode_png(bytes(r.patch))
                    ph = src.phash_of(np.array([i]))
                    wx, wy = src.anchor_world(ph)
                    gx0 = int(round(float(wx[0]) * 256 * n))
                    gy0 = int(round(float(wy[0]) * 256 * n))
                    w = h = src.BIG_SIZE if i % 10 == 9 else src.DEFAULT_SIZE
                    full = pr_cache.get(i)
                    if full is None:
                        if len(pr_cache) > 256:
                            pr_cache.clear()
                        full = pr_cache[i] = src._pixels(i, w, h)
                    x0, y0, z0 = tm.tile_decode(np.int64(r.tile_id))
                    worldpx = 256 * n
                    cx0 = (int(r.px0) + int(x0) * 256 - (gx0 - w // 2)) % worldpx
                    cy0 = int(r.py0) + int(y0) * 256 - (gy0 - h // 2)
                    sl = np.s_[cy0:cy0 + int(r.ph), cx0:cx0 + int(r.pw)]
                    if r.fmt == "jpeg":
                        dec = uniq[r.image_id]
                        want = dec[sl]
                        p = ik.psnr(full, dec)
                    else:
                        want, p = full[sl], float("inf")
                    exact = want.shape == got.shape and bool(np.array_equal(got, want))
                    if not exact:
                        p = 0.0
                    tx, ty = tm.tile_of_world(wx, wy, MAX_ZOOM)
                    cap_ok = r.caption == \
                        f"caption for img{i} at tile 14/{int(tx[0])}/{int(ty[0])}"
                    out["image_id"].append(r.image_id)
                    out["tile_id"].append(int(r.tile_id))
                    out["psnr"].append(min(p, 1e9))
                    out["pixels_ok"].append(exact)
                    out["caption_ok"].append(bool(cap_ok))
                yield pd.DataFrame(out)

        return joined.mapInPandas(check_joined, VERIFY_SCHEMA)

    def check(batches):
        # decode(encode(full)) truth per image, cached: with the REAL JPEG
        # codec (kernels/jpeg.py) cropping no longer commutes with the lossy
        # round trip (block artifacts differ on unaligned crops), so the
        # exact-truth is the decoded full image sliced the same way the
        # pipeline sliced it. The >=40dB input_hint contract is per IMAGE
        # row, so psnr is the image-level value (a 1xN sliver crop can sit
        # on ringing pixels and dip below 40 locally while the image clears
        # 43+; judging the contract on slivers would be the wrong unit).
        # patches of one image land consecutively (render_patches emits them
        # together), so tiny per-image caches turn the ~2-4 patches/image into
        # ONE source synthesis and ONE lossy round trip per image
        full_cache: dict[int, np.ndarray] = {}
        lossy_cache: dict[int, tuple[np.ndarray, float]] = {}

        def pristine_full(i: int, w: int, h: int) -> np.ndarray:
            hit = full_cache.get(i)
            if hit is None:
                if len(full_cache) > 256:
                    full_cache.clear()
                hit = full_cache[i] = src._pixels(i, w, h)
            return hit

        def lossy_full(i: int, w: int, h: int) -> tuple[np.ndarray, float]:
            hit = lossy_cache.get(i)
            if hit is None:
                full = pristine_full(i, w, h)
                dec = ik.decode_image(ik.encode_image(full, "jpeg"), "jpeg")
                if len(lossy_cache) > 256:
                    lossy_cache.clear()
                hit = (dec, ik.psnr(full, dec))
                lossy_cache[i] = hit
            return hit

        for pdf in batches:
            out = {k: [] for k in ("image_id", "tile_id", "psnr", "pixels_ok", "caption_ok")}
            for r in pdf.itertuples(index=False):
                i = int(r.image_id[3:])
                got = ik.decode_png(bytes(r.patch))
                n = 1 << MAX_ZOOM
                ph = src.phash_of(np.array([i]))
                wx, wy = src.anchor_world(ph)
                gx0 = int(round(float(wx[0]) * 256 * n))
                gy0 = int(round(float(wy[0]) * 256 * n))
                w = h = src.BIG_SIZE if i % 10 == 9 else src.DEFAULT_SIZE
                full = pristine_full(i, w, h)
                x0, y0, z0 = tm.tile_decode(np.int64(r.tile_id))
                worldpx = 256 * n  # x wraps at the antimeridian (mod world pixels)
                cx0 = (int(r.px0) + int(x0) * 256 - (gx0 - w // 2)) % worldpx
                cy0 = int(r.py0) + int(y0) * 256 - (gy0 - h // 2)
                sl = np.s_[cy0:cy0 + int(r.ph), cx0:cx0 + int(r.pw)]
                pristine = full[sl]
                if r.fmt == "jpeg":
                    dec, p = lossy_full(i, w, h)
                    want = dec[sl]
                else:
                    want, p = pristine, float("inf")
                exact = want.shape == got.shape and bool(np.array_equal(got, want))
                if not exact:
                    p = 0.0
                tx, ty = tm.tile_of_world(wx, wy, MAX_ZOOM)
                cap_ok = r.caption == f"caption for img{i} at tile 14/{int(tx[0])}/{int(ty[0])}"
                out["image_id"].append(r.image_id)
                out["tile_id"].append(int(r.tile_id))
                out["psnr"].append(min(p, 1e9))
                out["pixels_ok"].append(exact)
                out["caption_ok"].append(bool(cap_ok))
            yield pd.DataFrame(out)

    return patches.mapInPandas(check, VERIFY_SCHEMA)


# ---------------------------------------------------------------------------
# polygon layer: the full vector render path over the zones table
# (clip -> fill detection -> DP simplify -> snap, render/TiledGeometry.java)
# ---------------------------------------------------------------------------

ZONE_FEATURES_COLS = ("key long, tile_id long, zoom int, zone_id string, "
                      "kind string, fill boolean, parts binary")


def render_zone_features(spark: SparkSession, min_zoom: int = 0,
                         max_zoom: int = 8, n_zones: int | None = None,
                         partitions: int = 16,
                         range_partitions: int | None = None,
                         zones_pdf=None) -> DataFrame:
    """zones polygons -> per-tile clipped/simplified fragments + interior fill
    rows across zooms, in the sorted-KV model. Each row carries its PMTiles
    `hilbert_id` and the analytic range-exchange token over it
    (partitioning.py), so the tile shuffle doubles as the archive-order
    sort — no repartitionByRange sampling pass downstream."""
    from ..kernels import geom as gk
    from ..sources import images as src

    zones = spark.createDataFrame(
        zones_pdf if zones_pdf is not None
        else src.zones_pdf(n_zones or src.N_ZONES))
    rp = int(range_partitions
             or spark.conf.get("spark.sql.shuffle.partitions"))
    boundaries, bucket_tok, tok_name = _range_tokens(spark, min_zoom, max_zoom, rp)

    def gen(batches):
        for pdf in batches:
            rows = {k: [] for k in ("key", "tile_id", "zoom", "zone_id",
                                    "kind", "fill", "parts")}
            txs, tys = [], []
            for r in pdf.itertuples(index=False):
                typ, rings = gk.parse_wkb(bytes(r.wkb))
                assert typ == "polygon"
                for z in range(min_zoom, max_zoom + 1):
                    for tx, ty, kind, parts in R.slice_polygon(rings, z):
                        tid = int(tm.tile_encode(tx, ty, z))
                        rows["key"].append(int(tm.encode_sort_key(tid, 1, 0, 0)))
                        rows["tile_id"].append(tid)
                        rows["zoom"].append(z)
                        rows["zone_id"].append(r.zone_id)
                        rows["kind"].append(r.kind)
                        rows["fill"].append(kind == "fill")
                        rows["parts"].append(b"" if parts is None else gk.pack_parts(parts))
                        txs.append(tx)
                        tys.append(ty)
            out = pd.DataFrame(rows)
            if len(out):
                out["zoom"] = out["zoom"].astype("int32")
                out["hilbert_id"] = tm.hilbert_encode(
                    np.array(txs, dtype=np.int64), np.array(tys, dtype=np.int64),
                    out["zoom"].to_numpy())
                bk = np.searchsorted(boundaries, out["hilbert_id"].to_numpy(),
                                     side="right") - 1
                out[tok_name] = bucket_tok[bk]
            else:
                out["hilbert_id"] = pd.Series([], dtype="int64")
                out[tok_name] = pd.Series([], dtype="int64")
            yield out

    return zones.repartition(partitions, "zone_id").mapInPandas(
        gen, f"{ZONE_FEATURES_COLS}, hilbert_id long, {tok_name} long")


def encode_zone_tiles(feats: DataFrame, partitions: int | None = None,
                      fix_polygons: bool = True) -> DataFrame:
    """Per-tile MVT encode of the polygon layer; interior tiles reuse ONE
    precomputed constant fill geometry (FeatureRenderer.emitFilledTiles:290 +
    VectorTile.encodeFill:481 — memoization-friendly by construction).

    fix_polygons runs the snapAndFixPolygon analog
    (GeoUtils.java:315-399 -> kernels/geom.repair_polygon) on any fragment
    whose snapped rings properly self-intersect — the repair the reference
    applies per tile feature in writeTileFeatures (FeatureRenderer.java:252)."""
    import hashlib
    from ..kernels import geom as gk

    fill_field = mvt._packed(4, mvt.encode_fill(R.BUFFER_PX))
    buf_px = R.BUFFER_PX * mvt.EXTENT / 256.0

    def reduce_tiles(pdf: pd.DataFrame):
        hids = pdf["hilbert_id"].to_numpy()
        starts = np.nonzero(np.diff(hids, prepend=hids[0] - 1))[0]
        ends = np.append(starts[1:], len(hids))
        xs, ys, zs = tm.hilbert_decode(hids[starts])
        tids = tm.tile_encode(xs, ys, zs)
        fills = pdf["fill"].to_numpy()
        parts_a = pdf["parts"].to_numpy()
        zid_a = pdf["zone_id"].to_numpy()
        kind_a = pdf["kind"].to_numpy()
        # batch-encode every non-fill geometry in one vectorized pass
        # (polygon_geom_stream; byte-identical to the per-feature path);
        # the self-intersect screen + raster repair stay per-feature but the
        # screen early-outs through the scalar small-fragment path
        nf = len(pdf)
        rings, ring_feat = [], []
        for i in range(nf):
            if fills[i]:
                continue
            parts = gk.unpack_parts(bytes(parts_a[i]))
            if fix_polygons and gk.polygon_self_intersects(parts):
                parts = [np.round(r).astype(np.int64)
                         for r in gk.repair_polygon(
                             parts, -buf_px, mvt.EXTENT + buf_px)]
            for r in parts:
                rings.append(r)
                ring_feat.append(i)
        goff, gflat = mvt.polygon_geom_stream(rings, ring_feat, nf)
        out = {k: [] for k in ("tile_id", "zoom", "x", "y", "n_features",
                               "tile_bytes", "content_hash", "hilbert_id")}
        for g, (s, e) in enumerate(zip(starts, ends)):
            layer = mvt.LayerBuilder("zones")
            for i in range(s, e):
                attrs = {"zone_id": zid_a[i], "kind": kind_a[i]}
                if fills[i]:
                    layer.add_feature_rawgeom(None, mvt.GEOM_POLYGON,
                                              fill_field, attrs)
                elif goff[i] < goff[i + 1]:
                    layer.add_feature_rawgeom(None, mvt.GEOM_POLYGON,
                                              gflat[goff[i]:goff[i + 1]], attrs)
            blob = mvt.encode_tile([layer])
            out["tile_id"].append(int(tids[g]))
            out["zoom"].append(int(zs[g]))
            out["x"].append(int(xs[g]))
            out["y"].append(int(ys[g]))
            out["n_features"].append(e - s)
            out["tile_bytes"].append(blob)
            out["content_hash"].append(hashlib.sha256(blob).hexdigest()[:16])
            out["hilbert_id"].append(int(hids[s]))
        yield pd.DataFrame(out)

    shuffled, stream = _grouped_by_tile(feats, partitions,
                                        ["key", "zone_id"], reduce_tiles)
    return shuffled.mapInPandas(stream, TILE_SCHEMA)


def zones_tileset(spark: SparkSession, min_zoom: int = 0, max_zoom: int = 8,
                  shuffle_partitions: int | None = None,
                  n_zones: int | None = None, zones_pdf=None) -> DataFrame:
    """Full polygon render+encode pipeline -> vector tiles table in
    zoom-major Hilbert order, with a `hilbert_id` column (the PMTiles tile
    id). Measured at scale (round 3,
    local[16], one window): 50,000 polygons z0-10 -> 75.1M tile fragments /
    1.29M tiles in 506s = 9.3k features/s/core — within 2x of the point
    path's per-feature rate in the same round's scaling runs (18.7k/core),
    i.e. the vectorized polygon command streams + scalar self-intersect
    screen keep polygons on the same cost curve as points."""
    p = int(shuffle_partitions
            or spark.conf.get("spark.sql.shuffle.partitions"))
    tiles = encode_zone_tiles(
        render_zone_features(spark, min_zoom, max_zoom, n_zones=n_zones,
                             partitions=shuffle_partitions or 16,
                             range_partitions=p, zones_pdf=zones_pdf),
        partitions=p)
    # already in total zoom-major Hilbert order: the tile shuffle rode the
    # analytic range tokens, so the old repartitionByRange (whose boundary
    # sampling re-executed this whole pipeline) is gone
    return tiles


# ---------------------------------------------------------------------------
# the full job
# ---------------------------------------------------------------------------

def tileset(spark: SparkSession, images: DataFrame, min_zoom: int = 0,
            max_zoom: int = MAX_ZOOM, shuffle_partitions: int | None = None,
            thin_limit: int | None = 64, counters=None) -> DataFrame:
    """images -> vector tiles table in zoom-major Hilbert order, with a
    `hilbert_id` column (the PMTiles tile id) — phase 1+2+3 over ONE
    exchange: render_features_packed -> encode_vector_tiles_packed.
    write_pmtiles appends these partitions as they are.

    Features move across the shuffle as bucket-packed binary rows on an
    analytic range partitioning (partitioning.py), so the output lands in
    total order with no repartitionByRange (whose boundary sampling
    re-executed the entire pipeline: 5.5s -> 3.8s at sf0.1).

    Density thinning (thin_limit) runs map-side per render batch and exactly
    inside the tile reduce (zero extra shuffles)."""
    p = int(shuffle_partitions
            or spark.conf.get("spark.sql.shuffle.partitions"))
    feats = render_features_packed(images, min_zoom, max_zoom,
                                   thin_limit=thin_limit,
                                   counters=counters, partitions=p)
    return encode_vector_tiles_packed(feats, partitions=p,
                                      thin_limit=thin_limit, counters=counters)


def raster_tileset(spark: SparkSession, images: DataFrame,
                   zoom: int = MAX_ZOOM) -> DataFrame:
    return encode_raster_tiles(render_patches(images, zoom))
