"""OSM PBF reader — the 2-pass scan family, Spark-first.

Reference: reader/osm/OsmInputFile.java + PbfDecoder.java (wire format is
the public OSM PBF spec, fileformat.proto / osmformat.proto):

  file    = repeat( int32_BE len, BlobHeader, Blob )
  Blob    = raw(1) | raw_size(2) + zlib_data(3)
  OSMData Blob -> PrimitiveBlock{stringtable(1), primitivegroup(2)*,
                  granularity(17, default 100), lat_offset(19), lon_offset(20)}
  PrimitiveGroup -> DenseNodes(2) | Way(3)* | Relation(4)* | changesets(5)
  DenseNodes = packed DELTA sint64 ids(1)/lat(8)/lon(9) + keys_vals(10)
  Way        = id(1), packed keys(2)/vals(3), packed DELTA sint64 refs(8)
  Relation   = id(1), keys(2)/vals(3), roles_sid(8), DELTA memids(9), types(10)

Spark-first split (OsmReader.java:157 pass1 / :333 pass2):
  - the DRIVER scans only the tiny blob headers to index (offset, size) per
    block — the random-access index the format was designed for;
  - executors each decode their assigned blocks inside mapInPandas: seek,
    inflate, decode — embarrassingly parallel, no shared state;
  - pass-2 joins (way->node location lookup, relation membership) are the
    engine's existing equi-join operators over the returned DataFrames.

The hot decode path is VECTORIZED: packed varint fields (ids/lats/lons/refs —
the bulk of every block's bytes) parse via numpy byte masks +
bitwise_or.reduceat, then zigzag + cumsum for the delta coding. Per-message
framing (a few thousand ways/relations per block) walks with a tiny Python
field iterator.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd

NODE = 0
WAY = 1
RELATION = 2

ENTITY_SCHEMA = (
    "etype int, id long, lon double, lat double, tags map<string,string>, "
    "refs array<long>, member_ids array<long>, member_types array<int>, "
    "member_roles array<string>, version int")


# --- vectorized packed-varint decoding --------------------------------------

def decode_packed_varints(buf) -> np.ndarray:
    """Packed LEB128 bytes -> uint64 values, fully vectorized:
    continuation-bit mask finds group ends; per-byte contributions
    (7 bits << 7*pos) combine with ONE bitwise_or.reduceat."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64)
    ends = (b & 0x80) == 0
    starts = np.zeros(len(b), dtype=bool)
    starts[0] = True
    starts[1:] = ends[:-1]
    start_idx = np.nonzero(starts)[0]
    gid = np.cumsum(starts) - 1
    pos = np.arange(len(b), dtype=np.uint64) - start_idx[gid].astype(np.uint64)
    contrib = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * pos)
    return np.bitwise_or.reduceat(contrib, start_idx)


def unzigzag64(v: np.ndarray) -> np.ndarray:
    """uint64 zigzag -> int64 (sint64 fields)."""
    return ((v >> np.uint64(1)).astype(np.int64)
            ^ -(v & np.uint64(1)).astype(np.int64))


def delta_sint64(buf) -> np.ndarray:
    """Packed DELTA-coded sint64 field -> absolute int64 values."""
    return np.cumsum(unzigzag64(decode_packed_varints(buf)))


# --- minimal protobuf field walker ------------------------------------------

def _fields(mv: memoryview):
    """Yield (field, wire, value) — value is an int for wire 0/5/1, a
    memoryview for wire 2."""
    pos = 0
    n = len(mv)
    while pos < n:
        key = 0
        shift = 0
        while True:
            byte = mv[pos]
            pos += 1
            key |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        field, wire = key >> 3, key & 7
        if wire == 0:
            v = 0
            shift = 0
            while True:
                byte = mv[pos]
                pos += 1
                v |= (byte & 0x7F) << shift
                if not byte & 0x80:
                    break
                shift += 7
            yield field, wire, v
        elif wire == 2:
            ln = 0
            shift = 0
            while True:
                byte = mv[pos]
                pos += 1
                ln |= (byte & 0x7F) << shift
                if not byte & 0x80:
                    break
                shift += 7
            yield field, wire, mv[pos:pos + ln]
            pos += ln
        elif wire == 5:
            yield field, wire, int.from_bytes(mv[pos:pos + 4], "little")
            pos += 4
        elif wire == 1:
            yield field, wire, int.from_bytes(mv[pos:pos + 8], "little")
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wire}")


def _zz(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


# --- blob index (driver side) -------------------------------------------------

def scan_blobs(path: str) -> list[tuple[int, int, int, str]]:
    """Sequentially read ONLY the 4-byte lengths + BlobHeaders; returns
    [(blob_id, blob_offset, blob_size, type)] — the per-block index both
    passes parallelize over (OsmInputFile.get{First,All}Blocks)."""
    out = []
    bid = 0
    with open(path, "rb") as f:
        while True:
            hdr_len_b = f.read(4)
            if len(hdr_len_b) < 4:
                break
            (hdr_len,) = struct.unpack(">i", hdr_len_b)
            header = memoryview(f.read(hdr_len))
            typ = ""
            datasize = 0
            for field, wire, val in _fields(header):
                if field == 1:
                    typ = bytes(val).decode()
                elif field == 3:
                    datasize = val
            off = f.tell()
            f.seek(datasize, 1)
            out.append((bid, off, datasize, typ))
            bid += 1
    return out


def _inflate_blob(raw: bytes) -> bytes:
    """Blob payload decode (fileformat.proto; PbfDecoder.java:64-98 handles
    raw/zlib/lz4). zlib + raw + lzma via the stdlib; lz4 via the from-scratch
    block codec in kernels/lz4.py with the SAME semantics as the reference's
    LZ4FastDecompressor call (raw block format, length = Blob.raw_size,
    whole input consumed — PbfDecoder.java:80-95). zstd is the one codec the
    reference itself rejects ("only lz4, zlib, or raw may be used",
    PbfDecoder.java:97); we accept it when the library exists, else raise."""
    data = None
    raw_size = None
    lz4_payload = None
    for field, wire, val in _fields(memoryview(raw)):
        if field == 1:      # raw
            data = bytes(val)
        elif field == 2:    # raw_size (decompressed length)
            raw_size = val
        elif field == 3:    # zlib_data
            data = zlib.decompress(bytes(val))
        elif field == 4:    # lzma_data (xz/raw-lzma container)
            import lzma
            data = lzma.decompress(bytes(val))
        elif field == 6:    # lz4_data (raw block, PbfDecoder.java:80)
            lz4_payload = bytes(val)
        elif field == 7:    # zstd_data
            try:
                import zstandard
            except ImportError as e:
                raise NotImplementedError(
                    "zstd-compressed OSM blob: beyond the reference "
                    "(PbfDecoder.java:97 rejects it) and no zstd library "
                    "is installed") from e
            data = zstandard.ZstdDecompressor().decompress(bytes(val))
    if lz4_payload is not None:
        if raw_size is None:
            raise ValueError("lz4 blob missing raw_size")
        from ..kernels.lz4 import decompress_block
        data = decompress_block(lz4_payload, raw_size)
    if data is None:
        raise ValueError("Blob carries no data field")
    return data


def read_header(path: str) -> dict:
    """HeaderBlock -> {bbox: (minlon, maxlon, minlat, maxlat),
    required_features, writingprogram}."""
    for bid, off, size, typ in scan_blobs(path):
        if typ != "OSMHeader":
            continue
        with open(path, "rb") as f:
            f.seek(off)
            data = _inflate_blob(f.read(size))
        out = {"required_features": [], "optional_features": []}
        for field, wire, val in _fields(memoryview(data)):
            if field == 1:  # HeaderBBox, nanodegrees
                bb = {}
                for f2, w2, v2 in _fields(val):
                    bb[f2] = _zz(v2) / 1e9
                out["bbox"] = (bb.get(1), bb.get(2), bb.get(4), bb.get(3))
            elif field == 4:
                out["required_features"].append(bytes(val).decode())
            elif field == 5:
                out["optional_features"].append(bytes(val).decode())
            elif field == 16:
                out["writingprogram"] = bytes(val).decode()
        return out
    raise ValueError("no OSMHeader blob found")


# --- block decode (executor side) ---------------------------------------------

def decode_block(data: bytes) -> dict:
    """One inflated PrimitiveBlock -> dict of entity lists (see
    ENTITY_SCHEMA columns)."""
    strings: list[str] = []
    groups: list[memoryview] = []
    granularity = 100
    lat_off = lon_off = 0
    for field, wire, val in _fields(memoryview(data)):
        if field == 1:
            strings = [bytes(v).decode("utf-8", "replace")
                       for f2, w2, v in _fields(val) if f2 == 1]
        elif field == 2:
            groups.append(val)
        elif field == 17:
            granularity = val
        elif field == 19:
            lat_off = val
        elif field == 20:
            lon_off = val

    rows = {k: [] for k in ("etype", "id", "lon", "lat", "tags", "refs",
                            "member_ids", "member_types", "member_roles",
                            "version")}

    def emit(etype, eid, lon=None, lat=None, tags=None, refs=None,
             mids=None, mtypes=None, mroles=None, version=None):
        rows["etype"].append(etype)
        rows["id"].append(eid)
        rows["lon"].append(lon)
        rows["lat"].append(lat)
        rows["tags"].append(tags or {})
        rows["refs"].append(refs)
        rows["member_ids"].append(mids)
        rows["member_types"].append(mtypes)
        rows["member_roles"].append(mroles)
        rows["version"].append(version)

    for group in groups:
        for field, wire, val in _fields(group):
            if field == 2:  # DenseNodes — the vectorized bulk path
                ids = lats = lons = None
                kv = None
                versions = None
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        ids = delta_sint64(v2)
                    elif f2 == 5:  # DenseInfo: packed versions (field 1,
                        for f3, w3, v3 in _fields(v2):  # NOT delta-coded)
                            if f3 == 1:
                                versions = decode_packed_varints(v3)
                    elif f2 == 8:
                        lats = delta_sint64(v2)
                    elif f2 == 9:
                        lons = delta_sint64(v2)
                    elif f2 == 10:
                        kv = decode_packed_varints(v2).astype(np.int64)
                # nanodegrees -> degrees (osmformat.proto: out = off + g*in)
                lat_deg = (lat_off + granularity * lats) * 1e-9
                lon_deg = (lon_off + granularity * lons) * 1e-9
                tag_lists = _dense_tags(kv, strings, len(ids))
                for i in range(len(ids)):
                    emit(NODE, int(ids[i]), float(lon_deg[i]),
                         float(lat_deg[i]), tag_lists[i],
                         version=None if versions is None
                         else int(versions[i]))
            elif field == 1:  # plain Node (rare; dense is the norm)
                nid = lat = lon = 0
                keys = vals = ()
                ver = None
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        nid = _zz(v2)
                    elif f2 == 2:
                        keys = decode_packed_varints(v2)
                    elif f2 == 3:
                        vals = decode_packed_varints(v2)
                    elif f2 == 4:  # Info: version (field 1)
                        for f3, w3, v3 in _fields(v2):
                            if f3 == 1:
                                ver = int(v3)
                    elif f2 == 8:
                        lat = _zz(v2)
                    elif f2 == 9:
                        lon = _zz(v2)
                tags = {strings[int(k)]: strings[int(v)]
                        for k, v in zip(keys, vals)}
                emit(NODE, nid, (lon_off + granularity * lon) * 1e-9,
                     (lat_off + granularity * lat) * 1e-9, tags,
                     version=ver)
            elif field == 3:  # Way
                wid = 0
                keys = vals = ()
                refs = None
                ver = None
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        wid = v2
                    elif f2 == 2:
                        keys = decode_packed_varints(v2)
                    elif f2 == 3:
                        vals = decode_packed_varints(v2)
                    elif f2 == 4:  # Info: version (field 1)
                        for f3, w3, v3 in _fields(v2):
                            if f3 == 1:
                                ver = int(v3)
                    elif f2 == 8:
                        refs = delta_sint64(v2)
                tags = {strings[int(k)]: strings[int(v)]
                        for k, v in zip(keys, vals)}
                emit(WAY, wid, tags=tags,
                     refs=[] if refs is None else [int(r) for r in refs],
                     version=ver)
            elif field == 4:  # Relation
                rid = 0
                keys = vals = roles = types = ()
                mids = None
                ver = None
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        rid = v2
                    elif f2 == 2:
                        keys = decode_packed_varints(v2)
                    elif f2 == 3:
                        vals = decode_packed_varints(v2)
                    elif f2 == 4:  # Info: version (field 1)
                        for f3, w3, v3 in _fields(v2):
                            if f3 == 1:
                                ver = int(v3)
                    elif f2 == 8:
                        roles = decode_packed_varints(v2)
                    elif f2 == 9:
                        mids = delta_sint64(v2)
                    elif f2 == 10:
                        types = decode_packed_varints(v2)
                tags = {strings[int(k)]: strings[int(v)]
                        for k, v in zip(keys, vals)}
                emit(RELATION, rid, tags=tags,
                     mids=[] if mids is None else [int(m) for m in mids],
                     mtypes=[int(t) for t in types],
                     mroles=[strings[int(r)] for r in roles],
                     version=ver)
    return rows


def _dense_tags(kv, strings, n):
    """keys_vals stream: (k v)* 0 per node -> list of dicts."""
    out = [{} for _ in range(n)]
    if kv is None or len(kv) == 0:
        return out
    i = 0
    node = 0
    while i < len(kv):
        if kv[i] == 0:
            node += 1
            i += 1
        else:
            out[node][strings[int(kv[i])]] = strings[int(kv[i + 1])]
            i += 2
    return out


# --- the Spark source ---------------------------------------------------------

def read_osm_pbf(spark, path: str, partitions: int | None = None):
    """OSM PBF -> one entities DataFrame (ENTITY_SCHEMA). The driver indexes
    blob (offset, size) pairs; executors seek + inflate + decode their
    blocks in parallel. Filter `etype` for the per-type views; pass-2 joins
    (way->node lookup, relation membership) are plain equi-joins on `refs`
    explode / `member_ids`."""
    blobs = [(b, off, size) for b, off, size, typ in scan_blobs(path)
             if typ == "OSMData"]
    n_parts = partitions or min(len(blobs), 32) or 1
    bdf = spark.createDataFrame(blobs, "blob_id long, offset long, size long")

    def decode(batches):
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                with open(path, "rb") as f:
                    f.seek(int(r.offset))
                    raw = f.read(int(r.size))
                rows = decode_block(_inflate_blob(raw))
                if rows["id"]:
                    yield pd.DataFrame(rows)

    return bdf.repartition(n_parts, "blob_id").mapInPandas(decode, ENTITY_SCHEMA)


def osm_nodes(entities):
    from pyspark.sql import functions as F
    return (entities.filter(F.col("etype") == NODE)
            .select("id", "lon", "lat", "tags"))


def osm_ways(entities):
    from pyspark.sql import functions as F
    return (entities.filter(F.col("etype") == WAY)
            .select("id", "tags", "refs"))


def osm_relations(entities):
    from pyspark.sql import functions as F
    return (entities.filter(F.col("etype") == RELATION)
            .select("id", "tags", "member_ids", "member_types", "member_roles"))


def way_geometries(entities):
    """Pass 2 (OsmReader.processWayPass2:534-549): explode way refs with
    position, equi-join node locations, reassemble ordered coordinate
    arrays per way — the distributed LongLongMap lookup."""
    from pyspark.sql import functions as F
    nodes = osm_nodes(entities)
    ways = osm_ways(entities)
    exploded = ways.select(
        F.col("id").alias("way_id"),
        F.posexplode("refs").alias("pos", "node_id"))
    joined = exploded.join(nodes.select(F.col("id").alias("node_id"),
                                        "lon", "lat"), "node_id")
    return (joined.groupBy("way_id")
            .agg(F.sort_array(F.collect_list(F.struct("pos", "lon", "lat")))
                 .alias("pts"))
            .select("way_id",
                    F.expr("transform(pts, p -> p.lon)").alias("lons"),
                    F.expr("transform(pts, p -> p.lat)").alias("lats")))


def multipolygon_members(rels, geoms, *keep: str):
    """Multipolygon relations joined to their member ways' coordinates:
    rels (id, member_ids, member_types, *keep) and way_geometries' (way_id,
    lons, lats) -> (id, *keep, lons, lats), one row per relation whose
    lons/lats hold one inner array per way member, in member order.
    Members carry their position through the join and are sorted by it,
    so ring assembly sees the same order at any partitioning (a bare
    collect_list after the join takes rows in whatever order they arrive)."""
    from pyspark.sql import functions as F
    members = F.arrays_zip(F.col("member_ids").alias("mid"),
                           F.col("member_types").alias("mtype"))
    return (rels.select(F.col("id").alias("rid"), *keep,
                        F.posexplode(members).alias("pos", "m"))
            .filter(F.col("m.mtype") == WAY)
            .select("rid", *keep, "pos", F.col("m.mid").alias("id"))
            .join(geoms.withColumnRenamed("way_id", "id"), "id")
            .groupBy("rid")
            .agg(*(F.first(c).alias(c) for c in keep),
                 F.sort_array(F.collect_list(F.struct("pos", "lons", "lats")))
                 .alias("members"))
            .select(F.col("rid").alias("id"), *keep,
                    F.expr("transform(members, m -> m.lons)").alias("lons"),
                    F.expr("transform(members, m -> m.lats)").alias("lats")))


def split_ways_at_intersections(ways, renumber: bool = True):
    """SplitWay emission (OsmWaySplitter.java:40-52 + OsmReader
    splitWayIfNecessary:440-450 / asSplitLine:866-879 /
    getSplitWayMultiplier:431-437): among the ways passed in (callers filter
    to the ways the profile marks via splitOsmWayAtIntersections — in YAML,
    any way matched by a `geometry: split_line` rule), a node is an
    INTERSECTION if it appears more than once across all node lists (even
    twice within one way); each way splits at its interior intersection
    nodes, the junction node duplicated into both adjacent segments.

    Input: DataFrame(id, refs: array<long>, ...). Output one row per
    segment: (way_id, seg, split_id, refs) where split_id =
    way_id + seg * multiplier (multiplier = smallest power of 10 >= the max
    way id) when renumber, else way_id; join way attributes back on way_id.
    Un-split ways come back as their single full segment (the reference
    emits those as plain ways, which BOTH `line:` and `split_line:`
    process).

    Spark-first shape: the shared-node set is one exploded groupBy (the
    distributed RoaringBitmap analog), the split indices a windowed cumsum,
    the junction duplication an explode of a 1-or-2 element array — no
    per-row Python anywhere."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ex = ways.select(F.col("id").alias("way_id"), F.size("refs").alias("n"),
                     F.posexplode("refs").alias("pos", "node_id"))
    shared = (ex.groupBy("node_id").agg(F.count("*").alias("uses"))
              .filter(F.col("uses") > 1)
              .select("node_id", F.lit(True).alias("shared")))
    j = ex.join(shared, "node_id", "left")
    is_split = (F.coalesce(F.col("shared"), F.lit(False)) &
                (F.col("pos") > 0) & (F.col("pos") < F.col("n") - 1))
    w = Window.partitionBy("way_id").orderBy("pos")
    j = j.withColumn("cum", F.sum(is_split.cast("int")).over(w))
    segs = j.select(
        "way_id", "pos", "node_id",
        F.explode(F.when(is_split, F.array(F.col("cum") - 1, F.col("cum")))
                  .otherwise(F.array(F.col("cum")))).alias("seg"))
    grouped = (segs.groupBy("way_id", "seg")
               .agg(F.sort_array(F.collect_list(F.struct("pos", "node_id")))
                    .alias("pts"))
               .select("way_id", "seg",
                       F.expr("transform(pts, p -> p.node_id)").alias("refs")))
    # multiplier: smallest power of 10 >= max way id (kept lazy via a
    # broadcast 1-row cross join rather than a driver collect)
    mult = (ways.agg(F.max("id").alias("max_id"))
            .select(F.expr("CAST(power(10, CAST(ceil(log10(CAST(max_id AS DOUBLE))) AS INT)) AS BIGINT)")
                    .alias("mult")))
    out = grouped.crossJoin(F.broadcast(mult))
    split_id = (F.col("way_id") + F.col("seg") * F.col("mult")
                if renumber else F.col("way_id"))
    return out.select("way_id", "seg", split_id.alias("split_id"), "refs")
