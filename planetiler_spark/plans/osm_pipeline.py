"""End-to-end OSM -> vector-tile archive: the reference's headline flow
(Planetiler.run, Planetiler.java:791-996: osm.pbf -> profile -> render ->
sort -> mbtiles) replayed Spark-first over this engine's own pieces:

  read_osm_pbf (parallel blob decode)            sources/osm.py
    -> way_geometries (distributed node lookup)  the pass-2 equi-join
    -> multipolygon assembly for relations       kernels/lines.py
    -> profile match (layer rules on tags)       Catalyst filters, this file
    -> per-zoom render: slice points/lines/      operators/render.py
       polygons into tile-local fragments,
       each with its PMTiles Hilbert id
    -> the one tile exchange: Hilbert-id range   operators/tile_pipeline.py
       buckets, sorted by (hilbert_id, key, fid)   tile_exchange
    -> consecutive-run MVT encode (multi-layer   kernels/mvt.py LayerBuilder
       tiles with interned attrs)
    -> MBTiles / PMTiles / files archive         sources/archives.py

The tiles leave the exchange in zoom-major Hilbert order, as every other
tileset of the engine does, so write_pmtiles writes them with no sort
(inside the tile reduce when the frame is not cached).

The built-in DEFAULT_PROFILE is a compact OpenMapTiles-flavored schema
(water/landuse/building/road/poi) — swap in any rules of the same shape, or
compile them from YAML via plans/profile.py. Geometry typing follows the
reference's rule (OsmReader.canBePolygon/canBeLine): a closed way with an
area-ish tag renders as a polygon, other matched ways as lines; relations
tagged type=multipolygon assemble member ways into shells + holes.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels import geom as gk
from ..kernels import lines as lk
from ..kernels import mvt
from ..kernels import tile_math as tm
from ..operators import render as R
from ..sources import osm as osrc

# layer rules: (layer, tag key, allowed values or None=any, geom, minzoom,
# attr keys carried into the tile)
DEFAULT_PROFILE = [
    ("water", "natural", {"water"}, "polygon", 6, ("natural", "name")),
    ("landuse", "landuse", {"residential", "grass", "forest", "meadow",
                            "industrial", "cemetery"}, "polygon", 9,
     ("landuse",)),
    ("building", "building", None, "polygon", 13, ("building",)),
    ("road", "highway", None, "line", 5, ("highway", "name")),
    ("poi", "amenity", None, "point", 14, ("amenity", "name")),
]

FEATURES_SCHEMA = ("key long, tile_id long, zoom int, layer string, fid long, "
                   "ftype int, fill boolean, parts binary, attrs string, "
                   "hilbert_id long")
_LAYER_IDX = {name: i for i, (name, *_rest) in enumerate(DEFAULT_PROFILE)}
_AREA_KEYS = ("building", "landuse", "natural", "leisure", "amenity")


def _match_col(key: str, vals):
    c = F.col("tags")[key]
    return c.isNotNull() if vals is None else c.isin(*vals)


def _attrs_json(tags: dict, keys) -> str:
    return json.dumps({k: tags[k] for k in keys if tags.get(k) is not None},
                      sort_keys=True)


def osm_features(spark: SparkSession, pbf: str, profile=DEFAULT_PROFILE) -> DataFrame:
    """Entities -> one matched-feature DataFrame:
    (fid, layer, kind point|line|polygon|multipolygon, minzoom, tags,
    lons/lats as array<array<double>>) — geometry is uniformly NESTED: a
    point/way is a single inner array, a multipolygon relation carries one
    inner array per member way (ring assembly happens at render, where numpy
    is available)."""
    ents = osrc.read_osm_pbf(spark, pbf).cache()
    nodes = ents.filter("etype = 0")
    ways = ents.filter("etype = 1")
    rels = ents.filter("etype = 2")
    geoms = osrc.way_geometries(ents)
    ways_g = ways.select("id", "tags", (F.element_at("refs", 1) ==
                                        F.element_at("refs", -1)).alias("closed")) \
                 .join(geoms.withColumnRenamed("way_id", "id"), "id")

    def rows(src_df, layer, kind, minzoom, attr_keys, lons_col, lats_col):
        pairs = []
        for k in attr_keys:
            pairs.extend([F.lit(k), F.col("tags")[k]])
        return src_df.select(
            F.col("id").alias("fid"), F.lit(layer).alias("layer"),
            F.lit(kind).alias("kind"), F.lit(minzoom).alias("min_zoom"),
            F.lit(14).alias("max_zoom"),
            F.create_map(*pairs).alias("attrs"),
            lons_col.alias("lons"), lats_col.alias("lats"))

    # multipolygon relations: members joined to way coords, grouped per rel
    mp = osrc.multipolygon_members(
        rels.filter(F.col("tags")["type"] == "multipolygon"), geoms, "tags")

    out = []
    for layer, key, vals, geom, minzoom, attr_keys in profile:
        m = _match_col(key, vals)
        if geom == "point":
            out.append(rows(nodes.filter(m), layer, "point", minzoom, attr_keys,
                            F.array(F.array("lon")), F.array(F.array("lat"))))
        elif geom == "line":
            out.append(rows(ways_g.filter(m), layer, "line", minzoom, attr_keys,
                            F.array("lons"), F.array("lats")))
        else:
            out.append(rows(ways_g.filter(m & F.col("closed")), layer,
                            "polygon", minzoom, attr_keys,
                            F.array("lons"), F.array("lats")))
            out.append(rows(mp.filter(m), layer, "multipolygon", minzoom,
                            attr_keys, F.col("lons"), F.col("lats")))
    feats = out[0]
    for o in out[1:]:
        feats = feats.unionByName(o)
    return feats


def _rings_world(lons, lats) -> list[np.ndarray]:
    wx = tm.get_world_x(np.asarray(lons, dtype=np.float64))
    wy = tm.get_world_y(np.asarray(lats, dtype=np.float64))
    return np.stack([wx, wy], axis=1)


def render_osm_features(feats: DataFrame, min_zoom: int = 0,
                        max_zoom: int = 14) -> DataFrame:
    """Matched features -> per-(tile, zoom) fragment rows in the sorted-KV
    model (ftype = MVT geometry type; fill rows for polygon interiors),
    each with its PMTiles `hilbert_id`. Consumes the unified
    matched-feature schema (layer, kind, min_zoom, max_zoom, attrs map,
    nested lons/lats) produced by either osm_features (built-in rules) or
    osm_features_yaml (a ConfiguredProfile schema).

    The result stays a row frame: vector_layers_json reads its rows, and
    renders over different zoom ranges union into one frame before
    encode_osm_tiles packs them for the tile exchange."""
    layer_idx = dict(_LAYER_IDX)

    def gen(batches):
        for pdf in batches:
            rows = {k: [] for k in ("zoom", "layer", "fid", "ftype", "fill",
                                    "parts", "attrs")}
            txs, tys = [], []

            def emit(z, tx, ty, layer, fid, ftype, fill, parts, attrs):
                rows["zoom"].append(z)
                rows["layer"].append(layer)
                rows["fid"].append(int(fid))
                rows["ftype"].append(ftype)
                rows["fill"].append(fill)
                rows["parts"].append(b"" if parts is None else
                                     gk.pack_parts([np.asarray(p, np.int64)
                                                    for p in parts]))
                rows["attrs"].append(attrs)
                txs.append(tx)
                tys.append(ty)

            for r in pdf.itertuples(index=False):
                attrs = json.dumps(
                    {k: v for k, v in dict(r.attrs).items() if v is not None},
                    sort_keys=True)
                z0 = max(min_zoom, int(r.min_zoom))
                z1 = min(max_zoom, int(r.max_zoom))
                if r.kind == "point":
                    wx = tm.get_world_x(np.asarray(r.lons[0]))
                    wy = tm.get_world_y(np.asarray(r.lats[0]))
                    for z in range(z0, z1 + 1):
                        idx, tx, ty, ex, ey = R.slice_points(wx, wy, z)
                        for i in range(len(tx)):
                            emit(z, int(tx[i]), int(ty[i]), r.layer, r.fid, 1,
                                 False, [np.array([[int(ex[i]), int(ey[i])]])],
                                 attrs)
                elif r.kind in ("line", "closed_line"):
                    coords = _rings_world(r.lons[0], r.lats[0])
                    for z in range(z0, z1 + 1):
                        for tx, ty, parts in R.slice_line(coords, z):
                            emit(z, int(tx), int(ty), r.layer, r.fid, 2, False,
                                 parts, attrs)
                else:  # polygon / multipolygon
                    if r.kind == "multipolygon":
                        members = [_rings_world(lo, la)
                                   for lo, la in zip(r.lons, r.lats)]
                        polys = lk.assemble_multipolygon(members)
                    else:
                        polys = [[_rings_world(r.lons[0], r.lats[0])]]
                    for rings in polys:
                        for z in range(z0, z1 + 1):
                            for tx, ty, kind, parts in R.slice_polygon(rings, z):
                                emit(z, int(tx), int(ty), r.layer, r.fid, 3,
                                     kind == "fill", parts, attrs)
            out = pd.DataFrame(rows)
            xyz = (np.array(txs, dtype=np.int64), np.array(tys, dtype=np.int64),
                   np.array(rows["zoom"], dtype=np.int64))
            out["tile_id"] = tm.tile_encode(*xyz)
            layers = np.array([layer_idx.get(n, 7) for n in rows["layer"]],
                              dtype=np.int64)
            out["key"] = tm.encode_sort_key(out["tile_id"].to_numpy(), layers,
                                            0, 0)
            out["hilbert_id"] = tm.hilbert_encode(*xyz)
            yield out

    return feats.mapInPandas(gen, FEATURES_SCHEMA)


def encode_osm_tiles(frags: DataFrame, min_zoom: int, max_zoom: int,
                     merge_lines: bool = True,
                     feature_per_stroke: bool = False,
                     merge_min_length: float = 0.0,
                     merge_tolerance: float = -1.0,
                     merge_stub_min_length: float = 0.0,
                     merge_strokes: bool = False) -> DataFrame:
    """Fragments of zooms min_zoom..max_zoom (render_osm_features) ->
    multi-layer MVT tiles (tile_pipeline.TILE_SCHEMA) through the one tile
    exchange: pack_rows buckets them by Hilbert id, and each bucket's
    features, sorted (hilbert_id, key, fid), are encoded in consecutive
    same-tile runs. The tiles leave in zoom-major Hilbert order, as a frame
    tile_exchange made, so write_pmtiles writes them without a sort.

    merge_lines applies the reference's per-tile line post-process
    (FeatureMerge.mergeLineStrings): within a tile, line pieces that share a
    layer AND attrs merge into maximal strokes (kernels/lines.py
    LoopLineMerger analog, endpoint snap at the integer extent grid), one
    multi-linestring feature per attr group — road networks shrink to a few
    strokes per tile instead of hundreds of segments.

    Encode uses LayerBuilder per feature — right for mixed-geometry,
    arbitrary-attr tiles at city/country scale. At planet scale the hot
    layers should route through the vectorized stream encoders instead
    (mvt.PointTileStream / polygon_geom_stream, as the images pipeline
    does); the exchange is unchanged."""
    import hashlib

    from ..operators import tile_pipeline as tp

    fill_cmds = mvt.encode_fill()

    def merged_lines(layers, line_groups):
        """Add each (layer, attrs) group's merged strokes; the count."""
        n = 0
        for (layer, attrs_s), (fid0, parts) in line_groups.items():
            merged = lk.merge_line_strings(
                [np.asarray(pp, dtype=np.float64) for pp in parts],
                min_length=merge_min_length,
                stub_min_length=merge_stub_min_length,
                tolerance=merge_tolerance, grid=1.0,
                merge_strokes=merge_strokes)
            if not merged:
                continue
            lb = layers.get(layer)
            if lb is None:
                lb = layers[layer] = mvt.LayerBuilder(layer)
            if feature_per_stroke:
                # FeatureMerge.mergeLineStrings emits each merged stroke
                # as its OWN feature (merge():91-99 returns one
                # VectorTile.Feature per merged geometry); the default
                # multiline-per-attr-group packs tighter but examples
                # that reproduce reference feature counts need this
                attrs = json.loads(attrs_s)
                for m in merged:
                    cmds = mvt.encode_geometry(
                        2, [np.rint(m).astype(np.int64)])
                    lb.add_feature(fid0, 2, cmds, attrs)
                    n += 1
            else:
                cmds = mvt.encode_geometry(
                    2, [np.rint(m).astype(np.int64) for m in merged])
                lb.add_feature(fid0, 2, cmds, json.loads(attrs_s))
                n += 1
        return n

    def reduce_tiles(t):
        hids = t.column("hilbert_id").to_numpy()
        starts = np.flatnonzero(np.diff(hids, prepend=hids[0] - 1))
        ends = np.append(starts[1:], len(hids))
        xs, ys, zs = tm.hilbert_decode(hids[starts])
        layer_a = t.column("layer").to_pylist()
        fid_a = t.column("fid").to_numpy().tolist()
        ftype_a = t.column("ftype").to_numpy().tolist()
        fill_a = t.column("fill").to_pylist()
        parts_a = t.column("parts").to_pylist()
        attrs_a = t.column("attrs").to_pylist()
        out = {"tile_id": tm.tile_encode(xs, ys, zs), "zoom": zs, "x": xs,
               "y": ys, "hilbert_id": hids[starts], "n_features": [],
               "tile_bytes": [], "content_hash": []}
        for s, e in zip(starts.tolist(), ends.tolist()):
            layers: dict[str, mvt.LayerBuilder] = {}
            line_groups: dict[tuple, list] = {}  # (layer, attrs) -> [fid0, parts]
            nfeat = 0
            for i in range(s, e):
                layer, ftype, fill = layer_a[i], ftype_a[i], fill_a[i]
                if merge_lines and ftype == 2 and not fill:
                    grp = line_groups.get((layer, attrs_a[i]))
                    parts = gk.unpack_parts(parts_a[i])
                    if grp is None:
                        line_groups[(layer, attrs_a[i])] = [fid_a[i], parts]
                    else:
                        grp[1].extend(parts)
                    continue
                lb = layers.get(layer)
                if lb is None:
                    lb = layers[layer] = mvt.LayerBuilder(layer)
                cmds = fill_cmds if fill else mvt.encode_geometry(
                    ftype, gk.unpack_parts(parts_a[i]))
                lb.add_feature(fid_a[i], ftype, cmds, json.loads(attrs_a[i]))
                nfeat += 1
            nfeat += merged_lines(layers, line_groups)
            blob = mvt.encode_tile(list(layers.values()))
            out["n_features"].append(nfeat)
            out["tile_bytes"].append(blob)
            out["content_hash"].append(hashlib.sha256(blob).hexdigest()[:16])
        return tp._record_batch(out, tp.TILE_SCHEMA)

    # tile_id and zoom follow from hilbert_id: the reduce derives them
    packed = tp.pack_rows(frags.drop("tile_id", "zoom"), min_zoom, max_zoom)
    return tp.tile_exchange(packed, reduce_tiles, tp.TILE_SCHEMA,
                            ["key", "fid"])


def osm_features_yaml(spark: SparkSession, pbf: str, schema) -> DataFrame:
    """Drive the OSM flow from a parsed ConfiguredProfile schema
    (plans/profile.parse_schema): candidates with raw tags -> apply_profile
    per geometry requirement (a `polygon` rule only sees closed ways and
    multipolygon relations, per GeometryType.featureTest) -> the same
    unified matched-feature schema render_osm_features consumes."""
    from . import profile as prof

    cands = _osm_candidates(spark, pbf)
    # a closed way is a candidate for BOTH line and polygon rules (the
    # reference's canBeLine/canBePolygon both admit closed ways); `any`
    # rules take closed ways as lines only, so one way never matches twice
    kinds = {"point": ("point",), "line": ("line", "closed_line"),
             "polygon": ("polygon", "multipolygon"),
             "any": ("point", "line", "closed_line", "multipolygon")}
    parts = []
    for rule in schema.rules:
        req = kinds.get(rule.geometry or "any", kinds["any"])
        sub = cands.filter(F.col("kind").isin(*req))
        parts.append(prof.apply_profile(sub, [rule],
                                        mappings=schema.tag_mappings))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("fid", "layer", "kind", "min_zoom", "max_zoom",
                      "attrs", "lons", "lats")


def _osm_candidates(spark: SparkSession, pbf: str) -> DataFrame:
    ents = osrc.read_osm_pbf(spark, pbf).cache()
    nodes = ents.filter("etype = 0").filter(F.size("tags") > 0)
    ways = ents.filter("etype = 1")
    geoms = osrc.way_geometries(ents)
    ways_g = ways.select("id", "tags", (F.element_at("refs", 1) ==
                                        F.element_at("refs", -1)).alias("closed")) \
                 .join(geoms.withColumnRenamed("way_id", "id"), "id")
    mp = osrc.multipolygon_members(
        ents.filter("etype = 2").filter(F.col("tags")["type"] == "multipolygon"),
        geoms, "tags")

    def cand(df, kind, lons_col, lats_col):
        return df.select(F.col("id").alias("fid"), F.lit(kind).alias("kind"),
                         "tags", lons_col.alias("lons"), lats_col.alias("lats"))

    return (cand(nodes, "point", F.array(F.array("lon")), F.array(F.array("lat")))
            .unionByName(cand(ways_g.filter(~F.col("closed")), "line",
                              F.array("lons"), F.array("lats")))
            .unionByName(cand(ways_g.filter(F.col("closed")), "closed_line",
                              F.array("lons"), F.array("lats")))
            .unionByName(cand(ways_g.filter(F.col("closed")), "polygon",
                              F.array("lons"), F.array("lats")))
            .unionByName(cand(mp, "multipolygon", F.col("lons"), F.col("lats"))))


def vector_layers_json(frags: DataFrame) -> str:
    """MBTiles-spec `json` metadata value from the rendered fragments —
    LayerAttrStats.java:25-103 semantics: per layer, the union of attribute
    fields typed Number/Boolean/String (mixed types collapse to String,
    :47-55) and the observed [minzoom, maxzoom] range. One mapInPandas
    parse + one small groupBy; the result is driver-side by definition
    (it is one metadata string)."""
    import pandas as pd

    def classify(batches):
        for pdf in batches:
            rows = []
            for layer, zoom, attrs in zip(pdf["layer"], pdf["zoom"], pdf["attrs"]):
                fields = json.loads(attrs) if attrs else {}
                if not fields:
                    rows.append((layer, int(zoom), "", ""))
                for k, v in fields.items():
                    t = ("Boolean" if isinstance(v, bool)
                         else "Number" if isinstance(v, (int, float))
                         else "String")
                    rows.append((layer, int(zoom), k, t))
            yield pd.DataFrame(rows, columns=["layer", "zoom", "field", "ftype"])

    stats = (frags.select("layer", "zoom", "attrs")
             .mapInPandas(classify, "layer string, zoom int, field string, ftype string")
             .groupBy("layer", "field")
             .agg(F.min("zoom").alias("minz"), F.max("zoom").alias("maxz"),
                  F.collect_set("ftype").alias("types"))
             .collect())
    layers: dict[str, dict] = {}
    for r in stats:
        lyr = layers.setdefault(r.layer, {"id": r.layer, "fields": {},
                                          "minzoom": r.minz, "maxzoom": r.maxz})
        lyr["minzoom"] = min(lyr["minzoom"], r.minz)
        lyr["maxzoom"] = max(lyr["maxzoom"], r.maxz)
        if r.field:
            lyr["fields"][r.field] = (r.types[0] if len(r.types) == 1
                                      else "String")
    out = [{"id": l["id"], "fields": dict(sorted(l["fields"].items())),
            "minzoom": l["minzoom"], "maxzoom": l["maxzoom"]}
           for l in sorted(layers.values(), key=lambda l: l["id"])]
    return json.dumps({"vector_layers": out})


def osm_tileset(spark: SparkSession, pbf: str, min_zoom: int = 0,
                max_zoom: int = 14, profile=DEFAULT_PROFILE,
                schema=None, with_metadata: bool = False):
    if schema is not None:
        feats = osm_features_yaml(spark, pbf, schema)
    else:
        feats = osm_features(spark, pbf, profile)
    frags = render_osm_features(feats, min_zoom, max_zoom)
    if not with_metadata:
        return encode_osm_tiles(frags, min_zoom, max_zoom)
    frags = frags.persist()
    meta = {"json": vector_layers_json(frags),
            "minzoom": str(min_zoom), "maxzoom": str(max_zoom)}
    return encode_osm_tiles(frags, min_zoom, max_zoom), meta
