"""End-to-end OSM -> vector tiles -> MBTiles on the reference's own monaco
fixture (plans/osm_pipeline.py) — the reference's headline flow."""

import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from planetiler_spark.kernels import mvt
from planetiler_spark.plans import osm_pipeline as op
from planetiler_spark.sources import archives as ar

MONACO = "/root/reference/planetiler-core/src/test/resources/monaco-latest.osm.pbf"

pytestmark = pytest.mark.skipif(not os.path.exists(MONACO),
                                reason="reference checkout absent")


@pytest.fixture(scope="module")
def tiles(spark):
    return op.osm_tileset(spark, MONACO, 13, 14).cache()


def test_feature_matching_counts(spark):
    feats = op.osm_features(spark, MONACO)
    counts = {(r.layer, r.kind): r["count"] for r in
              feats.groupBy("layer", "kind").count().collect()}
    # stable facts of the frozen monaco fixture under the default profile
    assert counts[("building", "polygon")] == 1183
    assert counts[("road", "line")] == 2379
    assert counts[("poi", "point")] == 621
    assert counts[("water", "polygon")] == 18
    # multipolygon relations matched into polygon layers
    assert any(k[1] == "multipolygon" for k in counts), counts


def test_tiles_decode_with_all_layers(tiles):
    rows = tiles.collect()
    assert len(rows) >= 6  # monaco spans several z13/z14 tiles
    busiest = max(rows, key=lambda r: r.n_features)
    assert busiest.zoom == 14
    d = mvt.decode_tile(bytes(busiest.tile_bytes))
    assert {"building", "road", "poi", "water"} <= set(d)
    # attrs survive: every poi carries its amenity tag, roads their highway
    for f in d["poi"][:20]:
        assert "amenity" in f["attrs"]
    for f in d["road"][:20]:
        assert "highway" in f["attrs"]
    # total features monotone down the pyramid
    nf = {r.zoom: 0 for r in rows}
    for r in rows:
        nf[r.zoom] += r.n_features
    assert nf[14] >= nf[13]


def test_mbtiles_archive_roundtrip(spark, tiles, tmp_path):
    out = str(tmp_path / "monaco.mbtiles")
    ar.write_mbtiles(tiles, out)
    back = ar.read_mbtiles(out)
    want = {(r.zoom, r.x, r.y): bytes(r.tile_bytes) for r in tiles.collect()}
    assert len(back) == len(want)
    # read_mbtiles returns {(z, x, y): bytes}; blobs must match exactly
    assert back == want


YAML_SCHEMA = """
schema_name: test
layers:
- id: footways
  features:
  - source: osm
    geometry: line
    min_zoom: 12
    include_when:
      highway: footway
    attributes:
    - key: surface
      tag_value: surface
- id: parks
  features:
  - source: osm
    geometry: polygon
    min_zoom: 10
    include_when:
      leisure:
      - park
      - garden
    attributes:
    - key: kind
      tag_value: leisure
"""


def test_yaml_schema_drives_the_osm_flow(spark):
    """A ConfiguredProfile YAML schema (plans/profile.py) can drive the whole
    OSM flow: closed ways double as line candidates, leisure multipolygon
    relations land in the polygon layer, and schema attributes reach the
    tiles."""
    from planetiler_spark.plans import profile as prof

    schema = prof.parse_schema(YAML_SCHEMA)
    feats = op.osm_features_yaml(spark, MONACO, schema)
    counts = {(r.layer, r.kind): r["count"] for r in
              feats.groupBy("layer", "kind").count().collect()}
    assert counts[("footways", "line")] == 1017
    assert counts[("footways", "closed_line")] == 11
    assert counts[("parks", "polygon")] == 42
    assert counts[("parks", "multipolygon")] == 3

    tiles = op.osm_tileset(spark, MONACO, 13, 14, schema=schema)
    busiest = max(tiles.collect(), key=lambda r: r.n_features)
    d = mvt.decode_tile(bytes(busiest.tile_bytes))
    assert set(d) <= {"footways", "parks"} and d
    kinds = {f["attrs"].get("kind") for f in d.get("parks", [])}
    assert kinds <= {"park", "garden", None}


def test_line_merge_post_process(spark):
    """FeatureMerge.mergeLineStrings analog: per tile, road pieces sharing
    attrs merge into maximal strokes — far fewer features, total polyline
    length conserved (endpoint snap only; no stub/min-length dropping)."""
    feats = op.osm_features(spark, MONACO)
    frags = op.render_osm_features(feats, 13, 13).cache()
    plain = op.encode_osm_tiles(frags, 13, 13, merge_lines=False).collect()
    merged = op.encode_osm_tiles(frags, 13, 13, merge_lines=True).collect()

    def road_stats(rows):
        n = 0
        length = 0.0
        for r in rows:
            d = mvt.decode_tile(bytes(r.tile_bytes))
            for f in d.get("road", []):
                n += 1
                for part in f["geometry"]:
                    pts = np.asarray(part, dtype=float)
                    if len(pts) > 1:
                        length += float(np.hypot(*(pts[1:] - pts[:-1]).T).sum())
        return n, length

    n0, len0 = road_stats(plain)
    n1, len1 = road_stats(merged)
    assert n1 < n0 / 2          # merging collapses segments into strokes
    assert 0.95 <= len1 / len0 <= 1.05  # geometry conserved up to snapping


def test_vector_layers_json_semantics(spark):
    """LayerAttrStats semantics on synthetic fragments: field union per
    layer, Number/Boolean/String typing with mixed types collapsing to
    String, observed zoom range."""
    import json
    import pandas as pd
    frags = spark.createDataFrame(pd.DataFrame({
        "layer": ["road", "road", "water", "water"],
        "zoom": [3, 7, 5, 5],
        "attrs": ['{"name": "A1", "lanes": 2}',
                  '{"lanes": "wide", "oneway": true}',
                  '{"depth": 4.5}',
                  '{}'],
    }))
    got = json.loads(op.vector_layers_json(frags))["vector_layers"]
    road = next(l for l in got if l["id"] == "road")
    water = next(l for l in got if l["id"] == "water")
    assert road["minzoom"] == 3 and road["maxzoom"] == 7
    assert road["fields"] == {"name": "String", "lanes": "String",  # mixed
                              "oneway": "Boolean"}
    assert water["fields"] == {"depth": "Number"}
    assert water["minzoom"] == 5 and water["maxzoom"] == 5


def test_mbtiles_metadata_carries_vector_layers(spark, tmp_path):
    """The headline flow writes the MBTiles-spec `json` metadata key
    (TileArchiveMetadata.VECTOR_LAYERS_KEY) computed from the rendered
    fragments."""
    import json
    import sqlite3
    tiles, meta = op.osm_tileset(spark, MONACO, 13, 14, with_metadata=True)
    vl = json.loads(meta["json"])["vector_layers"]
    ids = {l["id"] for l in vl}
    assert {"road", "water", "building"} <= ids
    for l in vl:
        assert 13 <= l["minzoom"] <= l["maxzoom"] <= 14
    road = next(l for l in vl if l["id"] == "road")
    assert road["fields"].get("highway") == "String"
    mb = str(tmp_path / "t.mbtiles")
    ar.write_mbtiles(tiles, mb, metadata=meta)
    con = sqlite3.connect(mb)
    stored = dict(con.execute("SELECT name, value FROM metadata").fetchall())
    con.close()
    assert json.loads(stored["json"])["vector_layers"] == vl
    assert stored["minzoom"] == "13" and stored["maxzoom"] == "14"


def test_osm_tiles_total_order(tiles):
    """The range-token exchange leaves the OSM tileset in total zoom-major
    order — the reference's ordered TileArchiveWriter semantics — with no
    repartitionByRange or extra sort."""
    ids = [r.tile_id for r in tiles.collect()]
    assert ids == sorted(ids)
