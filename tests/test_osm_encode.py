"""The OSM render -> encode flow on a synthetic matched-feature frame, so it
runs without the monaco fixture: points, a line, a simple polygon, a
polygon with a hole and a two-part multipolygon go through
render_osm_features -> encode_osm_tiles, and the per-tile bytes are pinned."""

import hashlib

import pandas as pd
import pytest
from conftest import (_packed_exchanges, _python_maps_above, _written_job,
                      assert_hilbert_order)

from planetiler_spark.plans import osm_pipeline as op

MATCHED_SCHEMA = ("fid long, layer string, kind string, min_zoom int, "
                  "max_zoom int, attrs map<string,string>, "
                  "lons array<array<double>>, lats array<array<double>>")


def _ring(lon0, lat0, lon1, lat1):
    lons = [lon0, lon1, lon1, lon0, lon0]
    lats = [lat0, lat0, lat1, lat1, lat0]
    return lons, lats


def matched_features():
    rows = []

    def add(fid, layer, kind, minzoom, attrs, members):
        rows.append((fid, layer, kind, minzoom, 14, attrs,
                     [list(m[0]) for m in members],
                     [list(m[1]) for m in members]))

    add(1, "poi", "point", 8, {"amenity": "cafe", "name": "A"},
        [([7.4210], [43.7310])])
    add(2, "poi", "point", 8, {"amenity": "bench", "name": None},
        [([7.4290], [43.7370])])
    add(3, "road", "line", 8, {"highway": "primary", "name": "Main"},
        [([7.4100, 7.4200, 7.4350, 7.4420], [43.7250, 43.7300, 43.7280, 43.7400])])
    add(4, "building", "polygon", 8, {"building": "yes"},
        [_ring(7.4240, 43.7320, 7.4260, 43.7335)])
    outer = _ring(7.4000, 43.7200, 7.4180, 43.7330)
    hole = _ring(7.4060, 43.7240, 7.4120, 43.7290)
    add(5, "water", "multipolygon", 8, {"natural": "water", "name": "Lake"},
        [outer, hole])
    add(6, "landuse", "multipolygon", 9, {"landuse": "grass"},
        [_ring(7.4300, 43.7200, 7.4380, 43.7260),
         _ring(7.4400, 43.7300, 7.4460, 43.7360)])
    return pd.DataFrame(rows, columns=["fid", "layer", "kind", "min_zoom",
                                       "max_zoom", "attrs", "lons", "lats"])


# Per-tile (tile_id, n_features, sha256(tile_bytes)) of the frame above,
# rendered z8-14 and encoded at 4 and at 9 shuffle partitions, hashed in
# tile_id order.
OSM_TILES = 15
OSM_SHA256 = \
    "5fcf34c0edfca96f995d0bf0b5f7324d3db1756c16405ef3c25197bc38746049"


def matched_frame(spark, permuted=False):
    pdf = matched_features()
    if not permuted:
        return spark.createDataFrame(pdf, MATCHED_SCHEMA)
    pdf = pdf.sample(frac=1.0, random_state=7).reset_index(drop=True)
    return spark.createDataFrame(pdf, MATCHED_SCHEMA).repartition(3)


def osm_tileset(spark, permuted=False):
    frags = op.render_osm_features(matched_frame(spark, permuted), 8, 14)
    return op.encode_osm_tiles(frags, 8, 14)


def tiles_digest(rows):
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: r.tile_id):
        h.update(f"{r.tile_id} {r.n_features} "
                 f"{hashlib.sha256(bytes(r.tile_bytes)).hexdigest()}\n".encode())
    return len(rows), h.hexdigest()


@pytest.mark.parametrize("partitions,permuted",
                         [(4, False), (9, False), (4, True), (9, True)],
                         ids=["4", "9", "4-permuted", "9-permuted"])
def test_osm_encode_bytes_pinned(spark, shuffle_partitions, partitions,
                                 permuted):
    """The recorded tiles, in archive (zoom-major Hilbert) order, whatever
    the shuffle partition count and the input rows' order and partitioning."""
    shuffle_partitions(partitions)
    rows = osm_tileset(spark, permuted).collect()
    assert_hilbert_order(rows)
    assert {r.zoom for r in rows} == set(range(8, 15))
    assert tiles_digest(rows) == (OSM_TILES, OSM_SHA256)


def test_osm_encode_covers_every_layer(spark):
    from planetiler_spark.kernels import mvt

    layers = {}
    for r in osm_tileset(spark).collect():
        for name, feats in mvt.decode_tile(bytes(r.tile_bytes)).items():
            layers[name] = layers.get(name, 0) + len(feats)
    assert set(layers) == {"poi", "road", "building", "water", "landuse"}


def test_osm_tileset_to_pmtiles_runs_one_tile_exchange(spark, tmp_path,
                                                       monkeypatch):
    """write_pmtiles runs its part writer inside the OSM tile reduce: the
    job holds the one packed tile exchange and no other, one Python map
    above it, and no range sort of its own."""
    from planetiler_spark.sources import archives as ar

    tiles = osm_tileset(spark)
    path = str(tmp_path / "osm.pmtiles")
    stats, job = _written_job(monkeypatch, tiles, path)
    exs, packed = _packed_exchanges(job)
    assert len(packed) == 1 and len(exs) == 1
    assert _python_maps_above(job, packed[0]) == 1
    assert stats["tiles"] == OSM_TILES
    assert ar.read_pmtiles(path) == {
        (r.zoom, r.x, r.y): bytes(r.tile_bytes) for r in tiles.collect()}
