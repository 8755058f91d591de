"""Per-tile layer size stats (operators/tile_stats.py + mvt.compute_tile_stats)
— golden numbers ported verbatim from the reference's TileSizeStatsTest."""

import gzip

import pytest

from planetiler_spark.kernels import mvt
from planetiler_spark.operators import tile_stats as ts


def _point_feature_layer(name, feats):
    lb = mvt.LayerBuilder(name)
    for fid, attrs in feats:
        cmds = [(mvt._MOVE_TO | (1 << 3)), mvt.zigzag(0), mvt.zigzag(0)]
        lb.add_feature(fid, 1, cmds, attrs)
    return lb


def test_compute_stats_empty():
    # TileSizeStatsTest.computeStatsEmpty
    assert mvt.compute_tile_stats(mvt.encode_tile([], compress=False)) == []


def test_compute_stats_one_feature_golden():
    # TileSizeStatsTest.computeStatsOneFeature: layerBytes=55, attrBytes=18
    lb = _point_feature_layer("layer", [(1, {"key1": "value1", "key2": 2})])
    stats = mvt.compute_tile_stats(mvt.encode_tile([lb]))
    assert stats == [{"layer": "layer", "layer_bytes": 55,
                      "layer_features": 1, "layer_geometries": 1,
                      "layer_attr_bytes": 18, "layer_attr_keys": 2,
                      "layer_attr_values": 2}]


def test_compute_stats_sorts_layers():
    # TileSizeStatsTest.computeStats2Features: output sorted by layer name
    b = _point_feature_layer("b", [(1, {})])
    a = _point_feature_layer("a", [(1, {"key1": "value1", "key2": 2}),
                                   (2, {})])
    stats = mvt.compute_tile_stats(mvt.encode_tile([b, a]))
    assert [s["layer"] for s in stats] == ["a", "b"]
    assert stats[0]["layer_features"] == 2
    assert stats[1]["layer_features"] == 1


def test_header_matches_reference():
    # TileSizeStats.headerRow:221 — byte-identical snake_case TSV header
    assert ts.HEADER == ("z\tx\ty\thilbert\tarchived_tile_bytes\tlayer\t"
                         "layer_bytes\tlayer_features\tlayer_geometries\t"
                         "layer_attr_bytes\tlayer_attr_keys\t"
                         "layer_attr_values\n")


def test_layer_size_stats_spark_and_tsv(spark, tmp_path):
    from planetiler_spark.operators import tile_pipeline as tp
    from planetiler_spark.sources import images as src

    imgs = src.images_df(spark, 30, partitions=2, with_bytes=False)
    tiles = tp.tileset(spark, imgs, 0, 4).cache()
    stats = ts.layer_size_stats(tiles).cache()
    # every tile contributes exactly one 'images' layer row
    assert stats.count() == tiles.count()
    assert stats.select("layer").distinct().collect()[0][0] == "images"
    # per-layer feature counts reconcile with the tile index
    n_idx = tiles.agg({"n_features": "sum"}).collect()[0][0]
    n_stats = stats.agg({"layer_features": "sum"}).collect()[0][0]
    assert n_stats == n_idx
    # hilbert golden vector from TileSizeStatsTest: z3 x1 y2 -> 34
    r = stats.where("z = 3").limit(1).collect()
    path = str(tmp_path / "layerstats.tsv.gz")
    n = ts.write_layerstats(stats, path)
    assert n == stats.count()
    with gzip.open(path, "rt") as f:
        lines = f.read().splitlines()
    assert lines[0] == ts.HEADER.strip()
    assert len(lines) == 1 + n
    first = lines[1].split("\t")
    assert len(first) == 12 and first[5] == "images"
    # rows ordered by (z, hilbert): zooms nondecreasing down the file
    zs = [int(l.split("\t")[0]) for l in lines[1:]]
    assert zs == sorted(zs)


def test_hilbert_column_golden(spark):
    import pandas as pd
    tile = mvt.encode_tile(
        [_point_feature_layer("layer", [(1, {"key1": "value1", "key2": 2})])])
    df = spark.createDataFrame(pd.DataFrame(
        {"zoom": [3], "x": [1], "y": [2], "tile_bytes": [tile]}))
    row = ts.layer_size_stats(df).collect()[0]
    # TileSizeStatsTest formatted row: 3 1 2 34 ... layer 55 1 1 18 2 2
    assert (row.z, row.x, row.y, row.hilbert) == (3, 1, 2, 34)
    assert (row.layer, row.layer_bytes, row.layer_features,
            row.layer_geometries, row.layer_attr_bytes,
            row.layer_attr_keys, row.layer_attr_values) == \
        ("layer", 55, 1, 1, 18, 2, 2)


def test_pipeline_cli_layerstats_without_osm(tmp_path):
    """`pipeline --layerstats` on the images flagship (VERDICT r3 #9): the
    TSV lands next to the tiles parquet with the reference's golden header."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    out = tmp_path / "t"
    res = subprocess.run(
        [sys.executable, "-m", "planetiler_spark.plans.pipeline",
         "--n", "60", "--maxzoom", "3", "--cpus", "2",
         "--out", str(out), "--layerstats"],
        capture_output=True, text=True, timeout=300,
        cwd=str(Path(__file__).parent.parent))
    assert res.returncode == 0, res.stderr[-2000:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    path = summary["layerstats"]
    with gzip.open(path, "rt") as f:
        lines = f.read().splitlines()
    assert lines[0] == ts.HEADER.strip()
    assert len(lines) == 1 + summary["layerstats_rows"]
    assert summary["layerstats_rows"] == summary["n_tiles"]


# SHA-256 of the decompressed TSV text, recorded from the previous writer
# (a sampled orderBy("z", "hilbert", "layer") drained one Row at a time)
LAYERSTATS_SHA256 = {
    # 200 images, tileset z0-9: 1062 rows
    "images": "e5514cce79782c88959427a44769e28a61fca05179eb4d55c48177636f3f89c1",
    # 32 zones, zones_tileset z0-7: 1472 rows
    "zones": "16f4a0164c6bb2a703f3644c81d272b1872db295b53365f38aff5dc06314414f",
}


@pytest.mark.parametrize("case", ["images", "zones"])
def test_layerstats_text_matches_recorded(spark, case, tmp_path):
    """The same text at shuffle partitions 4 and 9, and no part files left
    beside the output."""
    import hashlib
    import os

    from planetiler_spark.operators import tile_pipeline as tp
    from planetiler_spark.sources import images as src

    if case == "images":
        tiles = tp.tileset(spark, src.images_df(spark, 200, partitions=4,
                                                with_bytes=False),
                           0, 9)
    else:
        tiles = tp.zones_tileset(spark, 0, 7, n_zones=32)
    stats = ts.layer_size_stats(tiles.cache())
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        for p in (4, 9):
            spark.conf.set(key, str(p))
            path = str(tmp_path / f"{case}_{p}.tsv.gz")
            n = ts.write_layerstats(stats, path)
            with gzip.open(path, "rb") as f:
                text = f.read()
            assert hashlib.sha256(text).hexdigest() == LAYERSTATS_SHA256[case]
            assert text.count(b"\n") == 1 + n
    finally:
        spark.conf.set(key, old)
        tiles.unpersist()
    assert sorted(os.listdir(tmp_path)) == [f"{case}_4.tsv.gz", f"{case}_9.tsv.gz"]
