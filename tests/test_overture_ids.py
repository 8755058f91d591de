"""examples/overture_basemap.py feature ids on synthetic GeoParquet: GERS
string ids and missing ids (no reference fixture needed)."""

import pytest


def _two_file_buildings(spark, tmp_path, ids):
    """A buildings GeoParquet directory of two files, one partition each;
    `ids` (one per building, or None for no id column) spread over both."""
    import struct

    import numpy as np
    import pandas as pd

    def wkb_square(lon, lat, w=0.0003):
        ring = [[lon, lat], [lon + w, lat], [lon + w, lat + w],
                [lon, lat + w], [lon, lat]]
        return (b"\x01" + struct.pack("<I", 3) + struct.pack("<I", 1)
                + struct.pack("<I", 5) + np.asarray(ring, "<f8").tobytes())

    n = 6
    pdf = pd.DataFrame({
        "geometry": [wkb_square(7.41 + 0.001 * i, 43.73) for i in range(n)],
        "height": [float(3 + i) for i in range(n)],
        "minx": [7.41 + 0.001 * i for i in range(n)],
        "miny": [43.73] * n,
        "maxx": [7.4103 + 0.001 * i for i in range(n)],
        "maxy": [43.7303] * n})
    if ids is not None:
        pdf.insert(0, "id", ids)
    d = tmp_path / "buildings"
    d.mkdir()
    pdf.iloc[:n // 2].to_parquet(d / "part-0.parquet")
    pdf.iloc[n // 2:].to_parquet(d / "part-1.parquet")
    return str(d)


@pytest.fixture
def one_partition_per_file(spark):
    # an open cost as large as a whole split keeps two small files apart
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, spark.conf.get("spark.sql.files.maxPartitionBytes"))
    yield
    spark.conf.set(key, old)


def test_overture_string_ids_map_to_stable_int64(spark, tmp_path,
                                                   one_partition_per_file):
    """Overture GERS ids are hex strings: each maps to the signed int64 of
    its 8-byte blake2b digest, the same on every run and partitioning."""
    import hashlib

    from planetiler_spark.examples import overture_basemap as ex

    gers = [f"08b2a100d2a{i:x}bfff0200{i:04x}ab12cd34" for i in range(6)]
    path = _two_file_buildings(spark, tmp_path, gers)
    feats = ex.overture_features(spark, path)
    assert feats.rdd.getNumPartitions() == 2
    got = sorted(r.fid for r in feats.select("fid").collect())
    want = sorted(int.from_bytes(hashlib.blake2b(g.encode(), digest_size=8)
                                 .digest(), "big", signed=True) for g in gers)
    assert got == want


def test_overture_missing_ids_are_globally_unique(spark, tmp_path,
                                                  one_partition_per_file):
    """Without an id column every feature still gets its own fid, across
    partitions (a per-batch row index would repeat in each partition)."""
    from planetiler_spark.examples import overture_basemap as ex

    path = _two_file_buildings(spark, tmp_path, None)
    feats = ex.overture_features(spark, path)
    assert feats.rdd.getNumPartitions() == 2
    fids = [r.fid for r in feats.select("fid").collect()]
    assert len(fids) == 6 and len(set(fids)) == 6
