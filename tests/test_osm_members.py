"""Multipolygon member assembly (sources/osm.multipolygon_members) on
synthetic relation and way frames — no PBF fixture needed."""

import pytest

from planetiler_spark.sources import osm


@pytest.mark.parametrize("partitions", [1, 7])
def test_multipolygon_members_in_member_order(spark, partitions):
    """Member ways come out in the relation's member order at any shuffle
    partition count and input row order; node members are skipped and a
    way listed twice appears twice."""
    from pyspark.sql import functions as F

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(partitions))
    try:
        members = {10: ([105, 7, 101, 103, 102, 104], [1, 0, 1, 1, 1, 1]),
                   11: ([203, 201, 202, 201], [1, 1, 1, 1])}
        rels = spark.createDataFrame(
            [(rid, {"type": "multipolygon"}, ids, types, rid * 3)
             for rid, (ids, types) in members.items()],
            "id long, tags map<string,string>, member_ids array<long>, "
            "member_types array<int>, version int")
        geoms = spark.createDataFrame(
            [(w, [float(w), w + 0.5], [-float(w), -w - 0.5])
             for w in (101, 102, 103, 104, 105, 201, 202, 203)],
            "way_id long, lons array<double>, lats array<double>")
        for seed in (1, 2):
            got = {r.id: r for r in osm.multipolygon_members(
                rels.repartition(3).orderBy(F.rand(seed)),
                geoms.repartition(5).orderBy(F.rand(seed + 10)),
                "tags", "version").collect()}
            assert sorted(got) == [10, 11]
            for rid, (ids, types) in members.items():
                ways = [w for w, t in zip(ids, types) if t == osm.WAY]
                assert got[rid].lons == [[float(w), w + 0.5] for w in ways]
                assert got[rid].lats == [[-float(w), -w - 0.5] for w in ways]
                assert got[rid].version == rid * 3
                assert got[rid].tags == {"type": "multipolygon"}
    finally:
        spark.conf.set(key, old)
