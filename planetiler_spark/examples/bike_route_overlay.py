"""BikeRouteOverlay — the reference's relation-join example
(planetiler-examples BikeRouteOverlay.java:46-140), Spark-first.

Semantics being reproduced:
  - pass 1 keeps route relations with type=route AND route in {bicycle,
    mtb}, extracting (name, ref, route, network) with the network
    abbreviation mapped icn/ncn/rcn/lcn -> international/national/
    regional/local, else "other" (preprocessOsmRelation:54-77)
  - pass 2 emits one linestring per (member way x relation) into layer
    "{route}-route-{network}" carrying the RELATION's name/ref, z0-14
    (processFeature:88-106)
  - per-tile post-process merges touching same-attr line pieces into
    maximal strokes (postProcessLayerFeatures:117-127 ->
    FeatureMerge.mergeLineStrings) — encode_osm_tiles' built-in
    merge_lines is exactly this step

The reference's own monaco integration expectation holds here: 13
"bicycle-route-international" features at z14 (EuroVelo 8, one merged
feature per touched tile; BikeRouteOverlayTest:129-133).

Run:  python -m planetiler_spark example-bikeroutes --osm monaco.osm.pbf \
          --out /tmp/bikes
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MAX_ZOOM = 14

NETWORKS = {"icn": "international", "ncn": "national",
            "rcn": "regional", "lcn": "local"}


def bike_route_features(spark: SparkSession, pbf: str) -> DataFrame:
    """route=bicycle|mtb relations joined to member-way geometries -> the
    unified matched-feature schema, one line row per (way, relation)."""
    from ..sources import osm as osrc

    ents = osrc.read_osm_pbf(spark, pbf).cache()
    geoms = osrc.way_geometries(ents)

    net = F.coalesce(F.col("tags")["network"], F.lit(""))
    network = F.coalesce(
        F.create_map(*[F.lit(v) for kv in NETWORKS.items() for v in kv])[net],
        F.lit("other"))
    rels = (ents.filter("etype = 2")
            .filter(F.col("tags")["type"] == "route")
            .filter(F.col("tags")["route"].isin("bicycle", "mtb"))
            .select(F.col("id").alias("rid"),
                    F.col("tags")["name"].alias("name"),
                    F.col("tags")["ref"].alias("ref"),
                    F.col("tags")["route"].alias("route"),
                    network.alias("network"),
                    F.arrays_zip(F.col("member_ids").alias("mid"),
                                 F.col("member_types").alias("mtype"))
                    .alias("members")))
    members = (rels.select("rid", "name", "ref", "route", "network",
                           F.explode("members").alias("m"))
               .filter("m.mtype = 1")  # way members only (canBeLine)
               .select("rid", "name", "ref", "route", "network",
                       F.col("m.mid").alias("way_id")))
    joined = members.join(geoms, "way_id")
    layer = F.concat(F.col("route"), F.lit("-route-"), F.col("network"))
    return joined.select(
        F.col("way_id").alias("fid"), layer.alias("layer"),
        F.lit("line").alias("kind"), F.lit(0).alias("min_zoom"),
        F.lit(MAX_ZOOM).alias("max_zoom"),
        F.map_filter(
            F.create_map(F.lit("name"), F.col("name"),
                         F.lit("ref"), F.col("ref")),
            lambda k, v: v.isNotNull()).alias("attrs"),
        F.array("lons").alias("lons"), F.array("lats").alias("lats"))


def build(spark: SparkSession, pbf: str, out_dir: str,
          max_zoom: int = MAX_ZOOM) -> dict:
    import os

    from ..plans import osm_pipeline as op
    from ..sources import archives as ar

    feats = bike_route_features(spark, pbf)
    frags = op.render_osm_features(feats, 0, max_zoom)
    # mergeLineStrings(0.5px min length, 0.1px tolerance, 4px buffer) in
    # EXTENT units (16/px), one feature per merged stroke like the
    # reference's postProcessLayerFeatures
    tiles = op.encode_osm_tiles(frags, 0, max_zoom,
                                feature_per_stroke=True,
                                merge_min_length=8.0,
                                merge_stub_min_length=8.0,
                                merge_tolerance=1.6,
                                merge_strokes=True).cache()
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "bikeroutes.mbtiles")
    meta = {"name": "Bike Paths Overlay", "format": "pbf",
            "attribution": ("<a href=\"https://www.openstreetmap.org/"
                            "copyright\" target=\"_blank\">&copy; "
                            "OpenStreetMap contributors</a>"),
            "minzoom": "0", "maxzoom": str(max_zoom)}
    stats = ar.write_mbtiles(tiles, path, meta)
    agg = tiles.groupBy().agg(F.count("*").alias("nt"),
                              F.sum("n_features").alias("nf")).collect()[0]
    tiles.unpersist()
    return {"archive": path, "n_tiles": int(agg.nt),
            "n_features": int(agg.nf or 0), **stats}


def main(argv=None) -> int:
    import argparse
    import json

    ap = argparse.ArgumentParser(
        prog="example-bikeroutes",
        description="overlay of OSM bicycle/mtb route relations "
                    "(the reference's BikeRouteOverlay example)")
    ap.add_argument("--osm", required=True, metavar="PBF")
    ap.add_argument("--out", required=True)
    ap.add_argument("--maxzoom", type=int, default=MAX_ZOOM)
    ap.add_argument("--cpus", default="8")
    args = ap.parse_args(argv)

    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .appName("bike_route_overlay")
             .config("spark.sql.shuffle.partitions", str(int(args.cpus) * 2))
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(build(spark, args.osm, args.out, args.maxzoom)))
    spark.stop()
    return 0


if __name__ == "__main__":
    import sys
    sys.exit(main())
