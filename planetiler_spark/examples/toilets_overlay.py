"""ToiletsOverlay — the reference's first programmatic-API example
(planetiler-examples ToiletsOverlay.java:26-100), Spark-first.

Semantics being reproduced:
  - OSM nodes tagged amenity=toilets become points in a `toilets` layer,
    zoom range 0-14 (ToiletsOverlay.processFeature:37-55)
  - each toilet gets a monotone sort key (the reference uses an arrival
    counter; the deterministic distributed analog is the node id, which is
    the PBF pass order)
  - at z <= 12, each 256px tile is divided into 32x32 px label-grid
    squares and only the 4 lowest-sort-key toilets per square survive
    (setPointLabelGridSizeAndLimit(12, 32, 4))

The label-grid thin runs as a pure DataFrame window BEFORE rendering: the
reference's per-tile grid cells align to the tile grid (256/32 divides
evenly), so ranking per WORLD grid cell per zoom is the same selection —
and it makes the example one narrow shuffle per zoom instead of per-tile
Python. The z13-14 output is thin-free, so it reproduces the reference's
own monaco integration count (ToiletsProfileTest:68-69: 34 z14 features —
29 nodes plus tile-buffer duplicates).

Run:  python -m planetiler_spark example-toilets --osm monaco.osm.pbf \
          --out /tmp/toilets
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

LAYER = "toilets"
GRID_PX = 32
GRID_LIMIT = 4
MAX_THIN_ZOOM = 12
MAX_ZOOM = 14

PROFILE = [(LAYER, "amenity", {"toilets"}, "point", 0, ("amenity",))]


def toilets_features(spark: SparkSession, pbf: str) -> DataFrame:
    """amenity=toilets nodes as the unified matched-feature schema, plus a
    sort_key column (node id = deterministic arrival order) and web-mercator
    world coordinates for the label grid."""
    from ..plans import osm_pipeline as op

    feats = op.osm_features(spark, pbf, PROFILE).filter(F.col("kind") == "point")
    lon = F.element_at(F.element_at("lons", 1), 1)
    lat = F.element_at(F.element_at("lats", 1), 1)
    lat_r = F.radians(lat)
    return (feats
            .withColumn("sort_key", F.col("fid"))
            .withColumn("wx", (lon + F.lit(180.0)) / F.lit(360.0))
            .withColumn("wy", (F.lit(1.0) - F.log(F.tan(
                F.lit(math.pi / 4) + lat_r / F.lit(2.0))) / F.lit(math.pi))
                / F.lit(2.0)))


def thin_at_zoom(feats: DataFrame, zoom: int) -> DataFrame:
    """Keep GRID_LIMIT lowest-sort-key toilets per 32px label-grid square
    at this zoom (cells = 2^z * 256/32 across the world)."""
    cells = F.lit(float((1 << zoom) * 256 // GRID_PX))
    w = (Window.partitionBy(F.floor(F.col("wx") * cells),
                            F.floor(F.col("wy") * cells))
         .orderBy("sort_key", "fid"))
    return (feats.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= GRID_LIMIT).drop("_rn"))


def build(spark: SparkSession, pbf: str, out_dir: str,
          max_zoom: int = MAX_ZOOM) -> dict:
    import os

    from ..plans import osm_pipeline as op
    from ..sources import archives as ar

    feats = toilets_features(spark, pbf).cache()
    frags = None
    for z in range(0, max_zoom + 1):
        zf = thin_at_zoom(feats, z) if z <= MAX_THIN_ZOOM else feats
        zf = (zf.withColumn("min_zoom", F.lit(z))
                .withColumn("max_zoom", F.lit(z))
                .drop("sort_key", "wx", "wy"))
        r = op.render_osm_features(zf, z, z)
        frags = r if frags is None else frags.unionByName(r)
    tiles = op.encode_osm_tiles(frags, 0, max_zoom).cache()
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "toilets.mbtiles")
    meta = {"name": "Toilets Overlay", "format": "pbf",
            "attribution": ("<a href=\"https://www.openstreetmap.org/"
                            "copyright\" target=\"_blank\">&copy; "
                            "OpenStreetMap contributors</a>"),
            "minzoom": "0", "maxzoom": str(max_zoom)}
    stats = ar.write_mbtiles(tiles, path, meta)
    agg = tiles.groupBy().agg(F.count("*").alias("nt"),
                              F.sum("n_features").alias("nf")).collect()[0]
    feats.unpersist()
    tiles.unpersist()
    return {"archive": path, "n_tiles": int(agg.nt),
            "n_features": int(agg.nf or 0), **stats}


def main(argv=None) -> int:
    import argparse
    import json

    ap = argparse.ArgumentParser(
        prog="example-toilets",
        description="build a map of amenity=toilets OSM nodes "
                    "(the reference's ToiletsOverlay example)")
    ap.add_argument("--osm", required=True, metavar="PBF")
    ap.add_argument("--out", required=True)
    ap.add_argument("--maxzoom", type=int, default=MAX_ZOOM)
    ap.add_argument("--cpus", default="8")
    args = ap.parse_args(argv)

    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .appName("toilets_overlay")
             .config("spark.sql.shuffle.partitions", str(int(args.cpus) * 2))
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(build(spark, args.osm, args.out, args.maxzoom)))
    spark.stop()
    return 0


if __name__ == "__main__":
    import sys
    sys.exit(main())
