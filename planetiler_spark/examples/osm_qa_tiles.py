"""OsmQaTiles — every tagged OSM element at one zoom, with @id/@type/
@version metadata attrs (planetiler-examples OsmQaTiles.java:37-100; the
osm-qa task in Main.java's registry).

Semantics being reproduced:
  - one layer "osm" at a single zoom (default 12, minzoom=maxzoom)
  - every element with tags: polygon when it can be one (closed way with
    an area-ish tag, or a multipolygon relation), else line for ways,
    else point for nodes (processFeature:63-69)
  - every tag carried through, plus "@id", "@type" (node/way/relation)
    and "@version" from the element's Info metadata (processFeature:75-84;
    version decode is sources/osm.py's DenseInfo/Info parsing)

Divergence note: the unified matched-feature schema carries attrs as
map<string,string>, so @id/@version reach the tile as stringified values
(the reference emits typed longs).

Run:  python -m planetiler_spark osm-qa --osm monaco.osm.pbf --out /tmp/qa
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LAYER = "osm"
DEFAULT_ZOOM = 12


def qa_features(spark: SparkSession, pbf: str,
                zoom: int = DEFAULT_ZOOM) -> DataFrame:
    from ..plans.osm_pipeline import _AREA_KEYS
    from ..sources import osm as osrc

    ents = osrc.read_osm_pbf(spark, pbf).cache()
    geoms = osrc.way_geometries(ents)

    def with_meta(df, etype_name):
        base = F.create_map(
            F.lit("@id"), F.col("id").cast("string"),
            F.lit("@type"), F.lit(etype_name),
            F.lit("@version"), F.col("version").cast("string"))
        # strip literal @-keys from the tags first: metadata wins, and
        # map_concat raises DUPLICATE_MAP_KEY otherwise
        clean = F.map_filter(
            F.col("tags"),
            lambda k, v: ~k.isin("@id", "@type", "@version"))
        return df.withColumn("attrs", F.map_concat(clean, base))

    def rows(df, kind, lons_col, lats_col):
        return df.select(
            F.col("id").alias("fid"), F.lit(LAYER).alias("layer"),
            F.lit(kind).alias("kind"), F.lit(zoom).alias("min_zoom"),
            F.lit(zoom).alias("max_zoom"), F.col("attrs"),
            lons_col.alias("lons"), lats_col.alias("lats"))

    tagged = F.size("tags") > 0
    nodes = with_meta(ents.filter("etype = 0").filter(tagged), "node")
    ways = (ents.filter("etype = 1").filter(tagged)
            .select("id", "tags", "version",
                    (F.element_at("refs", 1) ==
                     F.element_at("refs", -1)).alias("closed"))
            .join(geoms.withColumnRenamed("way_id", "id"), "id"))
    ways = with_meta(ways, "way")
    # canBePolygon (OsmReader.canBePolygon): closed + an area-ish tag,
    # with area=yes forcing polygon and area=no forcing line. Every
    # term is null-coalesced so closed non-area ways stay lines (SQL
    # three-valued logic would otherwise drop them from BOTH filters).
    has_area_key = F.lit(False)
    for k in _AREA_KEYS:
        has_area_key = has_area_key | F.col("tags")[k].isNotNull()
    area_yes = F.coalesce(F.col("tags")["area"] == "yes", F.lit(False))
    area_no = F.coalesce(F.col("tags")["area"] == "no", F.lit(False))
    can_poly = F.col("closed") & ~area_no & (area_yes | has_area_key)
    polys = ways.filter(can_poly)
    lines = ways.filter(~can_poly)

    mp = osrc.multipolygon_members(
        ents.filter("etype = 2").filter(tagged)
        .filter(F.col("tags")["type"] == "multipolygon"),
        geoms, "tags", "version")
    mp = with_meta(mp, "relation")

    return (rows(nodes, "point", F.array(F.array("lon")),
                 F.array(F.array("lat")))
            .unionByName(rows(lines, "line", F.array("lons"),
                              F.array("lats")))
            .unionByName(rows(polys, "polygon", F.array("lons"),
                              F.array("lats")))
            .unionByName(rows(mp, "multipolygon", F.col("lons"),
                              F.col("lats"))))


def build(spark: SparkSession, pbf: str, out_dir: str,
          zoom: int = DEFAULT_ZOOM) -> dict:
    import os

    from ..plans import osm_pipeline as op
    from ..sources import archives as ar

    feats = qa_features(spark, pbf, zoom)
    frags = op.render_osm_features(feats, zoom, zoom)
    tiles = op.encode_osm_tiles(frags, zoom, zoom).cache()
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "qa.mbtiles")
    meta = {"name": "osm qa", "format": "pbf",
            "attribution": ("<a href=\"https://www.openstreetmap.org/"
                            "copyright\" target=\"_blank\">&copy; "
                            "OpenStreetMap contributors</a>"),
            "minzoom": str(zoom), "maxzoom": str(zoom)}
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
        prog="osm-qa",
        description="every tagged OSM element at one zoom with @id/@type/"
                    "@version attrs (the reference's osm-qa task)")
    ap.add_argument("--osm", required=True, metavar="PBF")
    ap.add_argument("--out", required=True)
    ap.add_argument("--zoom", type=int, default=DEFAULT_ZOOM)
    ap.add_argument("--cpus", default="8")
    args = ap.parse_args(argv)

    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .appName("osm_qa_tiles")
             .config("spark.sql.shuffle.partitions", str(int(args.cpus) * 2))
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(build(spark, args.osm, args.out, args.zoom)))
    spark.stop()
    return 0


if __name__ == "__main__":
    import sys
    sys.exit(main())
