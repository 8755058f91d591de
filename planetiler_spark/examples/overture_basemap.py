"""OvertureBasemap — Overture buildings GeoParquet -> a building basemap
(planetiler-examples overture/OvertureBasemap.java:13-60; the overture /
example-overture task in Main.java's registry).

Semantics being reproduced:
  - the "building" source layer becomes a polygon layer `building`,
    min zoom 13 (processFeature:16-26)
  - `height` and `roof_color` attributes inherit from the source when
    present (inheritAttrFromSource)
  - output is a PMTiles archive (run():53-59 writes overture.pmtiles)

The input is any GeoParquet file with a WKB `geometry` column plus
optional height/roof_color columns — locally synthesized for tests, or
the real Overture release discovered via sources/stac.py's catalog walker
(overture_parquet_urls), whose hrefs Spark reads directly at scale.

Run:  python -m planetiler_spark example-overture \
          --buildings buildings.parquet --out /tmp/overture
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LAYER = "building"
MIN_ZOOM = 13
MAX_ZOOM = 14
ATTRS = ("height", "roof_color")


def _fid(v, row_id: int) -> int:
    """int64 feature id of a source id: an integer stays itself, a string
    (Overture's GERS ids are hex strings) or bytes maps to the signed int64
    of its 8-byte blake2b digest, and a missing id falls back to the row's
    globally unique `row_id`."""
    import hashlib

    if v is None or (isinstance(v, float) and np.isnan(v)):
        return row_id
    if isinstance(v, str):
        v = v.encode()
    if isinstance(v, bytes):
        return int.from_bytes(hashlib.blake2b(v, digest_size=8).digest(),
                              "big", signed=True)
    return int(v)


def overture_features(spark: SparkSession, parquet_path: str,
                      bounds=None) -> DataFrame:
    """buildings GeoParquet -> the unified matched-feature schema. Each
    polygon's rings travel as multipolygon members — ring role assignment
    (shells vs holes) happens in the render's assemble step. Feature ids
    come from the `id` column (see _fid), else from
    monotonically_increasing_id, unique across partitions."""
    from ..kernels import geom as gk
    from ..sources import geo

    df = geo.read_geoparquet(spark, parquet_path, bounds=bounds)
    cols = set(df.columns)
    keep = [c for c in ATTRS if c in cols]

    out_schema = ("fid long, layer string, kind string, min_zoom int, "
                  "max_zoom int, attrs map<string,string>, "
                  "lons array<array<double>>, lats array<array<double>>")

    def gen(batches):
        for pdf in batches:
            rows = {k: [] for k in ("fid", "layer", "kind", "min_zoom",
                                    "max_zoom", "attrs", "lons", "lats")}
            for r in pdf.itertuples(index=False):
                typ, data = gk.parse_wkb(bytes(r.geometry))
                if typ == "polygon":
                    rings = list(data)
                elif typ == "multipolygon":
                    rings = [ring for poly in data for ring in poly]
                else:
                    continue  # polygonal only
                if not rings:
                    continue
                attrs = {}
                for c in keep:
                    v = getattr(r, c)
                    if v is not None and not (isinstance(v, float)
                                              and np.isnan(v)):
                        attrs[c] = str(v)
                rows["fid"].append(_fid(getattr(r, "id", None), r.row_id))
                rows["layer"].append(LAYER)
                rows["kind"].append("multipolygon")
                rows["min_zoom"].append(MIN_ZOOM)
                rows["max_zoom"].append(MAX_ZOOM)
                rows["attrs"].append(attrs)
                rows["lons"].append([[float(x) for x in ring[:, 0]]
                                     for ring in rings])
                rows["lats"].append([[float(y) for y in ring[:, 1]]
                                     for ring in rings])
            yield pd.DataFrame(rows)

    sel = ["geometry"] + keep + (["id"] if "id" in cols else [])
    return (df.select(*sel, F.monotonically_increasing_id().alias("row_id"))
            .mapInPandas(gen, out_schema))


def build(spark: SparkSession, parquet_path: str, out_dir: str) -> dict:
    import os

    from ..plans import osm_pipeline as op
    from ..sources import archives as ar

    feats = overture_features(spark, parquet_path)
    frags = op.render_osm_features(feats, MIN_ZOOM, MAX_ZOOM)
    tiles = op.encode_osm_tiles(frags, MIN_ZOOM, MAX_ZOOM).cache()
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "overture.pmtiles")
    meta = {"name": "Overture",
            "description": "A basemap generated from Overture data",
            "attribution": ("<a href=\"https://www.openstreetmap.org/"
                            "copyright\" target=\"_blank\">&copy; "
                            "OpenStreetMap</a> <a href=\"https://docs."
                            "overturemaps.org/attribution\" target=\"_blank"
                            "\">&copy; Overture Maps Foundation</a>"),
            "minzoom": str(MIN_ZOOM), "maxzoom": str(MAX_ZOOM)}
    stats = ar.write_pmtiles(tiles, path, meta)
    agg = tiles.groupBy().agg(F.count("*").alias("nt"),
                              F.sum("n_features").alias("nf")).collect()[0]
    tiles.unpersist()
    return {"archive": path, "n_tiles": int(agg.nt),
            "n_features": int(agg.nf or 0), **stats}


def main(argv=None) -> int:
    import argparse
    import json

    ap = argparse.ArgumentParser(
        prog="example-overture",
        description="build a building basemap from Overture-style "
                    "GeoParquet (the reference's OvertureBasemap example)")
    ap.add_argument("--buildings", required=True, metavar="PARQUET")
    ap.add_argument("--out", required=True)
    ap.add_argument("--cpus", default="8")
    args = ap.parse_args(argv)

    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .appName("overture_basemap")
             .config("spark.sql.shuffle.partitions", str(int(args.cpus) * 2))
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(build(spark, args.buildings, args.out)))
    spark.stop()
    return 0


if __name__ == "__main__":
    import sys
    sys.exit(main())
