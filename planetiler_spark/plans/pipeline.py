"""CLI entry — the spark-submit surface (reference analog: dist Main.java +
Planetiler.run, Planetiler.java:791-996).

Run locally:
  python -m planetiler_spark.plans.pipeline --n 2000 --out /tmp/tiles_out

Or on a cluster (north_rule launch mode; tools/package.py builds the zip):
  spark-submit --py-files dist/planetiler_spark.zip \
      planetiler_spark/plans/pipeline.py --n ... --out ...

Stages mirror the reference's run(): plan log -> render -> sort -> emit ->
archive write (+ optional raster z14 pass + checkpointed mode + verify).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# spark-submit runs this file as a SCRIPT, putting .../planetiler_spark/plans
# at sys.path[0] — where our sibling module profile.py shadows the stdlib
# `profile` that pyspark's profiler imports (circular-import crash). Drop the
# script dir and make sure the repo root (the package's parent) is importable;
# under --py-files the zip is already on the path for executors.
_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:] = [p for p in sys.path if os.path.abspath(p or os.getcwd()) != _HERE]
_ROOT = os.path.dirname(os.path.dirname(_HERE))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def main(argv=None):
    ap = argparse.ArgumentParser(description="planetiler_spark tileset job")
    ap.add_argument("--n", type=int, default=2000, help="images rows to synthesize")
    ap.add_argument("--osm", default=None, metavar="PBF",
                    help="run the OSM flow instead: PBF -> profile -> tiles "
                         "-> <out>/tiles.mbtiles (the reference's headline job)")
    ap.add_argument("--schema", default=None, metavar="YAML",
                    help="drive the --osm flow from a ConfiguredProfile "
                         "schema YAML instead of the built-in rules (the "
                         "reference's generate-custom task)")
    ap.add_argument("--out", required=True, help="output dir (tiles parquet + status)")
    ap.add_argument("--minzoom", type=int, default=0)
    ap.add_argument("--maxzoom", type=int, default=10)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--buckets", type=int, default=0,
                    help=">0: checkpointed per-bucket run (resumable)")
    ap.add_argument("--raster", action="store_true", help="also emit z14 raster tiles")
    ap.add_argument("--layerstats", action="store_true",
                    help="also write <out>/*.layerstats.tsv.gz (the "
                         "reference's --output-layerstats); works for both "
                         "the images flagship and --osm flows")
    ap.add_argument("--verify", action="store_true", help="run patch PSNR/caption verify")
    ap.add_argument("--progress", action="store_true",
                    help="reference-style 10s status lines (counters + stages)")
    ap.add_argument("--progress-interval", type=float, default=10.0)
    args = ap.parse_args(argv)

    if args.schema and not args.osm:
        ap.error("--schema requires --osm PBF (the schema's source input)")
    schema = None
    if args.schema:
        # parse (and fail on) the schema BEFORE paying the JVM start
        from planetiler_spark.plans import profile as prof
        with open(args.schema) as f:
            schema = prof.parse_schema(f.read())

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    cpus = int(args.cpus)
    sp = args.shuffle_partitions or cpus * 2
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("planetiler_spark")
             .config("spark.sql.shuffle.partitions", str(sp))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    # absolute imports so this file works BOTH as a module
    # (python -m planetiler_spark.plans.pipeline) and as a spark-submit script
    # (run as __main__ with no parent package)
    from planetiler_spark.operators import checkpoint as cp
    from planetiler_spark.operators import progress as pg
    from planetiler_spark.operators import tile_pipeline as tp
    from planetiler_spark.sources import images as src

    if args.osm:
        from planetiler_spark.plans import osm_pipeline as op
        from planetiler_spark.sources import archives as ar
        t0 = time.time()
        os.makedirs(args.out, exist_ok=True)
        tiles, meta = op.osm_tileset(spark, args.osm, args.minzoom,
                                     args.maxzoom, schema=schema,
                                     with_metadata=True)
        tiles = tiles.cache()
        mb = os.path.join(args.out, "tiles.mbtiles")
        ar.write_mbtiles(tiles, mb, metadata=meta)
        if args.layerstats:
            from planetiler_spark.operators import tile_stats as tst
            tst.write_layerstats(tst.layer_size_stats(tiles),
                                 mb + ".layerstats.tsv.gz")
        agg = tiles.agg(F.count("*").alias("nt"),
                        F.sum("n_features").alias("nf")).collect()[0]
        print(json.dumps({"osm": args.osm, "n_tiles": int(agg.nt),
                          "n_features": int(agg.nf or 0), "archive": mb,
                          "wall_s": round(time.time() - t0, 2)}))
        spark.stop()
        return

    t0 = time.time()
    images = src.images_df(spark, args.n, partitions=max(cpus * 2, 8),
                           with_bytes=args.raster or args.verify)
    print(f"plan: n={args.n} z{args.minzoom}-{args.maxzoom} cpus={cpus} "
          f"shuffle={sp} buckets={args.buckets}", file=sys.stderr)

    counters = pg.Counters(spark.sparkContext, ["features", "tiles"]) \
        if args.progress else None
    logger = pg.ProgressLogger(spark, counters, interval=args.progress_interval) \
        if args.progress else None
    if logger:
        logger.__enter__()

    summary: dict = {"n_images": args.n, "cpus": cpus}
    if args.buckets > 0:
        ran = cp.run_checkpointed(spark, images, args.out, n_buckets=args.buckets,
                                  min_zoom=args.minzoom, max_zoom=args.maxzoom,
                                  with_raster=args.verify, verbose=True)
        summary["buckets_ran"] = len(ran)
        tiles = spark.read.parquet(os.path.join(args.out, "tiles"))
    else:
        tiles = tp.tileset(spark, images, args.minzoom, args.maxzoom,
                           shuffle_partitions=sp, counters=counters)
        tiles.write.mode("overwrite").parquet(os.path.join(args.out, "tiles"))
        tiles = spark.read.parquet(os.path.join(args.out, "tiles"))

    agg = tiles.agg(F.count("*").alias("nt"), F.sum("n_features").alias("nf")).collect()[0]
    summary["n_tiles"] = int(agg.nt)
    summary["n_features"] = int(agg.nf or 0)

    if args.layerstats:
        from planetiler_spark.operators import tile_stats as tst
        lpath = os.path.join(args.out, "tiles.layerstats.tsv.gz")
        summary["layerstats_rows"] = tst.write_layerstats(
            tst.layer_size_stats(tiles), lpath)
        summary["layerstats"] = lpath
    if logger:
        logger.__exit__(None, None, None)
        summary["counters"] = counters.snapshot()

    if args.raster:
        rast = tp.raster_tileset(spark, images)
        rast.write.mode("overwrite").parquet(os.path.join(args.out, "raster"))
        summary["n_raster_tiles"] = spark.read.parquet(
            os.path.join(args.out, "raster")).count()
    if args.verify and args.buckets <= 0:
        checks = tp.verify_patches(tp.render_patches(images), images).agg(
            F.min("psnr").alias("p"),
            F.min(F.col("pixels_ok").cast("int")).alias("ok")).collect()[0]
        summary["psnr_min"] = float(checks.p)
        summary["pixels_ok"] = bool(checks.ok)

    summary["wall_s"] = round(time.time() - t0, 2)
    summary["tiles_per_s"] = round(summary["n_tiles"] / summary["wall_s"], 1)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
