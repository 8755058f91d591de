"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default 32) and prints ONE
JSON line: {"metric", "value" (total sec), "unit", "queries" {name: sec}, "sf",
plus derived throughputs}.

Each query is fully materialized through the noop sink (no driver collect).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    # flagship pipeline (tiles/sec numerator); images_tileset_packed now
    # runs the same bucket-packed path as images_tileset and keeps its name
    # so the query list stays stable
    "images_tileset",
    "images_tileset_packed",
    "raster_tile_patches",
    # tiling core
    "tile_assign_z14",
    "tile_pyramid_counts",
    "filled_tile_runs",
    "hilbert_order",
    # spatial joins (join rows/sec)
    "pip_zones_overlap",
    "pip_nearest_fallback",
    "knn_grid",
    # group-by-tile semantics
    "label_grid_topk",
    "sort_key_roundtrip",
    "tile_content_dedup",
    # relational + training-data ops
    "q1_pricing_summary",
    "events_sessionize",
    "dedup_minhash_lsh",
    "simhash16",
    "phash_near_dup",
    "audio_features",
]

# Labeled non-production baselines: timed and reported, but OUTSIDE the
# headline total (VERDICT r4 #4 — knn_bruteforce is an intentional O(n*m)
# exactness baseline for the knn_topk gate; at 27% of the old headline wall
# it made the total noise-dominated).
BASELINE_QUERIES = ["knn_bruteforce"]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").split("/")[-1]

    from pyspark.sql import SparkSession
    from planetiler_spark.plans import queries as Q

    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("planetiler_spark_bench")
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.sql.adaptive.enabled", "true")
             # Python-CPU-bound reduce stages (MVT encode) must keep their
             # partition count; AQE byte-sizing would serialize them
             .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    # Untimed warm-up: spawn the Python workers + JIT the mapInArrow path once
    # (cold-start costs ~2s of worker forks on the first Arrow stage; standard
    # bench methodology, the reference's own benchmarks warm the JVM too).
    # THIS HOST also swings 3-4x in multi-core throughput over minutes
    # (CLAUDE.md), so the two flagship pipeline queries take min-of-2.
    from planetiler_spark.operators import tile_pipeline as tp
    from planetiler_spark.sources import images as src
    warm = src.images_df(spark, 2000, partitions=8, with_bytes=False)
    tp.tileset(spark, warm, 0, 6).write.format("noop").mode("overwrite").save()

    # INTERLEAVED round-robin passes (VERDICT r4 #2): this host's multi-core
    # throughput swings 3-4x over minutes, and CONSECUTIVE same-query reps
    # share one window — r3/r4 official records carried 5x phantom
    # "regressions" on unchanged code that way. Each pass times every query
    # once, so a query's three reps are separated by a full pass (~a minute
    # of other work) and min-of-passes samples three different windows.
    PASSES = 3
    all_queries = BENCH_QUERIES + BASELINE_QUERIES

    def run_once(name: str) -> float:
        # knn_bruteforce/knn_grid are timed separately here but share one
        # merged gate row (knn_topk) — fall back to the module attribute
        fn = Q.QUERIES.get(name) or getattr(Q, name)
        df = fn(spark, sf_dir)  # build plan (excluded: driver-side only)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    per_pass: dict[str, list[float]] = {n: [] for n in all_queries}
    for p in range(PASSES):
        for name in all_queries:
            if name in BASELINE_QUERIES and p >= 2:
                continue  # baselines: 2 interleaved reps are enough
            per_pass[name].append(run_once(name))

    timings = {n: round(min(v), 3) for n, v in per_pass.items()
               if n in BENCH_QUERIES}
    baselines = {n: round(min(v), 3) for n, v in per_pass.items()
                 if n in BASELINE_QUERIES}

    # throughput numerators (computed once, not timed):
    # tiles written by the pyramid (z0..14 distinct tiles) and PIP join rows
    from pyspark.sql import functions as F
    n_tiles = (Q.tile_pyramid_counts(spark, sf_dir)
               .agg(F.sum("n_tiles")).collect()[0][0])
    n_pip_rows = Q.pip_zones_overlap(spark, sf_dir).count()

    n_mvt_tiles = Q.images_tileset(spark, sf_dir).count()

    total = round(sum(timings.values()), 3)
    tiles_sec = round(n_tiles / timings["tile_pyramid_counts"], 1) if timings["tile_pyramid_counts"] else None
    pip_rows_sec = round(n_pip_rows / timings["pip_zones_overlap"], 1) if timings["pip_zones_overlap"] else None
    mvt_tiles_sec = (round(n_mvt_tiles / timings["images_tileset"], 1)
                     if timings.get("images_tileset") else None)
    mvt_tiles_sec_packed = (round(n_mvt_tiles / timings["images_tileset_packed"], 1)
                            if timings.get("images_tileset_packed") else None)
    out = {
        "metric": "total seconds for headline tiling+join+dedup queries "
                  "(noop sink; labeled non-production baselines reported "
                  "separately under 'baseline_queries')",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "baseline_queries": baselines,
        "passes": PASSES,
        "sf": sf,
        "cpus": int(cpus),
        "tiles_per_sec": tiles_sec,
        "mvt_tiles_per_sec": mvt_tiles_sec,
        "mvt_tiles_per_sec_packed": mvt_tiles_sec_packed,
        "pip_join_rows_per_sec": pip_rows_sec,
        "n_tiles": int(n_tiles),
        "n_mvt_tiles": int(n_mvt_tiles),
        "n_pip_rows": int(n_pip_rows),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
