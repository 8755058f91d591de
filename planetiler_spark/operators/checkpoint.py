"""Checkpointed, resumable tileset runs — per-input-partition lineage + metrics.

Reference analog: the fork's `reuse_featuredb` checkpoint (Planetiler.java:
862-906 manifest save/restore, FeatureGroup.saveStringEncoders:117,
ExternalMergeSort.saveManifest:496). Here the checkpoint unit is an
Iceberg-style input partition: `bucket = pmod(phash, n_buckets)`.

Layout under `out_dir/`:
  tiles/bucket=K/       parquet tile rows for input bucket K
  status/K.json         {bucket, lineage, n_images, n_tiles, n_features,
                         psnr_min, wall_s} — written ATOMICALLY (tmp+rename)
                        AFTER the bucket's tiles land

Resume = skip buckets whose status exists AND whose lineage matches the
current input (lineage = order-insensitive xor-hash of the bucket's phash
column — recomputed cheaply with one Spark agg, no full scan of bytes).
A killed run resumes without recomputing finished buckets (north_rule).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import tile_pipeline as tp


def _status_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "status")


def _lineage_of(images: DataFrame, n_buckets: int) -> dict[int, str]:
    """Order-insensitive lineage hash per bucket: bit_xor of xxhash64(image_id,
    phash) plus row count — one distributed agg over metadata columns only
    (xor is commutative/associative and cannot overflow under ANSI mode)."""
    rows = (images
            .select(F.pmod("phash", F.lit(n_buckets)).alias("b"),
                    F.xxhash64("image_id", "phash").alias("h"))
            .groupBy("b")
            .agg(F.expr("bit_xor(h)").alias("s"), F.count("*").alias("n"))
            .collect())
    return {int(r.b): f"{(r.s or 0) & 0xFFFFFFFFFFFFFFFF:016x}-{r.n}" for r in rows}


def read_status(out_dir: str) -> dict[int, dict]:
    sd = _status_dir(out_dir)
    out = {}
    if not os.path.isdir(sd):
        return out
    for fn in os.listdir(sd):
        if fn.endswith(".json"):
            with open(os.path.join(sd, fn)) as f:
                st = json.load(f)
            out[int(st["bucket"])] = st
    return out


def _write_status(out_dir: str, st: dict):
    sd = _status_dir(out_dir)
    os.makedirs(sd, exist_ok=True)
    tmp = os.path.join(sd, f".{st['bucket']}.tmp")
    with open(tmp, "w") as f:
        json.dump(st, f)
    os.replace(tmp, os.path.join(sd, f"{st['bucket']}.json"))  # atomic commit


def run_checkpointed(spark: SparkSession, images: DataFrame, out_dir: str,
                     n_buckets: int = 8, min_zoom: int = 0, max_zoom: int = 8,
                     with_raster: bool = False,
                     verbose: bool = False) -> list[dict]:
    """Run the tileset per input bucket, skipping buckets already done with
    matching lineage. Returns the status rows of THIS run (skipped buckets
    excluded). Tiles land under out_dir/tiles/bucket=K/."""
    import shutil

    lineage = _lineage_of(images, n_buckets)
    done = read_status(out_dir)
    # Invalidate stale state: buckets that vanished from the input, or any
    # status written under a different n_buckets (changed bucketing re-keys
    # every bucket, so a stale tiles/bucket=K dir would otherwise be served
    # as current output by the combined spark.read.parquet(out_dir/tiles)).
    for b, st in list(done.items()):
        if b not in lineage or st.get("n_buckets") != n_buckets:
            sf = os.path.join(_status_dir(out_dir), f"{b}.json")
            if os.path.exists(sf):
                os.remove(sf)
            shutil.rmtree(os.path.join(out_dir, "tiles", f"bucket={b}"),
                          ignore_errors=True)
            del done[b]
    tiles_root = os.path.join(out_dir, "tiles")
    if os.path.isdir(tiles_root):  # tile dirs with no surviving status are stale too
        for d in os.listdir(tiles_root):
            if d.startswith("bucket=") and int(d.split("=")[1]) not in done:
                shutil.rmtree(os.path.join(tiles_root, d), ignore_errors=True)
    ran = []
    bucketed = images.withColumn("_bucket", F.pmod("phash", F.lit(n_buckets)))
    for b in sorted(lineage):
        prev = done.get(b)
        if prev and prev.get("lineage") == lineage[b]:
            if verbose:
                print(f"bucket {b}: checkpoint hit, skipping")
            continue
        t0 = time.time()
        part = bucketed.filter(F.col("_bucket") == b).drop("_bucket")
        tiles = tp.tileset(spark, part, min_zoom, max_zoom)
        path = os.path.join(out_dir, "tiles", f"bucket={b}")
        tiles.write.mode("overwrite").parquet(path)
        agg = spark.read.parquet(path).agg(
            F.count("*").alias("nt"), F.sum("n_features").alias("nf")).collect()[0]
        st = {
            "bucket": b,
            "n_buckets": n_buckets,
            "lineage": lineage[b],
            "n_tiles": int(agg.nt),
            "n_features": int(agg.nf or 0),
            "psnr_min": None,
            "wall_s": round(time.time() - t0, 3),
        }
        if with_raster:
            checks = tp.verify_patches(tp.render_patches(part), part).agg(
                F.min("psnr").alias("p"),
                F.min(F.col("pixels_ok").cast("int")).alias("ok"),
                F.min(F.col("caption_ok").cast("int")).alias("cap")).collect()[0]
            st["psnr_min"] = float(checks.p) if checks.p is not None else None
            st["pixels_ok"] = bool(checks.ok) if checks.ok is not None else None
            st["caption_ok"] = bool(checks.cap) if checks.cap is not None else None
        _write_status(out_dir, st)
        ran.append(st)
    return ran
