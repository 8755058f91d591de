"""One-off stage-level profile of the scaling tileset job (VERDICT r5 work).

Runs the IDENTICAL tileset job scaling_runner.py times, at one core count,
with the Spark event log on, then prints a per-stage breakdown:
stage wall (first-task-launch .. stage-complete), task-time sum, and the
DRIVER GAPS between stages (time covered by no running stage = scheduling /
planning / collect / Python-side driver work). The gaps + tail skew are the
candidates for the non-scaling component seen at 3v12 (eff 0.756, run 1).

Usage: taskset -c 0-11 python tools/profile_tileset.py --cpus 12 \
           --images /tmp/planetiler_scaling/images_meta_3000000
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--images", required=True)
    ap.add_argument("--maxzoom", type=int, default=13)
    ap.add_argument("--packed", type=int, default=0)
    ap.add_argument("--shuffle-partitions", type=int, default=128)
    ap.add_argument("--max-partition-bytes", default=None)
    ap.add_argument("--open-cost", default=None)
    ap.add_argument("--job", choices=["tileset", "raster"], default="tileset")
    args = ap.parse_args()

    evdir = f"/tmp/spark_events_{args.cpus}"
    os.makedirs(evdir, exist_ok=True)
    import shutil
    shutil.rmtree(evdir)
    os.makedirs(evdir)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    b = (SparkSession.builder.master(f"local[{args.cpus}]")
             .appName(f"profile_{args.cpus}")
             .config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
             .config("spark.driver.memory", "48g")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", evdir)
             )
    if args.max_partition_bytes:
        b = b.config("spark.sql.files.maxPartitionBytes", args.max_partition_bytes)
    if args.open_cost:
        b = b.config("spark.sql.files.openCostInBytes", args.open_cost)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from planetiler_spark.operators import tile_pipeline as tp

    images = spark.read.parquet(args.images)
    images.count()  # warm, untimed

    t0 = time.time()
    if args.job == "raster":
        nr = tp.raster_tileset(spark, images).count()
        wall = time.time() - t0
        print(f"raster wall {wall:.2f}s  tiles={nr}")
    else:
        tiles = tp.tileset(spark, images, 0, args.maxzoom,
                           shuffle_partitions=args.shuffle_partitions,
                           packed=bool(args.packed))
        agg = tiles.agg(F.count("*").alias("nt"), F.sum("n_features").alias("nf")).collect()[0]
        wall = time.time() - t0
        print(f"tileset wall {wall:.2f}s  tiles={agg.nt} features={agg.nf}")
    t0_abs_ms = t0 * 1000.0
    spark.stop()

    # ---- parse the event log ----
    logs = sorted(glob.glob(evdir + "/*"), key=os.path.getmtime)
    src = logs[-1]
    if os.path.isdir(src):  # eventlog v2 rolling dir
        parts = sorted(glob.glob(src + "/events_*") or glob.glob(src + "/*"))
        parts = [p for p in parts if os.path.isfile(p) and "appstatus" not in p]
    else:
        parts = [src]
    stages = {}  # id -> dict
    tasks = {}   # stage id -> list of (launch, finish)
    import io
    lines = io.StringIO("".join(open(p).read() for p in parts))
    if True:
        for ln in lines:
            try:
                ev = json.loads(ln)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "name": si["Stage Name"].split(" at ")[0][:40],
                    "ntasks": si["Number of Tasks"],
                    "sub": si.get("Submission Time"),
                    "done": si.get("Completion Time"),
                }
            elif e == "SparkListenerTaskEnd":
                ti = ev["Task Info"]
                tasks.setdefault(ev["Stage ID"], []).append(
                    (ti["Launch Time"], ti["Finish Time"]))

    rows = []
    for sid in sorted(stages):
        s = stages[sid]
        ts = tasks.get(sid, [])
        if not ts or s["sub"] is None:
            continue
        first = min(t[0] for t in ts)
        last = max(t[1] for t in ts)
        tasksum = sum(t[1] - t[0] for t in ts) / 1000.0
        stage_wall = (last - first) / 1000.0
        # tail: wall of the stage after 90% of task-time has completed
        finishes = sorted(t[1] for t in ts)
        p90_done = finishes[max(0, int(len(finishes) * 0.9) - 1)]
        tail = (last - p90_done) / 1000.0
        rows.append((sid, s["name"], s["ntasks"], (first - t0_abs_ms) / 1000.0,
                     stage_wall, tasksum, tail, last))

    rows.sort(key=lambda r: r[3])
    print(f"\n{'sid':>4} {'stage':40} {'nt':>4} {'t0':>7} {'wall':>7} "
          f"{'tasksum':>8} {'cpu-occ':>7} {'tail90':>7}")
    covered_end = t0_abs_ms
    gap_total = 0.0
    for sid, name, nt, rel0, w, tsum, tail, last in rows:
        start_abs = t0_abs_ms + rel0 * 1000
        gap = max(0.0, (start_abs - covered_end) / 1000.0)
        gap_total += gap
        covered_end = max(covered_end, last)
        occ = tsum / (w * args.cpus) if w > 0 else 0
        flag = f"  GAP {gap:.2f}s before" if gap > 0.3 else ""
        print(f"{sid:>4} {name:40} {nt:>4} {rel0:>7.2f} {w:>7.2f} "
              f"{tsum:>8.1f} {occ:>7.1%} {tail:>7.2f}{flag}")
    end_gap = max(0.0, (t0_abs_ms + wall * 1000 - covered_end) / 1000.0)
    print(f"\ntotal driver gap (no stage running): {gap_total:.2f}s "
          f"+ end gap {end_gap:.2f}s of {wall:.2f}s wall")
    tot_tasksum = sum(r[5] for r in rows)
    print(f"total task-time {tot_tasksum:.1f}s = {tot_tasksum / wall / args.cpus:.1%} "
          f"of {args.cpus}-core capacity over the wall")


if __name__ == "__main__":
    main()
