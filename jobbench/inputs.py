"""Seeded stored inputs, written once per seed under the work area.

Every table is derived from ``--seed`` alone and is written before the
session starts, so input generation is never inside ``setup_s`` or a timed
pass. Tables are stored as ``FILES`` equal parquet files, so Spark's file
bin-packing gives every core an equal share of the scan without a
repartition.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

FILES = 16
ID_STRIDE = 10 ** 9  # seed s owns ids [s * 1e9, s * 1e9 + n)
PIP_ZONES = 16384


def _write_files(path: str, table: pa.Table) -> str:
    """Write ``table`` as FILES parquet parts under ``path`` (atomically: the
    directory appears only when complete)."""
    if os.path.exists(path):
        return path
    tmp = path + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, FILES + 1).astype(int)
    for i in range(FILES):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(tmp, f"part-{i:05d}.parquet"))
    os.rename(tmp, path)
    return path


def _seed_ids(seed: int, n: int) -> np.ndarray:
    return np.int64(seed) * ID_STRIDE + np.arange(n, dtype=np.int64)


def images(work: str, seed: int, n: int) -> str:
    """The images table without pixel bytes (the vector tileset reads only
    the anchor columns)."""
    from planetiler_spark.sources import images as src
    path = os.path.join(work, "inputs", f"images_s{seed}_n{n}")
    if os.path.exists(path):
        return path
    pdf = src.images_batch(_seed_ids(seed, n), with_bytes=False)
    return _write_files(path, pa.Table.from_pandas(pdf, preserve_index=False))


def points(work: str, seed: int, n: int) -> str:
    """Anchor points for the PIP join: the ``phash`` column of the images
    table (the engine derives each anchor from it)."""
    from planetiler_spark.sources import images as src
    path = os.path.join(work, "inputs", f"points_s{seed}_n{n}")
    if os.path.exists(path):
        return path
    return _write_files(path, pa.table({"phash": src.phash_of(_seed_ids(seed, n))}))


def zones(work: str, seed: int, n: int) -> str:
    """``n`` seeded convex zone polygons (the shape of ``zones_pdf``: 14
    jittered vertices around a site, hull, 4 kinds) as (zone_id, wkb, kind)."""
    from planetiler_spark.kernels import geom as gk
    from planetiler_spark.sources import images as src
    path = os.path.join(work, "inputs", f"zones_s{seed}_n{n}")
    if os.path.exists(path):
        return path
    rng = np.random.default_rng(seed)
    sites = rng.uniform(0.05, 0.95, size=(n, 2))
    rows = []
    for k in range(n):
        radius = rng.uniform(0.004, 0.018)
        shell = src._convex_hull(sites[k] + rng.normal(0, radius, size=(14, 2)))
        rows.append((f"zone{k:04d}", gk.wkb_polygon([shell]),
                     src.ZONE_KINDS[k % len(src.ZONE_KINDS)]))
    pdf = pd.DataFrame(rows, columns=["zone_id", "wkb", "kind"])
    return _write_files(path, pa.Table.from_pandas(pdf, preserve_index=False))


def pip_zone_table(work: str) -> str:
    """The engine's own ``zones_pdf(PIP_ZONES)`` table, stored once per work
    area. It does not depend on the seed, and building it costs ~15 s of
    driver Python, so it is generated here rather than inside a run's
    set-up."""
    from planetiler_spark.sources import images as src
    path = os.path.join(work, "inputs", f"pip_zones_n{PIP_ZONES}")
    if os.path.exists(path):
        return path
    pdf = src.zones_pdf(PIP_ZONES)
    return _write_files(path, pa.Table.from_pandas(pdf, preserve_index=False))


def read_pandas(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()
