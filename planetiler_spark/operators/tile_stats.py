"""Per-tile layer size statistics — the reference's `--output-layerstats`
TSV (TileSizeStats.java:59-224) re-expressed Spark-first.

The reference streams every archived tile through a worker pipeline that
decodes the protobuf and emits one TSV row per (tile, layer). Here the
same computation is a shuffle-free `mapInPandas` over the tiles DataFrame
(kernels/mvt.compute_tile_stats carries the byte-exact semantics, validated
against TileSizeStatsTest's golden numbers), so it parallelizes with the
tile encode itself at 100 TB. The single tsv.gz is written like the
PMTiles archive (sources/archives.py): an analytic range exchange on the
Hilbert id, then each task formats its partition's rows with Arrow compute
and writes them as one gzip member to a part file; the driver concatenates
the header member and the parts in partition order.

Column set and header are byte-identical to the reference's CsvSchema
(TileSizeStats.headerRow:221 / OutputRow:391-404, snake_case):
z x y hilbert archived_tile_bytes layer layer_bytes layer_features
layer_geometries layer_attr_bytes layer_attr_keys layer_attr_values.
"""

from __future__ import annotations

import gzip
import os

import pandas as pd
from pyspark.sql import DataFrame

from ..kernels import mvt
from ..kernels import tile_math as tm

__all__ = ["layer_size_stats", "write_layerstats", "HEADER"]

COLUMNS = ("z", "x", "y", "hilbert", "archived_tile_bytes", "layer",
           "layer_bytes", "layer_features", "layer_geometries",
           "layer_attr_bytes", "layer_attr_keys", "layer_attr_values")
HEADER = "\t".join(COLUMNS) + "\n"

_SCHEMA = ("z int, x int, y int, hilbert long, archived_tile_bytes int, "
           "layer string, layer_bytes int, layer_features int, "
           "layer_geometries int, layer_attr_bytes int, "
           "layer_attr_keys int, layer_attr_values int")


def layer_size_stats(tiles_df: DataFrame) -> DataFrame:
    """tiles (zoom, x, y, tile_bytes) -> one OutputRow per (tile, layer)."""
    import numpy as np

    def gen(batches):
        for pdf in batches:
            rows = []
            hil = tm.hilbert_encode(pdf["x"].to_numpy(np.int64),
                                    pdf["y"].to_numpy(np.int64),
                                    pdf["zoom"].to_numpy(np.int64))
            for (z, x, y, blob), h in zip(
                    zip(pdf["zoom"], pdf["x"], pdf["y"], pdf["tile_bytes"]), hil):
                data = bytes(blob)
                for s in mvt.compute_tile_stats(data):
                    rows.append((int(z), int(x), int(y), int(h), len(data),
                                 s["layer"], s["layer_bytes"],
                                 s["layer_features"], s["layer_geometries"],
                                 s["layer_attr_bytes"], s["layer_attr_keys"],
                                 s["layer_attr_values"]))
            yield pd.DataFrame(rows, columns=COLUMNS)

    return (tiles_df.select("zoom", "x", "y", "tile_bytes")
            .mapInPandas(gen, _SCHEMA))


def _tsv_part_writer(parts_dir: str):
    """mapInArrow function: one sorted partition of OutputRows -> its TSV
    lines as one gzip member in part-NNNNN.tsv.gz; yields (part, rows)."""
    def write(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        from ..sources import archives as ar

        n = 0
        with ar._part_files(parts_dir, ".tsv.gz") as (part, f):
            with gzip.GzipFile(fileobj=f, mode="wb", compresslevel=6,
                               mtime=0) as gz:
                for b in batches:
                    if not b.num_rows:
                        continue
                    cols = [pc.cast(b.column(c), pa.string()) for c in COLUMNS]
                    lines = pc.binary_join_element_wise(*cols, "\t")
                    gz.write(ar._binary_values(
                        pc.binary_join_element_wise(lines, "", "\n"))[1])
                    n += b.num_rows
        yield pa.RecordBatch.from_pylist([{"part": part, "rows": n}])
    return write


def write_layerstats(stats_df: DataFrame, path: str) -> int:
    """OutputRow DataFrame -> single tsv.gz with the reference's exact
    header, rows in tile order (hilbert, then layer — PMTiles ids are
    zoom-major, so this is the archive write order). The rows are range
    exchanged on `hilbert` (no sampling job) and written by the executors;
    `path` must be on storage that the executors and the driver both see."""
    from ..sources import archives as ar

    spark = stats_df.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tok, tokens = ar._hilbert_tokens(spark, p)

    def keyed(batches):
        import pyarrow as pa

        for b in batches:
            yield b.append_column(
                tok, pa.array(tokens(b.column(3).to_numpy()), pa.int64()))

    ordered = (stats_df.select(*COLUMNS)
               .mapInArrow(keyed, f"{_SCHEMA}, {tok} long")
               .repartition(p, tok)
               .sortWithinPartitions("hilbert", "layer")
               .drop(tok))
    with ar._parts_dir(path) as parts:
        summary = ordered.mapInArrow(_tsv_part_writer(parts),
                                     "part long, rows long").collect()
        tmp = os.path.join(parts, "layerstats.tmp")
        with open(tmp, "wb") as out:
            out.write(gzip.compress(HEADER.encode(), compresslevel=6, mtime=0))
            out.flush()
            for r in sorted(summary, key=lambda r: r.part):
                src = os.path.join(parts, f"part-{r.part:05d}.tsv.gz")
                ar._copy_ranges(out.fileno(), src, [0], [os.path.getsize(src)])
        os.replace(tmp, path)
    return sum(r.rows for r in summary)
