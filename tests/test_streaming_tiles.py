"""Incremental tileset maintenance (streaming/tiles.py): after any sequence of
micro-batches the maintained tile table must equal the batch pipeline run over
the union of all inputs — same tiles, same n_features, same content_hash."""

import os

import pytest

from pyspark.sql import functions as F

from planetiler_spark.operators import tile_pipeline as tp
from planetiler_spark.sources import images as src
from planetiler_spark.streaming import tiles as st

N = 600
ZMAX = 8
BUCKETS = 16


def _slices(spark, bounds):
    df = src.images_df(spark, N, partitions=4, with_bytes=False)
    return [df.filter(f"image_id >= 'img{a:012d}' AND image_id < 'img{b:012d}'")
            for a, b in bounds]


def _tile_map(rows):
    return {r.tile_id: (r.zoom, r.x, r.y, r.n_features, r.content_hash)
            for r in rows}


def _expected(spark):
    full = src.images_df(spark, N, partitions=4, with_bytes=False)
    return _tile_map(tp.tileset(spark, full, 0, ZMAX).collect())


def test_apply_batch_incremental_equals_batch(spark, tmp_path):
    out = str(tmp_path / "inc")
    parts = _slices(spark, [(0, 250), (250, 400), (400, N)])
    for i, sl in enumerate(parts):
        affected = st.apply_batch(spark, sl, i, out, 0, ZMAX, BUCKETS)
        assert affected  # every slice renders features somewhere
    got = _tile_map(st.read_tiles(spark, out).collect())
    assert got == _expected(spark)


def test_apply_batch_replay_is_idempotent(spark, tmp_path):
    out = str(tmp_path / "inc")
    parts = _slices(spark, [(0, 300), (300, N)])
    for i, sl in enumerate(parts):
        st.apply_batch(spark, sl, i, out, 0, ZMAX, BUCKETS)
    before = _tile_map(st.read_tiles(spark, out).collect())
    # crash-replay of the FIRST batch after the second already ran: the batch
    # overwrites its own feature directory, re-encode sees the same log
    st.apply_batch(spark, parts[0], 0, out, 0, ZMAX, BUCKETS)
    after = _tile_map(st.read_tiles(spark, out).collect())
    assert after == before == _expected(spark)


def test_foreachbatch_stream_equals_batch(spark, tmp_path):
    stream_dir = str(tmp_path / "in")
    out = str(tmp_path / "inc")
    parts = _slices(spark, [(0, 200), (200, 450), (450, N)])
    for sl in parts:
        sl.coalesce(1).write.mode("append").parquet(stream_dir)

    schema = spark.read.parquet(stream_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(stream_dir))
    q = st.incremental_tileset(stream, out, 0, ZMAX, n_buckets=BUCKETS)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = _tile_map(st.read_tiles(spark, out).collect())
    assert got == _expected(spark)
    # the feature log kept one directory per micro-batch
    batches = [d for d in os.listdir(os.path.join(out, "features"))
               if d.startswith("batch=")]
    assert len(batches) >= 2


def test_small_batch_touches_few_buckets(spark, tmp_path):
    """The scale property that makes incremental maintenance worth it: a tiny
    micro-batch must re-encode only the buckets it touches, not the world.
    (At planet scale: a city-sized batch rewrites city-sized state.)"""
    out = str(tmp_path / "inc")
    buckets = 64
    big, tiny = _slices(spark, [(0, 595), (595, N)])  # 595 vs 5 images
    affected_big = st.apply_batch(spark, big, 0, out, 0, ZMAX, buckets)
    affected_tiny = st.apply_batch(spark, tiny, 1, out, 0, ZMAX, buckets)
    # spatial bucketing: 5 points' pyramids land in <= 5 spatial buckets
    # (plus the shared z0-3 overview bucket), while the bulk load hit most
    assert len(affected_tiny) <= 6
    assert len(affected_big) > 4 * len(affected_tiny)
    # and correctness still holds after the uneven batches
    got = _tile_map(st.read_tiles(spark, out).collect())
    assert got == _expected(spark)
