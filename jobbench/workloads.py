"""The three workloads: one user job each, driven through the engine's
public functions, plus its checks, its traced pass and its kernel timings.

tileset_pmtiles  stored images -> tileset z0-14 -> write_pmtiles
zones_pmtiles    stored zone polygons -> zones_tileset -> write_pmtiles
pip_join         stored anchor points -> pip_zones(16384 zones) -> counts
"""

from __future__ import annotations

import gzip
import hashlib
import os
import statistics
import struct
import time

import numpy as np

from . import checks, inputs
from . import trace as tr

TILESET_ROWS = 16_000
TILESET_MAXZOOM = 14
ZONES = 160
ZONES_MAXZOOM = 9
PIP_POINTS = 1_200_000
PIP_WITHIN = 0.01
SAMPLE = 65_536       # fixed kernel / cross-check sample of stored points
KERNEL_REPS = 3


def _median_time(fn, reps: int = KERNEL_REPS) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


class Workload:
    """One job. ``pass_`` is the timed unit; ``check`` runs untimed after
    each pass and raises ``checks.CheckFailed`` on a wrong output."""

    name = ""
    item = ""
    size = ""   # input size and zoom range: part of the recorded-digest key

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.digest: str | None = None   # first verified output of this run

    def record(self, digest: str) -> None:
        """Same output on every pass and on every run at this seed."""
        if self.digest is None:
            checks.require(checks.recorded_digest(
                self.work, f"{self.name}-{self.size}-s{self.seed}", digest),
                "output differs from the digest recorded for this seed")
            self.digest = digest
        checks.require(digest == self.digest, "output differs between passes")

    def prereq(self) -> None:
        """Engine prerequisites built before the first pass (none by default)."""

    def kernels(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# tile workloads (shared archive half)
# ---------------------------------------------------------------------------

class _TileWorkload(Workload):
    minzoom = 0
    maxzoom = 0
    layer = ""

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.out = os.path.join(work, "out", f"{self.name}.pmtiles")
        os.makedirs(os.path.dirname(self.out), exist_ok=True)
        self._expectation = None

    def pass_(self, spark) -> dict:
        from planetiler_spark.sources import archives as ar
        stats = ar.write_pmtiles(self.tileset(spark, self.scan(spark)), self.out)
        return {"stats": stats, "path": self.out}

    def check(self, res: dict) -> None:
        digest = checks.sha256_file(res["path"])
        if digest != self.digest:
            # full re-read once per distinct output; identical bytes read the same
            if self._expectation is None:
                self._expectation = self.expectation()
            checks.check_archive(res["path"], res["stats"], self.minzoom,
                                 self.maxzoom, self.layer, self._expectation)
        checks.require(res["stats"]["bytes"] == os.path.getsize(res["path"]),
                       "archive size differs from the writer's count")
        self.record(digest)

    def items(self, res: dict) -> int:
        return res["stats"]["tiles"]

    def output_bytes(self, res: dict) -> int:
        return os.path.getsize(res["path"])

    def traced_pass(self, spark, spans: tr.Spans) -> dict:
        """scan -> cached rows, tileset -> cached tiles, archive written from
        the cache; each boundary in its own span."""
        from pyspark.sql import DataFrame, functions as F
        from planetiler_spark.sources import archives as ar
        with spans.span("pass"):
            with spans.span("sources.scan"):
                source = self.scan(spark)
                if isinstance(source, DataFrame):
                    source = source.cache()
                    source.count()
            with spans.span("operators.tileset"):
                tiles = self.tileset(spark, source).cache()
                agg = tiles.agg(F.count("*").alias("n"),
                                F.sum("n_features").alias("f")).collect()[0]
            with spans.span("sources.archive"):
                stats = ar.write_pmtiles(tiles, self.out)
        tiles.unpersist()
        if isinstance(source, DataFrame):
            source.unpersist()
        checks.require(int(agg.n) == stats["tiles"],
                       "tileset rows differ from the archive's tile count")
        return {"stats": stats, "path": self.out, "features": int(agg.f)}


class TilesetPmtiles(_TileWorkload):
    name = "tileset_pmtiles"
    item = "tiles"
    size = f"n{TILESET_ROWS}-z{TILESET_MAXZOOM}"
    maxzoom = TILESET_MAXZOOM
    layer = "images"

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.path = inputs.images(work, seed, TILESET_ROWS)

    def open(self, spark) -> None:
        spark.read.parquet(self.path).schema

    def scan(self, spark):
        return spark.read.parquet(self.path)

    def tileset(self, spark, source):
        from planetiler_spark.operators import tile_pipeline as tp
        return tp.tileset(spark, source, self.minzoom, self.maxzoom)

    def _anchors(self, n: int | None = None):
        from planetiler_spark.sources import images as src
        pdf = inputs.read_pandas(self.path)
        if n is not None:
            pdf = pdf.iloc[:n].reset_index(drop=True)
        wx, wy = src.anchor_world(pdf["phash"].to_numpy())
        return pdf, wx, wy

    def expectation(self):
        _, wx, wy = self._anchors()
        return checks.point_expectation(wx, wy, self.minzoom, self.maxzoom)

    def kernels(self) -> dict:
        """Point render + MVT encode on the first 4096 stored rows, one
        thread: slice cost per fragment, encode cost per tile, gzip share."""
        import pyarrow as pa
        from planetiler_spark.kernels import mvt
        from planetiler_spark.operators import render as R

        pdf, wx, wy = self._anchors(4096)
        sk = (pdf["phash"].to_numpy() % 1000).astype(np.int64)
        zooms = range(self.minzoom, self.maxzoom + 1)
        frags = R.render_points_pdf(pdf, wx, wy, zooms, layer=0, sort_key=sk)
        t_slice = _median_time(lambda: R.render_points_pdf(pdf, wx, wy, zooms,
                                                            layer=0, sort_key=sk))
        fid = frags["feature_id"].to_numpy()
        ids = pdf["image_id"].to_numpy()[fid]
        order = np.lexsort((ids, sk[fid], frags["tile_id"].to_numpy()))
        tids = frags["tile_id"].to_numpy()[order]
        starts = np.nonzero(np.diff(tids, prepend=tids[0] - 1))[0]
        ends = np.append(starts[1:], len(tids))
        stream = mvt.PointTileStream(
            frags["ex"].to_numpy()[order], frags["ey"].to_numpy()[order],
            sk[fid][order], pa.array(ids[order], type=pa.string()),
            pa.array(pdf["caption"].to_numpy()[fid][order], type=pa.string()))
        raw = list(stream.encode_tiles(starts, ends, compress=False))
        t_raw = _median_time(lambda: list(stream.encode_tiles(starts, ends, compress=False)))
        t_gz = _median_time(lambda: [gzip.compress(b, compresslevel=6, mtime=0) for b in raw])
        return {"operators.render.slice_us_per_fragment": t_slice / len(frags) * 1e6,
                "kernels.mvt.encode_us_per_tile": (t_raw + t_gz) / len(raw) * 1e6,
                "kernels.mvt.gzip_share": t_gz / (t_raw + t_gz)}


class ZonesPmtiles(_TileWorkload):
    name = "zones_pmtiles"
    item = "tiles"
    size = f"n{ZONES}-z{ZONES_MAXZOOM}"
    maxzoom = ZONES_MAXZOOM
    layer = "zones"

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.path = inputs.zones(work, seed, ZONES)

    def open(self, spark) -> None:
        inputs.read_pandas(self.path)

    def scan(self, spark):
        return inputs.read_pandas(self.path)

    def tileset(self, spark, source):
        from planetiler_spark.operators import tile_pipeline as tp
        return tp.zones_tileset(spark, self.minzoom, self.maxzoom,
                                zones_pdf=source)

    def _rings(self, n: int | None = None):
        from planetiler_spark.kernels import geom as gk
        pdf = inputs.read_pandas(self.path)
        return [gk.parse_wkb(bytes(w))[1][0] for w in pdf["wkb"][:n]]

    def expectation(self):
        from planetiler_spark.operators import render as R
        return checks.polygon_expectation(self._rings(), self.minzoom,
                                          self.maxzoom, R.BUFFER_TILE)

    def kernels(self) -> dict:
        """Polygon slicing and per-tile polygon MVT encode (geometry streams
        as in the engine's zone reduce) on the first 16 stored zones, one
        thread."""
        from planetiler_spark.kernels import mvt
        from planetiler_spark.operators import render as R

        rings = self._rings(16)
        zooms = range(self.minzoom, self.maxzoom + 1)

        def slice_all():
            return [(z, tx, ty, k, kind, parts) for k, r in enumerate(rings)
                    for z in zooms for tx, ty, kind, parts in R.slice_polygon([r], z)]

        frags = slice_all()
        t_slice = _median_time(slice_all)
        by_tile: dict = {}
        for z, tx, ty, k, kind, parts in frags:
            by_tile.setdefault((z, tx, ty), []).append((k, kind, parts))
        fill = mvt._packed(4, mvt.encode_fill(R.BUFFER_PX))

        def encode_all():
            out = []
            for feats in by_tile.values():
                rs, rf = [], []
                for i, (_, kind, parts) in enumerate(feats):
                    if kind != "fill":
                        rs.extend(parts)
                        rf.extend([i] * len(parts))
                off, flat = mvt.polygon_geom_stream(rs, rf, len(feats))
                layer = mvt.LayerBuilder("zones")
                for i, (k, kind, _) in enumerate(feats):
                    geom = fill if kind == "fill" else flat[off[i]:off[i + 1]]
                    layer.add_feature_rawgeom(None, mvt.GEOM_POLYGON, geom,
                                              {"zone_id": f"zone{k:04d}", "kind": "park"})
                out.append(mvt.encode_tile([layer], compress=False))
            return out

        raw = encode_all()
        t_raw = _median_time(encode_all)
        t_gz = _median_time(lambda: [gzip.compress(b, compresslevel=6, mtime=0) for b in raw])
        return {"operators.render.slice_us_per_fragment": t_slice / len(frags) * 1e6,
                "kernels.mvt.encode_us_per_tile": (t_raw + t_gz) / len(raw) * 1e6,
                "kernels.mvt.gzip_share": t_gz / (t_raw + t_gz)}


# ---------------------------------------------------------------------------
# PIP join
# ---------------------------------------------------------------------------

class PipJoin(Workload):
    name = "pip_join"
    item = "probe points"
    size = f"n{PIP_POINTS}-zones{inputs.PIP_ZONES}"

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.path = inputs.points(work, seed, PIP_POINTS)
        self.sample_path = inputs.points(work, seed, SAMPLE)
        self.zone_path = inputs.pip_zone_table(work)
        self.index = None

    def open(self, spark) -> None:
        """Open the stored points and serve the stored zone table to the
        engine's ``zones_pdf`` lookup (identical rows, no 15 s rebuild)."""
        from planetiler_spark.sources import images as src
        spark.read.parquet(self.path).schema
        stored = inputs.read_pandas(self.zone_path)
        build = src.zones_pdf

        def served(n_zones: int = src.N_ZONES):
            return stored if n_zones == inputs.PIP_ZONES else build(n_zones)

        src.zones_pdf = served

    def prereq(self) -> None:
        from planetiler_spark.sources import images as src
        self.index = src.zones_index(inputs.PIP_ZONES)

    def scan(self, spark):
        return spark.read.parquet(self.path)

    def probe(self, source):
        from planetiler_spark.operators import spatial as sp
        return sp.pip_zones(source, within=PIP_WITHIN, n_zones=inputs.PIP_ZONES,
                            aggregate=True)

    @staticmethod
    def collect(partials) -> bytes:
        from pyspark.sql import functions as F
        rows = (partials.groupBy("zone_idx", "fallback").agg(F.sum("n").alias("n"))
                .collect())
        rows = sorted((int(r.zone_idx), bool(r.fallback), int(r.n)) for r in rows)
        return b"".join(struct.pack("<i?q", *r) for r in rows)

    def pass_(self, spark) -> dict:
        return {"result": self.collect(self.probe(self.scan(spark)))}

    @staticmethod
    def _rows(result: bytes) -> np.ndarray:
        return np.frombuffer(result, dtype=np.dtype(
            [("zone_idx", "<i4"), ("fallback", "?"), ("n", "<i8")]))

    def check(self, res: dict) -> None:
        rows = self._rows(res["result"])
        checks.require(len(rows) > 0 and int(rows["n"].sum()) >= PIP_POINTS // 2,
                       "implausibly few containment rows")
        self.record(hashlib.sha256(res["result"]).hexdigest())

    def cross_check(self, spark) -> None:
        """Engine vs a driver-only PolygonIndex probe on the stored sample:
        per-zone counts must match exactly."""
        from planetiler_spark.sources import images as src
        engine = self._rows(self.collect(self.probe(spark.read.parquet(self.sample_path))))
        ph = inputs.read_pandas(self.sample_path)["phash"].to_numpy()
        wx, wy = src.anchor_world(ph)
        _, poly, fb = self.index.get_containing_or_nearest(wx, wy, PIP_WITHIN)
        key, n = np.unique(poly.astype(np.int64) * 2 + fb, return_counts=True)
        checks.require(np.array_equal(engine["zone_idx"].astype(np.int64) * 2
                                      + engine["fallback"], key)
                       and np.array_equal(engine["n"], n),
                       "engine PIP counts differ from the driver-only probe")

    def items(self, res: dict) -> int:
        return PIP_POINTS

    def output_bytes(self, res: dict) -> int:
        return len(res["result"])

    def traced_pass(self, spark, spans: tr.Spans) -> dict:
        with spans.span("pass"):
            with spans.span("sources.scan"):
                source = self.scan(spark).cache()
                source.count()
            with spans.span("operators.pip"):
                partials = self.probe(source).cache()
                partials.count()
            with spans.span("result.collect"):
                result = self.collect(partials)
        partials.unpersist()
        source.unpersist()
        return {"result": result, "pip_rows": int(self._rows(result)["n"].sum())}

    def kernels(self) -> dict:
        """The probe on the 65,536 stored sample points and the index build
        over the 16,384 stored zones, one thread."""
        from planetiler_spark.kernels import geom as gk
        from planetiler_spark.sources import images as src
        wx, wy = src.anchor_world(inputs.read_pandas(self.sample_path)["phash"].to_numpy())
        t_probe = _median_time(
            lambda: self.index.get_containing_or_nearest(wx, wy, PIP_WITHIN))
        zones = inputs.read_pandas(self.zone_path)
        polys = [gk.parse_wkb(bytes(w))[1] for w in zones["wkb"]]
        ids = zones["zone_id"].tolist()
        t_build = _median_time(lambda: gk.PolygonIndex(ids=ids, polys=polys))
        return {"kernels.geom.probe_s_per_batch": t_probe,
                "kernels.geom.index_build_s": t_build}


WORKLOADS = {w.name: w for w in (TilesetPmtiles, ZonesPmtiles, PipJoin)}
