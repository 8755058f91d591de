"""Archive utility CLIs — the reference's Verify / CompareArchives /
TileSizeStats entry points (mbtiles/Verify.java:103-128,
util/CompareArchives.java:49-210, util/TileSizeStats.java:59-224)
re-expressed over this engine's archive readers.

These are operator-scale utilities (an archive is a single file a human
points the CLI at), so they read through sources/archives' in-process
readers; the distributed layerstats path for freshly-built tilesets is
operators/tile_stats.py, which runs inside the tile encode itself.
"""

from __future__ import annotations

import gzip
import json
import os
import sqlite3
import sys


def _read_archive(path: str) -> dict:
    """{(z, x, y): bytes} from any supported archive by extension —
    TileArchiveConfig.Format detection (TileArchiveConfig.java:62-90)."""
    from ..sources import archives as ar

    if path.endswith(".mbtiles"):
        return ar.read_mbtiles(path)
    if path.endswith(".pmtiles"):
        return ar.read_pmtiles(path)
    if os.path.isdir(path):
        return ar.read_files_archive(path)
    if path.endswith(".proto") or path.endswith(".pb"):
        tiles, _meta = ar.read_proto_archive(path)
        return tiles
    raise ValueError(f"unsupported archive: {path!r} "
                     "(.mbtiles, .pmtiles, .proto, or a {z}/{x}/{y} dir)")


def _archive_metadata(path: str) -> dict:
    from ..sources import archives as ar

    if path.endswith(".proto") or path.endswith(".pb"):
        # the stream's finish entry carries the metadata
        return ar.read_proto_archive(path)[1]
    if path.endswith(".mbtiles"):
        con = sqlite3.connect(path)
        try:
            rows = con.execute("SELECT name, value FROM metadata").fetchall()
        finally:
            con.close()
        return dict(rows)
    if path.endswith(".pmtiles"):
        with open(path, "rb") as f:
            head = f.read(127)
            # spec v3 header: json metadata offset/length at bytes 24/32
            # (archives.write_pmtiles writes the same layout)
            json_off = int.from_bytes(head[24:32], "little")
            json_len = int.from_bytes(head[32:40], "little")
            f.seek(json_off)
            blob = f.read(json_len)
        if blob[:2] == b"\x1f\x8b":
            blob = gzip.decompress(blob)
        try:
            return json.loads(blob)
        except Exception:
            return {}
    if os.path.isdir(path):
        mp = os.path.join(path, "metadata.json")
        if os.path.exists(mp):
            with open(mp) as f:
                return json.load(f)
    return {}


# ---------------------------------------------------------------------------
# verify-mbtiles (Verify.java:103-128: checkBasicStructure + feature counts)
# ---------------------------------------------------------------------------

def verify_archive(path: str, min_features: int = 1) -> list[tuple[str, bool, str]]:
    """Basic structural verification: metadata has a name, the archive has
    tiles, every tile decodes as (gzipped) MVT, and the total decoded
    feature count reaches min_features."""
    from ..kernels import mvt

    checks: list[tuple[str, bool, str]] = []
    try:
        tiles = _read_archive(path)
    except Exception as e:
        return [("archive readable", False, f"{type(e).__name__}: {e}")]
    meta = _archive_metadata(path)
    checks.append(("archive readable", True, f"{len(tiles)} tiles"))
    name = meta.get("name")
    checks.append(("metadata has name", bool(name), repr(name)))
    checks.append(("contains tiles", len(tiles) > 0, f"{len(tiles)} tiles"))
    n_feat = 0
    bad = None
    for (z, x, y), blob in tiles.items():
        try:
            for s in mvt.compute_tile_stats(bytes(blob)):
                n_feat += s["layer_features"]
        except Exception as e:
            bad = (z, x, y, e)
            break
    checks.append(("vector tiles decode", bad is None,
                   "all decode" if bad is None else
                   f"tile {bad[:3]} failed: {bad[3]}"))
    checks.append((f"at least {min_features} features", n_feat >= min_features,
                   f"{n_feat} features"))
    return checks


def verify_main(argv=None) -> int:
    import argparse
    ap = argparse.ArgumentParser(
        prog="verify-mbtiles",
        description="basic structural checks on a tile archive "
                    "(the reference's verify-mbtiles)")
    ap.add_argument("archive")
    ap.add_argument("--min-features", type=int, default=1)
    args = ap.parse_args(argv)
    checks = verify_archive(args.archive, args.min_features)
    ok = True
    for name, passed, detail in checks:
        print(f"{'PASS' if passed else 'FAIL'}  {name}: {detail}")
        ok &= passed
    return 0 if ok else 1


# ---------------------------------------------------------------------------
# compare (CompareArchives.java:49-210: tally diff types + per-layer diffs)
# ---------------------------------------------------------------------------

def compare_archives(path_a: str, path_b: str) -> dict:
    from ..kernels import mvt

    a = _read_archive(path_a)
    b = _read_archive(path_b)
    only_a = sorted(set(a) - set(b))
    only_b = sorted(set(b) - set(a))
    same = 0
    diff_tiles = []
    layer_diffs: dict[str, int] = {}
    for k in sorted(set(a) & set(b)):
        if bytes(a[k]) == bytes(b[k]):
            same += 1
            continue
        diff_tiles.append(k)
        sa = {s["layer"]: s for s in mvt.compute_tile_stats(bytes(a[k]))}
        sb = {s["layer"]: s for s in mvt.compute_tile_stats(bytes(b[k]))}
        for layer in set(sa) | set(sb):
            if sa.get(layer) != sb.get(layer):
                layer_diffs[layer] = layer_diffs.get(layer, 0) + 1
    return {
        "tiles_a": len(a), "tiles_b": len(b),
        "matching_tiles": same,
        "only_in_a": len(only_a), "only_in_b": len(only_b),
        "different_contents": len(diff_tiles),
        "diffs_by_layer": dict(sorted(layer_diffs.items())),
    }


def compare_main(argv=None) -> int:
    import argparse
    ap = argparse.ArgumentParser(
        prog="compare",
        description="tile-for-tile archive diff (the reference's compare)")
    ap.add_argument("archive_a")
    ap.add_argument("archive_b")
    args = ap.parse_args(argv)
    summary = compare_archives(args.archive_a, args.archive_b)
    print(json.dumps(summary, indent=2))
    identical = (summary["only_in_a"] == 0 and summary["only_in_b"] == 0
                 and summary["different_contents"] == 0)
    return 0 if identical else 1


# ---------------------------------------------------------------------------
# stats (TileSizeStats.main: layerstats TSV for an EXISTING archive)
# ---------------------------------------------------------------------------

def stats_main(argv=None) -> int:
    import argparse
    ap = argparse.ArgumentParser(
        prog="stats",
        description="compute per-(tile, layer) size statistics for an "
                    "existing archive (the reference's stats task; TSV "
                    "columns = TileSizeStats.headerRow)")
    ap.add_argument("archive")
    ap.add_argument("--output", default=None,
                    help="output .tsv.gz (default: <archive>.layerstats.tsv.gz)")
    args = ap.parse_args(argv)
    out = args.output or args.archive + ".layerstats.tsv.gz"

    from ..kernels import mvt
    from ..kernels import tile_math as tm
    from ..operators.tile_stats import COLUMNS, HEADER

    import numpy as np

    tiles = _read_archive(args.archive)
    rows = []
    for (z, x, y), blob in tiles.items():
        data = bytes(blob)
        h = int(tm.hilbert_encode(np.int64([x]), np.int64([y]),
                                  np.int64([z]))[0])
        for s in mvt.compute_tile_stats(data):
            rows.append((z, x, y, h, len(data), s["layer"], s["layer_bytes"],
                         s["layer_features"], s["layer_geometries"],
                         s["layer_attr_bytes"], s["layer_attr_keys"],
                         s["layer_attr_values"]))
    rows.sort(key=lambda r: (r[0], r[3], r[5]))
    with gzip.open(out, "wt", compresslevel=6, newline="") as f:
        f.write(HEADER)
        for r in rows:
            f.write("\t".join(str(v) for v in r) + "\n")
    print(f"wrote {len(rows)} rows to {out}")
    return 0


# ---------------------------------------------------------------------------
# top-osm-tiles (util/TopOsmTiles.java via sources/stac.py)
# ---------------------------------------------------------------------------

def top_osm_tiles_main(argv=None) -> int:
    import argparse
    ap = argparse.ArgumentParser(
        prog="top-osm-tiles",
        description="build a traffic-weights tsv.gz from "
                    "planet.openstreetmap.org tile logs "
                    "(the reference's top-osm-tiles)")
    ap.add_argument("--days", type=int, default=90)
    ap.add_argument("--top", type=int, default=1_000_000)
    ap.add_argument("--maxzoom", type=int, default=15)
    ap.add_argument("--output", required=True)
    ap.add_argument("--url-template", default=None,
                    help="override the tile-log URL template "
                         "({y:04d}/{m:02d}/{d:02d} placeholders; tests "
                         "point this at an in-process stub)")
    args = ap.parse_args(argv)

    import datetime

    from ..sources import download as dl
    from ..sources import stac

    fetch = None
    if args.url_template:
        def fetch(date, _t=args.url_template):
            url = _t.format(y=date.year, m=date.month, d=date.day)
            import urllib.error
            try:
                with dl.open_stream(url, 30.0) as f:
                    return f.read()
            except urllib.error.HTTPError as e:
                if e.code == 404:
                    return None
                raise

    today = datetime.date.today()
    dates = [today - datetime.timedelta(days=i) for i in range(args.days)]
    weights = stac.top_osm_tiles(dates, top_n=args.top,
                                 max_zoom=args.maxzoom, fetch=fetch)
    stac.write_tile_weights(args.output, weights)
    print(f"wrote {len(weights)} weights to {args.output}")
    return 0


# ---------------------------------------------------------------------------
# verify-monaco (custommap/util/VerifyMonaco.java:24-35 — per-layer/zoom
# minimum feature counts over a monaco build; the reference's checks name
# openmaptiles-schema layers, these name the built-in profile's layers)
# ---------------------------------------------------------------------------

MONACO_BOUNDS = (7.40921, 43.72335, 7.44864, 43.75169)  # lon/lat envelope

# (layer, minzoom, maxzoom, min feature count, MVT geom type or None).
# Zoom floors reflect where the built-in profile's features actually
# survive min-pixel-size (monaco water polygons collapse below z7).
MONACO_CHECKS = [
    ("building", 13, 14, 100, 3),
    ("road", 10, 14, 5, 2),
    ("water", 7, 14, 1, 3),
    ("poi", 14, 14, 1, 1),
]


def _tile_envelope(z, x, y):
    from ..kernels import tile_math as tm
    wx0, wy0, wx1, wy1 = tm.tile_bounds_world(x, y, z)
    return (float(tm.get_world_lon(wx0)), float(tm.get_world_lat(wy1)),
            float(tm.get_world_lon(wx1)), float(tm.get_world_lat(wy0)))


def verify_monaco(path: str, checks=None) -> list[tuple[str, bool, str]]:
    from ..kernels import mvt

    checks = checks or MONACO_CHECKS
    tiles = _read_archive(path)
    w, s, e, n = MONACO_BOUNDS
    counts: dict = {}
    for (z, x, y), blob in tiles.items():
        tw, ts, te, tn = _tile_envelope(z, x, y)
        if te < w or tw > e or tn < s or ts > n:
            continue  # tile outside the monaco envelope
        for lname, feats in mvt.decode_tile(bytes(blob)).items():
            for f in feats:
                counts[(lname, z, f["type"])] = \
                    counts.get((lname, z, f["type"]), 0) + 1
    out = []
    for layer, z0, z1, min_count, gtype in checks:
        for z in range(z0, z1 + 1):
            got = sum(v for (ln, zz, t), v in counts.items()
                      if ln == layer and zz == z and
                      (gtype is None or t == gtype))
            out.append((f"at least {min_count} {layer} features at z{z}",
                        got >= min_count, f"{got} features"))
    return out


def verify_monaco_main(argv=None) -> int:
    import argparse
    ap = argparse.ArgumentParser(
        prog="verify-monaco",
        description="check a monaco build for minimum per-layer feature "
                    "counts (the reference's verify-monaco)")
    ap.add_argument("archive")
    args = ap.parse_args(argv)
    ok = True
    for name, passed, detail in verify_monaco(args.archive):
        print(f"{'PASS' if passed else 'FAIL'}  {name}: {detail}")
        ok &= passed
    return 0 if ok else 1
