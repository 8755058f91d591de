"""python -m planetiler_spark — the Main.java dispatcher analog
(planetiler-dist Main.java:30-120) plus the archive utility tasks
(mbtiles/Verify.java, util/CompareArchives.java, util/TileSizeStats.main,
util/TopOsmTiles.main)."""

from __future__ import annotations

import gzip
import lzma
import sqlite3
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from planetiler_spark.__main__ import ENTRY_POINTS, main
from planetiler_spark.plans import cli_tools as ct


@pytest.fixture(scope="module")
def archive(spark, tmp_path_factory):
    from planetiler_spark.operators import tile_pipeline as tp
    from planetiler_spark.sources import archives as ar
    from planetiler_spark.sources import images as src

    imgs = src.images_df(spark, 48, partitions=4, with_bytes=False)
    tiles = tp.tileset(spark, imgs, min_zoom=0, max_zoom=4).cache()
    base = tmp_path_factory.mktemp("cli")
    mb = str(base / "out.mbtiles")
    ar.write_mbtiles(tiles, mb, {"name": "cli-test", "minzoom": "0",
                                 "maxzoom": "4"})
    pm = str(base / "out.pmtiles")
    ar.write_pmtiles(tiles, pm, {"name": "cli-test"})
    return mb, pm


def test_dispatcher_unknown_task(capsys):
    assert main(["definitely-not-a-task"]) == 1
    err = capsys.readouterr().err
    assert "Unrecognized task" in err and "possibilities" in err


def test_dispatcher_no_args(capsys):
    assert main([]) == 1
    assert "possibilities" in capsys.readouterr().err


def test_registry_matches_reference_tasks():
    # Main.java's registry rows that have an analog here
    for task in ("generate-custom", "custom", "verify", "verify-custom",
                 "verify-schema", "verify-mbtiles", "stats",
                 "top-osm-tiles", "compare"):
        assert task in ENTRY_POINTS


def test_verify_archive_passes(archive, capsys):
    mb, pm = archive
    assert main(["verify-mbtiles", mb, "--min-features", "10"]) == 0
    out = capsys.readouterr().out
    assert "PASS  metadata has name" in out
    assert "FAIL" not in out
    # pmtiles too: metadata comes from the spec's bytes-24/32 json section
    assert main(["verify-mbtiles", pm, "--min-features", "10"]) == 0
    out = capsys.readouterr().out
    assert "PASS  metadata has name: 'cli-test'" in out
    assert "FAIL" not in out


def test_verify_proto_archive_passes(spark, archive, tmp_path, capsys):
    """A named .proto stream archive passes verify: its metadata lives in
    the stream's finish entry, not beside it."""
    from planetiler_spark.sources import archives as ar
    mb, _pm = archive
    rows = [(z, x, y, blob) for (z, x, y), blob in sorted(ar.read_mbtiles(mb).items())]
    tiles = spark.createDataFrame(rows, "zoom int, x int, y int, tile_bytes binary")
    pb = str(tmp_path / "out.proto")
    ar.write_proto_archive(tiles, pb, {"name": "cli-test", "format": "pbf"})
    assert main(["verify-mbtiles", pb, "--min-features", "10"]) == 0
    out = capsys.readouterr().out
    assert "PASS  metadata has name: 'cli-test'" in out
    assert "FAIL" not in out


def test_verify_archive_fails_without_name(archive, tmp_path, capsys):
    mb, _pm = archive
    import shutil
    bad = str(tmp_path / "noname.mbtiles")
    shutil.copy(mb, bad)
    con = sqlite3.connect(bad)
    con.execute("DELETE FROM metadata WHERE name='name'")
    con.commit()
    con.close()
    assert main(["verify-mbtiles", bad]) == 1
    assert "FAIL  metadata has name" in capsys.readouterr().out


def test_compare_identical_formats(archive, capsys):
    mb, pm = archive
    assert main(["compare", mb, pm]) == 0
    import json
    summary = json.loads(capsys.readouterr().out)
    assert summary["only_in_a"] == summary["only_in_b"] == 0
    assert summary["different_contents"] == 0
    assert summary["matching_tiles"] == summary["tiles_a"] > 0


def test_compare_detects_diff(archive, tmp_path, capsys):
    mb, _pm = archive
    from planetiler_spark.sources import archives as ar
    tiles = ar.read_mbtiles(mb)
    keys = sorted(tiles)
    # drop one tile and corrupt another's contents (gzip of empty body)
    del tiles[keys[0]]
    tiles[keys[1]] = gzip.compress(b"")
    mutated = str(tmp_path / "mutated_tree")
    import os
    for (z, x, y), blob in tiles.items():
        d = os.path.join(mutated, str(z), str(x))
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{y}.pbf"), "wb") as f:
            f.write(blob)
    assert main(["compare", mb, mutated]) == 1
    import json
    summary = json.loads(capsys.readouterr().out)
    assert summary["only_in_a"] == 1
    assert summary["different_contents"] == 1


def test_stats_layerstats_tsv(archive, tmp_path, capsys):
    from planetiler_spark.operators.tile_stats import HEADER
    mb, _pm = archive
    out = str(tmp_path / "stats.tsv.gz")
    assert main(["stats", mb, "--output", out]) == 0
    with gzip.open(out, "rt") as f:
        lines = f.read().splitlines()
    assert lines[0] + "\n" == HEADER
    assert len(lines) > 1
    # every data row has the full column set and numeric tile coords
    for row in lines[1:3]:
        parts = row.split("\t")
        assert len(parts) == len(HEADER.split("\t"))
        int(parts[0]), int(parts[1]), int(parts[2])


def test_top_osm_tiles_cli_against_stub(tmp_path, capsys):
    log = "4/2/3 100\n4/2/2 50\n2/0/0 7\n"
    payload = lzma.compress(log.encode())

    class H(BaseHTTPRequestHandler):
        def do_GET(self):
            self.send_response(200)
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        out = str(tmp_path / "weights.tsv.gz")
        url = f"http://127.0.0.1:{srv.server_port}/" + \
            "tiles-{y:04d}-{m:02d}-{d:02d}.txt.xz"
        assert main(["top-osm-tiles", "--days", "2", "--output", out,
                     "--url-template", url]) == 0
        from planetiler_spark.sources import stac
        weights = stac.read_tile_weights(out)
        # raster z4 -> vector z3 (z-1, x>>1, y>>1), two days summed
        assert weights[(3, 1, 1)] == 300
        assert weights[(1, 0, 0)] == 14
    finally:
        srv.shutdown()


def test_bare_yaml_routes_to_custom(tmp_path, capsys, monkeypatch):
    # Main.java:99-101 — a *.yml first arg becomes the custom task; assert
    # the routing (argparse errors before Spark because --osm is absent)
    schema = tmp_path / "demo.yml"
    schema.write_text("layers: []\n")
    with pytest.raises(SystemExit):
        main([str(schema), "--out", str(tmp_path / "o")])
    assert "--schema requires --osm" in capsys.readouterr().err


MONACO = ("/root/reference/planetiler-core/src/test/resources/"
          "monaco-latest.osm.pbf")


@pytest.mark.skipif(not __import__("os").path.exists(MONACO),
                    reason="reference monaco fixture absent")
def test_verify_monaco_on_default_build(spark, tmp_path, capsys):
    """verify-monaco (VerifyMonaco.java:24-35 analog): a full built-in
    profile monaco build clears every per-layer minimum."""
    from planetiler_spark.plans import osm_pipeline as op
    from planetiler_spark.sources import archives as ar

    tiles, meta = op.osm_tileset(spark, MONACO, 0, 14, partitions=8,
                                 with_metadata=True)
    mb = str(tmp_path / "monaco.mbtiles")
    ar.write_mbtiles(tiles, mb, meta)
    assert main(["verify-monaco", mb]) == 0
    out = capsys.readouterr().out
    assert "FAIL" not in out
    assert out.count("PASS") >= 15
