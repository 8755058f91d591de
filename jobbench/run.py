"""Run one benchmark workload at one seed and print its metrics.

    python3 jobbench/run.py --workload tileset_pmtiles --seed 1 --seconds 16 --trace 0

Run from the repository root (the benchmark imports ``planetiler_spark``
and ``tools/scaling_runner.py`` from the directory above this one). Inputs,
archives, Spark scratch space and event logs go to ``.jobbench_work/``.

``--trace 0`` times whole passes and prints the end-to-end metrics;
``--trace 1`` adds one traced pass, kernel timings and the event log, and
prints the per-layer metrics. The last stdout line is always one JSON
object: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".jobbench_work")
DEADLINE_S = 165            # the whole run, set-up and teardown included
REFERENCE_PER_CORE = 3920   # the reference's planet run, tiles/s/core
MIN_PASSES = 3


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _env() -> None:
    """Keep every file the run writes inside the work area and let Python
    workers import the engine from this checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _timed_pass(wl, spark, harness):
    """One timed pass, then its checks outside the timed window."""
    from jobbench import checks
    c0 = harness.tree_cpu_s()
    t0 = time.perf_counter()
    error = None
    try:
        res = wl.pass_(spark)
    except Exception as e:  # a failed pass counts against ok_frac
        res, error = None, f"{type(e).__name__}: {e}"
    wall = time.perf_counter() - t0
    cpu = harness.tree_cpu_s() - c0
    if res is not None:
        try:
            wl.check(res)
        except checks.CheckFailed as e:
            error = f"check failed: {e}"
    return {"wall": wall, "cpu": cpu, "res": res, "error": error,
            "check_s": time.perf_counter() - t0 - wall}


def _setup(wl, harness, event_log=None):
    t0 = time.perf_counter()
    spark = harness.launch(WORK, f"jobbench-{wl.name}", event_log)
    harness.warm_pool(spark)
    t1 = time.perf_counter()
    wl.open(spark)
    t2 = time.perf_counter()
    wl.prereq()
    t3 = time.perf_counter()
    return spark, {"setup.launch_s": t1 - t0, "setup.open_s": t2 - t1,
                   "setup.prereq_s": t3 - t2}


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    from jobbench import harness, trace as tr
    from jobbench.workloads import WORKLOADS

    t_start = time.perf_counter()
    wl = WORKLOADS[workload](WORK, seed)   # stored inputs: written untimed
    t_inputs = time.perf_counter() - t_start
    cpus = os.cpu_count()
    event_log = None
    if traced:
        event_log = os.path.join(WORK, "eventlog", f"run-{os.getpid()}")
        shutil.rmtree(event_log, ignore_errors=True)
    sampler = harness.RssSampler()
    spark = None
    passes: list[dict] = []
    try:
        spark, setup = _setup(wl, harness, event_log)
        t = time.perf_counter()
        # untimed and full-size: the JVM's JIT and the workers need a whole
        # pass's work before the passes settle
        wl.pass_(spark)
        setup["setup.warm_s"] = time.perf_counter() - t
        host = {"host.triad_gbs": harness.triad_gbs(ROOT)}
        steal0 = harness.steal_ticks()
        sampler.active = True
        while True:
            passes.append(_timed_pass(wl, spark, harness))
            walls = [p["wall"] for p in passes]
            if traced or (len(passes) >= MIN_PASSES
                          and sum(walls) + statistics.median(walls) > seconds):
                break
        sampler.active = False
        if traced:
            spans = tr.Spans()
            p = {"wall": None, "res": None, "error": None}
            try:
                p["res"] = wl.traced_pass(spark, spans)
                wl.check(p["res"])
            except Exception as e:
                p["error"] = f"traced pass: {type(e).__name__}: {e}"
            passes.append(p)
        host["host.steal_s"] = (harness.steal_ticks() - steal0) / harness.CLK_TCK
        host["host.triad_end_gbs"] = harness.triad_gbs(ROOT)
        if hasattr(wl, "cross_check"):
            try:
                wl.cross_check(spark)
            except Exception as e:  # every pass rests on the same probe
                for p in passes:
                    p["error"] = p["error"] or f"cross-check: {e}"
        kernels = wl.kernels() if traced else {}
    finally:
        sampler.close()
        harness.stop(spark)

    attempted = len(passes)
    failed = sum(1 for p in passes if p["error"])
    for i, p in enumerate(passes):
        wall = "traced" if p["wall"] is None else f"{p['wall']:.3f} s"
        print(f"pass {i}: {wall} {'FAILED ' + p['error'] if p['error'] else 'ok'}")
    print(f"phases: inputs {t_inputs:.2f} s, set-up {sum(v for k, v in setup.items() if k != 'setup.warm_s'):.2f} s, "
          f"warm-up {setup['setup.warm_s']:.2f} s, checks {sum(p.get('check_s', 0) for p in passes):.2f} s, "
          f"run so far {time.perf_counter() - t_start:.2f} s")
    print(f"host: triad {host['host.triad_gbs']:.2f} -> "
          f"{host['host.triad_end_gbs']:.2f} GB/s, steal {host['host.steal_s']:.2f} s")
    timed = [p for p in passes if p["wall"] is not None]
    job_s = statistics.median(p["wall"] for p in timed)
    good = next((p["res"] for p in timed if p["res"] is not None and not p["error"]), None)
    if not traced:
        items = wl.items(good) if good else 0
        per_core = items / job_s / cpus
        print(f"{workload}: {len(timed)} timed passes, median {job_s:.3f} s, "
              f"{per_core:.1f} {wl.item}/s/core (reference {REFERENCE_PER_CORE} tiles/s/core)")
        metrics = {
            "job_s": (job_s, "s"),
            "items_per_s_per_core": (per_core, "1/s"),
            "setup_s": (setup["setup.launch_s"] + setup["setup.open_s"]
                        + setup["setup.prereq_s"], "s"),
            "cpu_s": (statistics.median(p["cpu"] for p in timed), "s"),
            "peak_rss_mb": (sampler.peak / 1e6, "MB"),
            "output_mb": ((wl.output_bytes(good) if good else 0) / 1e6, "MB"),
            "ok_frac": ((attempted - failed) / attempted, "share"),
        }
    else:
        stages = tr.load_stages(event_log)
        shutil.rmtree(event_log, ignore_errors=True)
        metrics = layer_metrics(wl, spans, stages, passes[-1]["res"] or {},
                                job_s, {**setup, **host, **kernels})
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


LAYER_UNITS = {
    "sources.scan_s": "s", "sources.archive_write_s": "s",
    "sources.archive_sort_s": "s", "sources.archive_drain_s": "s",
    "sources.archive_unique_share": "share", "sources.archive_entries_per_tile": "share",
    "operators.tileset_s": "s", "operators.render_s": "s",
    "operators.tile_reduce_s": "s", "operators.features": "count",
    "operators.pip_probe_s": "s", "operators.pip_rows": "count",
    "operators.render.slice_us_per_fragment": "us",
    "kernels.mvt.encode_us_per_tile": "us", "kernels.mvt.gzip_share": "share",
    "kernels.geom.probe_s_per_batch": "s", "kernels.geom.index_build_s": "s",
    "spark.task_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_records": "count", "spark.spill_mb": "MB",
    "spark.tail_ratio": "share", "spark.driver_gap_s": "s",
    "spark.task_retries": "count",
    "setup.launch_s": "s", "setup.open_s": "s", "setup.prereq_s": "s",
    "setup.warm_s": "s",
    "host.triad_gbs": "GB/s", "host.triad_end_gbs": "GB/s", "host.steal_s": "s",
    "trace.job_s": "s", "trace.untraced_job_s": "s", "trace.overhead_s": "s",
    "trace.span_cover": "share",
}


def layer_metrics(wl, spans, stages, res: dict, untraced_s: float,
                  extra: dict) -> dict:
    """Per-layer metrics of the traced pass. A layer the workload does not
    use, or that a failed traced pass did not reach, reads 0."""
    from jobbench import trace as tr

    whole = spans.get("pass")
    mine = tr.in_span(stages, whole)
    m = {k: 0.0 for k in LAYER_UNITS}
    m.update(extra)
    scan, tileset = spans.get("sources.scan"), spans.get("operators.tileset")
    archive, probe = spans.get("sources.archive"), spans.get("operators.pip")
    m["sources.scan_s"] = tr.duration(scan)
    if archive and "stats" in res:
        sort = tr.busy_s(tr.in_span(stages, archive), archive)
        stats = res["stats"]
        m["sources.archive_write_s"] = tr.duration(archive)
        m["sources.archive_sort_s"] = sort
        m["sources.archive_drain_s"] = tr.duration(archive) - sort
        m["sources.archive_unique_share"] = stats["unique_blobs"] / stats["tiles"]
        m["sources.archive_entries_per_tile"] = stats["entries"] / stats["tiles"]
    if tileset and "features" in res:
        inside = tr.in_span(stages, tileset)
        m["operators.tileset_s"] = tr.duration(tileset)
        m["operators.render_s"] = tr.busy_s(tr.map_side(inside), tileset)
        m["operators.tile_reduce_s"] = tr.busy_s(tr.reduce_side(inside), tileset)
        m["operators.features"] = res["features"]
    if probe and "pip_rows" in res:
        m["operators.pip_probe_s"] = tr.duration(probe)
        m["operators.pip_rows"] = res["pip_rows"]
    m["spark.task_s"] = sum(s["task_s"] for s in mine)
    m["spark.shuffle_write_mb"] = sum(s["write_bytes"] for s in mine) / 1e6
    m["spark.shuffle_records"] = sum(s["write_records"] for s in mine)
    m["spark.spill_mb"] = sum(s["spill_bytes"] for s in mine) / 1e6
    m["spark.tail_ratio"] = tr.tail_ratio(mine)
    m["spark.driver_gap_s"] = tr.duration(whole) - tr.busy_s(mine, whole)
    m["spark.task_retries"] = sum(s["retries"] for s in stages)
    m["trace.job_s"] = tr.duration(whole)
    m["trace.untraced_job_s"] = untraced_s
    m["trace.overhead_s"] = tr.duration(whole) - untraced_s
    children = [s for s in spans.spans if s["parent"] == "pass"]
    m["trace.span_cover"] = (sum(tr.duration(s) for s in children) / tr.duration(whole)
                             if whole else 0.0)
    return {k: (float(m[k]), LAYER_UNITS[k]) for k in LAYER_UNITS}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "planetiler_spark")):
        print(f"jobbench: no planetiler_spark package in {ROOT}", file=sys.stderr)
        return 2
    _env()
    from jobbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"jobbench: unknown workload {args.workload!r}; "
              f"one of {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
