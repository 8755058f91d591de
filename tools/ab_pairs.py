"""Alternating A/B pairs of the job benchmark between two checkouts.

    python tools/ab_pairs.py --a ../parent --b . --workload tileset_pmtiles \
        --seeds 221-230 [--seconds 30] [--json pairs.json]

For each seed, runs `python3 jobbench/run.py --workload W --seed S
--seconds N --trace 0` once in each checkout, one after the other; which
side goes first alternates from seed to seed, so drift of a shared host
falls on both sides alike. Each run is a subprocess started in its own
checkout, so each side imports its own engine and keeps its own
`.jobbench_work/`.

Prints every pair's end-to-end metrics, each side's median and quartiles,
how many pairs B wins per metric (by the metric's `better` direction in
BENCHMARK.json), and whether each seed's recorded archive digest
(`.jobbench_work/digests/*-s<seed>.json`) is byte-identical in the two
checkouts. Runs one job at a time: never run it beside other benchmarks.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def _run(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "jobbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        raise RuntimeError(f"{checkout}: seed {seed} exited {proc.returncode}")
    return json.loads(lines[-1])


def _value(res: dict, metric: str):
    """A metric's value from a run's JSON line ({"value", "unit"} objects)."""
    m = res["metrics"].get(metric)
    return m["value"] if isinstance(m, dict) else m


def _digest(checkout: str, seed: int) -> bytes | None:
    found = glob.glob(os.path.join(checkout, ".jobbench_work", "digests",
                                   f"*-s{seed}.json"))
    if len(found) != 1:
        return None
    with open(found[0], "rb") as f:
        return f.read()


def _quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return q1, q2, q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a", required=True, help="baseline checkout")
    ap.add_argument("--b", required=True, help="candidate checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 221-230 or 1,4,9")
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--json", help="also write every pair's results here")
    args = ap.parse_args(argv)

    with open(os.path.join(args.a, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    sides = {"a": os.path.abspath(args.a), "b": os.path.abspath(args.b)}
    pairs = []
    for k, seed in enumerate(_seeds(args.seeds)):
        order = ("a", "b") if k % 2 == 0 else ("b", "a")
        res = {s: _run(sides[s], args.workload, seed, args.seconds)
               for s in order}
        pairs.append({"seed": seed, "first": order[0], **res})
        row = "  ".join(f"{m}={_value(res['a'], m):.4g}/{_value(res['b'], m):.4g}"
                        for m in better)
        print(f"seed {seed} ({order[0]} first) a/b: {row}", flush=True)

    print(f"\n{args.workload}: {len(pairs)} pairs, a={sides['a']} b={sides['b']}")
    for m, how in better.items():
        va = [_value(p["a"], m) for p in pairs]
        vb = [_value(p["b"], m) for p in pairs]
        if None in va or None in vb:
            continue
        wins = sum((b < a) if how == "lower" else (b > a)
                   for a, b in zip(va, vb))
        qa, qb = _quartiles(va), _quartiles(vb)
        print(f"  {m:22s} a median {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]  "
              f"b median {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]  "
              f"b wins {wins}/{len(va)}  |gap| {abs(qb[1] - qa[1]):.4g} "
              f"vs a IQR {qa[2] - qa[0]:.4g}")
    for p in pairs:
        da, db = _digest(sides["a"], p["seed"]), _digest(sides["b"], p["seed"])
        state = ("missing" if da is None or db is None
                 else "identical" if da == db else "DIFFERENT")
        print(f"  digest seed {p['seed']}: {state}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump(pairs, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
