"""Spans recorded around the calls into each layer, and Spark stages
assigned to them from the event log.

A span is (name, start, end, parent); spans stay in memory until the run
ends. Stages come from the session's event log after it is closed. Each
stage belongs to the span its submission falls in; a stage that writes
shuffle is the map side of its span, one that only reads shuffle is the
reduce side. Span time with no stage running is driver time.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager


class Spans:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(name)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def get(self, name: str) -> dict | None:
        return next((s for s in self.spans if s["name"] == name), None)


def load_stages(event_dir: str) -> list[dict]:
    """Completed stages with their tasks' summed metrics (times in s)."""
    stages: dict[tuple, dict] = {}
    tasks: dict[tuple, list] = {}
    for path in glob.glob(f"{event_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Completion Time" in info and "Submission Time" in info:
                        key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                        stages[key] = {"start": info["Submission Time"] / 1e3,
                                       "end": info["Completion Time"] / 1e3}
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                    tasks.setdefault(key, []).append(ev)
    out = []
    for key, st in stages.items():
        ts = tasks.get(key, [])
        agg = {"write_bytes": 0, "write_records": 0, "read_records": 0,
               "spill_bytes": 0, "task_s": 0.0, "retries": 0, "durations": []}
        for ev in ts:
            ti = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics", {})
            sr = m.get("Shuffle Read Metrics", {})
            agg["write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            agg["write_records"] += sw.get("Shuffle Records Written", 0)
            agg["read_records"] += sr.get("Total Records Read", 0)
            agg["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            dur = (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1e3
            agg["durations"].append(dur)
            agg["task_s"] += dur
            if ti.get("Attempt", 0) > 0 or ti.get("Failed", False):
                agg["retries"] += 1
        st.update(agg)
        out.append(st)
    return sorted(out, key=lambda s: s["start"])


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def in_span(stages: list[dict], span: dict | None) -> list[dict]:
    if span is None:
        return []
    return [s for s in stages if span["start"] <= s["start"] < span["end"]]


def busy_s(stages: list[dict], span: dict | None) -> float:
    """Wall time inside ``span`` with at least one of ``stages`` running."""
    if span is None:
        return 0.0
    return _union([(max(s["start"], span["start"]), min(s["end"], span["end"]))
                   for s in stages if s["end"] > span["start"] and s["start"] < span["end"]])


def map_side(stages: list[dict]) -> list[dict]:
    return [s for s in stages if s["write_records"] > 0]


def reduce_side(stages: list[dict]) -> list[dict]:
    return [s for s in stages if s["write_records"] == 0 and s["read_records"] > 0]


def tail_ratio(stages: list[dict]) -> float:
    """max / median task time in the slowest reduce-side stage."""
    red = reduce_side(stages)
    if not red:
        return 0.0
    slow = max(red, key=lambda s: s["end"] - s["start"])
    med = statistics.median(slow["durations"])
    return max(slow["durations"]) / med if med > 0 else 0.0


def duration(span: dict | None) -> float:
    return span["end"] - span["start"] if span else 0.0
