"""Spans around the benchmark's own calls, and Spark task metrics folded per span.

A :class:`Tracer` keeps spans in memory: name, start, end, parent span and
a shared run id (one per replay, tick or leaf pass). While tracing is on,
entering a span also sets the Spark job group to the span's id, so the jobs
a call launches can be found again in the session's event log after the
session stops. With tracing off a span only times its body.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _set_group(self, sid: int | None) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"pb{sid}", self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str, run: str | None = None):
        """Time the body. Yields a dict whose ``dur`` is set on exit."""
        rec = {"name": name, "start": time.time(), "end": None, "dur": None}
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            rec.update(
                id=len(self.spans),
                parent=parent,
                run=run if run is not None else (self.spans[parent]["run"] if parent is not None else None),
            )
            self.spans.append(rec)
            self._stack.append(rec["id"])
            self._set_group(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            if self.enabled:
                self._stack.pop()
                self._set_group(self._stack[-1] if self._stack else None)

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def subtree(self, sid: int) -> set[int]:
        out = {sid}
        for s in self.spans[sid + 1 :]:
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def self_time(self, sid: int) -> float:
        span = self.spans[sid]
        covered = _union([(c["start"], c["end"]) for c in self.children(sid)], span["start"], span["end"])
        return span["dur"] - covered

    def self_time_table(self) -> list[tuple[str, int, float, float]]:
        """(name, count, total seconds, self seconds) per span name."""
        agg: dict[str, list[float]] = defaultdict(lambda: [0, 0.0, 0.0])
        for s in self.spans:
            a = agg[s["name"]]
            a[0] += 1
            a[1] += s["dur"]
            a[2] += self.self_time(s["id"])
        return [(n, int(a[0]), a[1], a[2]) for n, a in agg.items()]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class EventLog:
    """Jobs and task metrics of one session's event log, keyed by job group."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stage_group: dict[int, str | None] = {}
        self.tasks: dict[str | None, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
            if not os.path.isfile(path):
                continue
            with open(path) as fh:
                for line in fh:
                    self._add(json.loads(line))

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            self.jobs[ev["Job ID"]] = {"group": group, "start": ev["Submission Time"] / 1000.0, "end": None}
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in self.jobs:
                self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            self.stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            t = self.tasks[self.stage_group.get(ev["Stage ID"])]
            t["tasks"] += 1
            t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            t["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
            t["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20

    def fold(self, tracer: Tracer, sid: int) -> dict[str, float]:
        """Jobs, tasks, CPU, GC, spill and shuffle bytes of a span and its
        descendants, plus its driver gap: the span's wall time not covered
        by any of its jobs."""
        groups = {f"pb{i}" for i in tracer.subtree(sid)}
        span = tracer.spans[sid]
        jobs = [j for j in self.jobs.values() if j["group"] in groups and j["end"] is not None]
        out: dict[str, float] = defaultdict(float)
        for g in groups:
            for k, v in self.tasks.get(g, {}).items():
                out[k] += v
        out["jobs"] = len(jobs)
        covered = _union([(j["start"], j["end"]) for j in jobs], span["start"], span["end"])
        out["driver_gap_s"] = max(span["dur"] - covered, 0.0)
        for k in ("tasks", "cpu_s", "gc_s", "spill_mb", "shuffle_write_mb"):
            out.setdefault(k, 0.0)
        return dict(out)
