"""Spans recorded from the benchmark's own files around calls into the
program's public functions, and Spark event-log counters attributed to
them. Nothing inside the program is instrumented.

A span records name, start, end, parent and the op it belongs to. While a
span is open, the Spark jobs submitted from this thread carry its name as
their job description, so event-log counters can be attributed to it.
Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark=None):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = spark.sparkContext if spark is not None else None

    @contextmanager
    def span(self, name: str, op: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": parent["id"] if parent else None,
               "start": time.time(), "end": None, "counts": {}}
        self.spans.append(rec)
        self._stack.append(rec)
        if self._sc is not None:
            self._sc.setJobDescription(name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            if self._sc is not None:
                self._sc.setJobDescription(self._stack[-1]["name"] if self._stack else None)

    def find(self, name: str, op: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and (op is None or s["op"] == op)]

    def self_s(self, rec: dict) -> float:
        """Duration minus the part covered by child spans (children run
        sequentially on this thread, so they never overlap)."""
        kids = sum(s["dur"] for s in self.spans if s["parent"] == rec["id"])
        return rec["dur"] - kids


class EventLog:
    """Task and job records from an uncompressed Spark event log."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.tasks: list[dict] = []
        stage_job: dict[int, int] = {}
        # Spark 4 writes a rolling log: a directory of events_<n>_<app> files
        files = sorted((os.path.join(r, f) for r, _, fs in os.walk(log_dir)
                        for f in fs if f.startswith("events_")),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jid = ev["Job ID"]
                        self.jobs[jid] = {
                            "submit_ms": ev.get("Submission Time", 0),
                            "desc": (ev.get("Properties") or {}).get("spark.job.description"),
                        }
                        for sid in ev.get("Stage IDs", ()):
                            stage_job.setdefault(sid, jid)
                    elif kind == "SparkListenerTaskEnd":
                        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                        self.tasks.append({
                            "job": stage_job.get(ev["Stage ID"]),
                            "launch_ms": info["Launch Time"],
                            "finish_ms": info["Finish Time"],
                            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                            "gc_s": m.get("JVM GC Time", 0) / 1e3,
                            "spill_mb": (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0)) / 1e6,
                            "shuffle_write_mb": (m.get("Shuffle Write Metrics") or {})
                            .get("Shuffle Bytes Written", 0) / 1e6,
                        })

    def window(self, start_s: float, end_s: float) -> dict:
        """Counters of the jobs submitted, and tasks launched, inside a
        wall-clock window; ``driver_gap_s`` is the part of the window in
        which no task was running."""
        lo, hi = start_s * 1e3, end_s * 1e3
        jobs = [j for j in self.jobs.values() if lo <= j["submit_ms"] <= hi]
        tasks = [t for t in self.tasks if lo <= t["launch_ms"] <= hi]
        busy, cur_lo, cur_hi = 0.0, None, None
        for t in sorted(tasks, key=lambda t: t["launch_ms"]):
            a, b = max(t["launch_ms"], lo), min(t["finish_ms"], hi)
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            busy += cur_hi - cur_lo
        return {
            "spark_jobs": len(jobs),
            "spark_tasks": len(tasks),
            "driver_gap_s": max(hi - lo - busy, 0.0) / 1e3,
            "executor_cpu_s": sum(t["cpu_s"] for t in tasks),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "spill_mb": sum(t["spill_mb"] for t in tasks),
        }

    def by_description(self, desc: str) -> list[dict]:
        jids = {jid for jid, j in self.jobs.items() if j["desc"] == desc}
        return [t for t in self.tasks if t["job"] in jids]
