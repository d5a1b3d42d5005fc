"""Spans recorded around the benchmark's calls into each layer, and the
Spark event-log reader for the traced run.

Spans carry name, start, end (epoch seconds), parent and run id. They
live in memory and are written to the run's sidecar file at the end.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = rec["start"] + (time.perf_counter() - t0)
            self._stack.pop()

    def dur(self, name: str) -> float:
        """Duration of the last span with this name."""
        rec = next(s for s in reversed(self.spans) if s["name"] == name)
        return rec["end"] - rec["start"]

    def window(self, name: str) -> tuple[float, float]:
        rec = next(s for s in reversed(self.spans) if s["name"] == name)
        return rec["start"], rec["end"]


def read_event_log(log_dir: str) -> dict:
    """Jobs (submission time) and finished tasks of every application
    logged under log_dir (uncompressed, non-rolling logs)."""
    jobs, tasks = [], []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' in line:
                    e = json.loads(line)
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    tasks.append({
                        "stage": (path, e["Stage ID"]),
                        "launch": info["Launch Time"] / 1e3,
                        "finish": info["Finish Time"] / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_write": m.get("Shuffle Write Metrics", {})
                        .get("Shuffle Bytes Written", 0),
                        "shuffle_read": sr.get("Local Bytes Read", 0)
                        + sr.get("Remote Bytes Read", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
                elif '"SparkListenerJobStart"' in line:
                    jobs.append(json.loads(line)["Submission Time"] / 1e3)
    return {"jobs": jobs, "tasks": tasks}


def in_window(log: dict, start: float, end: float) -> dict:
    # event-log times are whole milliseconds
    lo, hi = start - 1e-3, end + 1e-3
    return {"jobs": [j for j in log["jobs"] if lo <= j <= hi],
            "tasks": [t for t in log["tasks"]
                      if t["launch"] >= lo and t["finish"] <= hi]}


def spark_totals(win: dict) -> dict:
    mb = 1 << 20
    ts = win["tasks"]
    return {
        "jobs": len(win["jobs"]),
        "tasks": len(ts),
        "executor_cpu_s": sum(t["cpu_s"] for t in ts),
        "gc_s": sum(t["gc_s"] for t in ts),
        "shuffle_write_mb": sum(t["shuffle_write"] for t in ts) / mb,
        "shuffle_read_mb": sum(t["shuffle_read"] for t in ts) / mb,
        "spill_mb": sum(t["spill"] for t in ts) / mb,
    }


def busiest_stage(win: dict) -> dict:
    """Task count and duration spread of the stage with the most summed
    task time in the window (the decode stage of an extract plan)."""
    by_stage: dict = {}
    for t in win["tasks"]:
        by_stage.setdefault(t["stage"], []).append(t["finish"] - t["launch"])
    durs = max(by_stage.values(), key=sum)
    p50 = statistics.median(durs)
    return {"tasks": len(durs), "task_p50_ms": p50 * 1e3,
            "task_max_ms": max(durs) * 1e3,
            "skew": max(durs) / max(p50, 1e-3)}
