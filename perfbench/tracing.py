"""Spans recorded by the benchmark around its calls into the program,
and a reader for Spark's event log.

Spans stay in memory and are written once, when the run ends. With
tracing off a Tracer still times its spans (the end-to-end metrics are
built from them) but keeps no records.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans of one run. Each span records its name, start, end, the
    index of the span open around it (parent) and the run id."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Time the block; yields a dict whose "s" is set to the elapsed
        seconds when the block exits."""
        rec = {"name": name, "run": self.run_id}
        if self.enabled:
            rec["id"] = len(self.spans)
            rec["parent"] = self._stack[-1] if self._stack else None
            self._stack.append(rec["id"])
            self.spans.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["s"]
            if self.enabled:
                self._stack.pop()


def _group_totals() -> dict:
    return {
        "tasks": 0,
        "cpu_ns": 0,
        "gc_ms": 0,
        "shuffle_bytes": 0,
        "spill_bytes": 0,
    }


def event_log_totals(log_dir: str) -> dict[str, dict]:
    """Task metrics summed per job group from an uncompressed event log
    written to log_dir (spark.eventLog.dir)."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict] = defaultdict(_group_totals)
    # Spark writes one directory per application with numbered
    # events_<n>_<app> files when the log rolls
    paths = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group or ""
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    t = totals[stage_group.get(ev.get("Stage ID"), "")]
                    t["tasks"] += 1
                    t["cpu_ns"] += m.get("Executor CPU Time", 0)
                    t["gc_ms"] += m.get("JVM GC Time", 0)
                    t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return dict(totals)
