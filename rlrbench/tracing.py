"""Tracing for the traced run: spans kept in memory, a Catalog that spans
its reads and writes, and a reader for Spark's local event log.

Nothing here reaches inside ``rlr_spark``. Spans wrap the public calls the
benchmark itself makes; Spark jobs and tasks are attributed to a span or a
stage window by their submission and launch times, which is sound because
the benchmark drives one operation at a time from a single thread.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from rlr_spark.catalog import Catalog


class Tracer:
    """Records ``(name, start, end, parent)`` spans when enabled; a no-op
    otherwise, so the untraced run pays nothing for the call sites."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def within(self, name: str, t0: float, t1: float) -> list[dict]:
        """Closed spans called ``name`` that started inside ``[t0, t1)``."""
        return [
            s for s in self.spans
            if s["name"] == name and "end" in s and t0 <= s["start"] < t1
        ]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class TracedCatalog(Catalog):
    """A Catalog whose ``write`` and ``read`` calls are spans. The pipeline
    takes its catalog as an argument, so no monkeypatching is needed."""

    def __init__(self, spark, root: str, tracer: Tracer) -> None:
        super().__init__(spark, root)
        self.tracer = tracer

    def write(self, df, name, mode="overwrite", partition_by=None):
        with self.tracer.span("catalog.write"):
            return super().write(df, name, mode=mode, partition_by=partition_by)

    def read(self, name):
        with self.tracer.span("catalog.read"):
            return super().read(name)


def make_catalog(spark, root: str, tracer: Tracer) -> Catalog:
    return TracedCatalog(spark, root, tracer) if tracer.enabled else Catalog(spark, root)


class EventLog:
    """Job submissions and finished tasks from one application's event log
    (JSON lines, uncompressed). Times are epoch milliseconds."""

    def __init__(self, log_dir: str) -> None:
        files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.job_submits: list[int] = []
        self.tasks: list[dict] = []
        with open(os.path.join(log_dir, files[0])) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    self.job_submits.append(ev["Submission Time"])
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    self.tasks.append({
                        "launch": info["Launch Time"],
                        "wall_ms": info["Finish Time"] - info["Launch Time"],
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                    })

    def jobs_in(self, t0: float, t1: float) -> int:
        lo, hi = t0 * 1000, t1 * 1000
        return sum(1 for s in self.job_submits if lo <= s < hi)

    def window_stats(self, t0: float, t1: float, cores: int) -> dict:
        """Jobs submitted and tasks launched inside ``[t0, t1)`` (epoch s)."""
        lo, hi = t0 * 1000, t1 * 1000
        tasks = [t for t in self.tasks if lo <= t["launch"] < hi]
        walls = [t["wall_ms"] for t in tasks]
        busy_s = sum(walls) / 1000
        span_s = max(t1 - t0, 1e-9)
        return {
            "jobs": self.jobs_in(t0, t1),
            "task_busy_s": busy_s,
            "idle_share": 1 - busy_s / (span_s * cores),
            "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 1e6,
            "spill_mb": sum(t["spill"] for t in tasks) / 1e6,
            "task_skew": max(walls) / max(statistics.median(walls), 1) if walls else 0.0,
        }
