"""Spans, streaming progress and memory readings for the benchmark.

Spans are kept in memory and written out when the run ends. With
tracing off the tracer records nothing, so the end-to-end run pays only
for a no-op context manager.
"""

from __future__ import annotations

import contextlib
import json
import os
import resource
import time


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.extra: dict = {}
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start_ns": time.perf_counter_ns(),
            "end_ns": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end_ns"] = time.perf_counter_ns()

    def self_seconds(self, name: str) -> float:
        """Total self time of every span called ``name``: each span's
        duration minus the part of it its direct children cover."""
        children: dict[int, int] = {}
        for s in self.spans:
            if s["parent"] is not None:
                d = s["end_ns"] - s["start_ns"]
                children[s["parent"]] = children.get(s["parent"], 0) + d
        return sum(
            s["end_ns"] - s["start_ns"] - children.get(s["id"], 0)
            for s in self.spans
            if s["name"] == name
        ) / 1e9

    def write(self, path: str) -> None:
        """Spans plus whatever the run put in ``extra``."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **self.extra}, fh)


class ProgressLog:
    """Every ``StreamingQueryProgress`` of a query, by batch id.

    ``recentProgress`` holds only the last 100 records, so it is merged
    on every poll while the query runs; a poll every few hundred
    milliseconds sees each batch many times before it falls out."""

    def __init__(self) -> None:
        self.by_batch: dict[tuple[str, int], dict] = {}

    def poll(self, query) -> None:
        for p in query.recentProgress:
            self.by_batch[(p["runId"], p["batchId"])] = p

    def records(self) -> list[dict]:
        """Records of every query polled, by start time then batch."""
        return sorted(self.by_batch.values(), key=lambda p: (p["timestamp"], p["batchId"]))


def cpu_busy_s() -> float:
    """CPU seconds this machine has spent busy since boot: user, nice,
    system, irq and softirq time of every core. Idle, I/O wait and steal
    (time the host gave the core to another machine) are left out."""
    with open("/proc/stat") as fh:
        t = [int(x) for x in fh.readline().split()[1:8]]
    return (t[0] + t[1] + t[2] + t[5] + t[6]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0
