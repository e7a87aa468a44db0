"""Benchmark-side tracing: spans and counts kept in memory and dumped
as JSON when the run ends, plus the parse of Spark's event log.

Spans are recorded only around calls into the engine's public
functions (the engine itself carries no tracing). Each span records its
layer name, start, end, parent span and trace id (``<table>:<batch>``).
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Thread-safe in-memory span and count recorder. ``enabled=False``
    turns every call into a no-op, so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, list[tuple[str, float]]] = defaultdict(list)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, trace_id: str = ""):
        if not self.enabled:
            yield
            return
        parent = getattr(self._local, "current", None)
        rec = {"name": name, "trace": trace_id, "parent": parent["id"] if parent else None,
               "start": time.time()}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        self._local.current = rec
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._local.current = parent

    def add_span(self, name: str, start: float, end: float, trace_id: str = "") -> None:
        """Record a span measured elsewhere (e.g. a streaming trigger
        from the query's progress report)."""
        if self.enabled:
            with self._lock:
                self.spans.append({"id": len(self.spans), "name": name, "trace": trace_id,
                                   "parent": None, "start": start, "end": end})

    def count(self, name: str, value: float, trace_id: str = "") -> None:
        if self.enabled:
            with self._lock:
                self.counts[name].append((trace_id, value))

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts, **extra}, f)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def spark_event_metrics(event_dir: str, start: float, end: float) -> dict:
    """Per-layer Spark totals from the event log, over jobs submitted in
    ``[start, end]`` (epoch seconds). Jobs whose description starts with
    ``trace:`` belong to the tracer and are reported separately under
    ``by_layer``; the totals cover the engine's own jobs only."""
    # Spark writes rolling logs: eventlog_v2_<app>/events_<n>_<app>
    logs = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(event_dir) for f in fs if f.startswith("events_")
    )
    stage_job: dict[int, tuple[int, str]] = {}
    jobs: dict[int, str] = {}
    tasks = []
    for log in logs:
        with open(log) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev["Submission Time"] / 1000.0
                    if not start <= t <= end:
                        continue
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    layer = desc.split(":")[1] if desc.startswith("trace:") else "engine"
                    jobs[ev["Job ID"]] = layer
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, (ev["Job ID"], layer))
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    by_layer: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for layer in jobs.values():
        by_layer[layer]["jobs"] += 1
    for ev in tasks:
        owner = stage_job.get(ev["Stage ID"])
        if owner is None:
            continue
        m = ev.get("Task Metrics") or {}
        agg = by_layer[owner[1]]
        agg["tasks"] += 1
        agg["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        agg["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        agg["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        agg["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        agg["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return {k: dict(v) for k, v in by_layer.items()}
