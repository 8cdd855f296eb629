"""Spans around the benchmark's calls into each layer, and the Spark
event-log summary per span.

A span records (id, name, start, end, parent, run id). Spans stay in memory
and are written out as JSON lines when the run ends. A span opened with
``jobs=True`` also tags the Spark jobs it starts with its own job group, so
the event log attributes jobs, stages, tasks, executor time, GC time and
shuffle bytes to it. With tracing off every call is a no-op.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, sc, run_id: str, enabled: bool) -> None:
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._next = 0
        self._stack: list[int] = []
        self._groups: list[str] = []

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        """Time the block as a child of the innermost open span. Yields the
        span's job-group id when ``jobs`` is set, else None."""
        if not self.enabled:
            yield None
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        group = f"{self.run_id}/{sid}" if jobs else None
        if group:
            self.sc.setJobGroup(group, name)
            self._groups.append(group)
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield group
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if group:
                # jobs after the span belong to the enclosing tagged span
                self._groups.pop()
                self.sc.setJobGroup(
                    self._groups[-1] if self._groups
                    else f"{self.run_id}/untagged", "")
            self.spans.append({"id": sid, "name": name, "start": start,
                               "end": end, "parent": parent,
                               "run_id": self.run_id, "job_group": group})

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s) + "\n")


def job_group_stats(event_log_dir: Path) -> dict[str, dict[str, float]]:
    """Per job group: jobs, completed stages, tasks, executor run time (ms),
    JVM GC time (ms) and shuffle bytes written, from finished event logs."""
    stats: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(("jobs", "stages", "tasks", "busy_ms", "gc_ms",
                               "shuffle_write_bytes"), 0.0))
    stage_group: dict[int, str] = {}
    for f in sorted(event_log_dir.rglob("*")):
        if (not f.is_file() or f.name.startswith((".", "appstatus"))
                or f.name.endswith(".inprogress")):
            continue
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    if group is None:
                        continue
                    stats[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group is not None:
                        stats[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    s = stats[group]
                    s["tasks"] += 1
                    s["busy_ms"] += m.get("Executor Run Time", 0)
                    s["gc_ms"] += m.get("JVM GC Time", 0)
                    s["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
    return dict(stats)
