"""Spans recorded around the benchmark's calls into each layer, and the
Spark event-log reader that attributes task metrics to those spans.

Spans stay in memory until :meth:`Tracer.dump`.  Each span sets the Spark
job group to its own id while open, so every job the layer call starts is
tagged in the event log and its tasks can be summed per span.
"""

from __future__ import annotations

import json
import pathlib
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(f"span-{len(self.spans)}", name, parent, time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.span_id, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    self.sc.setJobGroup(self._stack[-1].span_id, self._stack[-1].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_seconds(self, span: Span) -> float:
        """Duration minus the part covered by direct child spans."""
        kids = [s for s in self.spans if s.parent == span.span_id]
        return span.seconds - sum(k.seconds for k in kids)

    def dump(self, path: pathlib.Path, stats: dict[str, "TaskStats"]) -> None:
        """Write the spans, with the task metrics of each span's jobs."""
        path.parent.mkdir(parents=True, exist_ok=True)
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = []
        for s in self.spans:
            ts = stats.get(s.span_id, TaskStats())
            rows.append(
                {
                    "id": s.span_id,
                    "name": s.name,
                    "parent": s.parent,
                    "start_s": round(s.start - t0, 6),
                    "end_s": round(s.end - t0, 6),
                    "self_s": round(self.self_seconds(s), 6),
                    "attrs": s.attrs,
                    "tasks": ts.tasks,
                    "task_s_max": round(max(ts.task_s, default=0.0), 3),
                    "task_s_sum": round(sum(ts.task_s), 3),
                    "shuffle_write_mb": round(ts.shuffle_write_b / 1e6, 3),
                }
            )
        path.write_text(json.dumps(rows, indent=1))


@dataclass
class TaskStats:
    """Task metrics of the jobs one span started."""

    tasks: int = 0
    task_s: list[float] = field(default_factory=list)
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0

    def add(self, other: "TaskStats") -> None:
        self.tasks += other.tasks
        self.task_s += other.task_s
        self.gc_s += other.gc_s
        self.shuffle_write_b += other.shuffle_write_b
        self.shuffle_read_b += other.shuffle_read_b
        self.spill_b += other.spill_b

    @property
    def skew(self) -> float:
        """Max task time over median task time."""
        if not self.task_s:
            return 0.0
        return max(self.task_s) / max(statistics.median(self.task_s), 1e-9)


def read_event_logs(log_dir: pathlib.Path) -> dict[str, TaskStats]:
    """Task metrics per job group (= span id) from every event log file
    in ``log_dir`` (one file per application: rolling logs off).  Jobs
    started outside a span are grouped under ''."""
    stats: dict[str, TaskStats] = {}
    for path in sorted(p for p in log_dir.iterdir() if p.is_file() and not p.name.startswith(".")):
        stage_group: dict[int, str] = {}
        with path.open(encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    one = TaskStats(tasks=1)
                    one.task_s = [(info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000]
                    one.gc_s = m.get("JVM GC Time", 0) / 1000
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    one.shuffle_write_b = sw.get("Shuffle Bytes Written", 0)
                    one.shuffle_read_b = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    one.spill_b = m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    group = stage_group.get(ev.get("Stage ID"), "")
                    stats.setdefault(group, TaskStats()).add(one)
    return stats
