"""Spans timed from outside the program, and Spark's own per-task
counters for each span, read back from the event log.

A span has a name, a start, an end and a parent. While a span is open
its name is the Spark job description, so every job the span starts can
be attributed to it in the event log. Spans stay in memory until the
run ends.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.perf_counter(), parent=self._stack[-1].name if self._stack else None)
        self._stack.append(s)
        self.sc.setJobDescription(name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(self._stack[-1].name if self._stack else None)
            self.spans.append(s)

    def self_seconds(self, span: Span) -> float:
        """The span's duration minus the part its child spans cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == span.name)
        covered, edge = 0.0, span.start
        for a, b in kids:
            a, b = max(a, edge), min(b, span.end)
            if b > a:
                covered += b - a
                edge = b
        return span.seconds - covered

    def dump(self, path: Path) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        path.write_text(json.dumps([
            {"name": s.name, "parent": s.parent, "start_s": s.start - t0, "end_s": s.end - t0,
             "self_s": self.self_seconds(s)} for s in self.spans], indent=1))


#: task-metric counters reported per span
COUNTERS = ("tasks", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "python_s", "slot_idle_share")


def _python_ms(task_info: dict) -> float:
    """Python-worker time of one task: the SQL metric Spark's Arrow and
    pandas Python nodes report in ms."""
    return sum(float(a.get("Update") or 0) for a in task_info.get("Accumulables", [])
               if a.get("Name") == "time to run Python workers")


def span_counters(log_dir: Path, spans: list[Span], slots: int) -> dict[str, dict[str, float]]:
    """Sum Spark's task metrics over the jobs each span started."""
    logs = [p for p in log_dir.iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(logs)}")
    stage_span: dict[int, str] = {}
    acc: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS[:-1], 0.0))
    run_ms: dict[str, float] = defaultdict(float)
    with logs[0].open() as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                if desc:
                    for sid in ev.get("Stage IDs", []):
                        stage_span[sid] = desc
            elif kind == "SparkListenerTaskEnd":
                name = stage_span.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if name is None or not m:
                    continue
                a = acc[name]
                a["tasks"] += 1
                a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                a["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                a["python_s"] += _python_ms(ev.get("Task Info", {})) / 1e3
                run_ms[name] += m.get("Executor Run Time", 0)
    out = {}
    for s in spans:
        a = dict(acc.get(s.name) or dict.fromkeys(COUNTERS[:-1], 0.0))
        busy = run_ms.get(s.name, 0.0) / 1e3
        a["slot_idle_share"] = 1.0 - busy / (s.seconds * slots) if s.seconds > 0 else 0.0
        out[s.name] = a
    return out
