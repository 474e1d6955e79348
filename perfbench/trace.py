"""Spans around the benchmark's calls into each layer, their self
times, and the Spark task metrics of the jobs each span ran.

A span records name, start, end, parent and iteration id. Spans stay
in memory until the run ends. While a span is open its name is the
Spark job group, so the event log (enabled in traced runs only) ties
every task to the innermost span that launched it.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    iteration: int
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """Collects spans. ``sc`` (a SparkContext) is optional: without it
    spans still time, they just tag no Spark jobs."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.iteration = -1

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, parent, self.iteration, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1].name if self._stack else None)

    def current(self) -> str | None:
        return self._stack[-1].name if self._stack else None

    def count(self, key: str, n: float) -> None:
        """Add ``n`` to ``key`` on the innermost open span."""
        c = self._stack[-1].counts
        c[key] = c.get(key, 0) + n

    def max(self, key: str, n: float) -> None:
        """Raise ``key`` on the innermost open span to at least ``n``."""
        c = self._stack[-1].counts
        c[key] = max(c.get(key, n), n)

    def _set_group(self, name: str | None) -> None:
        if self.sc is None:
            return
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(name, name)

    def write(self, path: Path) -> None:
        rows = [
            {"id": s.sid, "name": s.name, "parent": s.parent, "iteration": s.iteration,
             "start": s.start, "end": s.end, "counts": s.counts}
            for s in self.spans
        ]
        path.write_text("\n".join(json.dumps(r) for r in rows) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval covered by
    its children (children of one span never overlap: the tracer is
    single-threaded, so they nest or follow each other)."""
    covered: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            covered[s.parent] += s.end - s.start
    return {s.sid: (s.end - s.start) - covered[s.sid] for s in spans}


def self_time_by_name(spans: list[Span], iteration: int | None = None) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if iteration is None or s.iteration == iteration:
            out[s.name] += st[s.sid]
    return dict(out)


def counts_by_name(spans: list[Span]) -> dict[str, dict]:
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        for k, v in s.counts.items():
            out[s.name][k] += v
    return out


def task_metrics(event_log_dir: Path) -> dict[str, dict]:
    """Job group -> shuffle_write_bytes, spill_bytes, gc_s, run_s and
    task_skew (max ÷ median task run time) from Spark event logs."""
    stage_group: dict[int, str] = {}
    tasks: dict[str, list] = defaultdict(list)
    for log in sorted(Path(event_log_dir).rglob("*")):
        if not log.is_file() or log.name.startswith((".", "appstatus")):
            continue
        with log.open() as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for st in ev.get("Stage IDs", []):
                            stage_group[st] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group and m:
                        tasks[group].append(m)
    out = {}
    for group, ms in tasks.items():
        run = [m.get("Executor Run Time", 0) / 1000 for m in ms]
        med = statistics.median(run)
        out[group] = {
            "tasks": len(ms),
            "run_s": sum(run),
            "gc_s": sum(m.get("JVM GC Time", 0) for m in ms) / 1000,
            "shuffle_write_bytes": sum(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) for m in ms
            ),
            "spill_bytes": sum(m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0) for m in ms),
            "task_skew": max(run) / med if med > 0 else 1.0,
        }
    return out
