"""Spans recorded by the benchmark around its calls into the program,
and Spark task metrics read back from Spark's event log.

A span records its name, start, end and parent. Spans stay in memory
and are written out when the run ends. A span around a Spark action
sets its own job group, so the event log attributes every task to the
span that caused it.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing and
    sets no job group, so untraced runs pay for neither."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.spark = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", sp.group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                outer = self._stack[-1].group if self._stack else None
                sc.setLocalProperty("spark.jobGroup.id", outer)

    def self_time(self, sp: Span) -> float:
        """The span's duration minus the part its children cover."""
        kids = sum(c.end - c.start for c in self.spans if c.parent == sp.id)
        return (sp.end - sp.start) - kids

    def records(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "parent": s.parent, "start": s.start,
                 "end": s.end, "self_s": self.self_time(s), "counts": s.counts}
                for s in self.spans]


@dataclass
class Task:
    stage: tuple[str, int]
    failed: bool
    run_ms: float
    gc_ms: float
    spill: int
    shuffle_write: int
    rows_read: int


def read_event_log(log_dir: Path) -> dict[str, list[Task]]:
    """Tasks of every Spark job, grouped by the job group it ran under.

    A stage belongs to the first job that lists it (later jobs list
    stages they skip). There is one log per SparkContext, and stage ids
    restart with each, so stages are keyed by (log, stage id)."""
    by_group: dict[str, list[Task]] = {}
    for f in sorted(log_dir.iterdir()):
        if f.name.startswith("."):  # checksum files
            continue
        stage_group: dict[int, str] = {}
        for line in f.read_text().splitlines():
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                inp = m.get("Input Metrics") or {}
                reason = (ev.get("Task End Reason") or {}).get("Reason")
                task = Task(
                    stage=(f.name, ev["Stage ID"]),
                    failed=reason != "Success",
                    run_ms=m.get("Executor Run Time", 0),
                    gc_ms=m.get("JVM GC Time", 0),
                    spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    shuffle_write=(m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                    rows_read=sr.get("Total Records Read", 0) + inp.get("Records Read", 0))
                by_group.setdefault(stage_group.get(ev["Stage ID"]), []).append(task)
    return by_group


def stage_skew(tasks: list[Task]) -> float:
    """Run-time-weighted mean over stages (with two or more tasks) of
    max / median task run time; 1.0 when no stage has two tasks."""
    stages: dict = {}
    for t in tasks:
        stages.setdefault(t.stage, []).append(max(t.run_ms, 1.0))
    num = den = 0.0
    for runs in stages.values():
        if len(runs) < 2:
            continue
        num += sum(runs) * max(runs) / statistics.median(runs)
        den += sum(runs)
    return num / den if den else 1.0
