"""Spans recorded by the benchmark around its calls into each layer, and the
Spark event-log reader that attributes jobs, stages and tasks to them.

A span is ``(id, name, start, end, parent, request)`` plus free-form
attributes; the layer is the first dot-separated part of the name
(``stream.trigger`` -> ``stream``).  Driver spans live in memory on a
:class:`Tracer`; executor processes write theirs to side files (see
``backend_probe``) that :meth:`Tracer.merge_side_files` folds in at the
end.  Nothing here reaches into the package: every span is opened and
closed in the benchmark's own code.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float
    parent: str | None = None
    request: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {
            "id": self.id, "name": self.name, "start": self.start,
            "end": self.end, "parent": self.parent,
            "request": self.request, "attrs": self.attrs,
        }

    @classmethod
    def from_json(cls, d: dict) -> "Span":
        return cls(
            d["id"], d["name"], d["start"], d["end"], d.get("parent"),
            d.get("request", ""), d.get("attrs", {}),
        )


class Tracer:
    """In-memory span store.  Thread-safe: ``foreachBatch`` callbacks run
    on a py4j callback thread, not the thread that started the query."""

    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def new_id(self) -> str:
        with self._lock:
            return f"d{next(self._ids)}"

    def add(self, name: str, start: float, end: float, parent=None,
            request: str = "", span_id: str | None = None, **attrs) -> Span:
        s = Span(span_id or self.new_id(), name, start, end, parent,
                 request, attrs)
        with self._lock:
            self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, parent=None, request: str = "", **attrs):
        """Time the body; yields the span id so children can name it."""
        sid = self.new_id()
        start = time.time()
        try:
            yield sid
        finally:
            self.add(name, start, time.time(), parent, request, sid, **attrs)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def merge_side_files(self, side_dir: str) -> None:
        for path in sorted(glob.glob(os.path.join(side_dir, "*.jsonl"))):
            with open(path) as f:
                for line in f:
                    if line.strip():
                        self.spans.append(Span.from_json(json.loads(line)))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(s.to_json()) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    """Seconds each layer spent outside its child spans: a span's duration
    minus the part of its interval that its children cover (children may
    overlap each other, e.g. four executor tasks appending at once)."""
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = _union_length([
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, [])
            if c.end > s.start and c.start < s.end
        ])
        out[s.layer] = out.get(s.layer, 0.0) + max(0.0, s.duration - covered)
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class TaskRecord:
    stage: int
    launch_ms: int
    run_ms: int
    cpu_ns: int
    shuffle_read: int
    shuffle_write: int
    spill: int


@dataclass
class SparkLog:
    """Jobs, stages and tasks parsed from one application's event log."""

    job_submit_ms: dict[int, int] = field(default_factory=dict)
    job_stages: dict[int, list[int]] = field(default_factory=dict)
    stage_submit_ms: dict[int, int] = field(default_factory=dict)
    tasks: list[TaskRecord] = field(default_factory=list)

    @classmethod
    def read(cls, log_dir: str) -> "SparkLog":
        log = cls()
        paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
                 if os.path.isfile(p)]
        for path in paths:
            with open(path) as f:
                for line in f:
                    log._event(json.loads(line))
        return log

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            self.job_submit_ms[jid] = ev.get("Submission Time", 0)
            self.job_stages[jid] = list(ev.get("Stage IDs", []))
        elif kind in ("SparkListenerStageSubmitted",
                      "SparkListenerStageCompleted"):
            info = ev["Stage Info"]
            if info.get("Submission Time"):
                self.stage_submit_ms.setdefault(
                    info["Stage ID"], info["Submission Time"]
                )
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.append(TaskRecord(
                stage=ev["Stage ID"],
                launch_ms=info.get("Launch Time", 0),
                run_ms=m.get("Executor Run Time", 0),
                cpu_ns=m.get("Executor CPU Time", 0),
                shuffle_read=sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                shuffle_write=sw.get("Shuffle Bytes Written", 0),
                spill=m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
            ))

    def window(self, windows: list[tuple[float, float]]) -> dict:
        """Totals over the jobs submitted inside any of ``windows``
        (epoch seconds).  The benchmark is a closed loop with one caller,
        so a job submitted inside a span's interval belongs to it."""
        def inside(ms: int) -> bool:
            t = ms / 1000.0
            return any(s <= t <= e for s, e in windows)

        jobs = [j for j, ms in self.job_submit_ms.items() if inside(ms)]
        stages = {s for j in jobs for s in self.job_stages.get(j, [])}
        tasks = [t for t in self.tasks if t.stage in stages]
        ran = {t.stage for t in tasks}
        return {
            "jobs": len(jobs),
            "stages": len(ran),
            "tasks": len(tasks),
            "executor_run_s": sum(t.run_ms for t in tasks) / 1e3,
            "executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
            "task_wait_s": sum(
                max(0, t.launch_ms - self.stage_submit_ms.get(t.stage, t.launch_ms))
                for t in tasks
            ) / 1e3,
            "shuffle_read_bytes": sum(t.shuffle_read for t in tasks),
            "shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
            "spill_bytes": sum(t.spill for t in tasks),
            "stage_tasks": {
                s: sum(1 for t in tasks if t.stage == s) for s in ran
            },
        }
