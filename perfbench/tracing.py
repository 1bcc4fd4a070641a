"""Spans, Spark event-log rollup and the statistics built on them.

Spans are recorded by the benchmark around its own calls into each
layer and kept in memory; Spark's jobs come from its event log and are
attached to the span whose id was the job group when they started.
Everything here is plain Python over lists and dicts, so the tests in
``perfbench/tests`` run without Spark.
"""

from __future__ import annotations

import json
import statistics
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    call_id: int | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder. When ``on`` is false, :meth:`span` records
    nothing. ``on_enter`` is called with the span that is current after
    each entry and exit, ``None`` when the outermost span ends (the
    benchmark uses it to set the Spark job group)."""

    on: bool = False
    on_enter: Callable[[Span | None], None] | None = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, layer: str, call_id: int | None = None):
        if not self.on:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, time.time(),
                 parent=parent.id if parent else None,
                 call_id=call_id if call_id is not None else (parent.call_id if parent else None))
        self.spans.append(s)
        self._stack.append(s)
        if self.on_enter:
            self.on_enter(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.on_enter:
                self.on_enter(parent)

    def dump(self, path: Path, jobs: list[dict] = ()) -> None:
        """Write the spans, then the Spark jobs, one JSON object a line."""
        path.write_text("\n".join(json.dumps(r) for r in [*map(vars, self.spans), *jobs]) + "\n")


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = [(max(s, start), min(e, end)) for s, e in intervals]
    return union_length([(s, e) for s, e in clipped if e > s])


def self_times(spans: list[Span], jobs: list[dict] = ()) -> dict[int, float]:
    """Self time per span id: its duration minus the part of it that its
    child spans (and the Spark jobs started under it) cover."""
    children: dict[int, list[tuple[float, float]]] = {s.id: [] for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in children:
            children[s.parent].append((s.start, s.end))
    for j in jobs:
        if j.get("span") in children:
            children[j["span"]].append((j["start"], j["end"]))
    return {s.id: s.duration - covered(s.start, s.end, children[s.id]) for s in spans}


def per_call_median_total(samples: dict[str, list[float]]) -> float:
    """Sum over calls of each call's median over passes: the statistic
    behind ``warm_pass_s``, steadier than any single pass's total."""
    return sum(statistics.median(v) for v in samples.values() if v)


_TASK_SUMS = {
    "run_s": lambda m: m.get("Executor Run Time", 0) / 1e3,
    "cpu_s": lambda m: m.get("Executor CPU Time", 0) / 1e9,
    "gc_s": lambda m: m.get("JVM GC Time", 0) / 1e3,
    "spill_mb": lambda m: (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6,
    # rows, not bytes: local-filesystem byte counters miss most of a
    # vectorized parquet read
    "scan_mrows": lambda m: m.get("Input Metrics", {}).get("Records Read", 0) / 1e6,
    "shuffle_write_mb": lambda m: m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6,
    "shuffle_read_mb": lambda m: sum(
        m.get("Shuffle Read Metrics", {}).get(k, 0) for k in ("Remote Bytes Read", "Local Bytes Read")
    ) / 1e6,
}

#: SQL metrics of the Python exec nodes (Arrow/pandas UDFs, UDTFs).
_PYTHON_ACCUMS = {
    "data sent to Python workers": "python_mb_sent",
    "data returned from Python workers": "python_mb_received",
}


def rollup_eventlog(lines) -> list[dict]:
    """One dict per Spark job from event-log JSON lines: its group, its
    start/end in epoch seconds, and the stage, task and metric totals of
    the stages that ran for it (skipped stages contribute nothing)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = {
                "job": ev["Job ID"],
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1e3,
                "end": ev["Submission Time"] / 1e3,
                "stages": 0, "tasks": 0,
                **{k: 0.0 for k in _TASK_SUMS},
                **{k: 0.0 for k in _PYTHON_ACCUMS.values()},
            }
            jobs[ev["Job ID"]] = job
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
            if job:
                job["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"]))
            if not job:
                continue
            job["tasks"] += 1
            metrics = ev.get("Task Metrics") or {}
            for k, f in _TASK_SUMS.items():
                job[k] += f(metrics)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = _PYTHON_ACCUMS.get(acc.get("Name"))
                if key:
                    job[key] += float(acc.get("Update", 0)) / 1e6
    return sorted(jobs.values(), key=lambda j: j["job"])


def read_eventlog(log_dir: Path) -> list[dict]:
    """Roll up every event-log file Spark wrote under ``log_dir``."""
    jobs = []
    for f in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with f.open() as fh:
            jobs.extend(rollup_eventlog(fh))
    return jobs
