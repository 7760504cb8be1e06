"""Spans around calls into the program's layers, a live Spark job counter,
and a reader for Spark's JSON event log.

A span records its name, start, end and parent, and while it is open it
sets the Spark job group to its own id, so every job launched under it
(on this thread) is attributed to the innermost open span. On exit the
parent's group is restored. Spans stay in memory; the caller reads them
when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import dataclass, field

_GROUP = "spark.jobGroup.id"


def count_jobs(sc, group: str) -> int:
    """Jobs the status tracker knows for one job group."""
    return len(sc.statusTracker().getJobIdsForGroup(group))


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    jobs: int = 0  # jobs launched in this span's own group (children excluded)
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans. A disabled tracer costs one attribute check per call."""

    def __init__(self, sc=None, enabled: bool = True):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.attach(sc, enabled)

    def attach(self, sc, enabled: bool) -> None:
        """Record (or not) the following spans, on context ``sc``."""
        self.sc = sc
        self.enabled = enabled and sc is not None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"bench-{len(self.spans)}", name, parent.sid if parent else None, 0.0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.sid, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.sid, parent.name)
            else:
                self.sc.setLocalProperty(_GROUP, None)
            s.jobs = count_jobs(self.sc, s.sid)

    def wrap(self, fn, name: str):
        """``fn`` with every call inside a span named ``name``."""

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def children(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def subtree_jobs(self) -> dict[str, int]:
        """Jobs per span, children included."""
        kids = self.children()
        memo: dict[str, int] = {}

        def total(s: Span) -> int:
            if s.sid not in memo:
                memo[s.sid] = s.jobs + sum(total(c) for c in kids.get(s.sid, []))
            return memo[s.sid]

        return {s.sid: total(s) for s in self.spans}

    def self_time(self) -> dict[str, float]:
        """Span time minus the time its children cover (children of one
        span run one after another on this thread)."""
        kids = self.children()
        return {s.sid: s.dur - sum(c.dur for c in kids.get(s.sid, [])) for s in self.spans}


@dataclass
class EngineTotals:
    """Event-log totals for a set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_busy_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    intervals: list = field(default_factory=list)  # task (launch, finish), epoch s


@dataclass
class EventLog:
    by_group: dict  # job group (None when lost) -> EngineTotals

    def totals(self, groups=None) -> EngineTotals:
        """Sum over ``groups`` (all groups when None)."""
        out = EngineTotals()
        for g, t in self.by_group.items():
            if groups is not None and g not in groups:
                continue
            for k in ("jobs", "stages", "tasks", "failed_tasks", "task_busy_s", "gc_s",
                      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                      "input_bytes", "output_bytes"):
                setattr(out, k, getattr(out, k) + getattr(t, k))
            out.intervals.extend(t.intervals)
        return out


def read_event_log(log_dir: str, windows=None) -> EventLog:
    """Parse the uncompressed, non-rolling Spark event logs in ``log_dir``
    (one file per application) into totals per job group. With
    ``windows`` (epoch-second ``(start, end)`` pairs), only jobs submitted
    inside a window count, with their stages and tasks."""
    by_group: dict = {}

    def bucket(g):
        if g not in by_group:
            by_group[g] = EngineTotals()
        return by_group[g]

    for name in sorted(os.listdir(log_dir)):
        if name.endswith(".inprogress") or name.startswith("."):
            raise ValueError(f"event log {name} is not complete; stop the session first")
        _read_one(os.path.join(log_dir, name), bucket, windows)
    return EventLog(by_group)


_SKIPPED = object()  # group of a stage whose job was submitted outside every window


def _read_one(path: str, bucket, windows) -> None:
    stage_group: dict = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(_GROUP)
                at = ev.get("Submission Time", 0) / 1000
                if windows is not None and not any(s <= at <= e for s, e in windows):
                    group = _SKIPPED
                else:
                    bucket(group).jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)  # a stage runs in its first job
            elif kind == "SparkListenerStageCompleted":
                group = stage_group.get(ev["Stage Info"]["Stage ID"])
                if group is not _SKIPPED:
                    bucket(group).stages += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is _SKIPPED:
                    continue
                t = bucket(group)
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                t.tasks += 1
                t.failed_tasks += bool(info.get("Failed"))
                launch, finish = info["Launch Time"] / 1000, info["Finish Time"] / 1000
                t.task_busy_s += finish - launch
                t.intervals.append((launch, finish))
                t.gc_s += m.get("JVM GC Time", 0) / 1000
                sr = m.get("Shuffle Read Metrics") or {}
                t.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                t.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                t.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                t.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)


def busy_share(intervals, start: float, end: float) -> float:
    """Share of [start, end] covered by at least one interval."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered / (end - start) if end > start else 0.0


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings for a plain JSON-lines event log (works with the UI off)."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
