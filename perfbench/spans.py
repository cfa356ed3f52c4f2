"""Tracing for the benchmark's traced run, plus the small statistics
helpers both kinds of run share.

Spans are recorded around calls into the program's public functions by
patching them from outside (``Tracer.wrap``); nothing inside
``webcrawler_spark`` changes. Each wrapper also sets the Spark job
group of its own thread, so the jobs in the Spark event log can be
attributed back to the innermost span that submitted them
(``attribute_jobs``). Spans live in memory until the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import math
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

JOB_GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "span-"


# ---------------------------------------------------------------------------
# statistics helpers
# ---------------------------------------------------------------------------

PERCENTILE_LADDER = (50.0, 90.0, 95.0, 99.0, 99.9, 99.99)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def summarize(values: list[float]) -> dict:
    """Median plus the highest percentile of ``PERCENTILE_LADDER`` that
    still has at least ten samples beyond it, with the sample count.
    ``tail_pct`` is None when no percentile above the median qualifies."""
    if not values:
        return {"n": 0, "p50": None, "tail_pct": None, "tail": None}
    n = len(values)
    tail_pct = None
    for p in PERCENTILE_LADDER[1:]:
        if n - math.ceil(p / 100.0 * n) >= 10:
            tail_pct = p
    return {
        "n": n,
        "p50": statistics.median(values),
        "tail_pct": tail_pct,
        "tail": percentile(values, tail_pct) if tail_pct else None,
    }


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
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


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    thread: str = ""
    parent: Optional[int] = None  # enclosing span in the same thread
    round_span: Optional[int] = None  # enclosing engine.run_round span
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the part of it its children cover.
    Children may overlap one another (concurrent writes on driver
    threads), so the covered part is the union of their intervals,
    clipped to the span."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return span.duration - union_length(clipped)


class Tracer:
    """In-memory span recorder that patches functions from outside.

    ``round_span`` is propagated across threads: a span opened on a
    worker thread while a ``run_round`` span is open anywhere records
    that round, because the engine submits its table writes from a
    thread pool that starts with an empty span stack."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open_round: Optional[int] = None
        self._patched: list[tuple[Any, str, Any]] = []

    # -- recording -----------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, layer: str, fn: Callable, *args,
             _attrs: Optional[dict] = None, **kwargs):
        """Run ``fn`` inside a new span; returns ``fn``'s result.
        ``_attrs`` is stored on the span."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        span = Span(
            id=sid,
            name=name,
            layer=layer,
            start=time.time(),
            thread=threading.current_thread().name,
            parent=parent.id if parent else None,
            round_span=self._open_round,
            attrs=_attrs or {},
        )
        is_round = name == "engine.run_round"
        if is_round:
            self._open_round = sid
            span.round_span = sid
        prev_group = self._set_group(GROUP_PREFIX + str(sid))
        stack.append(span)
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            self._set_group(prev_group)
            if is_round:
                self._open_round = None
            span.end = time.time()
            with self._lock:
                self.spans.append(span)

    def _set_group(self, group: Optional[str]) -> Optional[str]:
        """Set this thread's Spark job group; returns the previous one.
        Local properties are per thread and are not inherited by pool
        threads, so every wrapper sets its own."""
        if self.sc is None:
            return None
        prev = self.sc.getLocalProperty(JOB_GROUP_KEY)
        self.sc.setLocalProperty(JOB_GROUP_KEY, group)
        return prev

    # -- patching ------------------------------------------------------
    def wrap(self, owner: Any, attr: str, name: str, layer: str,
             on_call: Optional[Callable] = None,
             label: Optional[Callable] = None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper. Methods
        patched on a class keep working as methods. ``on_call`` sees
        the arguments of every call (used to capture stage inputs);
        ``label(args, kwargs)`` names the call's subject (a table)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if on_call is not None:
                on_call(args, kwargs)
            attrs = {"caller": sys._getframe(1).f_code.co_name}
            if label is not None:
                attrs["label"] = label(args, kwargs)
            return tracer.call(name, layer, orig, *args, _attrs=attrs,
                               **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- queries -------------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        """Spans started inside ``span``: same-thread descendants plus,
        for a round, every span on any thread that records the round."""
        out = []
        for s in self.spans:
            if s.id == span.id:
                continue
            if s.parent == span.id or (
                span.name == "engine.run_round"
                and s.round_span == span.id
                and s.parent is None
            ):
                out.append(s)
        return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    id: int
    group: Optional[str]
    submit: float  # epoch seconds
    stages: list[int]


@dataclass
class Task:
    stage: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_read_b: int
    shuffle_write_b: int
    spill_b: int
    failed: bool


def read_event_log(lines) -> tuple[list[Job], list[Task], dict[int, Optional[str]]]:
    """Jobs (with their job group), finished tasks, and the job group
    each executed stage was submitted under, from one event log. A job
    lists the stages it reuses from earlier jobs too; only the job that
    ran a stage submits it, so tasks are attributed through stages."""
    jobs: list[Job] = []
    tasks: list[Task] = []
    stage_group: dict[int, Optional[str]] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs.append(
                Job(
                    id=ev["Job ID"],
                    group=props.get(JOB_GROUP_KEY),
                    submit=ev.get("Submission Time", 0) / 1000.0,
                    stages=list(ev.get("Stage IDs", [])),
                )
            )
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            stage_group[ev["Stage Info"]["Stage ID"]] = props.get(JOB_GROUP_KEY)
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append(
                Task(
                    stage=ev["Stage ID"],
                    run_s=m.get("Executor Run Time", 0) / 1000.0,
                    cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                    gc_s=m.get("JVM GC Time", 0) / 1000.0,
                    shuffle_read_b=sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    shuffle_write_b=sw.get("Shuffle Bytes Written", 0),
                    spill_b=m.get("Disk Bytes Spilled", 0),
                    failed=bool(info.get("Failed", False)),
                )
            )
    return jobs, tasks, stage_group


def span_of_group(group: Optional[str]) -> Optional[int]:
    if group and group.startswith(GROUP_PREFIX):
        try:
            return int(group[len(GROUP_PREFIX):])
        except ValueError:
            return None
    return None


def attribute_tasks(
    tasks: list[Task], stage_group: dict[int, Optional[str]], spans: list[Span]
) -> dict[Optional[int], list[Task]]:
    """Tasks keyed by the span whose job group submitted their stage;
    tasks of stages with no (or an unknown) span group fall under
    ``None``."""
    known = {s.id for s in spans}
    out: dict[Optional[int], list[Task]] = {}
    for t in tasks:
        sid = span_of_group(stage_group.get(t.stage))
        out.setdefault(sid if sid in known else None, []).append(t)
    return out


def task_totals(tasks: list[Task]) -> dict:
    """Summed task metrics; ``task_skew`` is max ÷ median task time."""
    runs = [t.run_s for t in tasks]
    med = statistics.median(runs) if runs else 0.0
    return {
        "tasks": len(tasks),
        "task_s": sum(runs),
        "cpu_s": sum(t.cpu_s for t in tasks),
        "gc_s": sum(t.gc_s for t in tasks),
        "shuffle_read_mb": sum(t.shuffle_read_b for t in tasks) / 2**20,
        "shuffle_write_mb": sum(t.shuffle_write_b for t in tasks) / 2**20,
        "spill_mb": sum(t.spill_b for t in tasks) / 2**20,
        "task_skew": (max(runs) / med) if med > 0 else 0.0,
        "failed_tasks": sum(1 for t in tasks if t.failed),
    }


def tasks_of_jobs(jobs: list[Job], tasks: list[Task]) -> list[Task]:
    stages = {s for j in jobs for s in j.stages}
    return [t for t in tasks if t.stage in stages]
