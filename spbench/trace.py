"""Spans around calls into sparkspatial's layers, and Spark's event log.

Spark is lazy, so a span around a call that only returns a DataFrame
would time planning. The benchmark therefore wraps each *action* (and
each call that runs jobs itself, such as index builds) in a span, sets
a Spark job group named after the span, and afterwards attributes the
event log's jobs, stages and tasks to spans through that group.

Spans are kept in memory and summarised when the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: int | None = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of its interval covered by the
    union of its children's intervals (clipped to the span)."""
    iv = sorted((max(c.start, span.start), min(c.end, span.end))
                for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
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
    return span.wall_s - covered


GROUP_PREFIX = "spb-"   # job group of span sid: f"{GROUP_PREFIX}{sid}"


class Tracer:
    """Records spans when enabled; a disabled tracer adds one branch
    per span and sets no job group. `sc` is the SparkContext whose job
    group the spans set (None: spans only)."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.sc = None
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, time.monotonic(), parent=parent,
                  request=request if request is not None else
                  (self.spans[parent].request if parent is not None else None))
        self.spans.append(sp)
        self._stack.append(sp.sid)
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id",
                                     f"{GROUP_PREFIX}{sp.sid}")
            self.sc.setLocalProperty("spark.job.description", name)
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            self._stack.pop()
            if self.sc is not None:
                up = self._stack[-1] if self._stack else None
                self.sc.setLocalProperty(
                    "spark.jobGroup.id",
                    None if up is None else f"{GROUP_PREFIX}{up}")
                self.sc.setLocalProperty(
                    "spark.job.description",
                    None if up is None else self.spans[up].name)

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.sid]

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


@dataclass
class SpanStats:
    """Event-log totals of the jobs run under one span's job group."""
    jobs: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0
    failed_tasks: int = 0
    reduce_task_s: list = field(default_factory=list)
    python_s: float = 0.0


def parse_event_log(path: str) -> dict[int, SpanStats]:
    """Per-span totals from an uncompressed Spark event log."""
    stage_span: dict[int, int] = {}
    out: dict[int, SpanStats] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if not group or not group.startswith(GROUP_PREFIX):
                    continue
                sid = int(group[len(GROUP_PREFIX):])
                out.setdefault(sid, SpanStats()).jobs += 1
                for st in ev.get("Stage IDs", []):
                    stage_span[st] = sid
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev.get("Stage ID"))
                if sid is None:
                    continue
                s = out[sid]
                info = ev.get("Task Info", {})
                if info.get("Failed") or info.get("Killed") \
                        or info.get("Attempt", 0) > 0:
                    s.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                run_s = m.get("Executor Run Time", 0) / 1000.0
                s.task_s += run_s
                s.gc_s += m.get("JVM GC Time", 0) / 1000.0
                s.spill_b += m.get("Disk Bytes Spilled", 0) \
                    + m.get("Memory Bytes Spilled", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                s.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                if sr.get("Remote Blocks Fetched", 0) \
                        + sr.get("Local Blocks Fetched", 0) > 0:
                    s.reduce_task_s.append(run_s)
                for acc in info.get("Accumulables", []):
                    # SQL metric of the Arrow Python UDF nodes, in ms
                    if acc.get("Name") == "time to run Python workers":
                        s.python_s += _num(acc.get("Update")) / 1e3
    return out


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def task_skew(task_s: list[float]) -> float:
    """max / median reduce-task run time (1.0 when balanced)."""
    if not task_s:
        return 0.0
    med = statistics.median(task_s)
    return max(task_s) / med if med > 0 else 0.0
