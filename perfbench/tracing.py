"""Spans recorded around calls into the program, and Spark's event log
folded onto them.

A span has a name, a layer, start/end, a parent and the op it belongs
to. Spans live in memory until the run ends. While a span is open its
Spark jobs carry the span's id as their job group, so each task in the
uncompressed event log can be charged to exactly one span and, through
it, to one layer.

With tracing off every call below is a no-op and nothing is patched, so
an untraced run executes only the program's own code.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.metrics import EVENT_UNITS

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    op: int
    parent: int | None
    start: float  # epoch seconds, comparable with event-log task times
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark=None, enabled: bool = False) -> None:
        self.enabled = enabled
        self._jsc = spark.sparkContext._jsc if (spark is not None and enabled) else None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = 0

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        # spans outside an op (checks, set-up bookkeeping) are not kept
        if not self.enabled or (not self._stack and layer != "op"):
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer, self.op,
                  parent.id if parent else None, time.time(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self._jsc.setLocalProperty(JOB_GROUP, f"pb-{sp.id}")
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._jsc.setLocalProperty(JOB_GROUP, f"pb-{parent.id}" if parent else None)

    @contextmanager
    def op_span(self, kind: str, **attrs):
        """Root span of one benchmark operation."""
        self.op += 1
        with self.span(f"op.{kind}", "op", **attrs) as sp:
            yield sp

    def wrap(self, fn, name: str, layer: str):
        """``fn`` timed as a span (used to patch the program's entry points)."""
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)
        return traced

    def self_times(self) -> dict[int, float]:
        """Span wall minus the part its direct children cover."""
        child = {s.id: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.wall
        return {s.id: s.wall - child[s.id] for s in self.spans}

    def records(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "layer": s.layer, "op": s.op,
             "parent": s.parent, "start": s.start, "end": s.end, **s.attrs}
            for s in self.spans
        ]


@contextmanager
def patched(obj, name: str, replacement):
    original = getattr(obj, name)
    setattr(obj, name, replacement)
    try:
        yield
    finally:
        setattr(obj, name, original)


def _event_files(event_dir: str) -> list[str]:
    files = []
    for dirpath, _dirs, names in os.walk(event_dir):
        for n in names:
            if n.startswith("appstatus") or n.endswith(".crc"):
                continue
            files.append(os.path.join(dirpath, n))
    # rolled logs are events_<index>_<app>: read them in index order
    def key(p: str):
        base = os.path.basename(p)
        parts = base.split("_")
        return int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0
    return sorted(files, key=key)


def _merged_length(intervals: list[tuple[float, float]]) -> float:
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


def fold_event_log(event_dir: str, tracer: Tracer) -> dict[int, dict[str, float]]:
    """Per span id: executor CPU/run/GC seconds, shuffle and spill bytes,
    task count, and ``driver_s`` = the span's self wall minus the time
    its own tasks kept an executor busy (union of task intervals)."""
    stage_group: dict[int, str] = {}
    per_span: dict[int, dict[str, float]] = {
        s.id: dict.fromkeys(EVENT_UNITS, 0.0) for s in tracer.spans
    }
    busy: dict[int, list[tuple[float, float]]] = {s.id: [] for s in tracer.spans}
    for path in _event_files(event_dir):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerStageSubmitted"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get(JOB_GROUP)
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev["Stage ID"])
                    if not group or not group.startswith("pb-"):
                        continue
                    sid = int(group[3:])
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    acc = per_span[sid]
                    acc["tasks"] += 1
                    acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    rd = m.get("Shuffle Read Metrics") or {}
                    acc["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    wr = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    busy[sid].append((info["Launch Time"] / 1e3, info["Finish Time"] / 1e3))
    selfs = tracer.self_times()
    for s in tracer.spans:
        clipped = [(max(a, s.start), min(b, s.end)) for a, b in busy[s.id] if b > s.start and a < s.end]
        per_span[s.id]["driver_s"] = max(selfs[s.id] - _merged_length(clipped), 0.0)
    return per_span
