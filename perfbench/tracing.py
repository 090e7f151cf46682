"""In-memory spans and counts for the traced run, plus Spark's own
counters read from outside the program (the event log).

A span is recorded around each call the benchmark makes into an
engine layer: name, start, end, parent span and the workload
operation it belongs to. Nothing is written until the run ends.
With tracing off every call is a no-op, so the untraced run pays
nothing but a function call.

Spark jobs the benchmark starts only to time a lazy layer (a ``noop``
write of a flattener's output, say) run under ``probe``: their job
group is ``PROBE_GROUP``, and ``spark_counters`` leaves those jobs and
their tasks out, so Spark's counters describe the engine's own work.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

PROBE_GROUP = "perfbench-probe"


@contextmanager
def probe(spark):
    """Run the benchmark's own Spark jobs under ``PROBE_GROUP``, then
    give the thread its previous job group back."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", PROBE_GROUP)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        op = op if op is not None else getattr(self._local, "op", None)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, op))

    @contextmanager
    def op(self, op_id: str):
        """Tag every span opened by this thread with a workload op id."""
        prev = getattr(self._local, "op", None)
        self._local.op = op_id
        try:
            yield
        finally:
            self._local.op = prev

    def current_op(self) -> str | None:
        return getattr(self._local, "op", None)

    def reset(self, keep: tuple[str, ...] = ()) -> None:
        """Forget what warm-up recorded, except spans named in ``keep``."""
        with self._lock:
            self.spans = [s for s in self.spans if s.name in keep]
            self.counts = {}

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] = self.counts.get(name, 0) + value

    def self_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the part of it that its
        child spans cover, in ms."""
        by_id = {s.id: s for s in self.spans}
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None and s.parent in by_id:
                child_ms[s.parent] = child_ms.get(s.parent, 0.0) + (s.end - s.start) * 1e3
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s.end - s.start) * 1e3 - child_ms.get(s.id, 0.0)
            out[s.name] = out.get(s.name, 0.0) + own
        return out

    def total_ms(self, name: str) -> float:
        return sum((s.end - s.start) * 1e3 for s in self.spans if s.name == name)

    def n_spans(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        doc = {
            "spans": [
                {"id": s.id, "name": s.name, "start_ms": round((s.start - t0) * 1e3, 3),
                 "end_ms": round((s.end - t0) * 1e3, 3), "parent": s.parent, "op": s.op}
                for s in self.spans
            ],
            "counts": self.counts,
            "self_ms": self.self_ms(),
            **extra,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, default=str)


def spark_counters(eventlog_dir: str, t0: float, t1: float) -> dict[str, float]:
    """Jobs submitted and task counters of tasks launched in the
    wall-clock window [t0, t1] (epoch seconds), from Spark's event log:
    shuffle bytes written, bytes spilled, JVM GC time, and the time
    each task waited for a core (launch − stage submission). Jobs of
    ``PROBE_GROUP`` and their tasks are left out."""
    out = {"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0, "gc_ms": 0,
           "scheduler_delay_ms": 0}
    lo, hi = t0 * 1e3, t1 * 1e3
    submitted: dict[tuple, float] = {}
    probe_stages: set[int] = set()
    paths = sorted(os.path.join(d, n) for d, _, files in os.walk(eventlog_dir) for n in files)
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if (ev.get("Properties") or {}).get("spark.jobGroup.id") == PROBE_GROUP:
                        probe_stages.update(ev.get("Stage IDs", []))
                    elif lo <= ev.get("Submission Time", 0) <= hi:
                        out["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                    submitted[key] = info.get("Submission Time", 0)
                elif kind == "SparkListenerTaskEnd":
                    task = ev["Task Info"]
                    launch = task["Launch Time"]
                    if not lo <= launch <= hi or ev["Stage ID"] in probe_stages:
                        continue
                    m = ev.get("Task Metrics") or {}
                    out["tasks"] += 1
                    out["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    out["gc_ms"] += m.get("JVM GC Time", 0)
                    sub = submitted.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
                    if sub:
                        out["scheduler_delay_ms"] += max(0, launch - sub)
    return out
