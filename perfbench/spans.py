"""Spans around calls into the library, and the Spark event-log parser.

Spans are recorded from the benchmark's side of the public API: a traced
run swaps selected module attributes for wrappers that time the call. Spark
evaluates lazily, so a span covers only the work its call forces: a call
that returns an unevaluated DataFrame gets a near-zero span, and the work
lands in the span of whichever later call forces it (for the pipeline, the
checkpoint write). Self times are therefore meaningful for calls that
materialize, which is stated with each per-layer metric.
"""

from __future__ import annotations

import json
import statistics
import time
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class Span:
    id: int
    name: str
    job: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; ``job`` tags every span opened while it is
    set, so spans of one timed job share an identifier."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.job = ""
        self._stack: list[int] = []
        self._restore: list[tuple[Any, str, Any]] = []

    def wrap(self, owner: Any, attr: str, name: str,
             annotate: Callable[..., dict] | None = None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span; undone by
        ``unwrap``. ``annotate(*args, **kwargs)`` runs before the call and
        its dict is stored on the span."""
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            span = Span(len(tracer.spans), name, tracer.job,
                        tracer._stack[-1] if tracer._stack else None,
                        time.perf_counter(),
                        attrs=annotate(*args, **kwargs) if annotate else {})
            tracer.spans.append(span)
            tracer._stack.append(span.id)
            try:
                return original(*args, **kwargs)
            finally:
                tracer._stack.pop()
                span.end = time.perf_counter()

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, original))

    def unwrap(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f, default=str)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.seconds - covered
    return out


#: Stages whose tasks are too few or too short give meaningless skew ratios.
_SKEW_MIN_TASKS = 4
_SKEW_MIN_MEDIAN_MS = 10


def _inside(t_ms: float, windows) -> bool:
    return any(lo <= t_ms <= hi for lo, hi in windows)


def parse_event_log(lines, windows) -> dict[str, float]:
    """Totals over the jobs submitted and tasks launched inside any of
    ``windows``, ``(start_ms, end_ms)`` pairs in epoch milliseconds, of a
    Spark JSON event log. The benchmark passes the windows of its timed
    calls, so the Spark work of its untimed checks is left out.

    ``max_task_skew`` is the largest ratio of a stage's slowest task run
    time to its median, over stages with at least ``_SKEW_MIN_TASKS`` tasks
    and a median of at least ``_SKEW_MIN_MEDIAN_MS``; 1.0 when none
    qualifies."""
    out = dict.fromkeys(("jobs", "tasks", "shuffle_write_bytes",
                         "shuffle_read_bytes", "spill_bytes", "task_run_s",
                         "gc_s"), 0.0)
    stage_runs: dict[tuple[int, int], list[float]] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if _inside(ev.get("Submission Time", -1), windows):
                out["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            if not _inside(info.get("Launch Time", -1), windows):
                continue
            m = ev.get("Task Metrics") or {}
            out["tasks"] += 1
            out["task_run_s"] += m.get("Executor Run Time", 0) / 1000
            out["gc_s"] += m.get("JVM GC Time", 0) / 1000
            out["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            out["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
            key = (ev.get("Stage ID", -1), ev.get("Stage Attempt ID", 0))
            stage_runs.setdefault(key, []).append(m.get("Executor Run Time", 0))
    skew = 1.0
    for runs in stage_runs.values():
        med = statistics.median(runs)
        if len(runs) >= _SKEW_MIN_TASKS and med >= _SKEW_MIN_MEDIAN_MS:
            skew = max(skew, max(runs) / med)
    out["max_task_skew"] = skew
    return out
