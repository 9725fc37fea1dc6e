"""Tracing for the benchmark's traced run.

Spans are recorded by the benchmark's own wrappers around the public
functions that mark each layer boundary of the package; nothing inside
the package is instrumented. Spans stay in memory and are written out
when the run ends.

``operators/*`` and ``functions/*`` return lazy plans, so they cannot
be timed from outside the package: their cost lands in the span whose
action triggers execution, and in the Spark counters.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Callable, Iterable

LAZY_LAYERS_NOTE = (
    "operators/* and functions/* return lazy plans and cannot be timed from "
    "outside the package; their cost appears in the span whose action "
    "triggers execution and in the spark.* counters"
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None  # the operation (query, ingest batch, refresh batch) it belongs to


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(span: Span, children: Iterable[Span]) -> float:
    """The span's duration minus the union of its children's intervals,
    each clipped to the span. Concurrent children are not subtracted
    twice."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return (span.end - span.start) - union_length(clipped)


def critical_and_overlap(folds: list[Span]) -> tuple[float, float]:
    """For concurrently running spans: the longest one (the critical
    fold) and the overlap factor, the sum of their durations over the
    length of their union (1.0 when they ran one after another)."""
    if not folds:
        return 0.0, 0.0
    durations = [f.end - f.start for f in folds]
    covered = union_length((f.start, f.end) for f in folds)
    return max(durations), (sum(durations) / covered if covered > 0 else 1.0)


class Tracer:
    """In-memory span recorder. A span opened on a thread with no open
    span of its own (a pool thread) takes as parent the innermost span
    open on the thread that created the tracer. Records nothing while
    ``enabled`` is false."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._patched: list[tuple[object, str, object]] = []

    def _parent(self) -> int | None:
        stack = self._stacks.get(threading.get_ident()) or self._stacks.get(self._main)
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        tid = threading.get_ident()
        with self._lock:
            sid = len(self.spans)
            rec = Span(sid, name, time.perf_counter(), 0.0, self._parent(), self.op)
            self.spans.append(rec)
            self._stacks.setdefault(tid, []).append(sid)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            with self._lock:
                self._stacks[tid].pop()

    def wrap(self, fn: Callable, name: str | Callable[..., str]) -> Callable:
        """``fn`` recorded as a span; ``name`` may be a function of the
        call's arguments, evaluated before the call."""

        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner: object, attr: str, name: str | Callable[..., str]) -> None:
        original = getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, self.wrap(original, name))

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"note": LAZY_LAYERS_NOTE, "spans": [asdict(s) for s in self.spans]}, fh)


class SparkCounters:
    """Per-operation Spark counters read from the status store: every
    job started since the previous call belongs to the current
    operation, because the benchmark runs one operation at a time."""

    FIELDS = (
        "jobs", "stages", "tasks", "failed_tasks", "task_cpu_s", "task_run_s",
        "shuffle_write_bytes", "shuffle_read_bytes", "input_bytes",
        "output_bytes", "spill_bytes",
    )

    def __init__(self, sc) -> None:
        self.sc = sc
        self._seen_jobs: set[int] = set(self._job_ids())
        self._seen_stages: set[int] = set()

    def _job_ids(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(None))

    def _drain(self) -> None:
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001 - best effort: the bus may be private
            time.sleep(0.05)

    def collect(self) -> dict[str, float]:
        """Counters of the jobs that ran since the last call."""
        self._drain()
        out = dict.fromkeys(self.FIELDS, 0.0)
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        new_jobs = [j for j in self._job_ids() if j not in self._seen_jobs]
        self._seen_jobs.update(new_jobs)
        out["jobs"] = len(new_jobs)
        for jid in new_jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stages have no attempt
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["task_run_s"] += st.executorRunTime() / 1e3
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["input_bytes"] += st.inputBytes()
                out["output_bytes"] += st.outputBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out
