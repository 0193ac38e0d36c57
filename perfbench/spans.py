"""In-memory spans around the library's layer entry points, plus the
small statistics the benchmark reports.

A :class:`Tracer` wraps module attributes (``acled_spark.pipeline.
run_checks`` and the like) for the traced run only and restores them
afterwards; the library itself is not edited.  Each span sets a Spark
job group, so the jobs a span's own code triggers can be read back from
the status store (populated even with the UI disabled): jobs, tasks,
executor CPU time, shuffle bytes and the job intervals.

Spark plans are lazy: a layer that only builds a plan costs almost
nothing in its own span, and its execution lands in the span of
whichever caller first runs an action on the frame.
"""

from __future__ import annotations

import importlib
import itertools
import json
import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def percentile_with_tail(values: list[float], min_beyond: int = 10) -> tuple[int, float] | None:
    """The highest of p50/p90/p99/p99.9 that has at least ``min_beyond``
    samples strictly above its rank, as ``(p, value)``; ``None`` when
    even the median lacks that many (fewer than ``2 * min_beyond``
    samples).  Nearest-rank percentile on the sorted values.
    """
    xs = sorted(values)
    n = len(xs)
    best = None
    for p in (50, 90, 99, 99.9):
        rank = max(1, math.ceil(p * n / 100))  # 1-based nearest rank
        if n - rank >= min_beyond:
            best = (p, xs[rank - 1])
    return best


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def clipped(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    # filled from the status store after the span's operation finished
    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    job_intervals: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its child spans cover."""
    covered = union_length(clipped([(c.start, c.end) for c in children], span.start, span.end))
    return span.wall_s - covered


class Tracer:
    """Spans kept in memory (with parent ids) and Spark jobs per span."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), parent.id if parent else None, name, time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"perfbench-{s.id}", name, False)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent.id}", parent.name, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned wrapper until :meth:`unwrap`.

        ``owner`` is a module, a dotted module path or a class.
        """
        if isinstance(owner, str):
            owner = importlib.import_module(owner)
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            if not tracer._stack:  # outside a traced operation: pass through
                return original(*args, **kwargs)
            with tracer.span(name):
                return original(*args, **kwargs)

        traced.__wrapped__ = original
        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def unwrap(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- Spark status store ------------------------------------------------
    def collect_jobs(self, spans: list[Span]) -> None:
        """Attach each span's own Spark jobs (by job group) to it.

        Call after the operation returned: the listener bus is drained
        first so every finished job is in the status store.
        """
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in spans:
            stage_ids: set[int] = set()
            for job_id in tracker.getJobIdsForGroup(f"perfbench-{s.id}"):
                job = store.job(job_id)
                s.jobs += 1
                s.tasks += job.numCompletedTasks()
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    s.job_intervals.append(
                        (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                    )
                stage_ids.update(int(x) for x in job.stageIds().mkString(",").split(",") if x)
            for sid in stage_ids:
                try:
                    stage = store.lastStageAttempt(sid)
                except Exception:
                    # a stage this job skipped, submitted by an earlier job
                    # whose record the store has since dropped
                    continue
                if stage.status().toString() != "SKIPPED":
                    s.cpu_s += stage.executorCpuTime() / 1e9
                    s.shuffle_write_bytes += stage.shuffleWriteBytes()

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span below it."""
        out, frontier = [], {root.id}
        for s in self.spans:
            if s.id in frontier or s.parent in frontier:
                frontier.add(s.id)
                out.append(s)
        return out

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def driver_gap_s(self, op: Span, wall_offset: float) -> float:
        """Op wall time not covered by any of its Spark jobs.

        ``wall_offset`` converts ``perf_counter`` to epoch seconds (job
        times in the status store are epoch milliseconds).
        """
        jobs = [iv for s in self.subtree(op) for iv in s.job_intervals]
        lo, hi = op.start + wall_offset, op.end + wall_offset
        return op.wall_s - union_length(clipped(jobs, lo, hi))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "parent": s.parent, "name": s.name,
                    "start": s.start, "end": s.end, "wall_s": s.wall_s,
                    "self_s": self_time(s, self.children(s)), "jobs": s.jobs,
                    "tasks": s.tasks, "cpu_s": s.cpu_s,
                    "shuffle_write_bytes": s.shuffle_write_bytes, **s.attrs,
                }) + "\n")


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0
