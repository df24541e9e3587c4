"""Spans and Spark counters for the traced run.

The benchmark wraps the engine's public layer functions from outside
(:class:`Instrumentation`); the engine itself is not modified. Each call of a
wrapped function becomes a :class:`Span`. While the span is open, the
calling thread's Spark job group is set to the span's own group, so
every job the call submits from that thread is claimed by the span.
Worker threads do not inherit job groups, which is why the wrapper sits
on the inner function that runs in the worker thread.

Counts are drift-proof: the number of jobs in a window is the difference
of the scheduler's next job id at its ends (never the length of the
status tracker's retained-job list, which is capped and shrinks), and a
span's stages and tasks are read from the status tracker as soon as the
span closes, before the tracker can evict them.
"""

from __future__ import annotations

import itertools
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"


class SparkCounters:
    """Job, stage and task counts from a SparkContext's status tracker."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()
        # a stage re-used by a later job (skipped there) keeps its id: it is
        # counted once, for the first span that reads it
        self._seen_stages: set[int] = set()
        self._lock = threading.Lock()

    def next_job_id(self) -> int:
        """Id the next submitted job will get: a monotonic job counter."""
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def _counts(self, job_ids, seen: set[int]) -> dict[str, int]:
        stages = tasks = failed = 0
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info is not None else ():
                if sid in seen:
                    continue
                st = self.tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its map output already existed
                seen.add(sid)
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def group_counts(self, group: str) -> dict[str, int]:
        """Jobs of ``group`` and the stages and tasks they executed."""
        jobs = list(self.tracker.getJobIdsForGroup(group))
        with self._lock:
            return self._counts(jobs, self._seen_stages)

    def window_counts(self, j0: int, j1: int) -> dict[str, int]:
        """Jobs with ids in ``[j0, j1)``, from any thread, and the stages
        and tasks they executed: the inclusive cost of a time window."""
        return self._counts(range(j0, max(j0, j1)), set())

    def live_rdds(self) -> int:
        """Persisted RDDs (caches and local checkpoints) still held."""
        return int(self.sc._jsc.getPersistentRDDs().size())


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    parent: int | None
    thread: int
    op: int | None
    end: float = 0.0
    # jobs claimed through the span's job group (calling thread only)
    counts: dict = field(default_factory=dict)
    # every job submitted while the span was open, from any thread
    window: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; :meth:`dump` writes them once, at the end.

    Spans opened in a thread with no open span of its own are parented on
    the operation's root span, so work fanned out to worker threads still
    rolls up under the operation that caused it."""

    def __init__(self, counters: SparkCounters | None) -> None:
        self.counters = counters
        self.spans: list[Span] = []
        self.op: int | None = None
        self._root: int | None = None
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, layer: str, tag: bool = True, window: bool = False):
        """Open a span. ``tag`` claims the calling thread's jobs through a
        job group; ``window`` also counts every job submitted meanwhile."""
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1].id if stack else self._root
        sp = Span(next(self._ids), name, layer, 0.0, parent, threading.get_ident(), self.op)
        group = f"perfbench-span-{sp.id}"
        c = self.counters
        tag, window = tag and c is not None, window and c is not None
        if tag:
            prev = c.sc.getLocalProperty(GROUP_PROP)
            c.sc.setLocalProperty(GROUP_PROP, group)
        j0 = c.next_job_id() if window else 0
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if tag:
                c.sc.setLocalProperty(GROUP_PROP, prev)
                sp.counts = c.group_counts(group)
            if window:
                sp.window = c.window_counts(j0, c.next_job_id())
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def operation(self, op: int, name: str = "op"):
        """Root span of one benchmark operation. It claims no jobs itself:
        jobs no layer span claims are the operation's untagged jobs."""
        self.op = op
        with self.span(name, "op", tag=False, window=True) as sp:
            self._root = sp.id
            try:
                yield sp
            finally:
                self._root = None

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(
                    json.dumps(
                        {
                            "id": s.id,
                            "name": s.name,
                            "layer": s.layer,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "thread": s.thread,
                            "op": s.op,
                            "claimed": s.counts,
                            "window": s.window,
                        }
                    )
                    + "\n"
                )


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it that child spans cover
    (children's intervals are merged first, so overlapping children in
    worker threads are not subtracted twice)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
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
        out[s.id] = s.duration - covered
    return out


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# --- wrapping ---------------------------------------------------------------


class Instrumentation:
    """Rebinds functions to span-recording wrappers and undoes it.

    A function is replaced under EVERY name that refers to it in the
    engine's loaded modules (so ``from .incremental import merge_upsert``
    in another module is rebound too), and in any dict passed as a
    registry (such as the table of bronze extracts)."""

    def __init__(self, tracer: Tracer, package: str) -> None:
        self.tracer = tracer
        self.package = package
        self._undo: list[tuple] = []

    def wrap(
        self, fn, layer: str, name=None, registries=(), layer_of=None, window=False
    ):
        """Wrap ``fn``; ``layer_of(args, kwargs)`` may pick the layer per
        call, and ``window`` makes its spans count jobs inclusively."""
        tracer, label = self.tracer, name or fn.__name__

        def wrapper(*args, **kwargs):
            lyr = layer_of(args, kwargs) if layer_of is not None else layer
            with tracer.span(label, lyr, window=window):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        wrapper.__name__ = fn.__name__
        for mod in [m for n, m in list(sys.modules.items()) if n.startswith(self.package)]:
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._undo.append((setattr, mod, attr, fn))
                    setattr(mod, attr, wrapper)
        for reg in registries:
            for key, val in list(reg.items()):
                if val is fn:
                    self._undo.append((dict.__setitem__, reg, key, fn))
                    reg[key] = wrapper
        return wrapper

    def restore(self) -> None:
        for setter, owner, key, original in reversed(self._undo):
            setter(owner, key, original)
        self._undo.clear()
