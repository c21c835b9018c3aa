"""Spans around the engine's layer boundaries, and Spark's own job,
stage and task counters per span.

The tracer wraps public functions of the engine from outside: it swaps
a method or module function for one that records a span and tags every
Spark job started inside it with a job group named after the span.
After the run, :func:`spark_jobs` reads the status store (it works with
``spark.ui.enabled=false``) and :func:`attribute` assigns each job to
its span, so every epoch, request or query gets its jobs, stages,
tasks, executor CPU and shuffle bytes.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    root: int
    start: float = 0.0
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return 1000.0 * (self.end - self.start)


@dataclass
class Job:
    id: int
    group: str | None
    start: float  # seconds since the epoch, like Span times
    end: float
    stages: int
    tasks: int
    cpu_ms: float
    shuffle_write_bytes: int


class Tracer:
    """Records spans in memory; one span stack per thread."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
            self._local.deferred = []
        return self._local.stack

    def _run_deferred(self) -> None:
        """Run the callbacks queued by :meth:`after_spans`; their time is
        bookkeeping, not part of any span."""
        todo, self._local.deferred = self._local.deferred, []
        if not todo:
            return
        t = time.time()
        for fn in todo:
            fn()
        with self._lock:
            self.bookkeeping_s += time.time() - t

    def after_spans(self, fn) -> None:
        """Run ``fn()`` once this thread has closed all its open spans."""
        stack = self._stack()
        self._local.deferred.append(fn)
        if not stack:
            self._run_deferred()

    @contextmanager
    def span(self, name: str, **attrs):
        t_in = time.time()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        sp = Span(sid, name, parent.id if parent else None, parent.root if parent else sid, attrs=attrs)
        # the job group is a thread-local Spark property: jobs this
        # thread starts inside the span carry the span id
        self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"{GROUP_PREFIX}{parent.id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(sp)
                self.bookkeeping_s += (sp.start - t_in) + (time.time() - sp.end)
            if not stack:
                self._run_deferred()

    def wrap(self, owner, attr: str, name: str, on_return=None) -> None:
        """Replace ``owner.attr`` by a traced version.  ``on_return(span,
        args, result)`` may record attributes of the call on its span; it
        runs once the calling thread's outermost span has closed, so its
        cost lands in no span's time."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                out = orig(*args, **kwargs)
            if on_return is not None:
                tracer.after_spans(lambda: on_return(sp, args, out))
            return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines."""
        import json

        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(s.__dict__, default=str) + "\n")


def spark_jobs(sc) -> list[Job]:
    """Every job in the status store with its stage-level counters
    (Spark 4.1 ``stageList(List, bool, bool, double[], List)``; the
    returned Scala Seqs are indexed with ``apply``)."""
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    by_stage: dict[int, tuple[int, int, float, int]] = {}
    for i in range(stages.size()):
        s = stages.apply(i)
        if str(s.status()) == "SKIPPED":
            continue
        sid = s.stageId()
        prev = by_stage.get(sid, (0, 0, 0.0, 0))
        by_stage[sid] = (
            prev[0] + 1,
            prev[1] + s.numTasks(),
            prev[2] + s.executorCpuTime() / 1e6,
            prev[3] + s.shuffleWriteBytes(),
        )
    out = []
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        j = jobs.apply(i)
        group = j.jobGroup()
        sub, done = j.submissionTime(), j.completionTime()
        if not sub.isDefined() or not done.isDefined():
            continue
        ids = j.stageIds()
        agg = [by_stage[x] for x in (ids.apply(k) for k in range(ids.size())) if x in by_stage]
        out.append(
            Job(
                id=j.jobId(),
                group=group.get() if group.isDefined() else None,
                start=sub.get().getTime() / 1000.0,
                end=done.get().getTime() / 1000.0,
                stages=sum(a[0] for a in agg),
                tasks=sum(a[1] for a in agg),
                cpu_ms=sum(a[2] for a in agg),
                shuffle_write_bytes=sum(a[3] for a in agg),
            )
        )
    return out


def attribute(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """Span id -> the jobs started inside that span (innermost span)."""
    known = {s.id for s in spans}
    out: dict[int, list[Job]] = {}
    for j in jobs:
        if j.group and j.group.startswith(GROUP_PREFIX):
            sid = int(j.group[len(GROUP_PREFIX):])
            if sid in known:
                out.setdefault(sid, []).append(j)
    return out


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
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


class Tree:
    """Spans grouped by root, with the jobs attributed to each."""

    def __init__(self, spans: list[Span], jobs: list[Job]):
        self.spans = spans
        self.jobs_of = attribute(spans, jobs)
        self.by_root: dict[int, list[Span]] = {}
        self.children: dict[int, list[Span]] = {}
        for s in spans:
            self.by_root.setdefault(s.root, []).append(s)
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)

    def roots(self, name: str) -> list[Span]:
        return sorted((s for s in self.spans if s.id == s.root and s.name == name), key=lambda s: s.start)

    def descendants(self, root: Span, name: str | None = None) -> list[Span]:
        return [s for s in self.by_root.get(root.root, []) if name is None or s.name == name]

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s.id, []))
        return out

    def jobs(self, root: Span) -> list[Job]:
        return [j for s in self.by_root.get(root.root, []) for j in self.jobs_of.get(s.id, [])]

    def self_ms(self, span: Span) -> float:
        kids = [(c.start, c.end) for c in self.children.get(span.id, [])]
        return span.ms - 1000.0 * union_s(kids)

    def driver_ms(self, root: Span) -> float:
        """Wall of ``root`` not covered by any of its Spark jobs."""
        clipped = [(max(j.start, root.start), min(j.end, root.end)) for j in self.jobs(root)]
        return root.ms - 1000.0 * union_s([(s, e) for s, e in clipped if e > s])
