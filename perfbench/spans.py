"""Per-layer spans timed from outside the engine.

``Tracer.install`` replaces a function on its module with a wrapper that
records one span per call: start, end and the enclosing span of the
calling thread.  The engine calls its layers through module
attributes (``lake.write_partitioned``, ``maintenance.merge_snapshot``,
...), and plan modules that did ``from ... import load_table`` hold the
same function object, so the wrapper is put on every loaded module
attribute that is the original function.  Nothing in the engine changes.

Each span also sets a Spark job group in the calling thread (restoring
the caller's group on exit), so the jobs a call starts -- from any
thread, including the compaction pool -- are attributed to it.  Job and
stage figures come from the JVM status store, which works with
``spark.ui.enabled=false``.

Aggregates per span name:

* ``calls``;
* ``wall_s``: length of the union of the span's intervals, so calls
  overlapping in a thread pool count once;
* ``driver_s``: the part of ``wall_s`` when none of the span's jobs ran;
* ``jobs``, ``executor_run_s``, ``shuffle_write_bytes``;
* extra counters, summed over calls.

A span's jobs are those of its own group and of the spans nested inside
it in the same thread.
"""

from __future__ import annotations

import sys
import threading
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"
_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


# ------------------------------------------------------------ intervals

def union(intervals) -> list[tuple[float, float]]:
    """Merge intervals into a sorted list of disjoint ones."""
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def length(intervals) -> float:
    return sum(b - a for a, b in union(intervals))


def overlap(xs, ys) -> float:
    """Length of the intersection of two interval sets."""
    xs, ys = union(xs), union(ys)
    i = j = 0
    total = 0.0
    while i < len(xs) and j < len(ys):
        a, b = max(xs[i][0], ys[j][0]), min(xs[i][1], ys[j][1])
        if a < b:
            total += b - a
        if xs[i][1] < ys[j][1]:
            i += 1
        else:
            j += 1
    return total


# ------------------------------------------------------------ spans

@dataclass
class Span:
    name: str
    group: str
    parent: "Span | None"
    t0: float = 0.0
    t1: float = 0.0
    counters: dict = field(default_factory=dict)


#: extra counters for one span: ``before(args, kwargs)`` runs outside the
#: timed interval and its result is passed to
#: ``after(state, args, kwargs, result) -> dict``, also untimed.
@dataclass
class Extras:
    after: Callable
    before: Callable | None = None


def _active_sc():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._seq = 0
        self._prefix = f"{GROUP_PREFIX}{uuid.uuid4().hex[:8]}-"
        self._patched: list[tuple[object, str, object]] = []

    # -- recording
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _next_group(self) -> str:
        with self._lock:
            self._seq += 1
            return f"{self._prefix}{self._seq}"

    def wrap(self, name: str, fn: Callable, extras: Extras | None = None) -> Callable:
        tracer = self

        def traced(*args, **kwargs):
            state = extras.before(args, kwargs) if extras and extras.before else None
            stack = tracer._stack()
            span = Span(name, tracer._next_group(), stack[-1] if stack else None)
            sc = _active_sc()
            prev = [sc.getLocalProperty(p) for p in _PROPS] if sc else None
            if sc:
                sc.setJobGroup(span.group, name)
            stack.append(span)
            result = None
            span.t0 = time.time()
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                span.t1 = time.time()
                stack.pop()
                if sc:
                    for p, v in zip(_PROPS, prev):
                        sc.setLocalProperty(p, v)
                if extras:
                    span.counters = extras.after(state, args, kwargs, result)
                with tracer._lock:
                    tracer.spans.append(span)

        traced.__wrapped__ = fn
        return traced

    def install(self, owner: object, attr: str, name: str, extras: Extras | None = None) -> None:
        """Wrap ``owner.attr`` and every loaded engine module attribute
        bound to the same function."""
        original = getattr(owner, attr)
        wrapper = self.wrap(name, original, extras)
        targets = [owner] + [
            m for key, m in list(sys.modules.items())
            if m is not None and m is not owner
            and (key.startswith("abr_etl_spark") or key == "__spark_entry__")
            and getattr(m, attr, None) is original
        ]
        for t in targets:
            self._patched.append((t, attr, original))
            setattr(t, attr, wrapper)

    def uninstall(self) -> None:
        for t, attr, original in reversed(self._patched):
            setattr(t, attr, original)
        self._patched.clear()

    # -- aggregation
    def groups_of(self, span: Span) -> set[str]:
        """The span's own job group plus those of spans nested in it."""
        out = {span.group}
        for s in self.spans:
            p = s.parent
            while p is not None:
                if p is span:
                    out.add(s.group)
                    break
                p = p.parent
        return out

    def aggregate(self, jobs: "JobTable", spans: list[Span] | None = None) -> dict[str, dict]:
        """name -> metrics over ``spans`` (default: all recorded)."""
        spans = self.spans if spans is None else spans
        by_name: dict[str, list[Span]] = {}
        for s in spans:
            by_name.setdefault(s.name, []).append(s)
        out = {}
        for name, group in by_name.items():
            intervals = [(s.t0, s.t1) for s in group]
            gids = set().union(*(self.groups_of(s) for s in group))
            js = jobs.in_groups(gids)
            wall = length(intervals)
            busy = overlap(intervals, [(j.start, j.end) for j in js])
            m = {
                "calls": len(group),
                "wall_s": wall,
                "driver_s": max(0.0, wall - busy),
                "jobs": len(js),
                "executor_run_s": sum(j.executor_run_s for j in js),
                "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in js),
            }
            for s in group:
                for k, v in s.counters.items():
                    m[k] = m.get(k, 0) + v
            out[name] = m
        return out


# ------------------------------------------------------------ jobs

@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    executor_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    tasks: int = 0


class JobTable:
    """Every finished job in the JVM status store, with the figures of
    the stages it ran (a stage a later job reuses counts once, for the
    job that ran it)."""

    def __init__(self, jobs: list[Job]):
        self.jobs = jobs

    @classmethod
    def read(cls, sc) -> "JobTable":
        store = sc._jsc.sc().statusStore()
        raw = store.jobsList(None)
        seen_stages: set[int] = set()
        jobs = []
        for jd in sorted((raw.apply(i) for i in range(raw.size())),
                         key=lambda jd: jd.jobId()):
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isEmpty() or done.isEmpty():
                continue
            grp = jd.jobGroup()
            job = Job(
                id=jd.jobId(),
                group=None if grp.isEmpty() else grp.get(),
                start=sub.get().getTime() / 1000.0,
                end=done.get().getTime() / 1000.0,
            )
            ids = jd.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never ran
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                seen_stages.add(sid)
                job.executor_run_s += st.executorRunTime() / 1000.0
                job.shuffle_write_bytes += st.shuffleWriteBytes()
                job.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                job.tasks += st.numTasks()
            jobs.append(job)
        return cls(jobs)

    def in_groups(self, groups: set[str]) -> list[Job]:
        return [j for j in self.jobs if j.group in groups]

    def between(self, t0: float, t1: float) -> list[Job]:
        return [j for j in self.jobs if j.start >= t0 - 0.001 and j.start <= t1]


def spark_totals(jobs: list[Job], cores: int) -> dict[str, float]:
    """Run-level figures over ``jobs``: tasks, spilled bytes and slot
    utilisation (executor run time over job-active time x cores)."""
    active = length([(j.start, j.end) for j in jobs])
    run = sum(j.executor_run_s for j in jobs)
    return {
        "spark.tasks": sum(j.tasks for j in jobs),
        "spark.spill_bytes": sum(j.spill_bytes for j in jobs),
        "spark.slot_util": run / (active * cores) if active > 0 else 0.0,
        "spark.active_s": active,
        "spark.executor_run_s": run,
    }
