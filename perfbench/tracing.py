"""Spans and counts recorded around calls into the program's modules.

The benchmark never edits the program: a traced run replaces public
functions on the program's modules and classes with wrappers that record a
span (name, start, end, parent) per call. Self time is a span's duration
minus the time its child spans cover. Spans stay in memory; the harness
summarizes them into per-layer metrics and can write them out at the end.

Spark job and stage counts come from job groups: a counted span sets its
own job group, and after the call ``statusTracker`` lists that group's jobs
and the enclosing group is restored. A counted span nested in another
takes its jobs out of the outer group, so counts are exclusive, like self
times. Job and stage ids are assigned by the scheduler, and with one
client the counts repeat exactly from run to run.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """Records spans when *enabled*; otherwise ``span`` costs one branch."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self.jobs: dict[str, list[int]] = defaultdict(list)    # name -> per call
        self.stages: dict[str, list[int]] = defaultdict(list)
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._groups = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []

    # -- recording ----------------------------------------------------------

    def span(self, name: str, count_jobs: bool = False) -> "_SpanCtx":
        return _SpanCtx(self, name, count_jobs)

    def _open(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        s = Span(next(self._ids), name, self._stack[-1] if self._stack else None,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        return s

    def _close(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.perf_counter()
        self._stack.pop()

    def _count_jobs(self, name: str, group: str) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        job_ids = list(tracker.getJobIdsForGroup(group))
        stages = 0
        for j in job_ids:
            info = tracker.getJobInfo(j)
            stages += len(info.stageIds) if info is not None else 0
        self.jobs[name].append(len(job_ids))
        self.stages[name].append(stages)

    # -- patching -----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, count_jobs: bool = False) -> None:
        """Replace ``owner.attr`` (a module function or class method) with a
        span-recording wrapper. ``functools.wraps`` keeps the original
        ``__module__``/``__qualname__``, so a function shipped to Spark
        workers still pickles by reference to the unwrapped original."""
        tracer = self

        def make(fn):
            def wrapper(*args, **kwargs):
                with tracer.span(name, count_jobs):
                    return fn(*args, **kwargs)
            return wrapper

        self.patch(owner, attr, make)

    def patch(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` with ``make(original_function)`` for the
        rest of the process. No-op when tracing is off."""
        if not self.enabled:
            return
        original = inspect.getattr_static(owner, attr)
        is_static = isinstance(original, staticmethod)
        fn = original.__func__ if is_static else original
        wrapper = functools.wraps(fn)(make(fn))
        setattr(owner, attr, staticmethod(wrapper) if is_static else wrapper)
        self._patched.append((owner, attr, original))

    def wrap_module(self, module, layer: str) -> None:
        """Wrap every public function *module* defines, each as one span
        named after *layer*, so a module's functions sum into one layer.
        Functions already wrapped under their own name are left alone."""
        done = {(id(o), a) for o, a, _ in self._patched}
        for attr, obj in list(vars(module).items()):
            if (not attr.startswith("_") and inspect.isfunction(obj)
                    and obj.__module__ == module.__name__
                    and (id(module), attr) not in done):
                self.wrap(module, attr, layer)

    # -- summaries ----------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def subtree_self_times(self, root_name: str) -> dict[str, float]:
        """Self time per span name inside every span called *root_name*
        (the root included): the blocking path of a timed phase."""
        by_id = {s.id: s for s in self.spans}

        def under(s: Span) -> bool:
            while s is not None:
                if s.name == root_name:
                    return True
                s = by_id.get(s.parent) if s.parent is not None else None
            return False

        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if under(s):
                out[s.name] += (s.end - s.start) - child[s.id]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([vars(s) for s in self.spans], f)


class _SpanCtx:
    __slots__ = ("tracer", "name", "count_jobs", "span", "group", "outer")

    def __init__(self, tracer: Tracer, name: str, count_jobs: bool):
        self.tracer, self.name, self.count_jobs = tracer, name, count_jobs

    def __enter__(self):
        t = self.tracer
        self.span = t._open(self.name)
        self.group = None
        if self.span is not None and self.count_jobs and t.spark is not None:
            sc = t.spark.sparkContext
            self.outer = sc.getLocalProperty("spark.jobGroup.id")
            self.group = f"perfbench-{next(t._groups)}"
            sc.setLocalProperty("spark.jobGroup.id", self.group)
        return self

    def __exit__(self, exc_type, *_):
        t = self.tracer
        t._close(self.span)
        if self.group is not None and exc_type is None:
            t.spark.sparkContext.setLocalProperty("spark.jobGroup.id", self.outer)
            t._count_jobs(self.name, self.group)
        return False
