"""Spans timed from outside the engine, plus Spark counters read from the
status store (which is populated with ``spark.ui.enabled=false``).

A span covers one call into a layer: its name, parent span, thread, start
and end. Each span also adds a Spark job tag to the calling thread, so every
job the call starts (directly or in a nested span) carries the tag; after
the run the tags attribute jobs, shuffle bytes and failed tasks to spans.

``Tracer.patch()`` wraps the names that ``spiderspark.crawl`` looks up at
call time and restores them on exit. ``materialize_many`` runs its thunks
in a thread pool, so its wrapper hands the caller's span stack (and job
tags) to each thunk; spans opened inside a thunk then nest under it.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from contextlib import contextmanager

# materialize_many call sites, named by caller and call order within it
MM_SITES = {
    "crawl_round": ("accounting", "delta", "segments"),
    "mark_seen": ("prune",),
}

# (module attribute of spiderspark.crawl, span name)
PATCHED = (
    ("to_schedule", "schedule.to_schedule"),
    ("write_sketch_delta", "frontier.write_sketch_delta"),
    ("compact_sketch", "frontier.compact_sketch"),
    ("commit_state", "snapshots.commit"),
)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._mm_calls: dict[int | None, int] = {}
        # time spent in the tracer itself (tags, records), on any thread
        self.overhead_s = 0.0

    def _charge(self, t0: float) -> None:
        dt = time.perf_counter() - t0
        with self._lock:
            self.overhead_s += dt

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @staticmethod
    def tag(span_id: int) -> str:
        return f"perfbench-span-{span_id}"

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        stack = self._stack()
        span_id = next(self._ids)
        rec = {
            "id": span_id,
            "name": name,
            "parent": stack[-1] if stack else None,
            "thread": threading.get_ident(),
        }
        self.sc.addJobTag(self.tag(span_id))
        stack.append(span_id)
        self._charge(t0)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = t1 = time.perf_counter()
            stack.pop()
            self.sc.removeJobTag(self.tag(span_id))
            with self._lock:
                self.spans.append(rec)
            self._charge(t1)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def carry(self, thunk):
        """Run ``thunk`` (in whatever thread) under the caller's spans."""
        outer = list(self._stack())

        def run():
            t0 = time.perf_counter()
            stack = self._stack()
            saved = list(stack)
            fresh = [s for s in outer if s not in saved]
            for s in fresh:
                self.sc.addJobTag(self.tag(s))
            stack[:] = outer
            self._charge(t0)
            try:
                return thunk()
            finally:
                t1 = time.perf_counter()
                stack[:] = saved
                for s in fresh:
                    self.sc.removeJobTag(self.tag(s))
                self._charge(t1)

        return run

    def _wrap_materialize_many(self, fn):
        @functools.wraps(fn)
        def traced(thunks):
            caller = sys._getframe(1).f_code.co_name
            stack = self._stack()
            parent = stack[-1] if stack else None
            with self._lock:
                i = self._mm_calls.get(parent, 0)
                self._mm_calls[parent] = i + 1
            sites = MM_SITES.get(caller, ())
            site = sites[i] if i < len(sites) else f"{caller}{i}"
            with self.span(f"state.materialize_many.{site}"):
                return fn([self.carry(t) for t in thunks])

        return traced

    @contextmanager
    def patch(self):
        """Wrap the call-time names of ``spiderspark.crawl``; restore them
        on exit."""
        from spiderspark import crawl

        saved = {name: getattr(crawl, name) for name, _ in PATCHED}
        saved["materialize_many"] = crawl.materialize_many
        try:
            for name, span_name in PATCHED:
                setattr(crawl, name, self.wrap(span_name, saved[name]))
            crawl.materialize_many = self._wrap_materialize_many(
                saved["materialize_many"]
            )
            yield self
        finally:
            for name, fn in saved.items():
                setattr(crawl, name, fn)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class SparkCounters:
    """Jobs, per-stage shuffle writes and failed tasks from the status
    store (``metrics.ShuffleWindow`` needs the UI; this does not). Raise
    ``spark.ui.retainedJobs``/``retainedStages`` so nothing is evicted
    during a run."""

    def __init__(self, spark):
        self.store = spark.sparkContext._jsc.sc().statusStore()

    def failed_tasks(self) -> int:
        return sum(e.failedTasks() for e in _seq(self.store.executorList(False)))

    def jobs_by_tag(self) -> dict[str, dict]:
        """tag → {"jobs", "shuffle_bytes"} over every job carrying the tag.
        A stage's shuffle write counts once, for the earliest job listing
        it: later jobs that list it reused (skipped) it."""
        jobs = sorted(
            _seq(self.store.jobsList(None)), key=lambda j: j.jobId()
        )
        owner: dict[int, int] = {}
        info = []
        for j in jobs:
            stage_ids = [int(s) for s in _seq(j.stageIds())]
            for s in stage_ids:
                owner.setdefault(s, j.jobId())
            info.append((j.jobId(), set(_seq(j.jobTags())), stage_ids))
        from py4j.protocol import Py4JJavaError

        stage_bytes = {}
        for s in owner:
            try:
                stage_bytes[s] = self.store.lastStageAttempt(s).shuffleWriteBytes()
            except Py4JJavaError:  # skipped by every job: never ran
                stage_bytes[s] = 0
        out: dict[str, dict] = {}
        for job_id, tags, stage_ids in info:
            own = sum(stage_bytes[s] for s in stage_ids if owner[s] == job_id)
            for t in tags:
                agg = out.setdefault(t, {"jobs": 0, "shuffle_bytes": 0})
                agg["jobs"] += 1
                agg["shuffle_bytes"] += own
        return out


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its child spans cover."""
    covered, cur_s, cur_e = 0.0, None, None
    for c in sorted(children, key=lambda c: c["start"]):
        s, e = max(c["start"], span["start"]), min(c["end"], span["end"])
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
    return (span["end"] - span["start"]) - covered
