"""Tracing for the per-layer run.

`Tracer` keeps spans in memory. `install_layer_spans` wraps the public
entry points of each engine layer (module and class attributes, at run
time; no source file changes) so every call records a span with its
parent and request id. `StageMetrics` reads Spark's own job and stage
metrics for one job group from the status store, after the operation
that ran it has completed.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from typing import Any

_CURRENT = object()


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "req", "leaf")

    def __init__(self, sid, name, start, parent, req):
        self.id, self.name, self.start = sid, name, start
        self.end = None
        self.parent, self.req = parent, req
        self.leaf = 0.0      # seconds in leaf calls made directly inside

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[Any, str, Any]] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    @contextlib.contextmanager
    def span(self, name: str, parent: Any = _CURRENT):
        """Open a span. `parent` defaults to this thread's innermost open
        span; pass a Span to continue a request on another thread, or
        None to start a new request."""
        st = self._stack()
        par = (st[-1] if st else None) if parent is _CURRENT else parent
        sid = next(self._ids)
        sp = Span(sid, name, time.perf_counter(),
                  par.id if par else None, par.req if par else sid)
        self.spans.append(sp)
        st.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()

    def add_leaf(self, dt: float) -> None:
        sp = self.current()
        if sp is not None:
            sp.leaf += dt

    def patch(self, owner: Any, attr: str, new: Any) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap(self, owner: Any, attr: str, name: str) -> None:
        """Replace owner.attr with a function recording span `name`."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        self.patch(owner, attr, traced)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


class _TimedJson:
    """Stands in for the `json` module inside server.py: `dumps` adds its
    time to the caller's innermost span as leaf time."""

    def __init__(self, tracer: Tracer, real):
        self._tracer, self._real = tracer, real

    def dumps(self, *a, **kw):
        t = time.perf_counter()
        try:
            return self._real.dumps(*a, **kw)
        finally:
            self._tracer.add_leaf(time.perf_counter() - t)

    def __getattr__(self, name):
        return getattr(self._real, name)


def install_layer_spans(tracer: Tracer) -> None:
    """Wrap each layer's public entry points (see README, "Traced run")."""
    from druid_spark import engine, scheduler, server
    from druid_spark.functions import sqlshim
    from druid_spark.ingest import batch, sql_ingest

    tracer.wrap(server._Handler, "do_POST", "server.request")
    tracer.wrap(server, "shape_native", "server.shape")
    tracer.patch(server, "json", _TimedJson(tracer, server.json))
    tracer.wrap(engine.DruidSparkEngine, "query", "engine.query")
    tracer.wrap(engine.DruidSparkEngine, "sql", "engine.sql")
    # engine.sql imports these two at call time, so the module attribute
    # is what every call resolves
    tracer.wrap(sqlshim, "rewrite_druid_sql", "functions.rewrite")
    tracer.wrap(sql_ingest, "run_ingest_sql", "ingest.append")
    tracer.wrap(batch.TableService, "write", "ingest.write")

    submit = scheduler.QueryScheduler.submit

    @functools.wraps(submit)
    def traced_submit(sched, qid, fn, *a, **kw):
        with tracer.span("scheduler.submit") as sp:
            def run():
                # the scheduler runs fn on its own worker thread
                with tracer.span("scheduler.run", parent=sp):
                    return fn()

            return submit(sched, qid, run, *a, **kw)

    tracer.patch(scheduler.QueryScheduler, "submit", traced_submit)


# ------------------------------------------------------ Spark job metrics
_STAGE_SUMS = {
    "rows_scanned": "inputRecords",
    "bytes_scanned": "inputBytes",
    "shuffle_bytes": "shuffleWriteBytes",
    "task_busy_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "mem_spill": "memoryBytesSpilled",
    "disk_spill": "diskBytesSpilled",
}


class StageMetrics:
    """Job and stage metrics of one job group, read from the driver's
    status store (the store behind the Spark UI, kept even with the UI
    off)."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        self.cores = cores

    def read(self, group: str, timeout_ms: int = 10_000) -> dict:
        """Metrics of the group's jobs. Call once the operation has
        returned: every event of its jobs has been posted by then, and
        draining the listener bus puts them all in the store (a
        TimeoutException is raised when it does not drain in time)."""
        self.bus.waitUntilEmpty(timeout_ms)
        jobs = [self.store.job(int(jid)) for jid in
                self.sc.statusTracker().getJobIdsForGroup(group)]
        out = {k: 0 for k in _STAGE_SUMS}
        out.update(jobs=len(jobs), stages_skipped=0, tasks=0, wall_ms=0.0)
        if not jobs:
            return out
        t_lo, t_hi, stages = None, None, set()
        for j in jobs:
            out["stages_skipped"] += j.numSkippedStages()
            sub, end = j.submissionTime(), j.completionTime()
            if sub.isDefined() and end.isDefined():
                a, b = sub.get().getTime(), end.get().getTime()
                t_lo = a if t_lo is None else min(t_lo, a)
                t_hi = b if t_hi is None else max(t_hi, b)
            ids = j.stageIds()
            stages.update(int(ids.apply(i)) for i in range(ids.length()))
        for sid in stages:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # skipped: never attempted
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out["tasks"] += sd.numCompleteTasks()
            for k, getter in _STAGE_SUMS.items():
                out[k] += getattr(sd, getter)()
        if t_lo is not None:
            out["wall_ms"] = float(t_hi - t_lo)
        return out
