"""Query scheduling: cancellation, timeouts, and laning.

The reference brokers every query through a QueryScheduler
(server/src/main/java/org/apache/druid/server/QueryScheduler.java:60)
that (a) registers the query id so `DELETE /druid/v2/{id}` can cancel
it (QueryResource.cancelQuery), (b) enforces `context.timeout`
(processing/.../query/QueryTimeoutException.java — HTTP 504), and
(c) applies a laning strategy that caps concurrency per lane
(server/.../server/scheduling/HiLoQueryLaningStrategy.java — low
priority queries get a bounded lane; exceeding capacity throws
QueryCapacityExceededException, HTTP 429).

Spark-first mapping: a query's Spark jobs are tagged with a job group
named by the query id (`sc.setJobGroup(qid, ..., interruptOnCancel)`),
so cancel = `sc.cancelJobGroup(qid)` — the cluster scheduler kills the
running stages, which is exactly the reference's per-segment
cancellation rolled up to the Spark DAG. Timeout joins the worker
thread and cancels the job group on expiry. Lanes are bounded
semaphores acquired non-blocking — capacity is refused, not queued,
matching the reference's fail-fast contract.
"""

from __future__ import annotations

import datetime as dt
import threading
from typing import Any, Callable

from druid_spark.granularity import add_period, period_to_millis

__all__ = [
    "QueryCapacityExceededError",
    "QueryTimeoutError",
    "QueryScheduler",
]


class QueryCapacityExceededError(RuntimeError):
    """Lane or total capacity exhausted (QueryCapacityExceededException:
    fail fast with HTTP 429, never queue)."""

    def __init__(self, lane: str | None, capacity: int):
        self.lane = lane
        self.capacity = capacity
        where = f"lane '{lane}'" if lane else "total"
        super().__init__(
            f"Too many concurrent queries for {where}, capacity={capacity}")


class QueryTimeoutError(RuntimeError):
    """context.timeout exceeded (QueryTimeoutException — HTTP 504)."""

    def __init__(self, qid: str, timeout_ms: int):
        self.query_id = qid
        super().__init__(f"Query [{qid}] timed out after {timeout_ms}ms")


class QueryScheduler:
    """Runs query result-collection under a per-query Spark job group
    with optional total/lane concurrency caps.

        sched = QueryScheduler(spark, total=8, lane_limits={"low": 2})
        rows = sched.submit(qid, lambda: df.collect(),
                            lane="low", timeout_ms=30_000)

    Lane selection follows HiLoQueryLaningStrategy: an explicit
    `context.lane` wins; otherwise `context.priority < 0` routes to the
    'low' lane (HiLoQueryLaningStrategy.computeLane).
    """

    def __init__(self, spark, total: int | None = None,
                 lane_limits: dict[str, int] | None = None):
        self.spark = spark
        self._total_cap = total
        self._total = (threading.BoundedSemaphore(total)
                       if total is not None else None)
        self._lane_caps = dict(lane_limits or {})
        self._lanes = {k: threading.BoundedSemaphore(v)
                       for k, v in self._lane_caps.items()}
        self._lock = threading.Lock()
        self._running: dict[str, dict] = {}

    # -- laning ---------------------------------------------------------
    @staticmethod
    def compute_lane(context: dict | None) -> str | None:
        """HiLoQueryLaningStrategy.computeLane: explicit lane, else
        priority < 0 → 'low'."""
        ctx = context or {}
        lane = ctx.get("lane")
        if lane is not None:
            return str(lane)
        try:
            if int(ctx.get("priority", 0)) < 0:
                return "low"
        except (TypeError, ValueError):
            pass
        return None

    def running_query_ids(self) -> list[str]:
        with self._lock:
            return sorted(self._running)

    # -- cancel ---------------------------------------------------------
    def cancel(self, qid: str) -> bool:
        """Cancel a registered query's Spark job group. True if the id
        was registered (QueryResource.cancelQuery returns 202/404)."""
        with self._lock:
            rec = self._running.get(qid)
            if rec is not None:
                rec["canceled"] = True
        # Cancel the job group regardless — a statement may register
        # the group a moment before/after the registry entry appears.
        self.spark.sparkContext.cancelJobGroup(qid)
        return rec is not None

    def was_canceled(self, qid: str) -> bool:
        with self._lock:
            rec = self._running.get(qid)
            return bool(rec and rec.get("canceled"))

    # -- submit ---------------------------------------------------------
    def submit(self, qid: str, fn: Callable[[], Any], *,
               lane: str | None = None,
               timeout_ms: int | None = None) -> Any:
        """Run `fn` (the result-collecting action) under job group
        `qid`. Raises QueryCapacityExceededError if the lane or total
        slots are exhausted, QueryTimeoutError on timeout (the job
        group is cancelled first), and re-raises `fn`'s own errors."""
        lane_sem = self._lanes.get(lane) if lane else None
        if lane_sem is not None and not lane_sem.acquire(blocking=False):
            raise QueryCapacityExceededError(lane, self._lane_caps[lane])
        if self._total is not None and not self._total.acquire(blocking=False):
            if lane_sem is not None:
                lane_sem.release()
            raise QueryCapacityExceededError(None, self._total_cap or 0)

        rec = {"lane": lane, "canceled": False}
        with self._lock:
            self._running[qid] = rec
        out: dict[str, Any] = {}

        def release():
            # Slot + registry release belongs to the WORKER, not the
            # submitter: on timeout the submitter raises while the
            # Spark jobs are still draining after cancelJobGroup —
            # releasing then would admit new queries above the
            # capacity cap and orphan the still-running id.
            with self._lock:
                self._running.pop(qid, None)
            if self._total is not None:
                self._total.release()
            if lane_sem is not None:
                lane_sem.release()

        def work():
            sc = self.spark.sparkContext
            sc.setJobGroup(qid, f"druid-spark query {qid}",
                           interruptOnCancel=True)
            try:
                out["value"] = fn()
            except BaseException as e:  # surfaced to the caller below
                out["error"] = e
            finally:
                # clear the group so a pooled thread doesn't leak it
                sc.setJobGroup("", "")
                release()

        try:
            from pyspark import InheritableThread
            t = InheritableThread(target=work, daemon=True,
                                  name=f"query-{qid[:8]}")
            t.start()
        except BaseException:
            release()  # thread never ran; the slot would leak
            raise
        t.join(timeout_ms / 1000.0 if timeout_ms else None)
        if t.is_alive():
            self.spark.sparkContext.cancelJobGroup(qid)
            raise QueryTimeoutError(qid, timeout_ms or 0)
        # rec is read directly (not via the registry) because the
        # worker's release() has already popped the id by now
        if "error" in out:
            if rec["canceled"]:
                raise QueryCanceledError(qid) from out["error"]
            raise out["error"]
        if rec["canceled"]:
            raise QueryCanceledError(qid)
        return out["value"]


class QueryCanceledError(RuntimeError):
    """Query was canceled via cancel(qid) (QueryInterruptedException
    with QUERY_CANCELED code — HTTP 500 in the reference)."""

    def __init__(self, qid: str):
        self.query_id = qid
        super().__init__(f"Query [{qid}] was canceled")


__all__.append("QueryCanceledError")


class ThresholdPrioritization:
    """ThresholdBasedQueryPrioritizationStrategy analog
    (server/.../server/scheduling/
    ThresholdBasedQueryPrioritizationStrategy.java:43): queries
    scanning far into the past (any interval starting before
    now - periodThreshold) or covering a long total duration
    (> durationThreshold) get their priority lowered by `adjustment`
    (default 5, the reference default) — which lands them in the
    bounded 'low' lane via HiLo laning. Protects interactive
    dashboards from long-range batch scans without any manual
    context.priority tagging."""

    def __init__(self, period_threshold: str | None = None,
                 duration_threshold: str | None = None,
                 adjustment: int = 5):
        if not period_threshold and not duration_threshold:
            raise ValueError("periodThreshold or durationThreshold "
                             "must be set")
        if period_threshold:  # ValueError if malformed
            add_period(dt.datetime(2000, 1, 1), period_threshold)
        self._period = period_threshold or None
        # a duration has no calendar units (Joda's
        # Period.toStandardDuration refuses months and years)
        self._duration = (
            dt.timedelta(milliseconds=period_to_millis(duration_threshold))
            if duration_threshold else None)
        self.adjustment = adjustment

    def _intervals(self, q: dict):
        out = []
        for iv in q.get("intervals") or []:
            try:
                a, b = str(iv).split("/")
                out.append((
                    dt.datetime.fromisoformat(
                        a.replace("T", " ").rstrip("Z")),
                    dt.datetime.fromisoformat(
                        b.replace("T", " ").rstrip("Z"))))
            except ValueError:
                continue
        return out

    def compute_priority(self, q: dict,
                         now=None) -> int | None:
        """Adjusted priority, or None when no threshold is violated
        (the reference returns Optional.empty() → context priority
        stands)."""
        now = now or dt.datetime.now(dt.timezone.utc).replace(
            tzinfo=None)
        ivs = self._intervals(q)
        violates = False
        if self._period is not None and ivs:
            horizon = add_period(now, self._period, -1)
            violates |= any(a < horizon for a, _b in ivs)
        if self._duration is not None and ivs:
            total = sum(((b - a) for a, b in ivs),
                        __import__("datetime").timedelta())
            violates |= total > self._duration
        if not violates:
            return None
        try:
            base = int((q.get("context") or {}).get("priority", 0))
        except (TypeError, ValueError):
            base = 0
        return base - self.adjustment
