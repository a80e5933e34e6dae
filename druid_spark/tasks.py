"""The task registry: one record per task, whoever submitted it.

Druid runs every ingestion, compaction, kill and MSQ statement as an
overlord task through one TaskQueue and TaskStorage, and the id
`POST /druid/v2/sql/task` returns polls on the overlord's routes. The
engine owns one TaskRegistry as `engine.tasks`: overlord tasks, async
SQL statements, SQL INSERT/REPLACE runs and the coordinator duties'
kills and compactions are each one record, which sys.tasks, the
overlord routes and the statements routes read. `record` is the one
upsert, `track` runs a task body, `run_async` runs one on a daemon
thread under the query scheduler's job group. Terminal records past
MAX_DONE are evicted oldest first and their result spills closed, so
driver memory stays bounded. A statement's record carries its
submitter as `owner`; a lookup for another identity raises
TaskForbidden (SqlStatementResource's owner scoping) on every route,
and one with identity None (an in-process caller) is not checked.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import threading
import time
from typing import Any, Callable

from druid_spark.scheduler import QueryCanceledError

TERMINAL = ("SUCCESS", "FAILED", "CANCELED")
SHUTDOWN_MSG = "Shutdown request from user"


class TaskForbidden(LookupError):
    def __init__(self, task_id: str):
        super().__init__(f"task {task_id} belongs to another identity")


class TaskRegistry:
    MAX_DONE = 256  # terminal records kept

    def __init__(self):
        self._lock = threading.Lock()
        self._recs: dict[str, dict[str, Any]] = {}  # oldest first

    def __iter__(self):
        return iter(self.records())

    def records(self, ident: str | None = None) -> list[dict]:
        """Copies of the records `ident` may see, oldest first."""
        with self._lock:
            return [dict(r) for r in self._recs.values()
                    if ident is None or r.get("owner", ident) == ident]

    def get(self, task_id: str, ident: str | None = None) -> dict | None:
        """Task `task_id`'s record, or None; TaskForbidden when an
        identity other than `ident` owns it."""
        rec = self._recs.get(task_id)
        if rec is not None and ident is not None \
                and rec.get("owner", ident) != ident:
            raise TaskForbidden(task_id)
        return rec

    def record(self, task_id: str, task_type: str,
               datasource: str | None, status: str,
               duration_ms: float = 0.0,
               error_msg: str | None = None) -> None:
        """Insert or update task `task_id`; the latest status wins, and
        a None datasource keeps the recorded type and datasource."""
        with self._lock:
            self._upsert(task_id, task_type, datasource, status,
                         duration_ms=duration_ms, error_msg=error_msg)
            evicted = self._evict()
        _close(evicted)

    def _upsert(self, task_id, task_type, datasource, status, **fields):
        rec = self._recs.get(task_id)
        if rec is None:
            now = time.time()
            rec = self._recs[task_id] = {
                "task_id": task_id, "type": task_type,
                "datasource": datasource, "created": now,
                "created_time": dt.datetime.fromtimestamp(
                    now, dt.timezone.utc).isoformat(),
                "cancel": False, "spill": None, "error_class": None}
        elif datasource is not None:
            rec.update(type=task_type, datasource=datasource)
        rec.update({"status": status, "duration_ms": 0.0,
                    "error_msg": None, **fields})
        return rec

    def _evict(self) -> list[dict]:
        done = [t for t, r in self._recs.items() if r["status"] in TERMINAL]
        return [self._recs.pop(t)
                for t in done[:max(0, len(done) - self.MAX_DONE)]]

    def cancel(self, task_id: str, ident: str | None = None) -> bool:
        """Flag a task canceled (a running one reads CANCELED at once);
        False if there is none. The caller cancels its Spark jobs."""
        with self._lock:
            rec = self.get(task_id, ident)
            if rec is None:
                return False
            rec["cancel"] = True
            if rec["status"] not in TERMINAL:
                rec.update(status="CANCELED", error_msg=SHUTDOWN_MSG)
        return True

    @contextlib.contextmanager
    def track(self, task_id: str, task_type: str,
              datasource: str | None = None):
        """Run the with-body as task `task_id`: RUNNING, then SUCCESS,
        FAILED (the error is recorded and re-raised) or, once canceled,
        CANCELED, with the duration since the task was created. A task
        canceled before entry raises QueryCanceledError without running
        the body. Inside a block already running the same task (a
        statement running an INSERT) it only records type and
        datasource."""
        with self._lock:
            rec = self._recs.get(task_id)
            nested = rec is not None and rec["status"] == "RUNNING"
            if nested:
                if datasource is not None:
                    rec.update(type=task_type, datasource=datasource)
            elif rec is not None and rec["cancel"]:
                rec["duration_ms"] = _since(rec)
                raise QueryCanceledError(task_id)
            else:
                rec = self._upsert(task_id, task_type, datasource,
                                   "RUNNING")
        if nested:
            yield rec
            return
        error = None
        try:
            yield rec
        except BaseException as e:
            error = e
            raise
        finally:
            with self._lock:
                rec["duration_ms"] = _since(rec)
                if rec["cancel"]:
                    rec.update(status="CANCELED", error_msg=SHUTDOWN_MSG)
                elif error is None:
                    rec["status"] = "SUCCESS"
                else:
                    rec.update(status="FAILED", error_msg=str(error),
                               error_class=type(error).__name__)
                evicted = self._evict()
            # a canceled task's result is never served
            _close(evicted + ([rec] if rec["cancel"] else []))

    def run_async(self, task_id: str, task_type: str,
                  datasource: str | None, body: Callable[[dict], Any],
                  scheduler, done: Callable[[dict], Any] | None = None,
                  **fields) -> dict:
        """Record task `task_id` ACCEPTED with the surface's own
        `fields`, then run `body(record)` on a daemon thread inside
        `track` and under the scheduler's job group `task_id`; `done`
        gets the record once the task has ended. A cancel that lands
        before the job group is set skips the body. KeyError if the id
        is taken."""
        with self._lock:
            if task_id in self._recs:
                raise KeyError(task_id)
            rec = self._upsert(task_id, task_type, datasource, "ACCEPTED",
                               **fields)

        def guarded():
            # runs in the scheduler's worker once the job group is set:
            # a cancel flags the record before it cancels the group, so
            # one that landed before the group existed stops the body here
            if rec["cancel"]:
                raise QueryCanceledError(task_id)
            return body(rec)

        def run():
            try:
                with self.track(task_id, task_type, datasource):
                    scheduler.submit(task_id, guarded)
            except Exception:
                pass  # track recorded how the task ended
            if done is not None:
                done(rec)

        threading.Thread(target=run, daemon=True,
                         name=f"task-{task_id[:24]}").start()
        return rec


def _since(rec: dict) -> float:
    return (time.time() - rec["created"]) * 1000.0


def _close(recs: list[dict]) -> None:
    for r in recs:
        spill, r["spill"] = r["spill"], None
        if spill is not None:
            spill.close()
