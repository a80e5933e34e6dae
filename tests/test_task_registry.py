"""One task registry (druid_spark.tasks) behind sys.tasks, the overlord
task routes and the async SQL statement routes.

Druid runs every MSQ statement as an overlord task: the id
`POST /druid/v2/sql/task` returns is polled and shut down through
`/druid/indexer/v1/task/{id}/…`. The registry keeps at most MAX_DONE
terminal records, so sys.tasks stays bounded.
"""

import json
import time
import urllib.error
import urllib.request

import pytest

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def tsrv(spark, tmp_path_factory):
    """Server over a dedicated engine with a temp warehouse, so its
    ingest statements never touch the repo's spark-warehouse."""
    from druid_spark import DruidSparkEngine
    from druid_spark.server import DruidHttpServer

    eng = DruidSparkEngine(spark, data_dir=SF_DIR, exact_approx=True)
    eng.warehouse_dir = str(tmp_path_factory.mktemp("tasks-wh"))
    srv = DruidHttpServer(eng).start()
    yield srv
    srv.stop()
    eng.close()


def _call(srv, path, obj=None, method=None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=json.dumps(obj).encode() if obj is not None else None,
        headers={"Content-Type": "application/json"},
        method=method or ("POST" if obj is not None else "GET"))
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read() or b"null")
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"null")


def _overlord_status(srv, tid, timeout=120):
    deadline = time.time() + timeout
    while time.time() < deadline:
        code, body = _call(srv, f"/druid/indexer/v1/task/{tid}/status")
        assert code == 200, body
        if body["status"]["statusCode"] in ("SUCCESS", "FAILED",
                                            "CANCELED"):
            return body["status"]
        time.sleep(0.25)
    raise TimeoutError(f"task {tid} still running")


def test_sys_tasks_bounded_running_survives(spark):
    """Terminal tasks are evicted oldest first past MAX_DONE; a task
    still running is never evicted, however old."""
    from druid_spark import DruidSparkEngine
    from druid_spark.tasks import TaskRegistry

    eng = DruidSparkEngine(spark, data_dir=SF_DIR)
    cap = TaskRegistry.MAX_DONE
    eng.record_task("long-runner", "index", "ds", "RUNNING")
    for i in range(cap + 10):
        eng.record_task(f"done-{i}", "query", None, "SUCCESS", 1.0)
    eng.create_system_views()
    rows = eng.spark.sql("SELECT task_id, status FROM sys_tasks").collect()
    done = [r["task_id"] for r in rows if r["status"] == "SUCCESS"]
    assert len(done) <= cap
    assert "done-0" not in done and f"done-{cap + 9}" in done
    assert [r["task_id"] for r in rows if r["status"] == "RUNNING"] == [
        "long-runner"]


def test_sql_task_polls_through_overlord(tsrv):
    """POST /druid/v2/sql/task returns a taskId that the overlord's
    status route serves through to SUCCESS, typed query_controller
    with its datasource, and /druid/indexer/v1/tasks lists it."""
    code, sub = _call(tsrv, "/druid/v2/sql/task", {
        "query": "REPLACE INTO tgt_msq_poll OVERWRITE ALL "
                 "SELECT ts AS __time, event_type, value FROM events "
                 "PARTITIONED BY DAY"})
    assert code == 202
    tid = sub["taskId"]
    st = _overlord_status(tsrv, tid)
    assert st["statusCode"] == "SUCCESS", st
    assert st["type"] == "query_controller"
    assert st["dataSource"] == "tgt_msq_poll"
    assert st["duration"] >= 0
    _, listed = _call(tsrv, "/druid/indexer/v1/tasks")
    assert tid in [t["id"] for t in listed]
    _, done = _call(tsrv, "/druid/indexer/v1/completeTasks")
    assert tid in [t["id"] for t in done]
    # the statements route reads the same record
    _, s = _call(tsrv, f"/druid/v2/sql/statements/{tid}")
    assert s["state"] == "SUCCESS"


def test_statement_shutdown_through_overlord(tsrv):
    """A slow statement shut down on the overlord route reads CANCELED
    on both routes."""
    code, sub = _call(tsrv, "/druid/v2/sql/statements", {
        "query": "SELECT COUNT(*) AS n FROM lineitem l1 "
                 "CROSS JOIN lineitem l2 CROSS JOIN region r"})
    assert code == 202
    qid = sub["queryId"]
    code, out = _call(tsrv, f"/druid/indexer/v1/task/{qid}/shutdown", {})
    assert code == 200 and out == {"task": qid}
    _, st = _call(tsrv, f"/druid/v2/sql/statements/{qid}")
    assert st["state"] == "CANCELED"
    assert _overlord_status(tsrv, qid)["statusCode"] == "CANCELED"
    # a shut-down statement serves no results
    code, _ = _call(tsrv, f"/druid/v2/sql/statements/{qid}/results")
    assert code == 400


def test_registry_concurrent_writers_keep_invariants():
    """More writer threads than cores record, track and finish tasks
    at once under a short switch interval: the cap holds exactly,
    every running task survives and each task's last write wins."""
    import sys
    import threading
    from druid_spark.tasks import TaskRegistry

    reg = TaskRegistry()
    reg.MAX_DONE = 50

    def writer(w):
        reg.record(f"run-{w}", "index", "ds", "RUNNING")
        for i in range(300):
            with reg.track(f"t-{w}-{i}", "compact", "ds"):
                pass
            reg.record(f"q-{w}-{i}", "query", None, "ACCEPTED")
            reg.record(f"q-{w}-{i}", "query", None, "SUCCESS", 1.0)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer, args=(w,))
                   for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    recs = reg.records()
    assert sum(r["status"] == "SUCCESS" for r in recs) == 50
    assert sorted(r["task_id"] for r in recs if r["status"] == "RUNNING") \
        == sorted(f"run-{w}" for w in range(8))
    assert not any(r["status"] == "ACCEPTED" for r in recs)


def test_cancel_before_job_group_skips_body(spark):
    """A cancel that lands after the task reads RUNNING but before the
    scheduler's worker sets the job group (here: while a wrapped submit
    waits) stops the body before it runs a Spark job."""
    import threading
    from druid_spark.scheduler import QueryScheduler
    from druid_spark.tasks import TaskRegistry

    reg, sched = TaskRegistry(), QueryScheduler(spark)
    submit, waiting, go = sched.submit, threading.Event(), threading.Event()

    def slow_submit(qid, fn, **kw):
        waiting.set()
        assert go.wait(30)
        return submit(qid, fn, **kw)

    sched.submit = slow_submit
    ran, done = [], threading.Event()

    def body(_rec):
        ran.append(True)
        return spark.range(100).count()

    reg.run_async("early-cancel", "query", None, body, sched,
                  done=lambda _rec: done.set())
    assert waiting.wait(30)
    assert reg.get("early-cancel")["status"] == "RUNNING"
    # the server's order: flag the record, then cancel the job group
    assert reg.cancel("early-cancel")
    sched.cancel("early-cancel")
    go.set()
    assert done.wait(60)
    assert ran == []
    assert reg.get("early-cancel")["status"] == "CANCELED"
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert list(sc.statusTracker().getJobIdsForGroup("early-cancel")) == []
