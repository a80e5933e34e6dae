"""Overlord ingestion API tests: task + supervisor HTTP lifecycle.

Reference contracts: indexing-service
OverlordResource.java:108 (POST /druid/indexer/v1/task → {"task": id},
GET task/{id}/status → TaskStatusResponse, POST task/{id}/shutdown) and
SupervisorResource.java:81 (POST /druid/indexer/v1/supervisor →
{"id": ...}, suspend/resume/terminate lifecycle).
"""

import json
import time
import urllib.error
import urllib.request

import pytest

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def osrv(spark, tmp_path_factory):
    """Server over a dedicated engine with a temp warehouse, so
    ingestion tasks never touch the repo's spark-warehouse."""
    from druid_spark import DruidSparkEngine
    from druid_spark.server import DruidHttpServer

    eng = DruidSparkEngine(spark, data_dir=SF_DIR, exact_approx=True)
    eng.warehouse_dir = str(tmp_path_factory.mktemp("overlord-wh"))
    srv = DruidHttpServer(eng).start()
    yield srv
    srv.stop()
    eng.close()


def _post(srv, path, obj=None, expect_error=False):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=json.dumps(obj if obj is not None else {}).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        if not expect_error:
            raise
        return e.code, json.loads(e.read())


def _get(srv, path, expect_error=False):
    try:
        with urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}{path}") as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        if not expect_error:
            raise
        return e.code, json.loads(e.read())


def _await_task(srv, tid, timeout=90):
    deadline = time.time() + timeout
    while time.time() < deadline:
        _, body = _get(srv, f"/druid/indexer/v1/task/{tid}/status")
        state = body["status"]["statusCode"]
        if state in ("SUCCESS", "FAILED", "CANCELED"):
            return body["status"]
        time.sleep(0.2)
    raise TimeoutError(f"task {tid} still running")


def _index_spec(datasource="ov_wiki"):
    rows = [
        {"timestamp": "2024-03-01T00:05:00Z", "page": "a", "n": 1},
        {"timestamp": "2024-03-01T10:00:00Z", "page": "a", "n": 2},
        {"timestamp": "2024-03-02T00:00:00Z", "page": "b", "n": 3},
        {"timestamp": "2024-03-05T00:00:00Z", "page": "b", "n": 4},
    ]
    return {
        "type": "index_parallel",
        "spec": {
            "ioConfig": {
                "inputSource": {
                    "type": "inline",
                    "data": "\n".join(json.dumps(r) for r in rows)},
                "inputFormat": {"type": "json"},
            },
            "dataSchema": {
                "dataSource": datasource,
                "timestampSpec": {"column": "timestamp", "format": "iso"},
                "dimensionsSpec": {"dimensions": ["page"]},
                "metricsSpec": [
                    {"type": "longSum", "name": "n_sum", "fieldName": "n"}],
                "granularitySpec": {"segmentGranularity": "day",
                                    "rollup": False},
            },
        },
    }


def test_index_task_makes_datasource_queryable(osrv):
    """POST an index_parallel task, poll to SUCCESS, then query the
    new datasource through the native endpoint."""
    status, out = _post(osrv, "/druid/indexer/v1/task", _index_spec())
    assert status == 200 and out["task"].startswith("index_parallel_ov_wiki")
    tid = out["task"]

    st = _await_task(osrv, tid)
    assert st["statusCode"] == "SUCCESS", st
    assert st["dataSource"] == "ov_wiki"
    assert st["duration"] >= 0

    # payload round-trips the submitted spec
    _, payload = _get(osrv, f"/druid/indexer/v1/task/{tid}")
    assert payload["payload"]["type"] == "index_parallel"

    # appears in the complete-tasks listing, not the running one
    _, done = _get(osrv, "/druid/indexer/v1/completeTasks")
    assert tid in [t["id"] for t in done]

    # the ingested table is immediately queryable
    _, tables = _get(osrv, "/druid/v2/datasources")
    assert "ov_wiki" in tables
    status, rows = _post(osrv, "/druid/v2", {
        "queryType": "groupBy", "dataSource": "ov_wiki",
        "granularity": "all",
        "intervals": ["2024-01-01/2025-01-01"],
        "dimensions": ["page"],
        "aggregations": [{"type": "longSum", "name": "n",
                          "fieldName": "n"}]})
    got = sorted((r["event"]["page"], r["event"]["n"]) for r in rows)
    assert got == [("a", 3), ("b", 7)]


def test_reports_and_datasource_drop(osrv):
    """Task reports expose ingestion rowStats; DELETE
    /druid/coordinator/v1/datasources/{ds} unregisters the table."""
    status, out = _post(osrv, "/druid/indexer/v1/task",
                        _index_spec("ov_drop"))
    assert status == 200
    tid = out["task"]
    assert _await_task(osrv, tid)["statusCode"] == "SUCCESS"

    status, rep = _get(osrv, f"/druid/indexer/v1/task/{tid}/reports")
    stats = rep["ingestionStatsAndErrors"]["payload"]
    assert stats["ingestionState"] == "COMPLETED"
    assert stats["rowStats"]["buildSegments"]["processed"] == 4

    # a noop task has no reports (reference parity)
    status, out2 = _post(osrv, "/druid/indexer/v1/task",
                         {"type": "noop"})
    _await_task(osrv, out2["task"])
    status, _ = _get(
        osrv, f"/druid/indexer/v1/task/{out2['task']}/reports",
        expect_error=True)
    assert status == 404

    req = urllib.request.Request(
        f"http://127.0.0.1:{osrv.port}"
        "/druid/coordinator/v1/datasources/ov_drop", method="DELETE")
    with urllib.request.urlopen(req) as r:
        assert r.status == 200
    _, tables = _get(osrv, "/druid/v2/datasources")
    assert "ov_drop" not in tables
    req = urllib.request.Request(
        f"http://127.0.0.1:{osrv.port}"
        "/druid/coordinator/v1/datasources/ov_drop", method="DELETE")
    try:
        urllib.request.urlopen(req)
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_kill_task_drops_interval(osrv):
    status, out = _post(osrv, "/druid/indexer/v1/task",
                        _index_spec("ov_kill"))
    assert status == 200
    assert _await_task(osrv, out["task"])["statusCode"] == "SUCCESS"

    # kill the 2024-03-01 day chunk (2 of 4 rows)
    status, out = _post(osrv, "/druid/indexer/v1/task", {
        "type": "kill", "dataSource": "ov_kill",
        "interval": "2024-03-01/2024-03-02"})
    assert status == 200
    assert _await_task(osrv, out["task"])["statusCode"] == "SUCCESS"

    status, rows = _post(osrv, "/druid/v2", {
        "queryType": "timeseries", "dataSource": "ov_kill",
        "granularity": "all", "intervals": ["2024-01-01/2025-01-01"],
        "aggregations": [{"type": "count", "name": "c"}]})
    assert rows[0]["result"]["c"] == 2


def test_compact_task(osrv):
    status, out = _post(osrv, "/druid/indexer/v1/task",
                        _index_spec("ov_compact"))
    assert status == 200
    assert _await_task(osrv, out["task"])["statusCode"] == "SUCCESS"

    status, out = _post(osrv, "/druid/indexer/v1/task", {
        "type": "compact", "dataSource": "ov_compact"})
    assert status == 200
    assert _await_task(osrv, out["task"])["statusCode"] == "SUCCESS"


def test_compact_task_keeps_query_results(osrv):
    """After a compact task the datasource reads the rewritten files, so
    the same query returns the same rows."""
    status, out = _post(osrv, "/druid/indexer/v1/task",
                        _index_spec("ov_compact_q"))
    assert _await_task(osrv, out["task"])["statusCode"] == "SUCCESS"
    query = {"queryType": "timeseries", "dataSource": "ov_compact_q",
             "granularity": "day", "intervals": ["2024-03-01/2024-03-06"],
             "aggregations": [{"type": "count", "name": "c"},
                              {"type": "longSum", "name": "s",
                               "fieldName": "n"}]}
    # distinct query ids keep the two runs from sharing one cached plan,
    # whose second run would reuse the first one's shuffle output
    status, before = _post(osrv, "/druid/v2",
                           dict(query, context={"queryId": "before"}))
    assert status == 200 and sum(r["result"]["s"] for r in before) == 10

    status, out = _post(osrv, "/druid/indexer/v1/task", {
        "type": "compact", "dataSource": "ov_compact_q"})
    assert _await_task(osrv, out["task"])["statusCode"] == "SUCCESS"
    status, after = _post(osrv, "/druid/v2",
                          dict(query, context={"queryId": "after"}))
    assert status == 200 and after == before


def test_kill_task_over_whole_span_unregisters(osrv):
    """A kill that drops every chunk leaves nothing to read: the task
    succeeds and the datasource is no longer served."""
    status, out = _post(osrv, "/druid/indexer/v1/task",
                        _index_spec("ov_kill_all"))
    assert _await_task(osrv, out["task"])["statusCode"] == "SUCCESS"
    status, out = _post(osrv, "/druid/indexer/v1/task", {
        "type": "kill", "dataSource": "ov_kill_all",
        "interval": "2024-01-01/2025-01-01"})
    assert _await_task(osrv, out["task"])["statusCode"] == "SUCCESS"
    _, names = _get(osrv, "/druid/v2/datasources")
    assert "ov_kill_all" not in names
    # and there is nothing left to mark used again
    status, _ = _post(osrv, "/druid/coordinator/v1/datasources/ov_kill_all",
                      expect_error=True)
    assert status == 404


def test_noop_task_shutdown_cancels(osrv):
    status, out = _post(osrv, "/druid/indexer/v1/task",
                        {"type": "noop", "runTime": 30_000})
    assert status == 200
    tid = out["task"]
    _, running = _get(osrv, "/druid/indexer/v1/runningTasks")
    assert tid in [t["id"] for t in running]

    status, out = _post(osrv, f"/druid/indexer/v1/task/{tid}/shutdown")
    assert status == 200 and out == {"task": tid}
    st = _await_task(osrv, tid, timeout=15)
    assert st["statusCode"] == "CANCELED"
    assert "Shutdown" in (st["errorMsg"] or "")


def test_task_error_paths(osrv):
    status, out = _post(osrv, "/druid/indexer/v1/task",
                        {"type": "quack"}, expect_error=True)
    assert status == 400 and "unsupported task type" in out["error"]
    status, out = _get(osrv, "/druid/indexer/v1/task/nope/status",
                       expect_error=True)
    assert status == 404
    # a kill against a datasource with no warehouse segments FAILS
    # (honest error, not silent success)
    status, out = _post(osrv, "/druid/indexer/v1/task", {
        "type": "kill", "dataSource": "no_such_ds",
        "interval": "2024-01-01/2024-01-02"})
    assert status == 200
    assert _await_task(osrv, out["task"])["statusCode"] == "FAILED"


def test_leader_endpoints(osrv):
    status, body = _get(osrv, "/druid/indexer/v1/isLeader")
    assert status == 200 and body == {"leader": True}
    status, body = _get(osrv, "/druid/indexer/v1/leader")
    assert status == 200 and str(osrv.port) in body


def test_supervisor_lifecycle(osrv):
    """Submit a streaming supervisor (rate source), then suspend /
    resume / terminate through the HTTP lifecycle."""
    spec = {
        "type": "rate_supervisor",
        "spec": {
            "ioConfig": {"stream": {"type": "rate", "rowsPerSecond": 50}},
            "dataSchema": {
                "dataSource": "ov_rates",
                "timestampSpec": {"column": "timestamp"},
                "granularitySpec": {"rollup": False},
            },
        },
    }
    status, out = _post(osrv, "/druid/indexer/v1/supervisor", spec)
    assert status == 200 and out == {"id": "ov_rates"}

    status, ids = _get(osrv, "/druid/indexer/v1/supervisor")
    assert status == 200 and "ov_rates" in ids
    _, full = _get(osrv, "/druid/indexer/v1/supervisor?full")
    assert any(e["id"] == "ov_rates" and "spec" in e for e in full)
    _, states = _get(osrv, "/druid/indexer/v1/supervisor?state=true")
    assert any(e["id"] == "ov_rates" and e["state"] == "RUNNING"
               for e in states)

    _, st = _get(osrv, "/druid/indexer/v1/supervisor/ov_rates/status")
    assert st["payload"]["state"] == "RUNNING"
    assert st["payload"]["suspended"] is False

    # spec GET round-trips
    _, got = _get(osrv, "/druid/indexer/v1/supervisor/ov_rates")
    assert got["spec"]["dataSchema"]["dataSource"] == "ov_rates"

    status, _ = _post(osrv, "/druid/indexer/v1/supervisor/ov_rates/suspend")
    assert status == 200
    _, st = _get(osrv, "/druid/indexer/v1/supervisor/ov_rates/status")
    assert st["payload"]["state"] == "SUSPENDED"
    assert st["payload"]["suspended"] is True

    status, _ = _post(osrv, "/druid/indexer/v1/supervisor/ov_rates/resume")
    assert status == 200
    _, st = _get(osrv, "/druid/indexer/v1/supervisor/ov_rates/status")
    assert st["payload"]["state"] == "RUNNING"

    # reset drops the checkpoint (stored offsets) and restarts
    status, out = _post(osrv,
                        "/druid/indexer/v1/supervisor/ov_rates/reset")
    assert status == 200 and out == {"id": "ov_rates"}
    _, st = _get(osrv, "/druid/indexer/v1/supervisor/ov_rates/status")
    assert st["payload"]["state"] == "RUNNING"

    status, out = _post(osrv,
                        "/druid/indexer/v1/supervisor/ov_rates/terminate")
    assert status == 200 and out == {"id": "ov_rates"}
    status, ids = _get(osrv, "/druid/indexer/v1/supervisor")
    assert ids == []
    status, _ = _get(osrv, "/druid/indexer/v1/supervisor/ov_rates/status",
                     expect_error=True)
    assert status == 404
