"""Query scheduling: cancel, timeout, laning.

Reference contracts: server/.../server/QueryScheduler.java:60 (laning +
cancel registry), QueryResource.cancelQuery (DELETE /druid/v2/{id} →
202/404), processing/.../query/QueryTimeoutException.java (HTTP 504),
QueryCapacityExceededException (HTTP 429),
server/.../scheduling/HiLoQueryLaningStrategy.java (priority < 0 →
bounded 'low' lane).
"""

import json
import threading
import time
import urllib.error
import urllib.request

import pytest

from druid_spark.scheduler import (
    QueryCapacityExceededError,
    QueryScheduler,
    QueryTimeoutError,
)

SLOW_SQL = ("SELECT count(*) AS n FROM lineitem a, lineitem b, "
            "lineitem c WHERE a.l_quantity + b.l_quantity "
            "+ c.l_quantity > 0")


def test_compute_lane():
    assert QueryScheduler.compute_lane({"lane": "etl"}) == "etl"
    assert QueryScheduler.compute_lane({"priority": -1}) == "low"
    assert QueryScheduler.compute_lane({"priority": 5}) is None
    assert QueryScheduler.compute_lane({}) is None
    assert QueryScheduler.compute_lane(None) is None


def test_lane_capacity_fail_fast(spark):
    sched = QueryScheduler(spark, lane_limits={"low": 1})
    release = threading.Event()
    started = threading.Event()

    def slow():
        started.set()
        release.wait(10)
        return 42

    results = {}
    t = threading.Thread(
        target=lambda: results.update(
            first=sched.submit("q-hold", slow, lane="low")))
    t.start()
    assert started.wait(5)
    # lane full → immediate refusal, not queuing
    with pytest.raises(QueryCapacityExceededError):
        sched.submit("q-reject", lambda: 1, lane="low")
    # other lanes / unlaned queries unaffected
    assert sched.submit("q-free", lambda: 7) == 7
    release.set()
    t.join(5)
    assert results["first"] == 42
    # slot released after completion
    assert sched.submit("q-after", lambda: 8, lane="low") == 8


def test_total_capacity(spark):
    sched = QueryScheduler(spark, total=1)
    release = threading.Event()
    started = threading.Event()

    def slow():
        started.set()
        release.wait(10)
        return 1

    t = threading.Thread(target=lambda: sched.submit("q1", slow))
    t.start()
    assert started.wait(5)
    with pytest.raises(QueryCapacityExceededError):
        sched.submit("q2", lambda: 2)
    release.set()
    t.join(5)


def test_timeout_cancels_spark_jobs(spark):
    """A runaway Spark action is killed at context.timeout, not run to
    completion (QueryTimeoutException semantics)."""
    sched = QueryScheduler(spark)
    big = spark.range(200_000).crossJoin(spark.range(200_000))
    t0 = time.time()
    with pytest.raises(QueryTimeoutError):
        sched.submit("q-slow", big.count, timeout_ms=500)
    # the 4e10-row count would take minutes; cancellation must return
    # promptly after the timeout fires
    assert time.time() - t0 < 30
    # session still healthy afterwards
    assert spark.range(10).count() == 10


def test_http_timeout_504(engine):
    from druid_spark.server import DruidHttpServer
    srv = DruidHttpServer(engine).start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/druid/v2/sql",
            data=json.dumps({"query": SLOW_SQL,
                             "context": {"timeout": 500}}).encode(),
            headers={"Content-Type": "application/json"}, method="POST")
        t0 = time.time()
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req)
        assert ei.value.code == 504
        body = json.loads(ei.value.read())
        assert body["error"] == "Query timeout"
        assert time.time() - t0 < 60
    finally:
        srv.stop()


def test_http_cached_query_times_out(engine):
    """A result-cached statement runs only under the scheduler:
    compiling it (as the Avatica prepare probe does) runs no job, and
    over HTTP it times out with 504 and its job group cancelled."""
    from druid_spark.server import DruidHttpServer
    sc = engine.spark.sparkContext
    tracker = sc.statusTracker()
    cached = "SET useResultCache = true; " + SLOW_SQL
    engine.sql(SLOW_SQL)  # first-statement set-up may run jobs
    sc.setJobGroup("cached-compile", "compile only")
    try:
        assert engine.sql(cached).limit(0).columns == ["n"]
        # a marker job in a later group: once the status store shows
        # it, it has recorded every earlier job too
        sc.setJobGroup("cached-compile-marker", "status store barrier")
        engine.spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.time() + 30
    while (not tracker.getJobIdsForGroup("cached-compile-marker")
           and time.time() < deadline):
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup("cached-compile-marker")
    assert tracker.getJobIdsForGroup("cached-compile") == []

    srv = DruidHttpServer(engine).start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/druid/v2/sql",
            data=json.dumps({"query": cached, "context": {
                "timeout": 500, "sqlQueryId": "cached-slow"}}).encode(),
            headers={"Content-Type": "application/json"}, method="POST")
        t0 = time.time()
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req)
        assert ei.value.code == 504
        assert time.time() - t0 < 60
    finally:
        srv.stop()

    def statuses():
        return [tracker.getJobInfo(j).status
                for j in tracker.getJobIdsForGroup("cached-slow")]

    deadline = time.time() + 30
    while "RUNNING" in statuses() and time.time() < deadline:
        time.sleep(0.1)
    assert "FAILED" in statuses() and "RUNNING" not in statuses()


def test_http_lane_capacity_429_and_cancel(engine):
    """Low-priority lane at capacity → 429; DELETE /druid/v2/{id}
    cancels a running native query (202) and unknown ids 404."""
    from druid_spark.server import DruidHttpServer
    srv = DruidHttpServer(engine, lane_limits={"low": 1}).start()
    try:
        url = f"http://127.0.0.1:{srv.port}"
        release = threading.Event()
        started = threading.Event()

        # occupy the low lane directly via the scheduler (deterministic,
        # no sleep-based racing on HTTP threads)
        def hold():
            started.set()
            release.wait(15)
            return []

        def run_held():
            try:
                srv.scheduler.submit("q-hold", hold, lane="low")
            except Exception:
                pass  # the DELETE below cancels this query by design

        t = threading.Thread(target=run_held)
        t.start()
        assert started.wait(5)

        req = urllib.request.Request(
            f"{url}/druid/v2/sql",
            data=json.dumps({
                "query": "SELECT 1 AS one",
                "context": {"priority": -1}}).encode(),
            headers={"Content-Type": "application/json"}, method="POST")
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req)
        assert ei.value.code == 429
        assert json.loads(ei.value.read())["error"] == "Query capacity exceeded"

        # DELETE of the held (registered) query id → 202
        dreq = urllib.request.Request(
            f"{url}/druid/v2/q-hold", method="DELETE")
        with urllib.request.urlopen(dreq) as r:
            assert r.status == 202
        # unknown id → 404
        dreq = urllib.request.Request(
            f"{url}/druid/v2/nope", method="DELETE")
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(dreq)
        assert ei.value.code == 404

        release.set()
        t.join(5)

        # high-priority work was never blocked
        req = urllib.request.Request(
            f"{url}/druid/v2/sql",
            data=json.dumps({"query": "SELECT 2 AS two"}).encode(),
            headers={"Content-Type": "application/json"}, method="POST")
        with urllib.request.urlopen(req) as r:
            assert json.loads(r.read()) == [{"two": 2}]
    finally:
        srv.stop()


def test_statements_cancel_stops_jobs(engine):
    """DELETE /druid/v2/sql/statements/{id} flips state to CANCELED and
    cancels the Spark job group (SqlStatementResource + QueryScheduler
    cooperation)."""
    from druid_spark.server import DruidHttpServer
    srv = DruidHttpServer(engine).start()
    try:
        url = f"http://127.0.0.1:{srv.port}"
        req = urllib.request.Request(
            f"{url}/druid/v2/sql/statements",
            data=json.dumps({"query": SLOW_SQL}).encode(),
            headers={"Content-Type": "application/json"}, method="POST")
        with urllib.request.urlopen(req) as r:
            qid = json.loads(r.read())["queryId"]
        time.sleep(1.0)  # let it reach RUNNING and start Spark jobs
        dreq = urllib.request.Request(
            f"{url}/druid/v2/sql/statements/{qid}", method="DELETE")
        with urllib.request.urlopen(dreq) as r:
            assert r.status == 202
        deadline = time.time() + 30
        state = None
        while time.time() < deadline:
            with urllib.request.urlopen(
                    f"{url}/druid/v2/sql/statements/{qid}") as r:
                state = json.loads(r.read())["state"]
            if state == "CANCELED":
                break
            time.sleep(0.5)
        assert state == "CANCELED"
        # engine still serves queries afterwards
        assert engine.sql("SELECT 1 AS x").collect()[0][0] == 1
    finally:
        srv.stop()


def test_threshold_prioritization_unit():
    """ThresholdBasedQueryPrioritizationStrategy analog: long-lookback
    or long-duration intervals demote priority by the adjustment; in-
    threshold queries keep their context priority untouched."""
    import datetime as dt
    from druid_spark.scheduler import ThresholdPrioritization
    import pytest as _pt
    now = dt.datetime(2024, 6, 1)
    p = ThresholdPrioritization(period_threshold="P30D")
    recent = {"intervals": ["2024-05-20/2024-05-30"]}
    old = {"intervals": ["2024-01-01/2024-01-02"],
           "context": {"priority": 10}}
    assert p.compute_priority(recent, now=now) is None
    assert p.compute_priority(old, now=now) == 5  # 10 - 5
    d = ThresholdPrioritization(duration_threshold="P7D",
                                adjustment=3)
    wide = {"intervals": ["2024-05-01/2024-05-30"]}
    narrow = {"intervals": ["2024-05-25/2024-05-30"]}
    assert d.compute_priority(wide, now=now) == -3
    assert d.compute_priority(narrow, now=now) is None
    with _pt.raises(ValueError):
        ThresholdPrioritization()


def test_threshold_prioritization_routes_to_low_lane(engine):
    """E2e: with periodThreshold set and a capacity-1 'low' lane, a
    long-lookback query is routed to the low lane (429 while the lane
    is held) with no manual context.priority; a recent-interval query
    is unaffected."""
    import json
    import threading
    import urllib.error
    import urllib.request
    from druid_spark.server import DruidHttpServer
    srv = DruidHttpServer(engine, lane_limits={"low": 1},
                          prioritization={"periodThreshold": "P30D"}
                          ).start()
    base = f"http://127.0.0.1:{srv.port}"

    def post(obj, timeout=60):
        req = urllib.request.Request(
            base + "/druid/v2", data=json.dumps(obj).encode(),
            headers={"Content-Type": "application/json"},
            method="POST")
        try:
            with urllib.request.urlopen(req, timeout=timeout) as r:
                return r.status
        except urllib.error.HTTPError as e:
            return e.code

    # events data is 2024-01: anything queried "now" is long-lookback
    old_q = {"queryType": "timeseries", "dataSource": "events",
             "granularity": "all",
             "intervals": ["2024-01-01/2024-01-30"],
             "aggregations": [{"type": "count", "name": "n"}]}
    try:
        # hold the low lane from the scheduler directly (deterministic
        # — no timing games), then the auto-demoted query must 429
        gate = threading.Event()
        held = threading.Event()

        def hold():
            def work():
                held.set()
                gate.wait(30)
            srv.scheduler.submit("holder", work, lane="low")

        t = threading.Thread(target=hold)
        t.start()
        held.wait(10)
        assert post(old_q) == 429  # demoted to the full low lane
        # recent/future interval: not demoted, runs fine
        import datetime as dt
        today = dt.date.today()
        assert post({
            "queryType": "timeseries", "dataSource": "events",
            "granularity": "all",
            "intervals": [f"{today}/{today + dt.timedelta(days=1)}"],
            "aggregations": [{"type": "count", "name": "n"}],
            "context": {"skipEmptyBuckets": True}}) == 200
        gate.set()
        t.join()
        # lane free again: the old query succeeds now
        assert post(old_q) == 200
    finally:
        srv.stop()
