"""Auto-compaction duty (server/coordinator/duty/CompactSegments.java
analog): fragmented time partitions get rewritten to the target file
count, query results are unchanged, the duty records sys.tasks rows,
and the coordinator HTTP config/run endpoints drive it."""

import json
import os
import urllib.request

import pytest

from druid_spark import DruidSparkEngine


def _fragment(e, name):
    """Ingest events 4x into one day-partitioned table → ≥4 files per
    partition."""
    e.sql(f"REPLACE INTO {name} OVERWRITE ALL "
          "SELECT ts AS __time, event_type, value FROM events "
          "PARTITIONED BY DAY")
    for _ in range(3):
        e.sql(f"INSERT INTO {name} "
              "SELECT ts AS __time, event_type, value FROM events "
              "PARTITIONED BY DAY")


def _files_per_partition(path):
    out = {}
    for d in sorted(os.listdir(path)):
        full = os.path.join(path, d)
        if "=" in d and os.path.isdir(full):
            out[d] = sum(1 for f in os.listdir(full)
                         if f.endswith(".parquet"))
    return out


@pytest.fixture()
def eng(spark, tmp_path):
    e = DruidSparkEngine(spark)
    e.catalog.register_dir("/root/testdata/sf0.001")
    e.warehouse_dir = str(tmp_path)
    return e


def test_duty_compacts_fragmented_partitions(eng):
    from druid_spark.coordinator import CompactionDuty
    _fragment(eng, "ev_frag")
    path = eng.catalog.source_path("ev_frag")
    before = _files_per_partition(path)
    assert all(n >= 4 for n in before.values())
    q = ("SELECT CAST(COUNT(*) AS BIGINT) AS n, "
         "CAST(SUM(value) AS DOUBLE) AS s FROM ev_frag")
    r_before = eng.sql(q).collect()[0]

    duty = CompactionDuty(eng)
    duty.set_config("ev_frag", max_files_per_partition=2, target_files=1)
    pending = duty.scan()
    assert len(pending) == len(before)
    work = duty.run_once()
    assert len(work) == len(before)
    assert all(w["status"] == "SUCCESS" for w in work)

    after = _files_per_partition(path)
    assert set(after) == set(before)            # same partitions
    assert all(n == 1 for n in after.values())  # compacted
    r_after = eng.sql(q).collect()[0]
    assert r_after["n"] == r_before["n"]
    assert abs(r_after["s"] - r_before["s"]) < 1e-6
    # second cycle: nothing left to do
    assert duty.run_once() == []
    # duty recorded sys.tasks rows
    rows = eng.sql("SELECT COUNT(*) AS n FROM sys.tasks "
                   "WHERE type = 'compact' AND status = 'SUCCESS' "
                   "AND datasource = 'ev_frag'").collect()
    assert rows[0]["n"] == len(before)


def test_duty_background_loop(eng):
    from druid_spark.coordinator import CompactionDuty
    import time
    _fragment(eng, "ev_loop")
    path = eng.catalog.source_path("ev_loop")
    duty = CompactionDuty(eng)
    duty.set_config("ev_loop", max_files_per_partition=2)
    duty.start(period=0.2)
    try:
        for _ in range(100):
            if duty.history and not duty.scan():
                break
            time.sleep(0.2)
    finally:
        duty.stop()
    assert all(n == 1 for n in _files_per_partition(path).values())


def test_compaction_http_endpoints(eng):
    from druid_spark.server import DruidHttpServer
    _fragment(eng, "ev_http")
    srv = DruidHttpServer(eng).start()
    base = f"http://127.0.0.1:{srv.port}"

    def req(path, obj=None, method=None):
        r = urllib.request.Request(
            base + path,
            data=json.dumps(obj).encode() if obj is not None else None,
            headers={"Content-Type": "application/json"},
            method=method or ("POST" if obj is not None else "GET"))
        with urllib.request.urlopen(r) as resp:
            return resp.status, json.loads(resp.read() or b"null")

    try:
        code, _ = req("/druid/coordinator/v1/config/compaction",
                      {"dataSource": "ev_http",
                       "maxFilesPerPartition": 2, "targetFiles": 1})
        assert code == 200
        code, cfgs = req("/druid/coordinator/v1/config/compaction")
        assert cfgs["compactionConfigs"][0]["dataSource"] == "ev_http"
        code, status = req("/druid/coordinator/v1/compaction/status")
        assert len(status["pending"]) > 0
        code, out = req("/druid/coordinator/v1/compaction/run", {})
        assert code == 200 and len(out["compacted"]) > 0
        code, status = req("/druid/coordinator/v1/compaction/status")
        assert status["pending"] == []
        path = eng.catalog.source_path("ev_http")
        assert all(n == 1 for n in _files_per_partition(path).values())
        # delete the config
        code, _ = req("/druid/coordinator/v1/config/compaction/ev_http",
                      method="DELETE")
        assert code == 200
        code, cfgs = req("/druid/coordinator/v1/config/compaction")
        assert cfgs["compactionConfigs"] == []
    finally:
        srv.stop()


def test_retention_rules_duty(eng):
    """Retention rules (coordinator RunRules duty: PeriodLoadRule /
    DropRule analogs): first-match-wins evaluation drops partitions
    outside the retained horizon; query results shrink accordingly;
    drops land in sys.tasks as kill tasks."""
    import datetime as dt
    from druid_spark.coordinator import RetentionDuty
    eng.sql("REPLACE INTO ev_ret OVERWRITE ALL "
            "SELECT ts AS __time, value FROM events PARTITIONED BY DAY")
    path = eng.catalog.source_path("ev_ret")
    n_before = len(_files_per_partition(path))
    assert n_before >= 28  # a month of day partitions
    # fixed clock: Feb 1, 2024 — keep the trailing 7 days of January
    duty = RetentionDuty(eng, now=dt.datetime(2024, 2, 1))
    duty.set_rules("ev_ret", [{"type": "loadByPeriod", "period": "P7D"},
                              {"type": "dropForever"}])
    dropped = duty.run_once()
    after = _files_per_partition(path)
    assert len(dropped) == n_before - len(after)
    # events span 2024-01-01..30; horizon Feb 1 - P7D keeps Jan 25+
    assert sorted(after) == [f"__dt=2024-01-{d}" for d in
                             range(25, 31)]
    n = eng.sql("SELECT COUNT(DISTINCT CAST(__time AS DATE)) AS n "
                "FROM ev_ret").first()["n"]
    assert n == 6
    # idempotent second pass
    assert duty.run_once() == []
    k = eng.sql("SELECT COUNT(*) AS n FROM sys.tasks WHERE type='kill' "
                "AND datasource='ev_ret'").first()["n"]
    assert k == len(dropped)


def test_retention_interval_and_default_load(eng):
    import datetime as dt
    from druid_spark.coordinator import RetentionDuty
    eng.sql("REPLACE INTO ev_ret2 OVERWRITE ALL "
            "SELECT ts AS __time, value FROM events PARTITIONED BY DAY")
    path = eng.catalog.source_path("ev_ret2")
    n_before = len(_files_per_partition(path))
    duty = RetentionDuty(eng, now=dt.datetime(2024, 2, 1))
    # drop one explicit window; everything else falls to the default
    # loadForever
    duty.set_rules("ev_ret2", [
        {"type": "dropByInterval",
         "interval": "2024-01-10T00:00:00Z/2024-01-13T00:00:00Z"}])
    dropped = duty.run_once()
    assert sorted(d["partition"] for d in dropped) == [
        "__dt=2024-01-10", "__dt=2024-01-11", "__dt=2024-01-12"]
    assert len(_files_per_partition(path)) == n_before - 3


def test_retention_drop_requires_containment(eng):
    """Drop rules match on CONTAINMENT, not overlap (ADVICE r6 high):
    PeriodDropRule.appliesTo:74-81 (includeFuture=true default drops on
    start >= now-P; =false requires [now-P, now] to contain the
    partition), IntervalDropRule.appliesTo:64-67
    (interval.contains(theInterval)). A partition straddling the
    horizon or the rule interval's edge must be RETAINED and fall
    through to the default loadForever."""
    import datetime as dt
    from druid_spark.coordinator import RetentionDuty
    eng.sql("REPLACE INTO ev_ret4 OVERWRITE ALL "
            "SELECT ts AS __time, value FROM events PARTITIONED BY DAY")
    path = eng.catalog.source_path("ev_ret4")
    n_before = len(_files_per_partition(path))
    # Mid-day clock: horizon = Jan 25 12:00 splits the Jan 25 partition
    duty = RetentionDuty(eng, now=dt.datetime(2024, 1, 28, 12))
    duty.set_rules("ev_ret4", [{"type": "dropByPeriod", "period": "P3D",
                                "includeFuture": False}])
    dropped = duty.run_once()
    # containment in [Jan 25 12:00, Jan 28 12:00]: only Jan 26, 27 are
    # fully inside; Jan 25 straddles the horizon, Jan 28 straddles now
    assert sorted(d["partition"] for d in dropped) == [
        "__dt=2024-01-26", "__dt=2024-01-27"]
    # includeFuture=true (the reference default): start >= horizon —
    # now Jan 28 (start ≥ Jan 25 12:00? no for Jan 25, yes for 26+)
    duty2 = RetentionDuty(eng, now=dt.datetime(2024, 1, 28, 12))
    duty2.set_rules("ev_ret4", [{"type": "dropByPeriod",
                                 "period": "P3D"}])
    dropped2 = duty2.run_once()
    assert sorted(d["partition"] for d in dropped2) == [
        f"__dt=2024-01-{d}" for d in range(28, 31)]
    # interval drop: partial overlap is NOT containment
    eng.sql("REPLACE INTO ev_ret5 OVERWRITE ALL "
            "SELECT ts AS __time, value FROM events PARTITIONED BY DAY")
    path5 = eng.catalog.source_path("ev_ret5")
    duty3 = RetentionDuty(eng, now=dt.datetime(2024, 2, 1))
    duty3.set_rules("ev_ret5", [
        {"type": "dropByInterval",
         "interval": "2024-01-10T12:00:00Z/2024-01-13T00:00:00Z"}])
    dropped3 = duty3.run_once()
    # Jan 10 overlaps the interval but is not contained → retained
    assert sorted(d["partition"] for d in dropped3) == [
        "__dt=2024-01-11", "__dt=2024-01-12"]
    assert "__dt=2024-01-10" in _files_per_partition(path5)
    # dropBeforeByPeriod boundary: end <= now-P
    # (PeriodDropBeforeRule:63-64) — Jan 25 ends exactly at the horizon
    eng.sql("REPLACE INTO ev_ret6 OVERWRITE ALL "
            "SELECT ts AS __time, value FROM events PARTITIONED BY DAY")
    duty4 = RetentionDuty(eng, now=dt.datetime(2024, 1, 28))
    duty4.set_rules("ev_ret6", [{"type": "dropBeforeByPeriod",
                                 "period": "P2D"}])
    dropped4 = {d["partition"] for d in duty4.run_once()}
    assert "__dt=2024-01-25" in dropped4  # end Jan 26 == horizon
    assert "__dt=2024-01-26" not in dropped4
    assert n_before  # silence lints


def test_retention_week_partition_spans_its_week():
    """A WEEK table's `__dt` value is its week's Monday (the day
    format): the partition's interval is the whole week, so a drop rule
    must contain all seven days."""
    import datetime as dt
    from druid_spark.granularity import chunk_interval
    assert chunk_interval("2024-01-08", "yyyy-MM-dd", "week") == (
        dt.datetime(2024, 1, 8), dt.datetime(2024, 1, 15))


def test_retention_dropping_every_chunk_unregisters(eng):
    """A rule pass that drops every chunk of a table unregisters it
    (nothing is left to read) and goes on to the next datasource,
    instead of failing on the empty directory."""
    import datetime as dt
    from druid_spark.coordinator import RetentionDuty
    for name in ("ev_gone", "ev_next"):
        eng.sql(f"REPLACE INTO {name} OVERWRITE ALL "
                "SELECT ts AS __time, value FROM events PARTITIONED BY DAY")
    duty = RetentionDuty(eng, now=dt.datetime(2024, 2, 1))
    duty.set_rules("ev_gone", [{"type": "dropForever"}])
    duty.set_rules("ev_next", [
        {"type": "dropByInterval",
         "interval": "2024-01-10T00:00:00Z/2024-01-11T00:00:00Z"}])
    dropped = duty.run_once()
    assert "ev_gone" not in eng.catalog.tables()
    assert [d["partition"] for d in dropped
            if d["dataSource"] == "ev_next"] == ["__dt=2024-01-10"]
    with pytest.raises(Exception):
        eng.sql("SELECT COUNT(*) AS n FROM ev_gone").collect()
    assert eng.sql("SELECT COUNT(*) AS n FROM ev_next").first()["n"] > 0


def test_retention_http_rules_api(eng):
    import datetime as dt
    import json as _json
    import urllib.request
    from druid_spark.server import DruidHttpServer
    eng.sql("REPLACE INTO ev_ret3 OVERWRITE ALL "
            "SELECT ts AS __time, value FROM events PARTITIONED BY DAY")
    srv = DruidHttpServer(eng).start()
    srv.retention._now = dt.datetime(2024, 2, 1)
    base = f"http://127.0.0.1:{srv.port}"

    def req(path, obj=None):
        r = urllib.request.Request(
            base + path,
            data=_json.dumps(obj).encode() if obj is not None else None,
            headers={"Content-Type": "application/json"},
            method="POST" if obj is not None else "GET")
        with urllib.request.urlopen(r) as resp:
            return resp.status, _json.loads(resp.read() or b"null")

    try:
        rules = [{"type": "loadByPeriod", "period": "P3D"},
                 {"type": "dropForever"}]
        code, _ = req("/druid/coordinator/v1/rules/ev_ret3", rules)
        assert code == 200
        code, got = req("/druid/coordinator/v1/rules/ev_ret3")
        assert got == rules
        code, allr = req("/druid/coordinator/v1/rules")
        assert allr["ev_ret3"] == rules
        code, out = req("/druid/coordinator/v1/retention/run", {})
        assert code == 200 and len(out["dropped"]) > 20
        path = eng.catalog.source_path("ev_ret3")
        assert sorted(_files_per_partition(path)) == [
            "__dt=2024-01-29", "__dt=2024-01-30"]
    finally:
        srv.stop()


def test_streaming_handoff_then_compaction(eng, spark, tmp_path):
    """Continuous-ingestion hygiene end-to-end: micro-batches land as
    small files, handoff promotes them to history, and the compaction
    duty bounds the file count — query results identical before and
    after (the StreamAppenderator persist→merge→push cycle plus the
    CompactSegments duty, as one pipeline)."""
    import glob
    from druid_spark.coordinator import CompactionDuty
    from druid_spark.streaming.ingest import StreamingIngest

    src = tmp_path / "src"
    src.mkdir()
    ing = StreamingIngest(spark, str(tmp_path / "stream_wh"), "sc_ds")
    # three micro-batches of json events -> three batch= dirs
    import json as _json
    schema = "timestamp TIMESTAMP, v LONG"
    for b in range(3):
        # several source files per round -> multi-file micro-batches
        for part in range(3):
            with open(src / f"f{b}_{part}.json", "w") as fh:
                for i in range(10):
                    fh.write(_json.dumps(
                        {"timestamp": f"2024-01-0{b + 1} 00:00:00",
                         "v": b * 100 + part * 10 + i}) + "\n")
        q = ing.start(spark.readStream.schema(schema).json(str(src)))
        q.awaitTermination(60)
    ing.handoff()
    batch_dirs = [d for d in os.listdir(ing.history)
                  if d.startswith("batch=")]
    assert len(batch_dirs) >= 2
    # register the streaming datasource path-backed so the duty sees it
    eng.catalog.register_table("sc_ds", ing.view(),
                               source_path=ing.history)
    total_before = ing.view().count()
    files_before = len(glob.glob(f"{ing.history}/*/*.parquet"))
    duty = CompactionDuty(eng)
    duty.set_config("sc_ds", max_files_per_partition=0, target_files=1)
    work = duty.run_once()
    assert work and all(w["status"] == "SUCCESS" for w in work)
    files_after = len(glob.glob(f"{ing.history}/*/*.parquet"))
    assert files_after == len(batch_dirs) < files_before
    assert ing.view().count() == total_before
    assert eng.sql("SELECT COUNT(*) AS n FROM sc_ds").first()["n"] \
        == total_before


def test_retention_failed_drop_recorded_and_pass_goes_on(eng, monkeypatch):
    """A datasource whose drop fails — its rules raise, or its commit
    does — ends as one FAILED kill task with the error, and the pass
    still drops the next datasource's chunks as SUCCESS kills."""
    import datetime as dt
    from druid_spark.coordinator import RetentionDuty
    for name in ("ev_bad", "ev_ok"):
        eng.sql(f"REPLACE INTO {name} OVERWRITE ALL "
                "SELECT ts AS __time, value FROM events PARTITIONED BY DAY")
    day1 = [{"type": "dropByInterval", "interval": "2024-01-01/2024-01-02"}]
    day2 = [{"type": "dropByInterval", "interval": "2024-01-02/2024-01-03"}]

    def kills(ds):
        return [r for r in eng.tasks
                if r["type"] == "kill" and r["datasource"] == ds]

    duty = RetentionDuty(eng, now=dt.datetime(2024, 2, 1))
    # a period rule without its period
    duty.set_rules("ev_bad", [{"type": "dropBeforeByPeriod"}])
    duty.set_rules("ev_ok", day1)
    dropped = duty.run_once()
    assert [(d["dataSource"], d["partition"]) for d in dropped] == [
        ("ev_ok", "__dt=2024-01-01")]
    [bad] = kills("ev_bad")
    assert bad["status"] == "FAILED" and "period" in bad["error_msg"]
    [ok] = kills("ev_ok")
    assert ok["status"] == "SUCCESS"

    commit = eng.catalog.commit

    def failing_commit(name, *a, **kw):
        if name == "ev_bad":
            raise OSError("commit failed")
        return commit(name, *a, **kw)

    monkeypatch.setattr(eng.catalog, "commit", failing_commit)
    duty.set_rules("ev_bad", day1)
    duty.set_rules("ev_ok", day2)
    dropped = duty.run_once()
    assert [d["dataSource"] for d in dropped] == ["ev_ok"]
    failed = [r for r in kills("ev_bad") if r["task_id"] != bad["task_id"]]
    assert len(failed) == 1 and failed[0]["status"] == "FAILED"
    assert failed[0]["error_msg"] == "commit failed"
    assert [r["status"] for r in kills("ev_ok")] == ["SUCCESS"] * 2
