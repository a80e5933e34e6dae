"""Approximate topN (context.approximateTopN), whole-result cache
(context.useResultCache), sys.segments view.

Reference anchors: TopNQueryEngine.java:200 (per-segment K then merge),
ResultLevelCachingQueryRunner.java:51, SystemSchema.java:105.
"""

import pytest
from pyspark.sql import functions as F

from druid_spark import DruidSparkEngine


@pytest.fixture(scope="module")
def eng(spark):
    e = DruidSparkEngine(spark)
    e.catalog.register_dir("/root/testdata/sf0.001")
    return e


def _topn(extra_ctx):
    return {
        "queryType": "topN", "dataSource": "lineitem",
        "dimension": "l_suppkey", "metric": "s", "threshold": 5,
        "granularity": "all",
        "aggregations": [{"type": "doubleSum", "name": "s",
                          "fieldName": "l_extendedprice"}],
        "context": extra_ctx}


def test_approx_topn_matches_exact_here(eng):
    """at sf0.001 every partition sees (almost) all keys, and K' >> |dim|,
    so the approximate result equals the exact one — same guarantee the
    reference's docs give for low-cardinality dims."""
    exact = [(r["l_suppkey"], round(r["s"], 2))
             for r in eng.query(_topn({})).collect()]
    approx = [(r["l_suppkey"], round(r["s"], 2))
              for r in eng.query(_topn({"approximateTopN": True})).collect()]
    assert approx == exact


def test_approx_topn_plan_has_two_aggregates(eng):
    plan = eng.query(_topn({"approximateTopN": True}))._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("HashAggregate") >= 4  # partial+final, twice
    assert "SPARK_PARTITION_ID" in plan.upper() or "spark_partition_id" in plan


def test_result_cache_returns_same_df(eng):
    q = {"queryType": "timeseries", "dataSource": "orders",
         "granularity": "all",
         "aggregations": [{"type": "count", "name": "n"}],
         "context": {"useResultCache": True}}
    df1 = eng.query(q)
    n1 = df1.collect()[0]["n"]
    df2 = eng.query(dict(q))  # equal-but-not-identical dict
    assert df2 is df1  # cache hit returns the cached result DataFrame
    assert df2.collect()[0]["n"] == n1
    # different query → different entry
    q3 = {**q, "dataSource": "nation"}
    assert eng.query(q3) is not df1


def test_result_cache_off_by_default(eng):
    """The RESULT cache (collected rows) stays opt-in. Round 7: the
    prepared-PLAN cache may hand back the same analyzed DataFrame —
    that holds no data (plans are lazy; every action re-executes), so
    the contract to pin is the result cache's size, not object
    identity."""
    q = {"queryType": "timeseries", "dataSource": "orders",
         "granularity": "all",
         "aggregations": [{"type": "count", "name": "n_uncached"}]}
    before = len(eng._result_cache)
    eng.query(q)
    # no entry added — the engine cached no result
    assert len(eng._result_cache) == before


def test_plan_cache_hits_and_invalidation(spark, tmp_path):
    """Round 7 (VERDICT r6 #2): repeated statements reuse the analyzed
    DataFrame (skipping Spark parse/analyze — the reference amortizes
    this via Avatica prepared statements, sql/.../avatica/DruidMeta.java);
    an append + re-registration invalidates (recompute counter)."""
    from druid_spark import DruidSparkEngine
    eng = DruidSparkEngine(spark)
    p = str(tmp_path / "t.parquet")
    spark.range(100).selectExpr(
        "id", "timestamp_millis(id * 1000) AS __time").write.parquet(p)
    eng.catalog.register_table("t", p)

    q = {"queryType": "timeseries", "dataSource": "t",
         "granularity": "all",
         "aggregations": [{"type": "longSum", "name": "s",
                           "fieldName": "id"}]}
    assert eng.query(q).collect()[0]["s"] == 4950
    misses0 = eng.plan_cache_misses
    df2 = eng.query(q)
    assert eng.plan_cache_misses == misses0      # hit: no re-analysis
    assert eng.plan_cache_hits >= 1
    assert df2.collect()[0]["s"] == 4950
    # SQL layer: same statement text reuses the plan
    s = "SELECT SUM(id) AS s FROM t"
    assert eng.sql(s).collect()[0]["s"] == 4950
    m1 = eng.plan_cache_misses
    assert eng.sql(s).collect()[0]["s"] == 4950
    assert eng.plan_cache_misses == m1
    # append + re-register (what the ingest writers do): both the
    # native and SQL shapes recompute and see the new rows
    spark.range(100, 150).selectExpr(
        "id", "timestamp_millis(id * 1000) AS __time") \
        .write.mode("append").parquet(p)
    eng.catalog.register_table("t", p)
    m2 = eng.plan_cache_misses
    assert eng.query(q).collect()[0]["s"] == sum(range(150))
    assert eng.sql(s).collect()[0]["s"] == sum(range(150))
    assert eng.plan_cache_misses == m2 + 2       # both re-analyzed


def test_sys_segments(eng):
    eng.create_system_views()
    rows = eng.spark.sql(
        "SELECT datasource, size, num_rows FROM sys_segments").collect()
    by_ds = {r["datasource"]: r for r in rows}
    assert "lineitem" in by_ds and "events" in by_ds
    assert by_ds["lineitem"]["size"] > 0
    assert by_ds["events"]["num_rows"] == 1000  # sf0.001 events rows


def test_sys_servers(eng):
    """sys.servers analog (SystemSchema.java SERVERS_SIGNATURE): one
    row for this process, broker+historical roles."""
    eng.create_system_views()
    rows = eng.spark.sql(
        "SELECT server, server_type, tier FROM sys_servers").collect()
    assert len(rows) == 1
    assert rows[0]["server_type"] == "broker_historical"
    assert rows[0]["tier"] == "_default_tier"


def test_single_value_aggregator(eng):
    out = eng.query({
        "queryType": "groupBy", "dataSource": "region",
        "granularity": "all", "dimensions": [],
        "filter": {"type": "equals", "column": "r_regionkey",
                   "matchValueType": "LONG", "matchValue": 1},
        "aggregations": [{"type": "singleValue", "name": "v",
                          "fieldName": "r_name"}]}).collect()
    assert len(out) == 1 and out[0]["v"] is not None

    import pytest as _pt
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    with _pt.raises((Py4JJavaError, SparkRuntimeException, Exception)):
        eng.query({
            "queryType": "groupBy", "dataSource": "region",
            "granularity": "all", "dimensions": [],
            "aggregations": [{"type": "singleValue", "name": "v",
                              "fieldName": "r_name"}]}).collect()


def test_histogram_aggregator_bins(eng):
    out = eng.query({
        "queryType": "groupBy", "dataSource": "events",
        "granularity": "all", "dimensions": [],
        "aggregations": [{"type": "histogram", "name": "h",
                          "fieldName": "value",
                          "breaks": [0.0, 50.0, 100.0]}]}).collect()[0]["h"]
    assert list(out["breaks"]) == [0.0, 50.0, 100.0]
    assert len(out["counts"]) == 2
    assert out["min"] <= out["max"]


def test_sys_tasks_and_server_segments(eng):
    """sys.tasks (engine task log; latest status wins per task_id) and
    sys.server_segments (single server serves every segment) —
    SystemSchema.java TASKS / SERVER_SEGMENTS analogs."""
    eng.record_task("t-1", "query", None, "ACCEPTED")
    eng.record_task("t-1", "query", None, "SUCCESS", 42.0)
    eng.record_task("t-2", "query_controller", "orders", "FAILED",
                    10.0, "boom")
    eng.create_system_views()
    rows = {r["task_id"]: r for r in eng.spark.sql(
        "SELECT * FROM sys_tasks").collect()}
    assert rows["t-1"]["status"] == "SUCCESS"      # update, not dup
    assert rows["t-1"]["duration"] == 42
    assert rows["t-2"]["error_msg"] == "boom"
    assert rows["t-2"]["type"] == "query_controller"
    seg = eng.spark.sql(
        "SELECT COUNT(*) AS n, COUNT(DISTINCT server) AS s "
        "FROM sys_server_segments").first()
    n_segs = len(eng.catalog.segments())
    assert seg["n"] == n_segs > 0 and seg["s"] == 1


def test_sys_supervisors_view(eng):
    """sys.supervisors reflects the streaming supervisor registry with
    live state from the query handle."""
    from druid_spark.streaming import ingest as singest

    class _FakeQuery:
        isActive = True

    singest.SUPERVISORS.append(
        {"supervisor_id": "sup-events", "datasource": "events_rollup",
         "source": "file", "query": _FakeQuery()})
    try:
        eng.create_system_views()
        rows = eng.spark.sql(
            "SELECT * FROM sys_supervisors WHERE supervisor_id = "
            "'sup-events'").collect()
        assert len(rows) == 1
        assert rows[0]["state"] == "RUNNING"
        assert rows[0]["suspended"] is False
        _FakeQuery.isActive = False
        eng.create_system_views()
        assert eng.spark.sql(
            "SELECT state FROM sys_supervisors WHERE supervisor_id = "
            "'sup-events'").first()["state"] == "STOPPED"
    finally:
        singest.SUPERVISORS.pop()


def test_result_cache_per_interval_invalidation(spark, tmp_path_factory):
    """Per-interval result cache (CachingClusteredClient.java:281
    analog): an append to one day leaves cached queries over OTHER days
    valid (no recompute), while queries touching the appended day
    recompute."""
    e = DruidSparkEngine(spark)
    e.catalog.register_dir("/root/testdata/sf0.001")
    e.warehouse_dir = str(tmp_path_factory.mktemp("ivcache_wh"))
    e.sql("REPLACE INTO evcache OVERWRITE ALL "
          "SELECT ts AS __time, event_type, value FROM events "
          "PARTITIONED BY DAY")
    qA = {"queryType": "timeseries", "dataSource": "evcache",
          "granularity": "day", "intervals": ["2024-01-01/2024-01-03"],
          "aggregations": [{"type": "count", "name": "n"}],
          "context": {"useResultCache": True}}
    qB = dict(qA, intervals=["2024-01-10/2024-01-12"])
    m0 = e.cache_misses
    df_a = e.query(qA)
    rows_a = df_a.collect()
    assert e.cache_misses == m0 + 1
    assert e.query(dict(qA)) is df_a          # warm hit
    df_b = e.query(qB)
    df_b.collect()
    assert e.cache_misses == m0 + 2
    # append into 2024-01-10 only
    e.sql("INSERT INTO evcache "
          "SELECT ts AS __time, event_type, value FROM events "
          "WHERE ts >= TIMESTAMP '2024-01-10' "
          "AND ts < TIMESTAMP '2024-01-11' PARTITIONED BY DAY")
    # untouched interval: still served from cache, zero recompute
    assert e.query(dict(qA)) is df_a
    assert e.cache_misses == m0 + 2
    assert e.query(dict(qA)).collect() == rows_a
    # appended interval: fingerprint changed -> recompute with new rows
    df_b2 = e.query(dict(qB))
    assert df_b2 is not df_b
    assert e.cache_misses == m0 + 3
    old = {r["__time"]: r["n"] for r in df_b.collect()}
    new = {r["__time"]: r["n"] for r in df_b2.collect()}
    import datetime as dt
    d10 = dt.datetime(2024, 1, 10)
    assert new[d10] == 2 * old[d10]           # day 10 doubled
    assert all(new[k] == old[k] for k in new if k != d10)
    e.close()


def test_result_cache_composed_datasource_interval_narrowing(
        spark, tmp_path_factory):
    """Round 6: per-interval fingerprints extend to COMPOSED
    datasources — a cached join over day B still serves after an
    append to day A (the left/base spine narrows to the outer
    intervals), while the join's right side stays whole-table
    fingerprinted (any right row can match inside the intervals)."""
    e = DruidSparkEngine(spark)
    e.catalog.register_dir("/root/testdata/sf0.001")
    e.warehouse_dir = str(tmp_path_factory.mktemp("ivcache2_wh"))
    e.sql("REPLACE INTO evjoin OVERWRITE ALL "
          "SELECT ts AS __time, event_type, value FROM events "
          "PARTITIONED BY DAY")
    dim = e.spark.createDataFrame(
        [("click", "web"), ("view", "web"), ("purchase", "store")],
        ["event_type", "channel"])
    e.catalog.register_table("evdim", dim)
    join_ds = {"type": "join", "left": "evjoin",
               "right": {"type": "globalTable", "name": "evdim"},
               "rightPrefix": "d.", "joinType": "INNER",
               "condition": 'event_type == "d.event_type"'}
    qB = {"queryType": "timeseries", "dataSource": join_ds,
          "granularity": "day", "intervals": ["2024-01-10/2024-01-12"],
          "aggregations": [{"type": "count", "name": "n"}],
          "context": {"useResultCache": True}}
    m0 = e.cache_misses
    df_b = e.query(qB)
    df_b.collect()
    assert e.cache_misses == m0 + 1
    assert e.query(dict(qB)) is df_b            # warm hit
    # append into day A (2024-01-05): day-B join stays cached
    e.sql("INSERT INTO evjoin "
          "SELECT ts AS __time, event_type, value FROM events "
          "WHERE ts >= TIMESTAMP '2024-01-05' "
          "AND ts < TIMESTAMP '2024-01-06' PARTITIONED BY DAY")
    assert e.query(dict(qB)) is df_b
    assert e.cache_misses == m0 + 1
    # append into day B: recompute
    e.sql("INSERT INTO evjoin "
          "SELECT ts AS __time, event_type, value FROM events "
          "WHERE ts >= TIMESTAMP '2024-01-10' "
          "AND ts < TIMESTAMP '2024-01-11' PARTITIONED BY DAY")
    df_b2 = e.query(dict(qB))
    assert df_b2 is not df_b and e.cache_misses == m0 + 2
    # right-side change invalidates regardless of intervals (the dim
    # is fully scanned): re-register -> registration serial bumps
    e.catalog.register_table("evdim", dim)
    df_b3 = e.query(dict(qB))
    assert df_b3 is not df_b2 and e.cache_misses == m0 + 3
    # self-join: the shared table is wide -> ANY append invalidates
    self_ds = dict(join_ds, right={"type": "query", "query": {
        "queryType": "groupBy", "dataSource": "evjoin",
        "granularity": "all", "intervals": ["2024-01-01/2024-02-01"],
        "dimensions": [{"type": "default", "dimension": "event_type"}],
        "aggregations": [{"type": "count", "name": "m"}]}},
        condition='event_type == "d.event_type"')
    qS = dict(qB, dataSource=self_ds)
    df_s = e.query(qS)
    df_s.collect()
    m1 = e.cache_misses
    e.sql("INSERT INTO evjoin "
          "SELECT ts AS __time, event_type, value FROM events "
          "WHERE ts >= TIMESTAMP '2024-01-20' "
          "AND ts < TIMESTAMP '2024-01-21' PARTITIONED BY DAY")
    assert e.query(dict(qS)) is not df_s        # wide: recomputes
    assert e.cache_misses == m1 + 1
    e.close()


def test_result_cache_join_right_side_interval_narrowing(
        spark, tmp_path_factory):
    """Round 7 (VERDICT r6 #5): a join's right side carrying its OWN
    explicit __time bound narrows to that bound — an append OUTSIDE the
    right side's interval leaves the cached join valid (the reference
    caches exactly the segments scanned per datasource,
    server/.../client/CachingClusteredClient.java:281). Distinct
    tables on each side so the scopes don't conflict."""
    e = DruidSparkEngine(spark)
    e.catalog.register_dir("/root/testdata/sf0.001")
    e.warehouse_dir = str(tmp_path_factory.mktemp("ivcache3_wh"))
    e.sql("REPLACE INTO evleft OVERWRITE ALL "
          "SELECT ts AS __time, event_type, value FROM events "
          "PARTITIONED BY DAY")
    e.sql("REPLACE INTO evright OVERWRITE ALL "
          "SELECT ts AS __time, event_type, value FROM events "
          "PARTITIONED BY DAY")
    join_ds = {"type": "join", "left": "evleft",
               "right": {"type": "query", "query": {
                   "queryType": "groupBy", "dataSource": "evright",
                   "granularity": "all",
                   "intervals": ["2024-01-10/2024-01-12"],
                   "dimensions": [
                       {"type": "default", "dimension": "event_type"}],
                   "aggregations": [{"type": "count", "name": "m"}]}},
               "rightPrefix": "d.", "joinType": "INNER",
               "condition": 'event_type == "d.event_type"'}
    q = {"queryType": "timeseries", "dataSource": join_ds,
         "granularity": "day", "intervals": ["2024-01-10/2024-01-12"],
         "aggregations": [{"type": "count", "name": "n"}],
         "context": {"useResultCache": True}}
    m0 = e.cache_misses
    df = e.query(q)
    df.collect()
    assert e.cache_misses == m0 + 1
    # append into evright OUTSIDE its subtree's interval: still cached
    e.sql("INSERT INTO evright "
          "SELECT ts AS __time, event_type, value FROM events "
          "WHERE ts >= TIMESTAMP '2024-01-20' "
          "AND ts < TIMESTAMP '2024-01-21' PARTITIONED BY DAY")
    assert e.query(dict(q)) is df
    assert e.cache_misses == m0 + 1
    # append INSIDE the right side's interval: recompute
    e.sql("INSERT INTO evright "
          "SELECT ts AS __time, event_type, value FROM events "
          "WHERE ts >= TIMESTAMP '2024-01-10' "
          "AND ts < TIMESTAMP '2024-01-11' PARTITIONED BY DAY")
    assert e.query(dict(q)) is not df
    assert e.cache_misses == m0 + 2
    e.close()


def test_sql_result_cache_set_context(spark, tmp_path_factory):
    """SET useResultCache = true — the SQL spelling of the result-level
    cache: same statement + unchanged tables hits; any referenced-table
    change invalidates."""
    e = DruidSparkEngine(spark)
    e.catalog.register_dir("/root/testdata/sf0.001")
    e.warehouse_dir = str(tmp_path_factory.mktemp("sqlcache_wh"))
    q = ("SET useResultCache = true; "
         "SELECT n_regionkey, COUNT(*) AS n FROM nation "
         "GROUP BY 1 ORDER BY 1")
    m0 = e.cache_misses
    df1 = e.sql(q)
    rows = df1.collect()
    assert e.cache_misses == m0 + 1
    assert e.sql(q) is df1                      # warm hit
    assert e.cache_misses == m0 + 1
    # without the SET, no caching
    assert e.sql("SELECT n_regionkey, COUNT(*) AS n FROM nation "
                 "GROUP BY 1 ORDER BY 1") is not df1
    # ingest into a NEW table: nation untouched -> still a hit
    e.sql("REPLACE INTO sqlcache_t OVERWRITE ALL "
          "SELECT ts AS __time, value FROM events PARTITIONED BY DAY")
    assert e.sql(q) is df1
    # a query over the ingested table caches, then an append
    # invalidates it
    q2 = ("SET useResultCache = true; "
          "SELECT COUNT(*) AS n FROM sqlcache_t")
    d2 = e.sql(q2)
    assert d2.first()["n"] == 1000
    assert e.sql(q2) is d2
    e.sql("INSERT INTO sqlcache_t SELECT ts AS __time, value "
          "FROM events PARTITIONED BY DAY")
    d3 = e.sql(q2)
    assert d3 is not d2 and d3.first()["n"] == 2000
    assert e.sql(q).collect() == rows           # nation entry intact
    e.close()


def test_sys_segments_full_signature(eng, spark, tmp_path):
    """sys.segments carries the SEGMENTS_SIGNATURE subset: id,
    interval start/end from the __dt layout, partition_num, version,
    and the is_* flags (SystemSchema.java:105)."""
    import json as _json
    from druid_spark.ingest.batch import TableService, run_ingestion

    ts = TableService(spark, str(tmp_path / "wh"))
    rows = [{"timestamp": f"2024-03-0{d}T00:00:00Z", "n": d}
            for d in (1, 2)]
    run_ingestion(spark, {"type": "index_parallel", "spec": {
        "ioConfig": {"inputSource": {
            "type": "inline",
            "data": "\n".join(_json.dumps(r) for r in rows)},
            "inputFormat": {"type": "json"}},
        "dataSchema": {
            "dataSource": "seg_ds",
            "timestampSpec": {"column": "timestamp", "format": "iso"},
            "dimensionsSpec": {}, "metricsSpec": [],
            "granularitySpec": {"segmentGranularity": "day",
                                "queryGranularity": "none",
                                "rollup": False}}}}, ts)
    eng.catalog.register_table("seg_ds", ts.path("seg_ds"))
    out = eng.sql(
        'SELECT segment_id, start, "end", partition_num, version, '
        "is_published, is_available, is_realtime FROM sys.segments "
        "WHERE datasource = 'seg_ds' ORDER BY start").collect()
    assert [r["start"] for r in out] == [
        "2024-03-01T00:00:00.000Z", "2024-03-02T00:00:00.000Z"]
    assert out[0]["end"] == "2024-03-02T00:00:00.000Z"
    assert all(r["is_published"] == 1 and r["is_available"] == 1
               and r["is_realtime"] == 0 for r in out)
    assert all(r["version"] and r["segment_id"] for r in out)


def test_period_form_intervals(spark):
    """Round 7: intervals accept all three Joda forms the reference
    parses with Intervals.of (start/end, start/period, period/end) and
    partial timestamps — in native query intervals, interval FILTERS,
    and SQL TIME_IN_INTERVAL (which the reference requires to be a
    literal, TimeInIntervalConvertletFactory.java)."""
    from druid_spark import DruidSparkEngine
    from druid_spark.granularity import parse_iso_interval

    # Joda calendar semantics: month addition clamps day-of-month
    assert parse_iso_interval("2024-01-31T12:00:00Z/P1M") == \
        ("2024-01-31 12:00:00.000000", "2024-02-29 12:00:00.000000")
    assert parse_iso_interval("P1Y/2001") == \
        ("2000-01-01 00:00:00.000000", "2001-01-01 00:00:00.000000")

    e = DruidSparkEngine(spark, data_dir="/root/testdata/sf0.001",
                         exact_approx=True)
    base = {"queryType": "timeseries", "dataSource": "events",
            "granularity": "all",
            "aggregations": [{"type": "count", "name": "n"}]}
    full = {r["n"] for r in e.query(
        {**base, "intervals": ["2024-01-02/2024-01-03"]}).collect()}
    for iv in ("2024-01-02/P1D", "P1D/2024-01-03"):
        assert {r["n"] for r in e.query(
            {**base, "intervals": [iv]}).collect()} == full
    # interval FILTER with a period form
    got = e.query({**base,
                   "filter": {"type": "interval", "dimension": "__time",
                              "intervals": ["2024-01-02/P1D"]}}).collect()
    assert {r["n"] for r in got} == full
    # SQL surface
    n_sql = e.sql("SELECT COUNT(*) AS n FROM events WHERE "
                  "TIME_IN_INTERVAL(__time, '2024-01-02/P1D')") \
        .collect()[0]["n"]
    assert {n_sql} == full


def test_decoupled_unnest_filter_collapse_flag(engine):
    """context.decoupledUnnestFilterCollapse (r13): opt-in reproduction
    of the reference's decoupled-planner unnest naming collision —
    both inner unnests of a thrice-nested chain share the virtual
    column name "j0.unnest", so their pushed equality filters AND on
    one column and contradictory constants give 0 rows
    (DecoupledPlanningCalciteArraysQueryTest
    testUnnestThriceWithFiltersOnDimAndAllUnnestColumns[ArrayColumns];
    reference sql/calcite/rule/DruidUnnestRule.java +
    proc/query/UnnestDataSource.java:44)."""
    engine.spark.sql(
        "SELECT 1 AS id, array('a', 'b', 'c') AS arr"
    ).createOrReplaceTempView("unnest_quirk_t")
    body = """
        SELECT id, u1, u2, u3 FROM
          ( SELECT * FROM
               ( SELECT * FROM unnest_quirk_t, UNNEST(arr) as ut(u1) )
               , UNNEST(arr) as ut(u2)
          ), UNNEST(arr) as ut(u3)
        WHERE id = 1 AND u1 = 'a' AND u2 = 'b' AND u3 = 'c'
    """
    # default: SQL-correct product — one row ('a','b','c')
    assert len(engine.sql(body).collect()) == 1
    # flag on: the collision collapses u1/u2 filters onto one shared
    # column; 'a' AND 'b' contradict -> 0 rows
    flagged = "SET decoupledUnnestFilterCollapse = true;\n" + body
    assert len(engine.sql(flagged).collect()) == 0
    # compatible constants survive the collapse
    ok = ("SET decoupledUnnestFilterCollapse = true;\n"
          + body.replace("u2 = 'b'", "u2 = 'a'"))
    assert len(engine.sql(ok).collect()) == 1
    # OR-combined filters are NOT pushed into the unnests in the
    # reference (the ...OrFilters sibling) — the flag must not touch
    # that shape
    or_body = body.replace("u1 = 'a' AND u2 = 'b'",
                           "(u1 = 'a' OR u2 = 'b')")
    n_default = len(engine.sql(or_body).collect())
    n_flagged = len(engine.sql(
        "SET decoupledUnnestFilterCollapse = true;\n" + or_body
    ).collect())
    assert n_default == n_flagged > 0


def test_strict_window_frames_flag(engine):
    """context.strictWindowFrames (r13): opt-in reproduction of the
    reference's window-frame refusals (DruidSqlValidator.java:138-170)
    — by default the engine answers these shapes correctly (Spark
    frames are fully general); under the flag it refuses with the
    reference's spellings so a drop-in replacement can match its
    error surface."""
    import pytest

    on = "SET strictWindowFrames = true;\n"
    # default: RANGE offset frames answer fine (capability superset)
    q_range = ("SELECT o_custkey, SUM(o_totalprice) OVER ("
               "ORDER BY o_orderkey RANGE BETWEEN 100 PRECEDING AND "
               "CURRENT ROW) AS s FROM orders LIMIT 5")
    assert len(engine.sql(q_range).collect()) == 5
    with pytest.raises(Exception, match="RANGE clause currently "
                       "supports only UNBOUNDED or CURRENT ROW"):
        engine.sql(on + q_range)
    # FIRST_VALUE / LAST_VALUE with an offset frame (both BETWEEN and
    # the single-bound spelling)
    q_fv = ("SELECT FIRST_VALUE(o_totalprice) OVER (ORDER BY "
            "o_orderkey ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) "
            "AS f FROM orders LIMIT 5")
    assert len(engine.sql(q_fv).collect()) == 5
    with pytest.raises(Exception,
                       match="Framing of FIRST_VALUE/LAST_VALUE"):
        engine.sql(on + q_fv)
    q_lv1 = ("SELECT LAST_VALUE(o_totalprice) OVER (ORDER BY "
             "o_orderkey ROWS 0 FOLLOWING) AS f FROM orders LIMIT 5")
    with pytest.raises(Exception,
                       match="Framing of FIRST_VALUE/LAST_VALUE"):
        engine.sql(on + q_lv1)
    # named WINDOW definitions are validated too
    q_named = ("SELECT SUM(o_totalprice) OVER w AS s FROM orders "
               "WINDOW w AS (ORDER BY o_orderkey RANGE 2 PRECEDING) "
               "LIMIT 5")
    with pytest.raises(Exception, match="RANGE clause"):
        engine.sql(on + q_named)
    # NTILE with an explicit frame
    with pytest.raises(Exception, match="Framing of NTILE"):
        engine.sql(on + "SELECT NTILE(4) OVER (ORDER BY o_orderkey "
                   "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS n "
                   "FROM orders LIMIT 5")
    # legal frames still pass under the flag
    ok = ("SELECT SUM(o_totalprice) OVER (ORDER BY o_orderkey "
          "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS s, "
          "FIRST_VALUE(o_totalprice) OVER (ORDER BY o_orderkey "
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f, "
          "AVG(o_totalprice) OVER (ORDER BY o_orderkey RANGE BETWEEN "
          "UNBOUNDED PRECEDING AND CURRENT ROW) AS a "
          "FROM orders LIMIT 5")
    assert len(engine.sql(on + ok).collect()) == 5


def test_result_cache_fresh_during_appends(spark, tmp_path_factory):
    """Two readers loop a cached timeseries over an open interval while
    hour-partitioned days are appended: once an INSERT returns, the
    cached count equals the uncached one. The cache keys on the file
    snapshot the catalog registered, so a key never names files the
    served rows were not read from (a key taken from the directory
    mid-append used to pin the previous batch's count)."""
    import threading

    e = DruidSparkEngine(spark)
    e.catalog.register_dir("/root/testdata/sf0.001")
    e.warehouse_dir = str(tmp_path_factory.mktemp("fresh_wh"))

    def day(d: int) -> str:
        return ("SELECT ts AS __time, event_type, value FROM events "
                f"WHERE ts >= TIMESTAMP '2024-01-{d:02d}' "
                f"AND ts < TIMESTAMP '2024-01-{d + 1:02d}' "
                "PARTITIONED BY HOUR")

    e.sql("REPLACE INTO evfresh OVERWRITE ALL " + day(1))
    q = {"queryType": "timeseries", "dataSource": "evfresh",
         "granularity": "all", "intervals": ["2024-01-01/2030-01-01"],
         "aggregations": [{"type": "count", "name": "n"}]}
    cached = {**q, "context": {"useResultCache": True}}
    stop, errors = threading.Event(), []

    def reader():
        while not stop.is_set():
            try:
                e.query(dict(cached)).collect()
            except Exception as ex:  # noqa: BLE001 - asserted below
                errors.append(ex)
                return

    threads = [threading.Thread(target=reader) for _ in range(2)]
    for t in threads:
        t.start()
    stale = []
    try:
        for d in range(2, 10):
            e.sql("INSERT INTO evfresh " + day(d))
            got = e.query(dict(cached)).collect()[0]["n"]
            want = e.query(q).collect()[0]["n"]
            if got != want:
                stale.append((d, got, want))
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert not stale
    e.close()


def test_result_cache_key_never_newer_than_plan(spark, tmp_path_factory,
                                                monkeypatch):
    """An INSERT landing between a cached query's fingerprint read and
    its plan lookup cannot pin the old plan's rows under the new
    snapshot's key: the plan is keyed on the catalog version read after
    the fingerprint."""
    e = DruidSparkEngine(spark)
    e.catalog.register_dir("/root/testdata/sf0.001")
    e.warehouse_dir = str(tmp_path_factory.mktemp("order_wh"))

    def day(d: int) -> str:
        return ("SELECT ts AS __time, event_type, value FROM events "
                f"WHERE ts >= TIMESTAMP '2024-01-{d:02d}' "
                f"AND ts < TIMESTAMP '2024-01-{d + 1:02d}' "
                "PARTITIONED BY HOUR")

    e.sql("REPLACE INTO evorder OVERWRITE ALL " + day(1))
    q = {"queryType": "timeseries", "dataSource": "evorder",
         "granularity": "all", "intervals": ["2024-01-01/2030-01-01"],
         "aggregations": [{"type": "count", "name": "n"}]}
    cached = {**q, "context": {"useResultCache": True}}
    n1 = e.query(dict(cached)).collect()[0]["n"]  # warms the plan cache
    real = e.catalog.fingerprint

    def append_first(*args):
        monkeypatch.setattr(e.catalog, "fingerprint", real)
        e.sql("INSERT INTO evorder " + day(2))
        return real(*args)

    monkeypatch.setattr(e.catalog, "fingerprint", append_first)
    got = e.query(dict(cached)).collect()[0]["n"]
    want = e.query(q).collect()[0]["n"]
    assert want > n1
    assert got == want
    assert e.query(dict(cached)).collect()[0]["n"] == want
    e.close()


def test_result_cache_threaded_hammer(spark):
    """4 threads issue the same 40 distinct cached queries, meeting at a
    barrier before each: no call raises, the cache stays within its
    capacity, and every lookup counts as exactly one hit or miss."""
    import sys
    import threading

    e = DruidSparkEngine(spark)
    e.catalog.register_dir("/root/testdata/sf0.001")
    qs = [{"queryType": "timeseries", "dataSource": "nation",
           "granularity": "all",
           "aggregations": [{"type": "count", "name": f"n{i}"}],
           "context": {"useResultCache": True}} for i in range(40)]
    barrier, errors, rows = threading.Barrier(4, timeout=120), [], []

    def client():
        for q in qs:
            barrier.wait()
            try:
                rows.append(e.query(q).collect()[0][0])
            except Exception as ex:  # noqa: BLE001 - asserted below
                errors.append(ex)

    threads = [threading.Thread(target=client) for _ in range(4)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # preempt often between bytecodes
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert rows == [25] * 160
    from druid_spark.engine import RESULT_CACHE_ENTRIES
    assert len(e._result_cache) <= RESULT_CACHE_ENTRIES
    assert e._result_cache.hits + e._result_cache.misses == 160
    e.close()


def test_result_cache_row_cap_and_jobless_hit(eng, monkeypatch):
    """A result over the row cap is returned whole and its rows are not
    cached; a cached result is a local relation, so serving it (by
    collect or toLocalIterator) runs no job."""
    import time
    from druid_spark import engine as engine_mod

    q = {"queryType": "scan", "dataSource": "nation",
         "columns": ["n_nationkey"], "context": {"useResultCache": True}}
    monkeypatch.setattr(engine_mod, "RESULT_CACHE_MAX_ROWS", 10)
    keys = set(eng._result_cache._entries)
    assert len(eng.query(q).collect()) == 25       # every row
    # the key holds only the over-cap marker, so a repeat runs the plan
    # without probing the cap again
    added = [v for k, v in eng._result_cache._entries.items()
             if k not in keys]
    assert added == [engine_mod._OVER_CAP]
    again = eng.query(dict(q))
    assert not isinstance(again, engine_mod._CachedResult)
    assert len(again.collect()) == 25
    monkeypatch.undo()

    small = {"queryType": "timeseries", "dataSource": "nation",
             "granularity": "all",
             "aggregations": [{"type": "count", "name": "n_hit"}],
             "context": {"useResultCache": True}}
    assert eng.query(small).collect()[0]["n_hit"] == 25   # populate
    sc = eng.spark.sparkContext
    sc.setJobGroup("result-cache-hit", "cached result served")
    try:
        hits0 = eng._result_cache.hits
        assert eng.query(dict(small)).collect()[0]["n_hit"] == 25
        it = eng.query(dict(small)).toLocalIterator()
        assert [r["n_hit"] for r in it] == [25]
        assert eng._result_cache.hits == hits0 + 2
        # a marker job in a later group: once the status store shows it,
        # it has recorded every earlier job too
        sc.setJobGroup("result-cache-marker", "status store barrier")
        eng.spark.range(1).count()
        tracker = sc.statusTracker()
        deadline = time.time() + 30
        while (not tracker.getJobIdsForGroup("result-cache-marker")
               and time.time() < deadline):
            time.sleep(0.05)
        assert tracker.getJobIdsForGroup("result-cache-marker")
        assert tracker.getJobIdsForGroup("result-cache-hit") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_result_cache_misses_after_drop(spark, tmp_path):
    """Dropping a datasource invalidates its cached results: the query
    fails as for any unknown datasource instead of serving old rows."""
    e = DruidSparkEngine(spark)
    p = str(tmp_path / "dropme")
    spark.range(5).selectExpr(
        "id", "timestamp_millis(id * 1000) AS __time").write.parquet(p)
    e.catalog.register_table("dropme", p)
    q = {"queryType": "timeseries", "dataSource": "dropme",
         "granularity": "all",
         "aggregations": [{"type": "count", "name": "n"}],
         "context": {"useResultCache": True}}
    assert e.query(q).collect()[0]["n"] == 5
    assert e.catalog.drop_table("dropme")
    with pytest.raises(KeyError, match="unknown datasource"):
        e.query(dict(q)).collect()
    e.close()
