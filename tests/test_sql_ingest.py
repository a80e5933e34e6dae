"""SQL ingestion statements (DruidSqlInsert.java:39 / DruidSqlReplace.java:42):
INSERT INTO / REPLACE INTO ... PARTITIONED BY ... [CLUSTERED BY ...] through
engine.sql(), writing the time-partitioned warehouse with dynamic partition
overwrite (the VersionedIntervalTimeline overshadow analog).
"""

import pytest
from pyspark.sql import functions as F

from druid_spark import DruidSparkEngine
from druid_spark.coordinator import drop_interval
from druid_spark.ingest.sql_ingest import parse_ingest_sql


@pytest.fixture()
def eng(spark, tmp_path):
    e = DruidSparkEngine(spark)
    e.warehouse_dir = str(tmp_path / "wh")
    rows = [(f"2024-01-0{d} 0{h}:00:00", f"u{i % 3}", float(i))
            for i, (d, h) in enumerate((d, h) for d in (1, 2, 3)
                                       for h in range(3))]
    df = spark.createDataFrame(rows, ["t", "user", "v"]) \
        .withColumn("__time", F.to_timestamp("t")).drop("t")
    e.catalog.register_table("src", df)
    return e


def test_parse_variants():
    s = parse_ingest_sql(
        "INSERT INTO t SELECT __time, x FROM s PARTITIONED BY DAY")
    assert s.verb == "INSERT" and s.granularity == "day" and not s.cluster_by
    s = parse_ingest_sql(
        "REPLACE INTO t OVERWRITE ALL SELECT __time, x FROM s "
        "PARTITIONED BY MONTH CLUSTERED BY x, y")
    assert s.verb == "REPLACE" and s.overwrite_all and s.cluster_by == ["x", "y"]
    s = parse_ingest_sql(
        "REPLACE INTO t OVERWRITE WHERE __time >= TIMESTAMP '2024-01-02' "
        "SELECT __time, x FROM s PARTITIONED BY DAY")
    assert s.overwrite_where.startswith("__time >=")
    assert parse_ingest_sql("SELECT 1") is None
    with pytest.raises(ValueError):
        parse_ingest_sql("REPLACE INTO t SELECT __time FROM s PARTITIONED BY DAY")


def test_insert_then_query(eng):
    eng.sql("INSERT INTO tgt SELECT __time, user, v FROM src "
            "PARTITIONED BY DAY")
    n = eng.query({"queryType": "timeseries", "dataSource": "tgt",
                   "granularity": "all",
                   "aggregations": [{"type": "count", "name": "n"}]}) \
        .collect()[0]["n"]
    assert n == 9
    # partitioned layout on disk (one dir per day)
    import os
    dts = [d for d in os.listdir(eng.table_service().path("tgt"))
           if d.startswith("__dt=")]
    assert sorted(dts) == ["__dt=2024-01-01", "__dt=2024-01-02",
                           "__dt=2024-01-03"]
    # the ingest recorded itself in sys.tasks as an MSQ-style
    # controller task with the target datasource (TaskStorage analog)
    tasks = [t for t in eng.tasks if t["datasource"] == "tgt"]
    assert len(tasks) == 1
    assert tasks[0]["type"] == "query_controller"
    assert tasks[0]["status"] == "SUCCESS"


def test_failed_ingest_records_failed_task(eng):
    with pytest.raises(ValueError):
        eng.sql("INSERT INTO bad SELECT user FROM src PARTITIONED BY DAY")
    tasks = [t for t in eng.tasks if t["datasource"] == "bad"]
    assert len(tasks) == 1 and tasks[0]["status"] == "FAILED"
    assert "__time" in (tasks[0]["error_msg"] or "")


def test_replace_overwrite_where_swaps_only_matching_chunks(eng):
    eng.sql("INSERT INTO tgt SELECT __time, user, v FROM src "
            "PARTITIONED BY DAY")
    # replace day 2 with doubled values; days 1 and 3 must survive
    eng.sql("REPLACE INTO tgt "
            "OVERWRITE WHERE __time >= TIMESTAMP '2024-01-02' "
            "AND __time < TIMESTAMP '2024-01-03' "
            "SELECT __time, user, v * 2 AS v FROM src "
            "PARTITIONED BY DAY")
    rows = eng.query({"queryType": "timeseries", "dataSource": "tgt",
                      "granularity": "day",
                      "aggregations": [
                          {"type": "count", "name": "n"},
                          {"type": "doubleSum", "name": "sv",
                           "fieldName": "v"}],
                      "context": {"skipEmptyBuckets": True}}).collect()
    per_day = {str(r["__time"])[:10]: r for r in rows}
    assert per_day["2024-01-01"]["n"] == 3 and per_day["2024-01-03"]["n"] == 3
    assert per_day["2024-01-02"]["n"] == 3
    assert per_day["2024-01-02"]["sv"] == (3 + 4 + 5) * 2.0
    assert per_day["2024-01-01"]["sv"] == 0 + 1 + 2


def test_replace_overwrite_all(eng):
    eng.sql("INSERT INTO tgt SELECT __time, user, v FROM src "
            "PARTITIONED BY DAY")
    eng.sql("REPLACE INTO tgt OVERWRITE ALL "
            "SELECT __time, user, v FROM src WHERE user = 'u0' "
            "PARTITIONED BY DAY CLUSTERED BY user")
    n = eng.query({"queryType": "timeseries", "dataSource": "tgt",
                   "granularity": "all",
                   "aggregations": [{"type": "count", "name": "n"}]}) \
        .collect()[0]["n"]
    assert n == 3  # only u0 rows remain


def test_insert_requires_time(eng):
    with pytest.raises(ValueError, match="__time"):
        eng.sql("INSERT INTO bad SELECT user, v FROM src PARTITIONED BY DAY")


def test_extern_select(eng):
    """TABLE(EXTERN(inputSource, inputFormat, signature)) readable in a
    plain SELECT (ExternalOperatorConversion / DruidExternTableMacro)."""
    df = eng.sql("""
        SELECT name, sum(x) AS sx FROM TABLE(EXTERN(
          '{"type": "inline", "data": "a,1\\nb,2\\na,3"}',
          '{"type": "csv", "columns": ["name", "x"]}',
          '[{"name": "name", "type": "STRING"}, {"name": "x", "type": "LONG"}]'))
        GROUP BY name ORDER BY name""")
    assert [tuple(r) for r in df.collect()] == [("a", 4), ("b", 2)]
    assert dict(df.dtypes)["sx"] == "bigint"  # signature cast applied


def test_extern_insert(eng):
    """INSERT ... SELECT FROM TABLE(EXTERN(...)) PARTITIONED BY DAY —
    the MSQ ingestion shape end-to-end."""
    eng.sql("""
        INSERT INTO ext_t
        SELECT TIME_PARSE(ts) AS __time, name, x
        FROM TABLE(EXTERN(
          '{"type": "inline",
            "data": "2024-01-01T01:00:00Z,a,1\\n2024-01-02T01:00:00Z,b,2"}',
          '{"type": "csv", "columns": ["ts", "name", "x"]}',
          '[{"name": "ts", "type": "STRING"}, {"name": "name", "type": "STRING"},
            {"name": "x", "type": "LONG"}]'))
        PARTITIONED BY DAY""")
    out = eng.query({"queryType": "timeseries", "dataSource": "ext_t",
                     "granularity": "all",
                     "aggregations": [{"type": "count", "name": "n"},
                                      {"type": "longSum", "name": "sx",
                                       "fieldName": "x"}]})
    assert [tuple(r) for r in out.select("n", "sx").collect()] == [(2, 3)]


def test_export_extern(eng, tmp_path):
    """INSERT INTO EXTERN(local(exportPath => ...)) AS CSV — the MSQ
    export destination; written distributed via df.write."""
    out = str(tmp_path / "export")
    df = eng.sql(f"""
        INSERT INTO EXTERN(local(exportPath => '{out}')) AS CSV
        SELECT user, SUM(v) AS sv FROM src GROUP BY user""")
    assert df.count() == 3
    back = eng.spark.read.option("header", True).csv(out)
    assert sorted(r["user"] for r in back.collect()) == ["u0", "u1", "u2"]


def test_drop_interval_retention(eng):
    """drop-rule/kill-task analog: time chunks inside the interval are
    removed whole; the rest survive."""
    eng.sql("REPLACE INTO ret_t OVERWRITE ALL SELECT __time, user, v "
            "FROM src PARTITIONED BY DAY")
    svc = eng.table_service()
    dropped = drop_interval(
        eng.catalog, "ret_t", "2024-01-02T00:00:00Z/2024-01-03T00:00:00Z")
    assert dropped == ["2024-01-02"]
    left = svc.table("ret_t").select(
        F.date_format("__time", "yyyy-MM-dd").alias("d")).distinct()
    assert sorted(r["d"] for r in left.collect()) == \
        ["2024-01-01", "2024-01-03"]


def test_drop_interval_keeps_chunks_it_only_overlaps(eng):
    """A kill interval drops only the chunks it contains: the
    2024-01-02 DAY chunk starts inside 2024-01-01T12:00Z/2024-01-02T01:00Z
    but ends after it, so its 3 rows stay."""
    eng.sql("REPLACE INTO ret_p OVERWRITE ALL SELECT __time, user, v "
            "FROM src PARTITIONED BY DAY")
    dropped = drop_interval(
        eng.catalog, "ret_p", "2024-01-01T12:00:00Z/2024-01-02T01:00:00Z")
    assert dropped == []
    assert eng.sql("SELECT COUNT(*) AS n FROM ret_p").first()["n"] == 9


def test_week_table_segments_span_their_week(eng):
    """sys.segments reports a WEEK table's chunk as its whole week:
    the `__dt` value is the Monday and the end is 7 days later."""
    eng.sql("REPLACE INTO wk_t OVERWRITE ALL SELECT __time, user, v "
            "FROM src PARTITIONED BY WEEK")
    rows = eng.sql('SELECT start, "end" FROM sys.segments '
                   "WHERE datasource = 'wk_t'").collect()
    assert {(r["start"], r["end"]) for r in rows} == {
        ("2024-01-01T00:00:00.000Z", "2024-01-08T00:00:00.000Z")}


def test_explain_insert_does_not_execute(spark, tmp_path):
    """EXPLAIN PLAN FOR INSERT/REPLACE plans the statement and reports
    ingest attributes (DruidPlanner explain of DruidSqlInsert) but must
    NOT run the ingestion."""
    import json
    from druid_spark import DruidSparkEngine
    e = DruidSparkEngine(spark)
    e.catalog.register_dir("/root/testdata/sf0.001")
    e.warehouse_dir = str(tmp_path)
    row = e.sql("EXPLAIN PLAN FOR REPLACE INTO exp_tgt OVERWRITE ALL "
                "SELECT ts AS __time, value FROM events "
                "PARTITIONED BY DAY").collect()[0]
    attrs = json.loads(row["ATTRIBUTES"])
    assert attrs["statementType"] == "REPLACE"
    assert attrs["targetDataSource"] == "exp_tgt"
    assert "exp_tgt" not in e.catalog.tables()      # nothing executed
    assert "events" in row["RESOURCES"]
    assert "Scan" in row["PLAN"] or "FileScan" in row["PLAN"]
