"""Short queries run as one Spark task. Catalog.scan reads a scan whose
local files total less than ONE_TASK_SCAN_BYTES as one partition, so an
aggregate or sort over it plans no exchange, and a zero-filled
timeseries fills and sorts in the same stage; above the constant the
plan stays distributed."""

import datetime as dt
import itertools
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from druid_spark import DruidSparkEngine
from druid_spark import catalog as C

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check_plans import write_day_files  # noqa: E402

_GROUPS = itertools.count()


def _run(spark, df):
    """df's rows through toLocalIterator, as the HTTP server streams
    them, and the number of Spark jobs that took."""
    sc = spark.sparkContext
    group = f"one-task-{next(_GROUPS)}"
    sc.setJobGroup(group, "one-task test")
    try:
        rows = [tuple(r) for r in df.toLocalIterator()]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def eng(spark):
    e = DruidSparkEngine(spark, exact_approx=True)
    yield e
    e.close()


_GROUP_BY = {
    "queryType": "groupBy", "dataSource": "days", "granularity": "all",
    "intervals": ["2024-01-01/2024-01-05"], "dimensions": ["k"],
    "aggregations": [{"type": "count", "name": "n"},
                     {"type": "doubleSum", "name": "s", "fieldName": "v"}],
    "limitSpec": {"type": "default", "columns": ["k"]}}
_SQL = "SELECT k, COUNT(*) AS n, SUM(v) AS s FROM days GROUP BY k ORDER BY k"


def test_small_scans_run_one_job(spark, eng, tmp_path):
    path = str(tmp_path / "days")
    write_day_files(path)
    eng.catalog.register_table("days", path, time_column="ts")
    native = eng.query(_GROUP_BY)
    # a pruned scan: only the second day's file
    pruned = eng.query({**_GROUP_BY,
                        "intervals": ["2024-01-02/2024-01-03"]})
    sql = eng.sql(_SQL)
    for df in (native, pruned, sql):
        assert "Exchange" not in _plan(df)
        rows, jobs = _run(spark, df)
        assert rows and jobs == 1
    assert _run(spark, native)[0] == [
        tuple(r) for r in spark.sql(_SQL).collect()]


def test_scan_over_the_constant_stays_distributed(
        spark, eng, tmp_path, monkeypatch):
    monkeypatch.setattr(C, "ONE_TASK_SCAN_BYTES", 0)
    path = str(tmp_path / "days")
    write_day_files(path)
    eng.catalog.register_table("days", path, time_column="ts")
    for df in (eng.query(_GROUP_BY), eng.sql(_SQL)):
        assert "Exchange" in _plan(df)
        assert _run(spark, df)[0]


def _events(path: str) -> None:
    """Six rows over days 1, 3 and 6 of January 2024."""
    os.makedirs(path)
    day = [dt.datetime(2024, 1, d, h) for d, h in
           [(1, 1), (1, 5), (1, 9), (3, 2), (3, 20), (6, 12)]]
    pq.write_table(pa.table({
        "ts": pa.array(day, type=pa.timestamp("us")),
        "k": pa.array([1, 2, 3, 4, 5, 6], type=pa.int64()),
        "v": [0.5, 0.25, 1.0, 2.0, 0.75, 4.0]}),
        os.path.join(path, "part-0.parquet"))


_AGGS = [{"type": "count", "name": "n"},
         {"type": "longSum", "name": "q", "fieldName": "k"},
         {"type": "doubleSum", "name": "v", "fieldName": "v"},
         {"type": "doubleMax", "name": "mx", "fieldName": "v"}]
# the rows a left join against the spine returned: count-like
# aggregators are 0 on empty days, the others null
_FILLED = [
    (dt.datetime(2024, 1, 1), 3, 6, 1.75, 1.0),
    (dt.datetime(2024, 1, 2), 0, 0, None, None),
    (dt.datetime(2024, 1, 3), 2, 9, 2.75, 2.0),
    (dt.datetime(2024, 1, 4), 0, 0, None, None),
    (dt.datetime(2024, 1, 5), 0, 0, None, None),
    (dt.datetime(2024, 1, 6), 1, 6, 4.0, 4.0),
    (dt.datetime(2024, 1, 7), 0, 0, None, None),
]


@pytest.mark.parametrize("extra, want", [
    ({}, _FILLED),
    ({"descending": True, "limit": 3}, _FILLED[::-1][:3]),
    ({"context": {"grandTotal": True}},
     _FILLED + [(None, 6, 21, 8.5, 4.0)]),
])
def test_zero_filled_timeseries_one_job(spark, eng, tmp_path, extra, want):
    path = str(tmp_path / "ev")
    _events(path)
    eng.catalog.register_table("ev", path, time_column="ts")
    df = eng.query({"queryType": "timeseries", "dataSource": "ev",
                    "granularity": "day", "aggregations": _AGGS,
                    "intervals": ["2024-01-01/2024-01-08"], **extra})
    rows, jobs = _run(spark, df)
    assert jobs == 1
    assert df.columns == ["__time", "n", "q", "v", "mx"]
    assert rows == want
