"""The catalog's time timeline: native intervals and Druid SQL `__time`
bounds read only the files that can hold matching rows, and every
shape the SQL lifter does not take reads whole tables."""

import datetime as dt
import itertools
import math
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from druid_spark import DruidSparkEngine
from druid_spark.catalog import (SCAN_CACHE_ENTRIES, _footer_bounds,
                                 interval_ranges, to_us)
from druid_spark.time_filters import lift_time_bounds

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check_plans import file_pruning_failure, write_day_files  # noqa: E402

_GROUPS = itertools.count()


def _scanned(spark, run) -> int:
    """Rows the Spark jobs of run() read, from the status store."""
    sc = spark.sparkContext
    group = f"timeline-{next(_GROUPS)}"
    sc.setJobGroup(group, "timeline test")
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    store, rows = jsc.statusStore(), 0
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        ids = store.job(int(jid)).stageIds()
        for i in range(ids.length()):
            try:
                rows += store.lastStageAttempt(int(ids.apply(i))).inputRecords()
            except Exception:  # a skipped stage has no attempt
                pass
    return rows


@pytest.fixture(scope="module")
def tl(spark, tmp_path_factory):
    """An engine with `tl`, four day-files with a footer timeline,
    `ref`, the same rows registered as a DataFrame without a source
    path (no timeline), and a small `dim` table."""
    path = str(tmp_path_factory.mktemp("timeline") / "tl")
    counts = write_day_files(path)
    e = DruidSparkEngine(spark, exact_approx=True)
    e.catalog.register_table("tl", path, time_column="ts")
    e.catalog.register_table(
        "ref", spark.createDataFrame(pq.read_table(path).to_pandas()),
        time_column="ts")
    e.catalog.register_table("dim", spark.createDataFrame(
        [(k, f"n{k % 7}") for k in range(0, 50, 3)], "dk long, name string"))
    yield e, path, counts
    e.close()


def test_narrow_interval_reads_only_overlapping_files(spark, tl):
    """Without the timeline both reads scan all 1,000 rows: Spark lists
    the interval bound in PushedFilters but skips no row group of a
    timestamp stored without UTC adjustment."""
    e, _path, counts = tl
    q = {"queryType": "timeseries", "dataSource": "tl",
         "granularity": "all",
         "intervals": ["2024-01-02T06:00:00Z/2024-01-02T18:00:00Z"],
         "aggregations": [{"type": "count", "name": "n"}]}
    assert _scanned(spark, lambda: e.query(q).collect()) == counts[1]
    text = ("SELECT COUNT(*) AS n FROM tl "
            "WHERE __time >= TIMESTAMP '2024-01-02 06:00:00' "
            "AND __time < TIMESTAMP '2024-01-03 18:00:00'")
    assert _scanned(spark, lambda: e.sql(text).collect()) \
        == counts[1] + counts[2]
    assert e.query(q).collect() == e.query({**q, "dataSource": "ref"}).collect()


def test_sql_partitioned_table_scans_fewer_rows(spark, tl, tmp_path):
    e, _path, counts = tl
    e.warehouse_dir = str(tmp_path)
    e.sql("REPLACE INTO tl_part OVERWRITE ALL SELECT __time, k, v FROM tl "
          "PARTITIONED BY DAY")
    text = ("SELECT COUNT(*) AS n FROM tl_part "
            "WHERE __time >= TIMESTAMP '2024-01-03 00:00:00' "
            "AND __time < TIMESTAMP '2024-01-04 00:00:00'")
    scanned = _scanned(spark, lambda: e.sql(text).collect())
    assert scanned == counts[2] < sum(counts)
    assert e.sql(text).collect()[0]["n"] == counts[2]


# (name, statement over {t}, whether the timeline table is pruned)
SHAPES = [
    ("top_level_or",
     "SELECT COUNT(*) AS n, SUM(v) AS s FROM {t} "
     "WHERE __time >= TIMESTAMP '2024-01-03' OR v < 5", False),
    ("not",
     "SELECT COUNT(*) AS n, SUM(v) AS s FROM {t} "
     "WHERE NOT (__time < TIMESTAMP '2024-01-03') "
     "AND __time < TIMESTAMP '2024-01-04'", False),
    ("in_subquery",
     "SELECT COUNT(*) AS n, SUM(v) AS s FROM {t} "
     "WHERE k IN (SELECT k FROM {t} WHERE __time >= TIMESTAMP '2024-01-04' "
     "AND v < 100) AND __time < TIMESTAMP '2024-01-02'", False),
    ("union_all",
     "SELECT COUNT(*) AS n, SUM(v) AS s FROM ("
     "SELECT v FROM {t} WHERE __time < TIMESTAMP '2024-01-02' UNION ALL "
     "SELECT v FROM {t} WHERE __time >= TIMESTAMP '2024-01-04')", False),
    ("self_join",
     "SELECT COUNT(*) AS n, SUM(a.v + b.v) AS s FROM {t} a "
     "JOIN {t} b ON a.k = b.k WHERE a.__time < TIMESTAMP '2024-01-02' "
     "AND b.__time >= TIMESTAMP '2024-01-04'", False),
    ("having_only",
     "SELECT TIME_FLOOR(__time, 'P1D') AS d, COUNT(*) AS n, SUM(v) AS s "
     "FROM {t} GROUP BY 1 HAVING MIN(__time) >= TIMESTAMP '2024-01-03'",
     False),
    ("time_in_on_only",
     "SELECT d.name, COUNT(x.v) AS n, SUM(x.v) AS s FROM dim d "
     "LEFT JOIN {t} x ON d.dk = x.k "
     "AND x.__time >= TIMESTAMP '2024-01-03' GROUP BY 1", False),
    ("unqualified_time_in_join",
     "SELECT name, COUNT(*) AS n, SUM(v) AS s FROM {t} "
     "JOIN dim ON k = dk WHERE __time >= TIMESTAMP '2024-01-03' "
     "GROUP BY 1", False),
    ("left_join_where_on_right",
     "SELECT d.name, COUNT(*) AS n, SUM(x.v) AS s FROM dim d "
     "LEFT JOIN {t} x ON d.dk = x.k "
     "WHERE x.__time >= TIMESTAMP '2024-01-03 12:00:00' GROUP BY 1", True),
    ("between",
     "SELECT COUNT(*) AS n, SUM(v) AS s FROM {t} WHERE __time BETWEEN "
     "TIMESTAMP '2024-01-02 12:00:00' AND TIMESTAMP '2024-01-03 06:00:00'",
     True),
    ("gt_and_le_on_file_edges",
     "SELECT COUNT(*) AS n, SUM(v) AS s FROM {t} "
     "WHERE __time > TIMESTAMP '2024-01-02 23:59:59' "
     "AND __time <= TIMESTAMP '2024-01-04 00:00:00'", True),
    ("fractional_seconds",
     "SELECT COUNT(*) AS n, SUM(v) AS s FROM {t} "
     "WHERE __time >= TIMESTAMP '2024-01-02 23:59:58.5' "
     "AND __time < TIMESTAMP '2024-01-03 00:00:00.000001'", True),
    ("outside_the_data",
     "SELECT COUNT(*) AS n, SUM(v) AS s FROM {t} "
     "WHERE __time >= TIMESTAMP '2030-01-01'", True),
]


def _same(got, want) -> bool:
    key = lambda r: tuple(str(x) for x in r)  # noqa: E731
    got, want = sorted(got, key=key), sorted(want, key=key)
    return len(got) == len(want) and all(
        len(a) == len(b) and all(
            math.isclose(x, y, rel_tol=1e-6)
            if isinstance(x, float) and isinstance(y, float) else x == y
            for x, y in zip(a, b))
        for a, b in zip(got, want))


@pytest.mark.parametrize("name,text,pruned", SHAPES,
                         ids=[s[0] for s in SHAPES])
def test_sql_shapes_match_unpruned(tl, name, text, pruned):
    """Each shape answers as over the same rows without a timeline;
    only the liftable shapes read fewer than all four files."""
    e = tl[0]
    df = e.sql(text.format(t="tl"))
    want = [tuple(r) for r in e.sql(text.format(t="ref")).collect()]
    assert _same([tuple(r) for r in df.collect()], want)
    files = len(df.inputFiles())
    assert files < 4 if pruned else files == 4


def test_lifter_reads_only_plain_shapes():
    tables = ["events", "dim"]
    lifts = lift_time_bounds(
        "SELECT COUNT(*) FROM events e JOIN dim d ON e.k = d.k "
        "WHERE (e.__time) >= TIMESTAMP '2024-01-02' AND d.x = 1 "
        "AND (e.__time < TIMESTAMP '2024-01-03' AND d.y = 2)", tables)
    assert [(lf.table, lf.range, lf.aliased) for lf in lifts] == [
        ("events", (to_us(dt.datetime(2024, 1, 2)),
                    to_us(dt.datetime(2024, 1, 3))), True)]
    for text in [
            # an AND inside a CASE is not a conjunct of the WHERE clause
            "SELECT 1 FROM events WHERE CASE WHEN a = 1 AND "
            "__time >= TIMESTAMP '2024-01-02' AND b = 2 THEN 1 END = 1",
            # a column named like a clause keyword does not end the WHERE
            "SELECT 1 FROM events WHERE __time >= TIMESTAMP '2024-01-02' "
            "AND `limit` = 1 AND window = 2 OR 1 = 1",
            "SELECT 1 FROM events WHERE __time >= TIMESTAMP '2024-01-02' "
            "AND NOT a",
            "SELECT 1 FROM lateral_tbl LATERAL VIEW explode(x) t AS y "
            "WHERE __time >= TIMESTAMP '2024-01-02'",
            "SELECT 1 FROM events WHERE __time >= "
            "TIMESTAMP '2024-01-02' + INTERVAL '1' DAY"]:
        assert lift_time_bounds(text, tables) == [], text


def _write_ts(path: str, unit: str = "us", **kw) -> None:
    us = np.arange(4, dtype="int64") * 86_400_000_000 + to_us(
        dt.datetime(2024, 1, 1))
    ts = pa.array(us, type=pa.timestamp("us")).cast(pa.timestamp(unit))
    pq.write_table(pa.table({"ts": ts, "v": np.arange(4.0)}), path, **kw)


@pytest.mark.parametrize("kw", [{"write_statistics": False},
                                {"use_deprecated_int96_timestamps": True},
                                # read from a directory, nanos stay longs
                                {"unit": "ns"}],
                         ids=["no_statistics", "int96", "nanos_as_long"])
def test_unknown_timeline_scans_whole_table(spark, tmp_path, kw):
    for i in range(2):
        _write_ts(str(tmp_path / f"part-{i}.parquet"), **kw)
    e = DruidSparkEngine(spark)
    e.catalog.register_table("unk", str(tmp_path), time_column="ts")
    ranges = interval_ranges(["2030-01-01/2031-01-01"])
    assert e.catalog.scan("unk", ranges) is e.catalog.table("unk")
    assert e.catalog._tables["unk"].bounds is None


def test_unknown_timeline_for_remote_and_untimed_files(tmp_path):
    _write_ts(str(tmp_path / "a.parquet"))
    local = f"file://{tmp_path}/a.parquet"
    assert _footer_bounds((local,), "ts", {}, True) is not None
    assert _footer_bounds(("s3a://bucket/t/a.parquet",), "ts", {},
                          True) is None
    assert _footer_bounds((local,), "v", {}, True) is None  # not a timestamp
    assert _footer_bounds((local,), None, {}, True) is None
    # stored without UTC adjustment: wall-clock bounds
    assert _footer_bounds((local,), "ts", {}, False) is None


def test_file_pruning_check_fails_without_intervals(tl):
    e = tl[0]
    q = {"queryType": "timeseries", "dataSource": "tl",
         "granularity": "all",
         "intervals": ["2024-01-02T06:00:00Z/2024-01-02T18:00:00Z"],
         "aggregations": [{"type": "count", "name": "n"}]}
    assert file_pruning_failure(e, q, ["part-1.parquet"]) is None
    unbounded = {k: v for k, v in q.items() if k != "intervals"}
    assert file_pruning_failure(e, unbounded, ["part-1.parquet"])


_HOUR0 = dt.datetime(2024, 1, 1)


def _hour(h: int) -> str:
    return f"TIMESTAMP '{_HOUR0 + dt.timedelta(hours=h):%Y-%m-%d %H:%M:%S}'"


@pytest.fixture(scope="module")
def hourly(tmp_path_factory):
    """100 hourly `__dt` partitions, hour h holding one row v = h."""
    root = tmp_path_factory.mktemp("hourly")
    for h in range(100):
        t = _HOUR0 + dt.timedelta(hours=h)
        d = root / f"__dt={t:%Y-%m-%d-%H}"
        d.mkdir()
        pq.write_table(pa.table({
            "__time": pa.array([to_us(t)], type=pa.timestamp("us")),
            "v": [float(h)]}), str(d / "part-0.parquet"))
    return str(root)


def _register_hourly(e, path: str) -> None:
    e.catalog.register_table("hp", e.spark.read.parquet(path),
                             source_path=path)
    e.catalog.set_partitioning("hp", "__dt", "yyyy-MM-dd-HH")


def _hours_sql(lo: int, hi: int) -> str:
    return (f"SELECT COUNT(*) AS n, SUM(v) AS s FROM hp "
            f"WHERE __time >= {_hour(lo)} AND __time < {_hour(hi)}")


def _scan_views(spark, others=frozenset()) -> set:
    return {t.name for t in spark.catalog.listTables()
            if t.name.startswith("__scan_")} - others


def test_scan_cache_bounded_and_dropped_on_reregister(spark, hourly):
    """200 distinct SQL intervals keep at most the cache's capacity in
    scans and views; re-registering the table drops both."""
    others = _scan_views(spark)  # other engines share the session
    e = DruidSparkEngine(spark)
    _register_hourly(e, hourly)
    for i in range(200):
        e.sql(_hours_sql(i % 100, i % 100 + 1 + i // 100))
    assert 0 < len(e.catalog._scans) <= SCAN_CACHE_ENTRIES
    assert 0 < len(_scan_views(spark, others)) <= SCAN_CACHE_ENTRIES
    assert tuple(e.sql(_hours_sql(24, 29)).collect()[0]) \
        == (5, float(sum(range(24, 29))))
    _register_hourly(e, hourly)
    assert len(e.catalog._scans) == 0
    assert _scan_views(spark, others) == set()


def test_scan_views_survive_eviction_under_threads(spark, hourly):
    """Eight threads bind distinct intervals through a 4-entry scan
    cache, so scans leave it while other statements are bound to their
    views: no statement fails or reads another's rows, and once all
    are done no view outlives the cache."""
    import threading
    others = _scan_views(spark)
    e = DruidSparkEngine(spark)
    _register_hourly(e, hourly)
    e.catalog._scans.capacity = 4
    errors: list = []

    def worker(w: int) -> None:
        try:
            for i in range(12):
                lo = (w * 12 + i) % 90
                hi = lo + 1 + (w + i) % 9
                got = tuple(e.sql(_hours_sql(lo, hi)).collect()[0])
                if got != (hi - lo, float(sum(range(lo, hi)))):
                    errors.append((lo, hi, got))
        except Exception as err:  # noqa: BLE001 - reported below
            errors.append(repr(err))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(w,))
                   for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(_scan_views(spark, others)) <= 4


def _counts(e, q: dict, ref: str) -> tuple:
    return (e.query(q).collect(),
            e.query({**q, "dataSource": ref}).collect())


def test_week_partitions_keep_mid_week_rows(spark, tmp_path):
    """A WEEK table's partition value is its bucket's Monday: a
    mid-week interval still reads the week holding it, natively and in
    Druid SQL, and skips the other weeks."""
    e = DruidSparkEngine(spark)
    e.warehouse_dir = str(tmp_path)
    monday = dt.datetime(2024, 1, 1)
    e.catalog.register_table("wk_ref", spark.createDataFrame(
        [(monday + dt.timedelta(hours=6 * i), float(i)) for i in range(112)],
        "__time timestamp, v double"))
    e.sql("REPLACE INTO wk OVERWRITE ALL SELECT __time, v FROM wk_ref "
          "PARTITIONED BY WEEK")
    q = {"queryType": "timeseries", "dataSource": "wk", "granularity": "all",
         "intervals": ["2024-01-10T00:00:00Z/2024-01-12T00:00:00Z"],
         "aggregations": [{"type": "count", "name": "n"},
                          {"type": "doubleSum", "name": "s",
                           "fieldName": "v"}]}
    # (measured first: a re-run of a cached plan skips its stages)
    assert _scanned(spark, lambda: e.query(q).collect()) == 28
    got, want = _counts(e, q, "wk_ref")
    assert want[0]["n"] == 8 and got == want
    text = ("SELECT COUNT(*) AS n, SUM(v) AS s FROM {t} "
            "WHERE __time >= TIMESTAMP '2024-01-10' "
            "AND __time < TIMESTAMP '2024-01-12'")
    assert _scanned(spark, lambda: e.sql(text.format(t="wk")).collect()) == 28
    assert e.sql(text.format(t="wk")).collect() \
        == e.sql(text.format(t="wk_ref")).collect()
    e.close()


def test_query_during_reregistration_sees_appends_after(spark, tmp_path,
                                                       monkeypatch):
    """A query planned while a footer-bounded table is re-registered
    (here: during the new registration's footer reads) reads the old
    registration under the old catalog version and serial, so the same
    query after the registration sees the appended file."""
    import shutil
    path, more = str(tmp_path / "flat"), str(tmp_path / "more")
    write_day_files(path, days=2)
    counts = write_day_files(more, days=3)
    e = DruidSparkEngine(spark)

    def register() -> None:
        e.catalog.register_table("flat", spark.read.parquet(path),
                                 time_column="ts", source_path=path)

    q = {"queryType": "timeseries", "dataSource": "flat",
         "granularity": "all", "intervals": ["2024-01-02/2024-01-04"],
         "aggregations": [{"type": "count", "name": "n"}]}
    cached = {**q, "context": {"useResultCache": True}}
    text = ("SELECT COUNT(*) AS n FROM flat "
            "WHERE __time >= TIMESTAMP '2024-01-02'")
    register()
    shutil.copy(os.path.join(more, "part-2.parquet"), path)
    real = e.catalog._with_timeline

    def query_first(*args):
        for run in (lambda: e.query(dict(q)), lambda: e.query(dict(cached)),
                    lambda: e.sql(text)):
            assert run().collect()[0]["n"] == counts[1]
        return real(*args)

    monkeypatch.setattr(e.catalog, "_with_timeline", query_first)
    register()
    monkeypatch.setattr(e.catalog, "_with_timeline", real)
    for run in (lambda: e.query(dict(q)), lambda: e.query(dict(cached)),
                lambda: e.sql(text)):
        assert run().collect()[0]["n"] == counts[1] + counts[2]
    e.close()


def test_non_utc_session_prunes_nothing(spark, tmp_path):
    """A session moved off UTC after the engine set it up reads
    zone-less SQL literals, and (inferring TIMESTAMP_NTZ) footers stored
    without UTC adjustment, in its own zone: every read is whole and
    matches the same files registered without a timeline."""
    wall, utc = str(tmp_path / "wall"), str(tmp_path / "utc")
    write_day_files(wall)
    os.makedirs(utc)
    for f in sorted(os.listdir(wall)):
        t = pq.read_table(os.path.join(wall, f))
        pq.write_table(t.set_column(0, "ts", t["ts"].cast(
            pa.timestamp("us", tz="UTC"))), os.path.join(utc, f))
    e = DruidSparkEngine(spark)
    confs = {"spark.sql.session.timeZone": "America/Los_Angeles",
             "spark.sql.parquet.inferTimestampNTZ.enabled": "true"}
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        for name, path in (("wall", wall), ("utc", utc)):
            e.catalog.register_table(name, path, time_column="ts")
            e.catalog.register_table(name + "_ref", spark.read.parquet(path),
                                     time_column="ts")
        # 16:00-24:00 wall clock on Jan 3: instants in the part-2 file
        q = {"queryType": "timeseries", "dataSource": "wall",
             "granularity": "all",
             "intervals": ["2024-01-04T00:00:00Z/2024-01-04T08:00:00Z"],
             "aggregations": [{"type": "count", "name": "n"}]}
        got, want = _counts(e, q, "wall_ref")
        assert want[0]["n"] > 0 and got == want
        # Jan 2 08:00Z to Jan 3 08:00Z: rows of the part-1 and part-2 files
        text = ("SELECT COUNT(*) AS n, SUM(v) AS s FROM {t} "
                "WHERE __time >= TIMESTAMP '2024-01-02' "
                "AND __time < TIMESTAMP '2024-01-03'")
        df = e.sql(text.format(t="utc"))
        want = [tuple(r) for r in e.sql(text.format(t="utc_ref")).collect()]
        assert _same([tuple(r) for r in df.collect()], want)
        assert len(df.inputFiles()) == 4
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
        e.close()
