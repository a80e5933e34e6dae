"""Each table is one catalog record, published in one step: a reader
sees a table's files, partitioning and time column together, through
commit, drop and restore alike."""

import json
import os
import urllib.request

from druid_spark import DruidSparkEngine
from druid_spark.coordinator import drop_interval
from tests.conftest import SF_DIR


def _count(e, q) -> int:
    return e.query(dict(q)).collect()[0]["n"]


def _timeseries(ds: str, interval: str) -> dict:
    return {"queryType": "timeseries", "dataSource": ds,
            "granularity": "all", "intervals": [interval],
            "aggregations": [{"type": "count", "name": "n"}]}


def test_restore_keeps_time_column_of_a_read_table(spark):
    """A table dropped after it was read comes back with its time
    column: a native interval query counts the same rows after a DELETE
    and a mark-used POST as before."""
    from druid_spark.server import DruidHttpServer
    e = DruidSparkEngine(spark)
    e.catalog.register_table("orders_rs",
                             os.path.join(SF_DIR, "orders.parquet"),
                             time_column="o_orderdate")
    srv = DruidHttpServer(e).start()
    base = f"http://127.0.0.1:{srv.port}"

    def call(path, body=None, method="POST"):
        req = urllib.request.Request(
            base + path, method=method,
            data=None if body is None else json.dumps(body).encode(),
            headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read() or b"null")

    q = _timeseries("orders_rs", "1995-01-01/1996-01-01")
    try:
        _, before = call("/druid/v2/", q)
        assert before[0]["result"]["n"] > 0
        ds = "/druid/coordinator/v1/datasources/orders_rs"
        assert call(ds, method="DELETE")[0] == 200
        assert call(ds, {})[0] == 200
        _, after = call("/druid/v2/", q)
        assert after == before
    finally:
        srv.stop()
        e.close()


def test_query_during_commit_sees_one_partitioning(spark, tmp_path,
                                                    monkeypatch):
    """An HOUR table replaced by a DAY one: a query planned while the
    replacement commits, and the same query after, count what an
    unpruned read counts. Publishing the new files before their
    partitioning pruned every new `__dt` value away, and cached that
    plan under the new catalog version."""
    e = DruidSparkEngine(spark)
    e.catalog.register_dir(SF_DIR)
    e.warehouse_dir = str(tmp_path)
    select = ("SELECT ts AS __time, value FROM events "
              "WHERE ts >= TIMESTAMP '2024-01-02' "
              "AND ts < TIMESTAMP '2024-01-03' ")
    e.sql("REPLACE INTO hd OVERWRITE ALL " + select + "PARTITIONED BY HOUR")
    q = _timeseries("hd", "2024-01-02T00:00:00Z/2024-01-02T02:00:00Z")
    want = e.catalog.table("events").where(
        "ts >= TIMESTAMP '2024-01-02 00:00:00' "
        "AND ts < TIMESTAMP '2024-01-02 02:00:00'").count()
    assert want > 0 and _count(e, q) == want
    during = []
    real = e.catalog.set_partitioning

    def query_first(*args, **kwargs):
        during.append(_count(e, q))
        return real(*args, **kwargs)

    monkeypatch.setattr(e.catalog, "set_partitioning", query_first)
    e.sql("REPLACE INTO hd OVERWRITE ALL " + select + "PARTITIONED BY DAY")
    monkeypatch.setattr(e.catalog, "set_partitioning", real)
    assert all(n == want for n in during)
    assert _count(e, q) == want
    e.close()


def test_quarter_table_chunks_span_their_quarter(spark, tmp_path):
    """A QUARTER table written as the index task writes it: each `__dt`
    value is its quarter's first day, so a kill drops only quarters the
    interval contains, sys.segments spans three months, and a pruned
    query counts what an unpruned read counts."""
    e = DruidSparkEngine(spark)
    e.warehouse_dir = str(tmp_path)
    svc = e.table_service()
    rows = spark.sql(
        "SELECT * FROM VALUES "
        "(TIMESTAMP '2024-01-01 00:00:00', 1), "
        "(TIMESTAMP '2024-02-15 00:00:00', 2), "
        "(TIMESTAMP '2024-03-20 00:00:00', 3), "
        "(TIMESTAMP '2024-04-02 00:00:00', 4) AS t(__time, v)")
    svc.write(rows, "qt", "quarter")
    e.catalog.commit("qt", svc.path("qt"), "quarter")

    def rows_left() -> int:
        return e.catalog.table("qt").count()

    assert drop_interval(e.catalog, "qt", "2024-01-01/2024-01-02") == []
    assert rows_left() == 4
    feb = _timeseries("qt", "2024-02-01/2024-03-01")
    want = e.catalog.table("qt").where(
        "__time >= TIMESTAMP '2024-02-01 00:00:00' "
        "AND __time < TIMESTAMP '2024-03-01 00:00:00'").count()
    assert want == 1 and _count(e, feb) == want
    spans = {(s, t) for ds, _f, _sz, _n, s, t, *_ in
             e.catalog.segments_full() if ds == "qt"}
    assert spans == {("2024-01-01T00:00:00.000Z", "2024-04-01T00:00:00.000Z"),
                     ("2024-04-01T00:00:00.000Z", "2024-07-01T00:00:00.000Z")}
    assert drop_interval(e.catalog, "qt", "2024-01-01/2024-04-01") == [
        "2024-01-01"]
    assert rows_left() == 1
    assert e.catalog.table("qt").first()["v"] == 4
    e.close()


def test_concurrent_writers_lose_no_publish():
    """Writers on many threads, switching every microsecond: every
    registration and partitioning lands, and the version counts each
    publish once."""
    import sys
    import threading
    from druid_spark.catalog import Catalog
    cat = Catalog(None)  # lazy registrations never touch Spark
    writers, rounds = 16, 200

    def write(i: int) -> None:
        for k in range(rounds):
            cat.register_table(f"t{i}", f"/nowhere/{i}/{k}")
            cat.set_partitioning(f"t{i}", "__dt", "yyyy-MM-dd-HH", "hour")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=write, args=(i,))
                   for i in range(writers)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert cat.version == writers * rounds * 2
    assert cat.tables() == sorted(f"t{i}" for i in range(writers))
    for i in range(writers):
        assert cat.source_path(f"t{i}") == f"/nowhere/{i}/{rounds - 1}"
        assert cat.partitioning(f"t{i}") == ("__dt", "yyyy-MM-dd-HH", "hour")
