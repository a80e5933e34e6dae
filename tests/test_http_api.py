"""HTTP entry-point tests: in-process server, real POSTs, DuckDB oracle.

Reference contracts: server/.../server/QueryResource.java:74 (native),
sql/.../sql/http/SqlResource.java:124 (SQL + resultFormats), error shape
processing/.../query/QueryException.java:159-175.
"""

import http.client
import json
import os
import time
import urllib.request

import duckdb
import pytest

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def server(engine):
    from druid_spark.server import DruidHttpServer
    srv = DruidHttpServer(engine).start()
    yield srv
    srv.stop()


def _post(srv, path, obj, expect_error=False):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=json.dumps(obj).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read()), dict(r.headers)
    except urllib.error.HTTPError as e:
        if not expect_error:
            raise
        return e.code, json.loads(e.read()), dict(e.headers)


def _log_entry(srv, qid):
    """The request-log entry of query `qid`. It is written after the
    response's last byte, so poll for it."""
    for _ in range(200):
        for e in srv.request_logger.recent():
            if e.get("queryId") == qid:
                return e
        time.sleep(0.05)
    raise AssertionError(f"no request-log entry for {qid}")


def _get(srv, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}{path}") as r:
        return r.status, json.loads(r.read())


def test_status_and_datasources(server):
    status, body = _get(server, "/status")
    assert status == 200 and "version" in body
    status, tables = _get(server, "/druid/v2/datasources")
    assert status == 200 and "lineitem" in tables and "events" in tables


def test_native_timeseries_oracle(server):
    """POST /druid/v2 timeseries == DuckDB day-bucketed counts."""
    status, body, headers = _post(server, "/druid/v2/", {
        "queryType": "timeseries", "dataSource": "events",
        "granularity": "day", "intervals": ["2024-01-01/2024-01-08"],
        "aggregations": [{"type": "count", "name": "n"},
                         {"type": "longSum", "name": "v",
                          "fieldName": "user_id"}],
        "context": {"skipEmptyBuckets": True, "queryId": "ts-q1"}})
    assert status == 200
    assert headers.get("X-Druid-Query-Id") == "ts-q1"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * "
                f"FROM '{os.path.join(SF_DIR, 'events.parquet')}'")
    oracle = con.execute("""
        SELECT date_trunc('day', ts) AS d, COUNT(*) AS n,
               CAST(SUM(user_id) AS BIGINT) AS v
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
        GROUP BY 1 ORDER BY 1""").fetchall()
    assert len(body) == len(oracle)
    for row, (d, n, v) in zip(body, oracle):
        assert row["timestamp"] == d.strftime("%Y-%m-%dT%H:%M:%S.000Z")
        assert row["result"]["n"] == n
        assert row["result"]["v"] == v


def test_native_groupby_envelope(server):
    status, body, _ = _post(server, "/druid/v2", {
        "queryType": "groupBy", "dataSource": "lineitem",
        "granularity": "all", "dimensions": ["l_returnflag"],
        "aggregations": [{"type": "count", "name": "cnt"}]})
    assert status == 200
    assert all(set(r) == {"version", "timestamp", "event"} for r in body)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * "
                f"FROM '{os.path.join(SF_DIR, 'lineitem.parquet')}'")
    oracle = dict(con.execute(
        "SELECT l_returnflag, COUNT(*) FROM lineitem GROUP BY 1").fetchall())
    got = {r["event"]["l_returnflag"]: r["event"]["cnt"] for r in body}
    assert got == oracle


def test_native_scan_compacted(server):
    status, body, _ = _post(server, "/druid/v2", {
        "queryType": "scan", "dataSource": "nation",
        "columns": ["n_nationkey", "n_name"], "limit": 5,
        "resultFormat": "compactedList"})
    assert status == 200 and len(body) == 1
    assert body[0]["columns"] == ["n_nationkey", "n_name"]
    assert len(body[0]["events"]) == 5
    assert all(isinstance(e, list) and len(e) == 2
               for e in body[0]["events"])


def test_sql_object_oracle(server):
    status, body, _ = _post(server, "/druid/v2/sql", {
        "query": "SELECT l_returnflag, CAST(SUM(l_quantity) AS BIGINT) "
                 "AS sum_qty FROM lineitem "
                 "GROUP BY l_returnflag ORDER BY l_returnflag"})
    assert status == 200
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * "
                f"FROM '{os.path.join(SF_DIR, 'lineitem.parquet')}'")
    oracle = con.execute(
        "SELECT l_returnflag, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag").fetchall()
    assert [(r["l_returnflag"], r["sum_qty"]) for r in body] == oracle


def test_sql_array_header_and_csv(server):
    q = ("SELECT n_name FROM nation ORDER BY n_nationkey "
         "OFFSET 0 ROWS FETCH NEXT 3 ROWS ONLY")
    status, body, _ = _post(server, "/druid/v2/sql",
                            {"query": q, "resultFormat": "array",
                             "header": True})
    assert status == 200 and body[0] == ["n_name"] and len(body) == 4


def test_sql_csv(server):
    status_lines = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/druid/v2/sql",
        data=json.dumps({"query": "SELECT n_nationkey, n_name FROM nation "
                                  "ORDER BY n_nationkey LIMIT 2",
                         "resultFormat": "csv", "header": True}).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    with urllib.request.urlopen(status_lines) as r:
        text = r.read().decode()
        assert r.headers["Content-Type"].startswith("text/csv")
    lines = [ln for ln in text.strip().splitlines() if ln]
    assert lines[0] == "n_nationkey,n_name" and len(lines) == 3


def test_sql_object_lines_stream(server):
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/druid/v2/sql",
        data=json.dumps({"query": "SELECT n_nationkey FROM nation "
                                  "ORDER BY n_nationkey",
                         "resultFormat": "objectLines"}).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    with urllib.request.urlopen(req) as r:
        raw = r.read().decode()
    # trailing blank line marks a complete result (ResultFormat contract)
    assert raw.endswith("\n\n")
    rows = [json.loads(ln) for ln in raw.strip().splitlines()]
    assert rows[0] == {"n_nationkey": 0} and len(rows) == 25


def test_sql_parameters(server):
    status, body, _ = _post(server, "/druid/v2/sql", {
        "query": "SELECT COUNT(*) AS n FROM nation WHERE n_regionkey = ?",
        "parameters": [{"type": "BIGINT", "value": 1}]})
    assert status == 200 and body[0]["n"] == 5
    # a '?' inside a string literal is NOT a placeholder
    status, body, _ = _post(server, "/druid/v2/sql", {
        "query": "SELECT COUNT(*) AS n FROM nation "
                 "WHERE n_name NOT LIKE 'z?%' AND n_regionkey = ?",
        "parameters": [{"type": "BIGINT", "value": 1}]})
    assert status == 200 and body[0]["n"] == 5
    # too few parameters errors instead of silently deleting the '?'
    import urllib.error
    try:
        _post(server, "/druid/v2/sql", {
            "query": "SELECT ? + ? AS n", "parameters": [{"value": 1}]})
        assert False, "expected error"
    except urllib.error.HTTPError as e:
        assert e.code in (400, 500)


def test_statements_registry_bounded(server):
    """Completed statements are evicted oldest-first past MAX_DONE so
    result rows don't accumulate in driver memory forever."""
    import time
    st = server._httpd.statements
    reg = server.engine.tasks  # the cap lives on the task registry
    old_max = reg.MAX_DONE
    reg.MAX_DONE = 3
    try:
        ids = []
        for i in range(5):
            status, sub, _ = _post(server, "/druid/v2/sql/statements", {
                "query": f"SELECT {i} AS x"})
            ids.append(sub["queryId"])
            for _ in range(100):
                _, s = _get(server,
                            f"/druid/v2/sql/statements/{ids[-1]}")
                if s["state"] in ("SUCCESS", "FAILED"):
                    break
                time.sleep(0.05)
        live = [q for q in ids if st.status(q) is not None]
        assert len(live) <= 4  # 3 retained terminal + the in-flight one
        assert ids[-1] in live  # newest survives
    finally:
        reg.MAX_DONE = old_max


def test_error_shapes(server):
    # unknown query type -> 400, QueryException JSON shape
    status, body, _ = _post(server, "/druid/v2",
                            {"queryType": "nope", "dataSource": "nation"},
                            expect_error=True)
    assert status == 400
    assert set(body) == {"error", "errorMessage", "errorClass", "host"}
    assert body["error"] == "Unknown query type"
    # unknown datasource -> 400
    status, body, _ = _post(server, "/druid/v2",
                            {"queryType": "scan", "dataSource": "ghost",
                             "columns": ["x"]},
                            expect_error=True)
    assert status == 400 and body["error"] == "Unknown datasource"
    # SQL syntax error -> 400 "SQL parse failed"
    status, body, _ = _post(server, "/druid/v2/sql",
                            {"query": "SELEKT 1"}, expect_error=True)
    assert status == 400 and body["error"] == "SQL parse failed"
    # malformed JSON body -> 400
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/druid/v2",
        data=b"{not json", headers={"Content-Type": "application/json"},
        method="POST")
    try:
        urllib.request.urlopen(req)
        assert False, "expected 400"
    except urllib.error.HTTPError as e:
        assert e.code == 400
        assert json.loads(e.read())["error"] == "Unable to parse query"


def test_malformed_body_robustness(server):
    """Every malformed native/SQL body must come back as a structured
    QueryException-shaped error (4xx/5xx), never a hang, a 200 with
    garbage, or a connection drop."""
    cases = [
        ("/druid/v2", {}),                                 # no queryType
        ("/druid/v2", {"queryType": "timeseries"}),        # no dataSource
        ("/druid/v2", {"queryType": "groupBy", "dataSource": "nation",
                       "granularity": "all",
                       "dimensions": ["no_such_col"],
                       "aggregations": [{"type": "count",
                                         "name": "n"}]}),
        ("/druid/v2", {"queryType": "timeseries", "dataSource": "nation",
                       "granularity": "all",
                       "aggregations": [{"type": "nosuchagg",
                                         "name": "n",
                                         "fieldName": "n_name"}]}),
        ("/druid/v2", {"queryType": "scan", "dataSource": "nation",
                       "columns": ["n_name"],
                       "filter": {"type": "nosuchfilter",
                                  "dimension": "n_name"}}),
        ("/druid/v2", {"queryType": "timeseries", "dataSource": "nation",
                       "granularity": {"type": "weird"},
                       "aggregations": []}),
        ("/druid/v2/sql", {"query": "SELECT no_such_col FROM nation"}),
        ("/druid/v2/sql", {"query": "SELECT 1", "parameters": "bogus"}),
        ("/druid/v2/sql", {}),                             # missing query
    ]
    for path, body in cases:
        status, out, _ = _post(server, path, body, expect_error=True)
        assert 400 <= status < 600, (path, body, status, out)
        assert "error" in out and "errorMessage" in out, (path, body, out)


def test_datasource_metadata_endpoint(server):
    status, body = _get(server, "/druid/v2/datasources/nation")
    assert status == 200 and body["name"] == "nation"
    cols = {c["name"]: c["type"] for c in body["columns"]}
    assert cols["n_nationkey"] in ("INT", "BIGINT") and "n_name" in cols
    try:
        _get(server, "/druid/v2/datasources/ghost")
        assert False, "expected 404"
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_sql_task_endpoint_insert(server, tmp_path):
    """POST /druid/v2/sql/task (MSQ SqlTaskResource analog): async
    INSERT ... PARTITIONED BY runs through the statements machinery and
    the ingested table is queryable afterwards."""
    import time as _t
    status, sub, _ = _post(server, "/druid/v2/sql/task", {
        "query": "REPLACE INTO tgt_http_task OVERWRITE ALL "
                 "SELECT ts AS __time, event_type, value FROM events "
                 "PARTITIONED BY DAY"})
    assert status == 202 and "taskId" in sub
    tid = sub["taskId"]
    for _ in range(120):
        status, st = _get(server, f"/druid/v2/sql/statements/{tid}")
        if st["state"] in ("SUCCESS", "FAILED"):
            break
        _t.sleep(0.5)
    assert st["state"] == "SUCCESS", st
    status, rows, _ = _post(server, "/druid/v2/sql", {
        "query": "SELECT count(*) AS n FROM tgt_http_task"})
    assert status == 200 and rows[0]["n"] == 1000  # sf0.001 events rows
    # ONE sys.tasks row, keyed by the statement id (sqlQueryId==taskId
    # contract), typed query_controller with the target datasource
    status, trows, _ = _post(server, "/druid/v2/sql", {
        "query": f"SELECT type, datasource, status FROM sys.tasks "
                 f"WHERE task_id = '{tid}'"})
    assert status == 200 and len(trows) == 1
    assert trows[0]["type"] == "query_controller"
    assert trows[0]["datasource"] == "tgt_http_task"
    assert trows[0]["status"] == "SUCCESS"


def test_sql_task_set_prefixed_insert_classified(server):
    """A SET-prefixed INSERT (engine.sql strips the SET context) must
    still be classified as an ingest task, not a plain query."""
    import time as _t
    status, sub, _ = _post(server, "/druid/v2/sql/task", {
        "query": "SET sqlTimeZone = 'UTC'; "
                 "REPLACE INTO tgt_http_set OVERWRITE ALL "
                 "SELECT ts AS __time, value FROM events "
                 "PARTITIONED BY DAY"})
    assert status == 202
    tid = sub["taskId"]
    for _ in range(120):
        status, st = _get(server, f"/druid/v2/sql/statements/{tid}")
        if st["state"] in ("SUCCESS", "FAILED"):
            break
        _t.sleep(0.5)
    assert st["state"] == "SUCCESS", st
    status, trows, _ = _post(server, "/druid/v2/sql", {
        "query": f"SELECT type, datasource FROM sys.tasks "
                 f"WHERE task_id = '{tid}'"})
    assert len(trows) == 1
    assert trows[0]["type"] == "query_controller"
    assert trows[0]["datasource"] == "tgt_http_set"


def test_sql_statements_async(server):
    """SqlStatementResource lifecycle: submit -> poll -> results ->
    cancel/404 arms (sql/.../http/SqlStatementResource.java)."""
    import time as _t
    status, sub, _ = _post(server, "/druid/v2/sql/statements", {
        "query": "SELECT n_regionkey, count(*) AS n FROM nation "
                 "GROUP BY 1 ORDER BY 1"})
    assert status == 202 and sub["state"] in ("ACCEPTED", "RUNNING")
    qid = sub["queryId"]
    for _ in range(120):
        status, st = _get(server, f"/druid/v2/sql/statements/{qid}")
        if st["state"] in ("SUCCESS", "FAILED"):
            break
        _t.sleep(0.5)
    assert st["state"] == "SUCCESS", st
    assert st["result"]["numTotalRows"] == 5
    status, rows = _get(server,
                        f"/druid/v2/sql/statements/{qid}/results")
    assert status == 200 and len(rows) == 5
    assert rows[0] == {"n_regionkey": 0, "n": 5}
    # paging beyond the result is an empty page
    status, empty = _get(server,
                         f"/druid/v2/sql/statements/{qid}/results?page=9")
    assert status == 200 and empty == []
    # unknown id arms
    try:
        _get(server, "/druid/v2/sql/statements/nope")
        assert False, "expected 404"
    except urllib.error.HTTPError as e:
        assert e.code == 404
    # cancel an in-flight statement
    status, sub2, _ = _post(server, "/druid/v2/sql/statements", {
        "query": "SELECT count(*) AS n FROM lineitem l1 "
                 "JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey"})
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/druid/v2/sql/statements/"
        f"{sub2['queryId']}", method="DELETE")
    with urllib.request.urlopen(req) as r:
        assert r.status == 202
    status, st2 = _get(server,
                       f"/druid/v2/sql/statements/{sub2['queryId']}")
    assert st2["state"] == "CANCELED"


def test_coordinator_metadata_endpoints(server):
    """Coordinator metadata API (server/.../http/MetadataResource.java):
    datasource list + per-datasource segments from parquet footers."""
    status, names = _get(server, "/druid/coordinator/v1/metadata/datasources")
    assert status == 200 and "events" in names
    status, segs = _get(
        server, "/druid/coordinator/v1/metadata/datasources/events/segments")
    assert status == 200 and len(segs) >= 1
    assert segs[0]["dataSource"] == "events"
    assert segs[0]["numRows"] == 1000  # sf0.001
    assert segs[0]["size"] > 0
    try:
        _get(server,
             "/druid/coordinator/v1/metadata/datasources/nope/segments")
        assert False, "expected 404"
    except urllib.error.HTTPError as e:
        assert e.code == 404
    # ?full mirrors the DataSegment JSON shape
    status, full = _get(
        server,
        "/druid/coordinator/v1/metadata/datasources/events/segments?full")
    assert status == 200 and full[0]["dataSource"] == "events"
    assert {"loadSpec", "shardSpec", "identifier",
            "version"} <= set(full[0])
    assert full[0]["shardSpec"]["type"] == "numbered"


def test_native_etag_304(server):
    """ETag handshake (QueryResource HDR_ETAG/HDR_IF_NONE_MATCH): same
    query + unchanged catalog → 304 with no body; changed query → new
    tag."""
    q = {"queryType": "timeseries", "dataSource": "events",
         "granularity": "all",
         "aggregations": [{"type": "count", "name": "n"}]}
    status, body, headers = _post(server, "/druid/v2", q)
    assert status == 200
    etag = headers.get("ETag")
    assert etag and etag.startswith('"')
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/druid/v2",
        data=json.dumps(q).encode(),
        headers={"Content-Type": "application/json",
                 "If-None-Match": etag}, method="POST")
    try:
        with urllib.request.urlopen(req) as r:
            code, payload, hdrs = r.status, r.read(), r.headers
    except urllib.error.HTTPError as e:  # urllib treats 304 as an error
        code, payload, hdrs = e.code, e.read(), e.headers
    assert code == 304 and payload == b"" and hdrs["ETag"] == etag
    assert _log_entry(server, hdrs["X-Druid-Query-Id"])["status"] == 304
    # a different query gets a different tag
    q2 = dict(q, dataSource="orders")
    status, _, headers2 = _post(server, "/druid/v2", q2)
    assert status == 200 and headers2.get("ETag") != etag


def test_sql_outer_limit(server):
    """context.sqlOuterLimit caps the result set (SqlLifecycle outer
    limit — the console's safety cap)."""
    status, rows, _ = _post(server, "/druid/v2/sql", {
        "query": "SELECT n_nationkey FROM nation ORDER BY n_nationkey",
        "context": {"sqlOuterLimit": 4}})
    assert status == 200 and len(rows) == 4
    assert rows[-1]["n_nationkey"] == 3


def test_avatica_jdbc_protocol(server):
    """Avatica JSON-RPC at POST /druid/v2/sql/avatica — the reference's
    JDBC entry point (DruidAvaticaJsonHandler / DruidMeta): full
    openConnection → createStatement → prepareAndExecute → fetch →
    close lifecycle, frame paging, prepared-statement parameters, and
    DruidMeta's statement cap."""
    cid = "conn-test-1"

    def rpc(obj, expect=200):
        status, body, _ = _post(server, "/druid/v2/sql/avatica", obj,
                                expect_error=(expect != 200))
        assert status == expect, (status, body)
        return body

    assert rpc({"request": "openConnection", "connectionId": cid})[
        "response"] == "openConnection"
    sid = rpc({"request": "createStatement",
               "connectionId": cid})["statementId"]

    # execute with a bounded first frame, page the rest via fetch
    out = rpc({"request": "prepareAndExecute", "connectionId": cid,
               "statementId": sid,
               "sql": "SELECT n_nationkey, n_name FROM nation "
                      "ORDER BY n_nationkey",
               "maxRowsInFirstFrame": 10})
    rs = out["results"][0]
    assert rs["response"] == "resultSet" and rs["statementId"] == sid
    names = [c["columnName"] for c in rs["signature"]["columns"]]
    types = [c["type"]["name"] for c in rs["signature"]["columns"]]
    assert names == ["n_nationkey", "n_name"]
    assert types[0] in ("INTEGER", "BIGINT") and types[1] == "VARCHAR"
    f0 = rs["firstFrame"]
    assert len(f0["rows"]) == 10 and f0["done"] is False
    f1 = rpc({"request": "fetch", "connectionId": cid,
              "statementId": sid, "offset": 10,
              "fetchMaxRowCount": 100})["frame"]
    assert len(f1["rows"]) == 15 and f1["done"] is True
    all_keys = [r[0] for r in f0["rows"]] + [r[0] for r in f1["rows"]]
    assert all_keys == sorted(all_keys) and len(all_keys) == 25

    # prepared statement with a bound parameter
    prep = rpc({"request": "prepare", "connectionId": cid,
                "sql": "SELECT COUNT(*) AS n FROM nation "
                       "WHERE n_regionkey = ?"})
    h = prep["statement"]
    ex = rpc({"request": "execute", "statementHandle":
              {"connectionId": cid, "id": h["id"]},
              "parameterValues": [{"type": "LONG", "value": 1}]})
    assert ex["results"][0]["firstFrame"]["rows"][0][0] == 5

    # statement cap (druid.sql.avatica.maxStatementsPerConnection=4)
    open_sids = [sid, h["id"]]
    while len(open_sids) < 4:
        open_sids.append(rpc({"request": "createStatement",
                              "connectionId": cid})["statementId"])
    err = rpc({"request": "createStatement", "connectionId": cid},
              expect=400)
    assert err["response"] == "error" and "statements" in err["errorMessage"]

    rpc({"request": "closeStatement", "connectionId": cid,
         "statementId": sid})
    rpc({"request": "closeConnection", "connectionId": cid})
    # closed connection is gone
    err = rpc({"request": "createStatement", "connectionId": cid},
              expect=400)
    assert "not open" in err["errorMessage"]


def test_statements_spill_paged_no_driver_collect(server):
    """Durable-results contract (SqlStatementResource): a multi-100k-row
    SELECT through the statements API succeeds with results paged from
    the parquet spill and WITHOUT any DataFrame.collect on the
    statement path — driver memory stays bounded."""
    import time
    from pyspark.sql.classic.dataframe import DataFrame as _CDF
    orig = _CDF.collect

    def boom(self):
        raise AssertionError("driver-side collect on statements path")

    _CDF.collect = boom
    try:
        status, sub, _ = _post(server, "/druid/v2/sql/statements", {
            "query": "SELECT id AS x FROM range(250000) ORDER BY id"})
        qid = sub["queryId"]
        for _ in range(240):
            _, st = _get(server, f"/druid/v2/sql/statements/{qid}")
            if st["state"] in ("SUCCESS", "FAILED"):
                break
            time.sleep(0.25)
    finally:
        _CDF.collect = orig
    assert st["state"] == "SUCCESS", st
    assert st["result"]["numTotalRows"] == 250000
    # page manifest (SqlStatementResource result stanza)
    pages = st["result"]["pages"]
    assert [p["numRows"] for p in pages] == [100000, 100000, 50000]
    assert [p["id"] for p in pages] == [0, 1, 2]
    assert all(p["sizeInBytes"] > 0 for p in pages)
    status, rows = _get(server,
                        f"/druid/v2/sql/statements/{qid}/results?page=2")
    assert status == 200 and len(rows) == 50000
    assert rows[0] == {"x": 200000} and rows[-1] == {"x": 249999}
    # the record holds a file-backed spill, not a row list
    rec = server.engine.tasks.get(qid)
    assert rec["spill"]._mem is None and rec["spill"].files
    # eviction deletes the spill directory
    import os
    d = rec["spill"].dir
    assert os.path.isdir(d)
    rec["spill"].close()
    assert not os.path.isdir(d)


def test_avatica_large_result_frames_bounded(server):
    """Unbounded fetches cap at MAX_ROWS_PER_FRAME (DruidMeta
    maxRowsPerFrame analog) and frames page the spill at any offset."""
    cid = "conn-big"

    def rpc(obj):
        status, body, _ = _post(server, "/druid/v2/sql/avatica", obj)
        assert status == 200, body
        return body

    rpc({"request": "openConnection", "connectionId": cid})
    sid = rpc({"request": "createStatement",
               "connectionId": cid})["statementId"]
    rs = rpc({"request": "prepareAndExecute", "connectionId": cid,
              "statementId": sid,
              "sql": "SELECT id FROM range(12000) ORDER BY id"}
             )["results"][0]
    f0 = rs["firstFrame"]
    assert len(f0["rows"]) == 5000 and f0["done"] is False
    f1 = rpc({"request": "fetch", "connectionId": cid,
              "statementId": sid, "offset": 5000})["frame"]
    assert len(f1["rows"]) == 5000 and f1["done"] is False
    f2 = rpc({"request": "fetch", "connectionId": cid,
              "statementId": sid, "offset": 10000})["frame"]
    assert len(f2["rows"]) == 2000 and f2["done"] is True
    assert f2["rows"][-1] == [11999]
    # random re-access (rewind) pages from the spill files too
    f3 = rpc({"request": "fetch", "connectionId": cid,
              "statementId": sid, "offset": 0,
              "fetchMaxRowCount": 3})["frame"]
    assert f3["rows"] == [[0], [1], [2]]
    rpc({"request": "closeStatement", "connectionId": cid,
         "statementId": sid})
    rpc({"request": "closeConnection", "connectionId": cid})


def test_status_properties_and_loadstatus(server):
    """StatusResource.getProperties + CoordinatorResource.getLoadStatus
    analogs (console compatibility endpoints)."""
    status, props = _get(server, "/status/properties")
    assert status == 200
    assert props["spark.sql.session.timeZone"] == "UTC"
    assert props["spark.sql.adaptive.enabled"] == "true"
    assert "druid.spark.version" in props
    status, ls = _get(server, "/druid/coordinator/v1/loadstatus")
    assert status == 200 and ls == {"inventoryInitialized": True}


def test_request_logging(engine, tmp_path_factory):
    """RequestLogger contract: every native/SQL request logged with
    identity, outcome, and query/time; file sink writes JSON lines."""
    from druid_spark.server import DruidHttpServer

    log_path = str(tmp_path_factory.mktemp("rl") / "requests.jsonl")
    srv = DruidHttpServer(engine, request_log_path=log_path).start()
    try:
        _post(srv, "/druid/v2", {
            "queryType": "timeseries", "dataSource": "events",
            "granularity": "all",
            "aggregations": [{"type": "count", "name": "n"}],
            "intervals": ["2024-01-01/2024-02-01"]})
        _, _, sql_hdrs = _post(srv, "/druid/v2/sql",
                               {"query": "SELECT count(*) AS n FROM events"})
        _post(srv, "/druid/v2/sql", {"query": "SELECT broken FROM"},
              expect_error=True)
        # an entry is written after the response's last byte: poll
        for _ in range(200):
            entries = srv.request_logger.recent()
            if len(entries) >= 3:
                break
            time.sleep(0.05)
        assert len(entries) == 3
        native, sql_ok, sql_bad = entries
        assert native["kind"] == "native" and native["success"]
        assert native["identity"] == "allowAll"
        assert native["queryId"] and native["query_time_ms"] >= 0
        assert sql_ok["kind"] == "sql" and sql_ok["success"]
        assert "SELECT count(*)" in sql_ok["detail"]
        assert sql_ok["queryId"] == sql_hdrs["X-Druid-Query-Id"]
        assert not sql_bad["success"] and sql_bad["status"] >= 400
        with open(log_path) as fh:
            lines = [json.loads(ln) for ln in fh]
        assert len(lines) == 3 and lines[0]["kind"] == "native"
    finally:
        srv.stop()


def test_datasource_intervals_endpoint(engine, spark, tmp_path_factory):
    """DataSourcesResource.getIntervalsWithServedSegments: served
    intervals newest-first; ?simple adds per-interval size/count."""
    from druid_spark.ingest.batch import TableService, run_ingestion
    from druid_spark.server import DruidHttpServer

    ts = TableService(spark, str(tmp_path_factory.mktemp("iv") / "wh"))
    rows = [{"timestamp": f"2024-03-0{d}T00:00:00Z", "n": d}
            for d in (1, 2)]
    run_ingestion(spark, {"type": "index_parallel", "spec": {
        "ioConfig": {"inputSource": {
            "type": "inline",
            "data": "\n".join(json.dumps(r) for r in rows)},
            "inputFormat": {"type": "json"}},
        "dataSchema": {
            "dataSource": "iv_ds",
            "timestampSpec": {"column": "timestamp", "format": "iso"},
            "dimensionsSpec": {}, "metricsSpec": [],
            "granularitySpec": {"segmentGranularity": "day",
                                "queryGranularity": "none",
                                "rollup": False}}}}, ts)
    engine.catalog.register_table("iv_ds", ts.path("iv_ds"))
    srv = DruidHttpServer(engine).start()
    try:
        st, ivs = _get(
            srv, "/druid/coordinator/v1/datasources/iv_ds/intervals")
        assert st == 200 and ivs == sorted(ivs, reverse=True)
        assert ivs[0].startswith("2024-03-02")
        st, simple = _get(
            srv,
            "/druid/coordinator/v1/datasources/iv_ds/intervals?simple")
        assert all(v["count"] == 1 and v["size"] > 0
                   for v in simple.values())
        try:
            _get(srv, "/druid/coordinator/v1/datasources/nope/intervals")
            assert False, "expected 404"
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        srv.stop()
        engine.catalog.drop_table("iv_ds")


def test_lookup_config_crud_and_cluster_endpoints(engine):
    """LookupCoordinatorResource analog: tier list, per-tier names,
    create/get/delete of map lookups (usable in SQL immediately);
    plus /servers?simple and cluster-wide /metadata/segments."""
    from druid_spark.server import DruidHttpServer

    srv = DruidHttpServer(engine).start()
    try:
        st, tiers = _get(srv, "/druid/coordinator/v1/lookups/config")
        assert st == 200 and tiers == ["__default"]
        st, _b, _h = _post(
            srv, "/druid/coordinator/v1/lookups/config/__default/ctry",
            {"version": "v1", "lookupExtractorFactory": {
                "type": "map", "map": {"0": "US", "1": "FR"}}})
        assert st == 202
        st, names = _get(
            srv, "/druid/coordinator/v1/lookups/config/__default")
        assert "ctry" in names
        st, spec = _get(
            srv, "/druid/coordinator/v1/lookups/config/__default/ctry")
        assert spec["lookupExtractorFactory"]["map"]["1"] == "FR"
        # registered lookup resolves in SQL right away
        rows = engine.sql(
            "SELECT LOOKUP(CAST(n_regionkey AS VARCHAR), 'ctry') AS c "
            "FROM nation WHERE n_regionkey = 1 LIMIT 1").collect()
        assert rows[0]["c"] == "FR"
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}"
            "/druid/coordinator/v1/lookups/config/__default/ctry",
            method="DELETE")
        assert urllib.request.urlopen(req).status == 202
        try:
            _get(srv,
                 "/druid/coordinator/v1/lookups/config/__default/ctry")
            assert False, "expected 404"
        except urllib.error.HTTPError as e:
            assert e.code == 404
        st, servers = _get(srv, "/druid/coordinator/v1/servers?simple")
        assert st == 200 and servers[0]["tier"] == "_default_tier"
        st, segs = _get(srv, "/druid/coordinator/v1/metadata/segments")
        assert st == 200 and {s["dataSource"] for s in segs} >= {
            "events", "lineitem"}
    finally:
        srv.stop()


def test_bulk_lookup_post_and_worker_config(server):
    """Bulk lookup update ({tier: {name: spec}}) and the overlord
    dynamic worker config (null until set)."""
    st, out, _ = _post(server, "/druid/coordinator/v1/lookups/config", {
        "__default": {
            "bulk_a": {"lookupExtractorFactory": {
                "type": "map", "map": {"1": "x"}}},
            "bulk_b": {"lookupExtractorFactory": {
                "type": "map", "map": {"2": "y"}}}}})
    assert st == 202 and out["updated"] == 2
    st, names = _get(
        server, "/druid/coordinator/v1/lookups/config/__default")
    assert {"bulk_a", "bulk_b"} <= set(names)
    st, cfg = _get(server, "/druid/indexer/v1/worker")
    assert st == 200  # null until posted
    st, _o, _h = _post(server, "/druid/indexer/v1/worker",
                       {"selectStrategy": {"type": "equalDistribution"}})
    assert st == 200
    st, cfg = _get(server, "/druid/indexer/v1/worker")
    assert cfg["selectStrategy"]["type"] == "equalDistribution"


def test_sync_sql_all_formats_stream_no_driver_collect(server):
    """Round-6: EVERY sync resultFormat (object/array/csv included)
    streams from toLocalIterator over chunked transfer — the reference
    pushes all writers incrementally
    (SqlResourceQueryResultPusher.java:110-135 with ObjectWriter/
    ArrayWriter/CsvWriter), so a multi-100k-row SELECT through plain
    POST /druid/v2/sql never calls DataFrame.collect."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDF
    orig = _CDF.collect

    def boom(self):
        raise AssertionError("driver-side collect on sync SQL path")

    _CDF.collect = boom
    try:
        q = "SELECT id AS x FROM range(250000) ORDER BY id"
        # object (the default)
        status, body, headers = _post(server, "/druid/v2/sql",
                                      {"query": q})
        assert status == 200 and len(body) == 250000
        assert body[0] == {"x": 0} and body[-1] == {"x": 249999}
        # array with header
        status, body, _ = _post(server, "/druid/v2/sql", {
            "query": q, "resultFormat": "array", "header": True})
        assert status == 200 and body[0] == ["x"] and len(body) == 250001
        assert body[1] == [0] and body[-1] == [249999]
        # csv with header + blank-line completeness trailer
        # (CsvWriter.writeResponseEnd:56-63)
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/druid/v2/sql",
            data=json.dumps({"query": q, "resultFormat": "csv",
                             "header": True}).encode(),
            headers={"Content-Type": "application/json"}, method="POST")
        with urllib.request.urlopen(req) as r:
            text = r.read().decode()
            assert r.headers["Content-Type"].startswith("text/csv")
        assert text.endswith("\n\n") or text.endswith("\r\n\n")
        lines = [ln for ln in text.strip().splitlines() if ln]
        assert lines[0] == "x" and len(lines) == 250001
        assert lines[1] == "0" and lines[-1] == "249999"
    finally:
        _CDF.collect = orig


def test_sync_sql_object_header_row(server):
    """header=true on the object format leads the array with a
    {column: null} object (ObjectWriter.writeHeader:148-160)."""
    status, body, _ = _post(server, "/druid/v2/sql", {
        "query": "SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 2",
        "header": True})
    assert status == 200
    assert body[0] == {"n_name": None} and len(body) == 3


def test_native_scan_streams_no_driver_collect(server):
    """Round 6: native scan — the unbounded native query type —
    streams its ScanResultValue batches from toLocalIterator
    (QueryResource writes the Sequence incrementally; batchSize
    bounds each batch, ScanQueryEngine default 20480). No
    DataFrame.collect on the path."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDF
    orig = _CDF.collect

    def boom(self):
        raise AssertionError("driver-side collect on native scan path")

    _CDF.collect = boom
    try:
        status, body, headers = _post(server, "/druid/v2", {
            "queryType": "scan", "dataSource": "lineitem",
            "columns": ["l_orderkey", "l_quantity"],
            "batchSize": 1000, "limit": 5000})
        assert status == 200
        # batched envelope: ceil(5000/1000) = 5 ScanResultValues
        assert len(body) == 5
        assert all(b["columns"] == ["l_orderkey", "l_quantity"]
                   for b in body)
        assert sum(len(b["events"]) for b in body) == 5000
        assert isinstance(body[0]["events"][0], dict)
        # compactedList shape
        status, body, _ = _post(server, "/druid/v2", {
            "queryType": "scan", "dataSource": "nation",
            "columns": ["n_name"], "resultFormat": "compactedList",
            "limit": 3})
        assert status == 200 and len(body) == 1
        assert body[0]["events"] == [["NATION_0"], ["NATION_1"],
                                     ["NATION_2"]]
    finally:
        _CDF.collect = orig


def _truncated(srv, path, obj) -> str:
    """POST a query whose result fails after its first rows: the 200
    headers are out, so the body ends without its completeness marker
    and the connection closes. Returns the query id."""
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}", data=json.dumps(obj).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    with urllib.request.urlopen(req) as r:
        assert r.status == 200
        with pytest.raises((http.client.IncompleteRead,
                            ConnectionResetError)):
            r.read()
        return r.headers["X-Druid-Query-Id"]


_FAILS_LATE = "CASE WHEN id < 150000 THEN id ELSE raise_error('boom') END"


def test_truncated_stream_logged_as_failure(server, spark):
    """A result that fails after its headers went out is logged with
    the status it sent, success false and the error class, for native
    and SQL streams alike. range(..., 4) yields partition 0 (the first row) before the
    failing partition 3 runs."""
    qid = _truncated(server, "/druid/v2/sql", {
        "query": f"SELECT {_FAILS_LATE} AS x FROM range(0, 200000, 1, 4)"})
    entry = _log_entry(server, qid)
    assert entry["kind"] == "sql" and entry["status"] == 200
    assert not entry["success"] and entry["error"]
    cat = server.engine.catalog
    cat.register_table("fails_late", spark.range(0, 200000, 1, 4)
                       .selectExpr(f"{_FAILS_LATE} AS x"))
    try:
        qid = _truncated(server, "/druid/v2", {
            "queryType": "scan", "dataSource": "fails_late",
            "columns": ["x"]})
    finally:
        cat.drop_table("fails_late")
    entry = _log_entry(server, qid)
    assert entry["kind"] == "native" and entry["status"] == 200
    assert not entry["success"] and entry["error"]


def test_console_dynamic_config_and_capacity_endpoints(server):
    """Round 6 console parity: CoordinatorDynamicConfig GET/POST (+
    audit-backed history), broker dynamic config, cluster topology
    (ClusterResource.getClusterServers:63), workers + capacity gauges
    (OverlordResource.getWorkers:701/getTotalWorkerCapacity:439), and
    the console's MSQ capability probes."""
    st, cfg, _ = _get3(server, "/druid/coordinator/v1/config")
    assert st == 200 and cfg["maxSegmentsToMove"] == 100
    st, _o, _ = _post(server, "/druid/coordinator/v1/config",
                      {"maxSegmentsToMove": 42, "pauseCoordination": True})
    assert st == 200
    st, cfg, _ = _get3(server, "/druid/coordinator/v1/config")
    assert cfg["maxSegmentsToMove"] == 42 and cfg["pauseCoordination"]
    st, hist, _ = _get3(server, "/druid/coordinator/v1/config/history")
    assert hist and hist[-1]["payload"]["maxSegmentsToMove"] == 42
    # broker config
    st, _o, _ = _post(server, "/druid/coordinator/v1/broker/config",
                      {"type": "default", "maxSubqueryRows": 100000})
    assert st == 200
    st, bc, _ = _get3(server, "/druid/coordinator/v1/broker/config")
    assert bc["maxSubqueryRows"] == 100000
    st, hist, _ = _get3(server,
                        "/druid/coordinator/v1/broker/config/history")
    assert hist
    # cluster topology: all four roles are this process
    st, cluster, _ = _get3(server, "/druid/coordinator/v1/cluster")
    assert st == 200
    assert set(cluster) >= {"coordinator", "overlord", "broker",
                            "historical"}
    assert cluster["broker"][0]["port"] == server.port
    st, nodes, _ = _get3(server, "/druid/coordinator/v1/cluster/broker")
    assert st == 200 and nodes == cluster["broker"]
    st, _b, _ = _get3(server, "/druid/coordinator/v1/cluster/bogus")
    assert st == 400
    # workers + capacity
    st, workers, _ = _get3(server, "/druid/indexer/v1/workers")
    assert st == 200 and workers[0]["worker"]["capacity"] >= 1
    st, cap, _ = _get3(server, "/druid/indexer/v1/totalWorkerCapacity")
    assert cap["currentClusterCapacity"] >= 1
    assert cap["usedClusterCapacity"] >= 0
    # capability probes
    st, en, _ = _get3(server, "/druid/v2/sql/task/enabled")
    assert en == {"enabled": True}
    st, eng, _ = _get3(server, "/druid/v2/sql/engines")
    assert {e["name"] for e in eng["engines"]} == {"broker", "msq-task"}


def _get3(srv, path):
    import urllib.request
    try:
        with urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}{path}") as r:
            return r.status, json.loads(r.read()), dict(r.headers)
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"null"), dict(e.headers)


def test_native_timeseries_groupby_stream_no_collect(server):
    """timeseries and groupBy envelopes also stream per-row (their
    result size scales with bucket/group cardinality); the buffered
    path remains only for construction-bounded types."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDF
    orig = _CDF.collect

    def boom(self):
        raise AssertionError("driver-side collect on native path")

    _CDF.collect = boom
    try:
        st, body, _ = _post(server, "/druid/v2", {
            "queryType": "timeseries", "dataSource": "events",
            "granularity": "day",
            "intervals": ["2024-01-01/2024-01-08"],
            "aggregations": [{"type": "count", "name": "n"}]})
        assert st == 200 and len(body) == 7
        assert body[0]["timestamp"].startswith("2024-01-01")
        assert body[0]["result"]["n"] > 0
        st, body, _ = _post(server, "/druid/v2", {
            "queryType": "groupBy", "dataSource": "lineitem",
            "granularity": "all",
            "intervals": ["1992-01-01/1999-01-01"],
            "dimensions": ["l_returnflag", "l_linestatus"],
            "aggregations": [{"type": "longSum", "name": "q",
                              "fieldName": "l_quantity"}]})
        assert st == 200 and len(body) == 6  # synthetic flag×status
        assert all(b["version"] == "v1" and "event" in b for b in body)
    finally:
        _CDF.collect = orig


def test_sql_types_headers(server):
    """typesHeader / sqlTypesHeader (SqlQuery.java:74-85): array gets
    extra type rows, object nests {type, sqlType} in the header row."""
    q = ("SELECT n_name, n_nationkey, CAST(1.5 AS DOUBLE) AS d "
         "FROM nation ORDER BY n_nationkey LIMIT 2")
    st, body, _ = _post(server, "/druid/v2/sql", {
        "query": q, "resultFormat": "array", "header": True,
        "typesHeader": True, "sqlTypesHeader": True})
    assert st == 200
    assert body[0] == ["n_name", "n_nationkey", "d"]
    assert body[1] == ["STRING", "LONG", "DOUBLE"]
    assert body[2] == ["VARCHAR", "INTEGER", "DOUBLE"]
    assert len(body) == 5 and body[3][0] == "NATION_0"
    st, body, _ = _post(server, "/druid/v2/sql", {
        "query": q, "header": True, "typesHeader": True,
        "sqlTypesHeader": True})
    assert st == 200
    assert body[0]["n_nationkey"] == {"type": "LONG",
                                      "sqlType": "INTEGER"}
    assert len(body) == 3
    # plain header unchanged: {col: null}
    st, body, _ = _post(server, "/druid/v2/sql",
                        {"query": q, "header": True})
    assert body[0] == {"n_name": None, "n_nationkey": None, "d": None}


def test_coordinator_datasources_endpoints(server):
    """DatasourcesResource: GET list, ?simple rollups, per-datasource
    summary, 404 on unknown."""
    st, names = _get(server, "/druid/coordinator/v1/datasources")
    assert st == 200 and "lineitem" in names and "nation" in names
    st, simple = _get(server,
                      "/druid/coordinator/v1/datasources?simple")
    assert st == 200
    by_name = {d["name"]: d for d in simple}
    li = by_name["lineitem"]["properties"]
    assert li["segments"]["count"] >= 1
    assert li["segments"]["size"] > 0
    assert li["tiers"]["_default_tier"]["segmentCount"] \
        == li["segments"]["count"]
    st, one = _get(server, "/druid/coordinator/v1/datasources/nation")
    assert st == 200 and one["name"] == "nation"
    import urllib.error
    try:
        _get(server, "/druid/coordinator/v1/datasources/nope")
        assert False
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_sql_stringify_arrays(server):
    """Round 7: context.sqlStringifyArrays (PlannerContext default
    TRUE) — array-typed result columns arrive as JSON STRINGS over the
    HTTP SQL API; setting it false returns real JSON arrays
    (SqlResults.java coerce)."""
    q = ("SELECT STRING_TO_ARRAY(o_orderpriority, '-') AS parts "
         "FROM orders WHERE o_orderkey = 1")
    code, rows, _ = _post(server, "/druid/v2/sql", {"query": q})
    assert code == 200
    v = rows[0]["parts"]
    assert isinstance(v, str) and json.loads(v)[0].isdigit()
    code, rows, _ = _post(server, "/druid/v2/sql", {
        "query": q, "context": {"sqlStringifyArrays": False}})
    assert code == 200
    assert isinstance(rows[0]["parts"], list)


def test_datasource_disable_enable_cycle(server):
    """Round 7: DELETE marks a datasource unused (stops resolving),
    POST /druid/coordinator/v1/datasources/{ds} marks it used again
    (DataSourcesResource.java:206 markAsUsedAllNonOvershadowedSegments
    analog) — the console's disable/enable flow."""
    code, body = _get(server, "/druid/v2/datasources")
    assert "region" in body
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}"
        "/druid/coordinator/v1/datasources/region", method="DELETE")
    with urllib.request.urlopen(req) as r:
        assert r.status == 200
    code, body = _get(server, "/druid/v2/datasources")
    assert "region" not in body
    # re-enable
    code, body, _ = _post(
        server, "/druid/coordinator/v1/datasources/region", {})
    assert code == 200 and body["numChangedSegments"] >= 1
    code, body = _get(server, "/druid/v2/datasources")
    assert "region" in body
    status, rows, _ = _post(server, "/druid/v2/sql", {
        "query": "SELECT COUNT(*) AS n FROM region"})
    assert status == 200 and rows[0]["n"] == 5
    # enabling twice → 404 (nothing unused to restore)
    code, body, _ = _post(
        server, "/druid/coordinator/v1/datasources/region", {},
        expect_error=True)
    assert code == 404


def test_concurrent_sql_shares_plan_cache(server):
    """Round 7: parallel identical statements from the threaded server
    hit the shared prepared-plan cache safely (lock smoke) and all
    return correct results."""
    import concurrent.futures as cf
    q = {"query": "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation"}
    with cf.ThreadPoolExecutor(8) as ex:
        results = list(ex.map(
            lambda _: _post(server, "/druid/v2/sql", q), range(24)))
    assert all(code == 200 and rows[0]["n"] == 25
               for code, rows, _ in results)
    assert server.engine.plan_cache_hits >= 1
