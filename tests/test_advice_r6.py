"""Round-6 ADVICE regression tests: retention containment is covered in
test_compaction.py; here — Avatica connection identity binding +
execute-time authorization, statements owner scoping, and the
_SpilledResult fallback narrowing."""

import base64
import json
import time
import urllib.error
import urllib.request

import pytest


@pytest.fixture(scope="module")
def secured(engine):
    from druid_spark.security import (BasicAuthenticator, MapAuthorizer,
                                      DATASOURCE, STATE, READ, WRITE)
    from druid_spark.server import DruidHttpServer
    auth = BasicAuthenticator({"alice": "secret", "bob": "hunter2"})
    authz = MapAuthorizer({
        "alice": [(DATASOURCE, "nation|region", READ)],
        "bob": [(DATASOURCE, ".*", READ), (DATASOURCE, ".*", WRITE),
                (STATE, "STATE", READ), (STATE, "STATE", WRITE)],
    })
    srv = DruidHttpServer(engine, authenticator=auth,
                          authorizer=authz).start()
    yield srv
    srv.stop()


def _req(srv, path, obj=None, user=None, pw=None, method=None):
    headers = {"Content-Type": "application/json"}
    if user:
        tok = base64.b64encode(f"{user}:{pw}".encode()).decode()
        headers["Authorization"] = f"Basic {tok}"
    data = json.dumps(obj).encode() if obj is not None else None
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}", data=data, headers=headers,
        method=method or ("POST" if obj is not None else "GET"))
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read() or b"null")
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"null")


def test_avatica_connection_bound_to_identity(secured):
    """A connection opened by one identity is unusable by another
    (ADVICE r6 medium: DruidMeta binds Avatica state to the
    authenticated identity) — even 'execute'/'fetch' requests that
    carry no sql field."""
    code, _ = _req(secured, "/druid/v2/sql/avatica",
                   {"request": "openConnection", "connectionId": "own1"},
                   user="alice", pw="secret")
    assert code == 200
    code, out = _req(secured, "/druid/v2/sql/avatica",
                     {"request": "createStatement",
                      "connectionId": "own1"},
                     user="alice", pw="secret")
    sid = out["statementId"]
    code, _ = _req(secured, "/druid/v2/sql/avatica",
                   {"request": "prepareAndExecute",
                    "connectionId": "own1", "statementId": sid,
                    "sql": "SELECT COUNT(*) AS n FROM region"},
                   user="alice", pw="secret")
    assert code == 200
    # bob (full admin!) may not touch alice's connection or page her
    # results: the connection is identity-scoped, not permission-scoped
    for rq in ({"request": "createStatement", "connectionId": "own1"},
               {"request": "fetch", "connectionId": "own1",
                "statementId": sid, "offset": 0},
               {"request": "execute",
                "statementHandle": {"connectionId": "own1", "id": sid}},
               {"request": "closeConnection", "connectionId": "own1"},
               {"request": "openConnection", "connectionId": "own1"}):
        code, body = _req(secured, "/druid/v2/sql/avatica", rq,
                          user="bob", pw="hunter2")
        assert code == 403, rq["request"]
        assert "another identity" in body["errorMessage"]
    # alice still owns it
    code, _ = _req(secured, "/druid/v2/sql/avatica",
                   {"request": "fetch", "connectionId": "own1",
                    "statementId": sid, "offset": 0},
                   user="alice", pw="secret")
    assert code == 200
    _req(secured, "/druid/v2/sql/avatica",
         {"request": "closeConnection", "connectionId": "own1"},
         user="alice", pw="secret")


def test_avatica_execute_time_authorization(engine):
    """Authorization happens at execution, not only at the HTTP body
    scan: an 'execute' request (no sql field) re-authorizes the stored
    statement SQL (reference DruidMeta authorizes at execute)."""
    from druid_spark.security import MapAuthorizer, DATASOURCE, READ
    from druid_spark.server import _Avatica
    authz = MapAuthorizer({"alice": [(DATASOURCE, "region", READ)]})
    av = _Avatica(engine, authorizer=authz)
    st, _ = av.handle({"request": "openConnection",
                       "connectionId": "x1"}, identity="alice")
    assert st == 200
    # prepare bypasses HTTP pre-auth here (unit level) — execute must
    # still be denied on the unauthorized table
    st, out = av.handle({"request": "prepare", "connectionId": "x1",
                         "sql": "SELECT COUNT(*) AS n FROM nation"},
                        identity="alice")
    assert st == 200
    sid = out["statement"]["id"]
    st, out = av.handle(
        {"request": "execute",
         "statementHandle": {"connectionId": "x1", "id": sid}},
        identity="alice")
    assert st == 403 and "Unauthorized" in out["errorMessage"]
    # the allowed table executes
    st, out = av.handle({"request": "prepare", "connectionId": "x1",
                         "sql": "SELECT COUNT(*) AS n FROM region"},
                        identity="alice")
    sid = out["statement"]["id"]
    st, out = av.handle(
        {"request": "execute",
         "statementHandle": {"connectionId": "x1", "id": sid}},
        identity="alice")
    assert st == 200
    assert out["results"][0]["firstFrame"]["rows"] == [[5]]


def test_statements_owner_scoped(secured):
    """GET/DELETE /druid/v2/sql/statements/{id} are owner-scoped
    (ADVICE r6 medium: SqlStatementResource enforces the requesting
    identity matches the statement's owner)."""
    code, sub = _req(secured, "/druid/v2/sql/statements",
                     {"query": "SELECT COUNT(*) AS n FROM region"},
                     user="alice", pw="secret")
    assert code == 202
    qid = sub["queryId"]
    for _ in range(100):
        code, st = _req(secured, f"/druid/v2/sql/statements/{qid}",
                        user="alice", pw="secret")
        if st.get("state") in ("SUCCESS", "FAILED"):
            break
        time.sleep(0.1)
    assert code == 200 and st["state"] == "SUCCESS"
    # bob (full admin) is not the owner: status, results, cancel → 403
    code, body = _req(secured, f"/druid/v2/sql/statements/{qid}",
                      user="bob", pw="hunter2")
    assert code == 403 and "another identity" in body["errorMessage"]
    code, _ = _req(secured, f"/druid/v2/sql/statements/{qid}/results",
                   user="bob", pw="hunter2")
    assert code == 403
    code, _ = _req(secured, f"/druid/v2/sql/statements/{qid}",
                   user="bob", pw="hunter2", method="DELETE")
    assert code == 403
    # owner reads results fine
    code, rows = _req(secured, f"/druid/v2/sql/statements/{qid}/results",
                      user="alice", pw="secret")
    assert code == 200 and rows == [{"n": 5}]


def test_statements_owner_scoped_on_overlord_routes(secured):
    """A statement is one task of the registry, so the overlord task
    routes serve it too — but only to its owner: bob (full admin)
    cannot read its status or payload, shut it down, or see it listed
    through /druid/indexer/v1."""
    code, sub = _req(secured, "/druid/v2/sql/statements",
                     {"query": "SELECT COUNT(*) AS n FROM nation"},
                     user="alice", pw="secret")
    assert code == 202
    qid = sub["queryId"]
    for path in (f"/druid/indexer/v1/task/{qid}/status",
                 f"/druid/indexer/v1/task/{qid}",
                 f"/druid/indexer/v1/task/{qid}/reports"):
        code, body = _req(secured, path, user="bob", pw="hunter2")
        assert code == 403 and "another identity" in body["errorMessage"]
    code, _ = _req(secured, f"/druid/indexer/v1/task/{qid}/shutdown", {},
                   user="bob", pw="hunter2")
    assert code == 403
    code, listed = _req(secured, "/druid/indexer/v1/tasks",
                        user="bob", pw="hunter2")
    assert code == 200 and qid not in [t["id"] for t in listed]
    # bob's shutdown attempt left alice's statement running to SUCCESS
    for _ in range(100):
        code, st = _req(secured, f"/druid/v2/sql/statements/{qid}",
                        user="alice", pw="secret")
        if st.get("state") in ("SUCCESS", "FAILED", "CANCELED"):
            break
        time.sleep(0.1)
    assert code == 200 and st["state"] == "SUCCESS"


def test_spill_failure_raises_not_collects(engine, monkeypatch):
    """_SpilledResult only falls back to driver memory for
    schema-unsupported results; infrastructure spill failures re-raise
    (ADVICE r6 low: silent collect defeats the durable-results
    contract exactly when results are huge)."""
    from druid_spark.server import _SpilledResult
    df = engine.sql("SELECT o_orderkey FROM orders LIMIT 10")

    class _Boom(Exception):
        pass

    class _FailingWriter:
        def mode(self, *_a):
            return self

        def parquet(self, *_a):
            raise _Boom("disk full")

    monkeypatch.setattr(type(df), "write",
                        property(lambda self: _FailingWriter()))
    with pytest.raises(_Boom):
        _SpilledResult(df, "spilltest")
    monkeypatch.undo()
    # VOID schema (SELECT NULL) still takes the in-memory fallback
    df2 = engine.sql("SELECT NULL AS x")
    sp = _SpilledResult(df2, "voidtest")
    assert sp.total == 1 and sp.row_dicts(0, 10) == [{"x": None}]
