"""HTTP entry point — the network API a reference user hits first.

Endpoints mirror the reference's two top-level resources:
  POST /druid/v2/        native JSON query
                         (server/.../server/QueryResource.java:74)
  POST /druid/v2/sql     Druid SQL, resultFormat object|array|
                         objectLines|arrayLines|csv + header
                         (sql/.../sql/http/SqlResource.java:124,
                         ResultFormat.java)
  GET  /druid/v2/datasources   registered table names
                         (QueryResource.java getDataSources)
  GET  /status, /status/health (server/.../server/StatusResource.java)

Error bodies carry the reference's QueryException JSON shape
(processing/.../query/QueryException.java:159-175):
  {"error": <code>, "errorMessage": <msg>, "errorClass": <class>, "host": null}

Design: a stdlib ThreadingHTTPServer over a DruidSparkEngine — no
extra dependencies, one thread per request, the SparkSession shared
across handler threads (py4j is thread-safe; Spark schedules concurrent
jobs FIFO/fair per its scheduler config). Native scan, timeseries and
groupBy results and Druid SQL results in every resultFormat go out
through one writer, `_Handler._stream` (the reference's
QueryResultPusher): it runs the query under the scheduler, pulls rows
one partition at a time and writes them as a chunked response, so a
large result never materializes on the driver. The native types whose
results are bounded by construction (topN, search, timeBoundary,
metadata) are collected and sent whole.

The overlord task routes and the async SQL routes (statements,
/sql/task) read one task registry (druid_spark.tasks), so the id
/sql/task returns polls at /druid/indexer/v1/task/{id}/status, as in
Druid; _Statements and _Overlord keep only parsing and shapes.
"""

from __future__ import annotations

import base64
import csv
import datetime as dt
import decimal
import io
import itertools
import json
import os
import re
import threading
import time
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

from druid_spark import __version__
from druid_spark.scheduler import (
    QueryCanceledError,
    QueryCapacityExceededError,
    QueryScheduler,
    QueryTimeoutError,
)
from druid_spark.security import (
    DATASOURCE,
    READ,
    STATE,
    WRITE,
    Authenticator,
    Authorizer,
    native_query_resources,
    sql_resources,
)
from druid_spark.tasks import TERMINAL, TaskForbidden


# ------------------------------------------------------------- JSON safety
def json_safe(v: Any) -> Any:
    """Row values → JSON-serializable, Druid conventions: timestamps as
    ISO-8601 UTC millis ('2024-01-02T03:04:05.000Z'), binary as base64."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.") + f"{v.microsecond // 1000:03d}Z"
    if isinstance(v, dt.date):
        return v.strftime("%Y-%m-%dT00:00:00.000Z")
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode("ascii")
    if isinstance(v, dict):
        return {k: json_safe(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [json_safe(x) for x in v]
    if hasattr(v, "asDict"):  # nested Row
        return {k: json_safe(x) for k, x in v.asDict(recursive=False).items()}
    return str(v)


def _row_dict(r) -> dict:
    return {k: json_safe(x) for k, x in r.asDict(recursive=True).items()}


def _interval_start(q: dict) -> str | None:
    ivs = q.get("intervals")
    if isinstance(ivs, dict):
        ivs = ivs.get("intervals")
    if not ivs:
        return None
    start = str(ivs[0]).split("/")[0]
    if "T" not in start:
        start += "T00:00:00.000Z"
    elif not start.endswith("Z"):
        start += "Z"
    return start


# ----------------------------------------------- native response envelopes
def shape_native(q: dict, rows: list[dict]) -> Any:
    """Per-queryType result envelopes, matching the reference's result
    classes (timeseries Result<TimeseriesResultValue>, topN
    Result<TopNResultValue>, groupBy ResultRow serialized v1-style,
    scan ScanResultValue — processing/.../query/Result.java and each
    query's *ResultValue). Query types without a legacy envelope
    (segmentMetadata, windowOperator, union, scan events themselves)
    serialize as plain object rows, matching their reference JSON."""
    qt = q.get("queryType")
    t0 = _interval_start(q)
    if qt in ("timeseries", "groupBy"):
        return [_envelope(qt, t0, r) for r in rows]
    if qt == "topN":
        buckets: dict[Any, list] = {}
        order: list = []
        for r in rows:
            ts = r.pop("__time", None) if "__time" in r else t0
            if ts not in buckets:
                buckets[ts] = []
                order.append(ts)
            buckets[ts].append(r)
        return [{"timestamp": ts, "result": buckets[ts]} for ts in order]
    if qt == "search":
        return [{"timestamp": t0, "result": rows}]
    if qt == "timeBoundary":
        if not rows:
            return []
        r = rows[0]
        return [{"timestamp": r.get("minTime") or r.get("maxTime"),
                 "result": r}]
    if qt == "dataSourceMetadata":
        return [{"timestamp": rows[0].get("maxIngestedEventTime"),
                 "result": rows[0]}] if rows else []
    if qt == "scan":
        fmt = q.get("resultFormat", "list")
        cols = list(rows[0].keys()) if rows else q.get("columns", [])
        events: Any = rows
        if fmt == "compactedList":
            events = [[r.get(c) for c in cols] for r in rows]
        return [{"segmentId": None, "columns": cols, "events": events}]
    return rows


def _envelope(qt: str, t0: str | None, r: dict) -> dict:
    """One row's envelope: timeseries Result<TimeseriesResultValue>,
    groupBy v1 ResultRow. The row's __time, else the interval start."""
    ts = r.pop("__time", None)
    ts = t0 if ts is None else ts
    if qt == "timeseries":
        return {"timestamp": ts, "result": r}
    return {"version": "v1", "timestamp": ts, "event": r}


# ------------------------------------------------ streamed result bodies
# A body writer maps an iterator of JSON-safe row dicts to the pieces of
# the response body; _Handler._stream frames them. The closing bracket
# (or the blank-line trailer) is the completeness marker a truncated
# response lacks.
def _json_array(items):
    """'[' a ',' b ... ']\\n' (ObjectWriter.writeResponseEnd)."""
    yield b"["
    for i, b in enumerate(items):
        yield b"," + b if i else b
    yield b"]\n"


def _native_body(q: dict, cols: list[str]):
    """scan: ScanResultValue batches of `batchSize` rows (ScanQueryEngine
    default 20480); timeseries/groupBy: one envelope per row."""
    qt = q.get("queryType")
    if qt != "scan":
        t0 = _interval_start(q)
        return lambda rows: _json_array(
            json.dumps(_envelope(qt, t0, d)).encode() for d in rows)
    compact = q.get("resultFormat", "list") == "compactedList"
    try:
        batch = max(1, int(q.get("batchSize") or 20480))
    except (TypeError, ValueError):
        batch = 20480
    head = json.dumps({"segmentId": None, "columns": cols}
                      )[:-1].encode() + b', "events": ['

    def body(rows):
        yield b"[" + head
        for i, d in enumerate(rows):
            ev = json.dumps([d.get(c) for c in cols] if compact
                            else d).encode()
            if i == 0:
                yield ev
            elif i % batch == 0:
                yield b"]}," + head + ev
            else:
                yield b"," + ev
        yield b"]}]\n"
    return body


_SQL_CTYPE = {"csv": "text/csv; charset=utf-8",
              "objectLines": "text/plain; charset=utf-8",
              "arrayLines": "text/plain; charset=utf-8"}


def _sql_body(fmt: str, schema, header: bool, types: bool,
              sql_types: bool):
    """One writer per resultFormat (SqlResourceQueryResultPusher driving
    ObjectWriter/ArrayWriter/CsvWriter/*LinesWriter):
      object      [obj,obj,...]\\n   header row = {col: null}
      array       [[...],[...]]\\n   header row = [cols]
      objectLines obj\\n obj\\n ...\\n  (blank-line trailer)
      arrayLines  [..]\\n [..]\\n ...\\n
      csv         col,col\\r\\n v,v\\r\\n ... \\n (blank trailer —
                  CsvWriter.writeResponseEnd:56-63)
    typesHeader/sqlTypesHeader (SqlQuery.java:74-85) add type rows to
    the array header (ArrayWriter.writeHeader:103-134) and nest
    {type, sqlType} per column in the object header
    (ObjectWriter.writeHeader:108-146)."""
    cols = [f.name for f in schema.fields]
    objects = fmt in ("object", "objectLines")
    lines = fmt in ("objectLines", "arrayLines")
    head: list = []
    if header:
        natives = [druid_type(f.dataType.simpleString())
                   for f in schema.fields]
        sqls = [_JDBC_TYPE.get(f.dataType.simpleString(),
                               ("OTHER", 1111))[0] for f in schema.fields]
        if objects:
            hdr: dict[str, Any] = {}
            for c, n, s in zip(cols, natives, sqls):
                v: dict[str, str] = {}
                if types:
                    v["type"] = n
                if sql_types:
                    v["sqlType"] = s
                hdr[c] = v if (types or sql_types) else None
            head = [hdr]
        elif fmt == "csv":
            head = [cols]
        elif fmt in ("array", "arrayLines"):
            head = [cols]
            if types:
                head.append(natives)
            if sql_types:
                head.append(sqls)

    def render(v) -> bytes:
        if fmt == "csv":
            sb = io.StringIO()
            csv.writer(sb).writerow(["" if x is None else x for x in v])
            return sb.getvalue().encode()
        b = json.dumps(v).encode()
        return b + b"\n" if lines else b

    def body(rows):
        vals = rows if objects else ([d[c] for c in cols] for d in rows)
        items = map(render, itertools.chain(head, vals))
        if fmt in ("object", "array"):
            return _json_array(items)
        return itertools.chain(items, (b"\n",))
    return body


def error_body(code: str, e: Exception) -> dict:
    return {"error": code,
            "errorMessage": str(e),
            "errorClass": type(e).__name__,
            "host": None}


# scheduler errors → (HTTP status, QueryException code); any other error
# is a 500 "Unknown exception"
_QUERY_ERRORS = ((QueryCapacityExceededError, 429, "Query capacity exceeded"),
                 (QueryTimeoutError, 504, "Query timeout"),
                 (QueryCanceledError, 500, "Query cancelled"))


# ------------------------------------------------- async SQL statements
# ingestion statements surface as MSQ controller tasks in sys.tasks;
# leading `SET k = v;` context statements (which engine.sql strips) must
# not hide the INSERT/REPLACE verb from the classifier
_re_task = re.compile(r"\s*(?:SET\s+[\w.]+\s*=\s*[^;]+;\s*)*"
                      r"(INSERT|REPLACE)\b", re.IGNORECASE)


class _SpilledResult:
    """Durable result storage for async statements and Avatica frames —
    the analog of the reference's durable-results paging
    (msq/sql/resources/SqlStatementResource.java: SELECT results land in
    durable storage and GET .../results?page=N serves pages from there).

    The result is written to parquet by the CLUSTER (a distributed
    write job — the driver never materializes the rows), then pages are
    served from files with bounded driver memory: only the part files
    overlapping the requested row range are read back (pyarrow, no
    Spark job per page). A heavy SELECT through the async surface is
    therefore disk-bounded, not driver-heap-bounded.

    Results whose schema parquet cannot hold (e.g. a VOID column from
    `SELECT NULL`) fall back to a driver-side list — those are
    degenerate literal results, not scans."""

    def __init__(self, df, tag: str):
        import glob
        import tempfile
        self.cols = list(df.columns)
        self.dir = tempfile.mkdtemp(prefix=f"druid-result-{tag[:16]}-")
        self._mem: list[dict] | None = None
        self.files: list[tuple[str, int, int]] = []  # (path, first_row, n)
        try:
            df.write.mode("overwrite").parquet(self.dir)
            import pyarrow.parquet as pq
            total = 0
            for f in sorted(glob.glob(f"{self.dir}/*.parquet")):
                n = pq.read_metadata(f).num_rows
                if n:
                    self.files.append((f, total, n))
                total += n
            self.total = total
        except Exception as e:
            # In-memory fallback is ONLY for schemas parquet cannot
            # hold (a VOID column from `SELECT NULL` raises
            # AnalysisException at write planning — a degenerate
            # literal result, not a scan). Any other spill failure
            # (disk full, permissions) must surface: silently
            # collecting would defeat the never-materialize-in-driver
            # contract exactly when results are huge. (ADVICE r6)
            if "AnalysisException" not in type(e).__name__:
                raise
            self._mem = [_row_dict(r) for r in df.collect()]
            self.total = len(self._mem)

    def row_dicts(self, lo: int, n: int) -> list[dict]:
        """Rows [lo, lo+n) as JSON-safe dicts in column order."""
        if n <= 0 or lo >= self.total:
            return []
        if self._mem is not None:
            return self._mem[lo:lo + n]
        import pyarrow.parquet as pq
        hi = min(lo + n, self.total)
        out: list[dict] = []
        for path, first, cnt in self.files:
            if first + cnt <= lo or first >= hi:
                continue
            recs = pq.read_table(path).to_pylist()
            a, b = max(0, lo - first), min(cnt, hi - first)
            for r in recs[a:b]:
                out.append({c: json_safe(r[c]) for c in self.cols})
        return out

    def row_lists(self, lo: int, n: int) -> list[list]:
        return [[d[c] for c in self.cols] for d in self.row_dicts(lo, n)]

    def close(self) -> None:
        import shutil
        shutil.rmtree(self.dir, ignore_errors=True)


def druid_type(simple: str) -> str:
    """Spark simpleString → Druid native column type string
    (TypeSignature.asTypeString: STRING/LONG/FLOAT/DOUBLE/ARRAY<...>/
    COMPLEX<...>; Druid booleans and timestamps are LONG)."""
    if simple.startswith("array<"):
        return f"ARRAY<{druid_type(simple[6:-1])}>"
    return {"string": "STRING", "bigint": "LONG", "int": "LONG",
            "smallint": "LONG", "tinyint": "LONG", "boolean": "LONG",
            "timestamp": "LONG", "timestamp_ntz": "LONG",
            "date": "LONG", "double": "DOUBLE", "float": "FLOAT",
            "binary": "COMPLEX"}.get(simple, "COMPLEX<json>")


# ---------------------------------------------------------------- avatica
# Spark simpleString -> (Avatica type name, java.sql.Types id)
_JDBC_TYPE = {"tinyint": ("TINYINT", -6), "smallint": ("SMALLINT", 5),
              "int": ("INTEGER", 4), "bigint": ("BIGINT", -5),
              "float": ("REAL", 7), "double": ("DOUBLE", 8),
              "boolean": ("BOOLEAN", 16), "string": ("VARCHAR", 12),
              "date": ("DATE", 91), "timestamp": ("TIMESTAMP", 93),
              "timestamp_ntz": ("TIMESTAMP", 93),
              "binary": ("BINARY", -2)}


class _Avatica:
    """Avatica JSON-RPC service — the reference's JDBC entry point
    (sql/.../sql/avatica/DruidAvaticaJsonHandler.java mounts Calcite
    Avatica at POST /druid/v2/sql/avatica; DruidMeta.java implements
    the remote Meta). Generic Avatica JSON clients (the JDBC thin
    driver) speak request/response objects: openConnection →
    createStatement → prepareAndExecute → fetch* → closeStatement →
    closeConnection, plus prepare/execute for parameterized
    statements. Results are collected driver-side at execute (the
    broker-response contract) and paged out via frames.

    Connection/statement caps mirror DruidMeta's config defaults
    (druid.sql.avatica.maxConnections=25, maxStatementsPerConnection=4)
    so runaway clients fail the same way."""

    MAX_CONNECTIONS = 25
    MAX_STATEMENTS_PER_CONNECTION = 4
    # frame cap when the client doesn't bound the fetch — DruidMeta's
    # druid.sql.avatica.maxRowsPerFrame default; keeps any single frame
    # driver-memory-bounded regardless of result size
    MAX_ROWS_PER_FRAME = 5_000

    def __init__(self, engine, scheduler: QueryScheduler | None = None,
                 request_logger=None, authorizer=None):
        self.engine = engine
        self.scheduler = scheduler or QueryScheduler(engine.spark)
        self.request_logger = request_logger
        self.authorizer = authorizer
        self._lock = threading.Lock()
        self._conns: dict[str, dict[int, dict]] = {}
        self._owners: dict[str, str | None] = {}  # cid -> identity
        self._next_id = 0

    # -- protocol plumbing ---------------------------------------------
    def handle(self, req: dict,
               identity: str | None = None) -> tuple[int, dict]:
        """Identity is threaded through as a parameter (never stored on
        the shared instance — concurrent requests from different users
        would race) and checked against the connection's owner: the
        reference binds Avatica state to the authenticated identity
        (DruidMeta + AvaticaBasedSecurityResource), so one user cannot
        execute or page another user's statements by connectionId."""
        kind = req.get("request")
        fn = getattr(self, "_rq_" + str(kind), None)
        if fn is None:
            return 400, self._error(f"unsupported request {kind!r}")
        try:
            return 200, fn(req, identity)
        except _AvaticaForbidden as e:
            return 403, self._error(str(e))
        except _AvaticaError as e:
            return 400, self._error(str(e))
        except Exception as e:  # surfaced in Avatica error shape
            return 500, self._error(f"{type(e).__name__}: {e}")

    def _authorize_sql(self, ident: str | None, sql: str) -> None:
        """Execution-time authorization (the reference authorizes in
        DruidMeta at execute, not only at prepare): resolve the
        statement's resources and check each against the authorizer.
        Covers 'execute'/'fetch' requests that carry no sql field and
        so bypass the HTTP layer's body-based resource scan."""
        if self.authorizer is None:
            return
        for rtype, name, action in sql_resources(
                self.engine.catalog.tables(), sql or ""):
            if not self.authorizer.authorize(ident, rtype, name, action):
                raise _AvaticaForbidden(
                    f"Unauthorized access to [{rtype}:{name}] "
                    f"for action [{action}]")

    @staticmethod
    def _error(msg: str) -> dict:
        return {"response": "error", "errorMessage": msg,
                "errorCode": -1, "sqlState": "00000",
                "severity": "ERROR", "exceptions": [msg]}

    def _conn(self, req: dict,
              ident: str | None = None) -> dict[int, dict]:
        cid = req.get("connectionId")
        with self._lock:
            if cid not in self._conns:
                raise _AvaticaError(f"connection {cid!r} not open")
            if self._owners.get(cid) != ident:
                raise _AvaticaForbidden(
                    f"connection {cid!r} belongs to another identity")
            return self._conns[cid]

    # -- lifecycle ------------------------------------------------------
    def _rq_openConnection(self, req: dict, ident=None) -> dict:  # noqa: N802
        cid = req.get("connectionId")
        with self._lock:
            if cid in self._conns:
                if self._owners.get(cid) != ident:
                    raise _AvaticaForbidden(
                        f"connection {cid!r} belongs to another identity")
            elif len(self._conns) >= self.MAX_CONNECTIONS:
                raise _AvaticaError("too many connections")
            else:
                self._conns[cid] = {}
                self._owners[cid] = ident
        return {"response": "openConnection"}

    def _rq_closeConnection(self, req: dict, ident=None) -> dict:  # noqa: N802
        self._conn(req, ident)  # ownership check
        with self._lock:
            conn = self._conns.pop(req.get("connectionId"), None)
            self._owners.pop(req.get("connectionId"), None)
        for st in (conn or {}).values():
            if st.get("spill") is not None:
                st["spill"].close()
        return {"response": "closeConnection"}

    def _rq_createStatement(self, req: dict, ident=None) -> dict:  # noqa: N802
        conn = self._conn(req, ident)
        with self._lock:
            if len(conn) >= self.MAX_STATEMENTS_PER_CONNECTION:
                raise _AvaticaError("too many open statements")
            self._next_id += 1
            sid = self._next_id
            conn[sid] = {}
        return {"response": "createStatement",
                "connectionId": req.get("connectionId"),
                "statementId": sid}

    def _rq_closeStatement(self, req: dict, ident=None) -> dict:  # noqa: N802
        conn = self._conn(req, ident)
        with self._lock:
            st = conn.pop(req.get("statementId"), None)
        if st and st.get("spill") is not None:
            st["spill"].close()
        return {"response": "closeStatement"}

    # -- execution ------------------------------------------------------
    def _signature(self, df, sql: str) -> dict:
        cols = []
        for i, f in enumerate(df.schema.fields):
            t, tid = _JDBC_TYPE.get(f.dataType.simpleString(),
                                    ("OTHER", 1111))  # java.sql OTHER
            cols.append({"ordinal": i, "columnName": f.name,
                         "label": f.name,
                         "type": {"type": "scalar", "id": tid,
                                  "name": t, "rep": "OBJECT"},
                         "nullable": 1 if f.nullable else 0})
        return {"columns": cols, "sql": sql,
                "cursorFactory": {"style": "LIST"}, "parameters": []}

    def _run(self, conn: dict[int, dict], sid: int, sql: str,
             params=None, ident: str | None = None) -> dict:
        if sid not in conn:
            raise _AvaticaError(f"statement {sid} not open")
        if params:
            sql = _bind_parameters(sql, params)
        # authorize at execution time — 'execute' requests carry no sql
        # in the HTTP body, so this is the only authorization point
        self._authorize_sql(ident, sql)
        t0 = time.time()
        df = self.engine.sql(sql)
        qid = f"avatica-{sid}-{uuid.uuid4().hex[:8]}"
        # Results spill to parquet via a distributed write (the durable
        # results contract) — never df.collect() into the driver; frames
        # page the spill at any offset with bounded memory.
        spill = self.scheduler.submit(qid, lambda: _SpilledResult(df, qid))
        if self.request_logger is not None:
            self.request_logger.log(
                kind="avatica", detail=sql[:500], status=200,
                identity=ident,
                remote=None, queryId=qid, success=True,
                query_time_ms=int((time.time() - t0) * 1000))
        old = conn.get(sid) or {}
        if old.get("spill") is not None:
            old["spill"].close()
        conn[sid] = {"sql": sql, "spill": spill,
                     "signature": self._signature(df, sql)}
        return conn[sid]

    def _frame(self, st: dict, offset: int, limit: int) -> dict:
        spill: _SpilledResult = st["spill"]
        limit = min(limit, self.MAX_ROWS_PER_FRAME) \
            if limit and limit > 0 else self.MAX_ROWS_PER_FRAME
        chunk = spill.row_lists(offset, limit)
        return {"offset": offset,
                "done": offset + len(chunk) >= spill.total,
                "rows": chunk}

    def _result_set(self, req: dict, sid: int, st: dict,
                    first_n: int) -> dict:
        return {"response": "resultSet",
                "connectionId": req.get("connectionId"),
                "statementId": sid, "ownStatement": True,
                "signature": st["signature"],
                "firstFrame": self._frame(st, 0, first_n),
                "updateCount": -1}

    def _rq_prepareAndExecute(self, req: dict, ident=None) -> dict:  # noqa: N802
        conn = self._conn(req, ident)
        sid = req.get("statementId")
        st = self._run(conn, sid, req.get("sql") or "", ident=ident)
        first = int(req.get("maxRowsInFirstFrame")
                    or req.get("maxRowCount") or -1)
        return {"response": "executeResults",
                "missingStatement": False,
                "results": [self._result_set(req, sid, st, first)]}

    def _rq_prepare(self, req: dict, ident=None) -> dict:  # noqa: N802
        conn = self._conn(req, ident)
        with self._lock:
            if len(conn) >= self.MAX_STATEMENTS_PER_CONNECTION:
                raise _AvaticaError("too many open statements")
            self._next_id += 1
            sid = self._next_id
        # Avatica prepare returns a signature without executing; the
        # LIMIT 0 plan gives the schema at Catalyst-analysis cost only.
        # Placeholders probe as NULL (Spark would reject unbound '?').
        # INSERT/REPLACE must NOT be probed: engine.sql executes DML
        # immediately, so a schema probe would ingest at prepare time
        # (with '?' bound to NULL) and then again at execute — return
        # an update-count-style empty signature instead and only run
        # the statement in _rq_execute.
        sql = req.get("sql") or ""
        if _re_task.match(sql):
            sig = {"columns": [], "sql": sql,
                   "cursorFactory": {"style": "LIST"}, "parameters": []}
        else:
            probe = _bind_parameters(
                sql, [{"value": None}] * sql.count("?")) if "?" in sql else sql
            df = self.engine.sql(probe).limit(0)
            sig = self._signature(df, sql)
        conn[sid] = {"sql": sql}
        return {"response": "prepare",
                "statement": {"connectionId": req.get("connectionId"),
                              "id": sid,
                              "signature": sig}}

    def _rq_execute(self, req: dict, ident=None) -> dict:  # noqa: N802
        h = req.get("statementHandle") or {}
        rq = {"connectionId": h.get("connectionId")}
        conn = self._conn(rq, ident)
        sid = h.get("id")
        params = [p.get("value") if isinstance(p, dict) else p
                  for p in (req.get("parameterValues") or [])]
        st = self._run(conn, sid, conn.get(sid, {}).get("sql", ""),
                       params=params, ident=ident)
        first = int(req.get("maxRowsInFirstFrame")
                    or req.get("maxRowCount") or -1)
        return {"response": "executeResults",
                "missingStatement": False,
                "results": [self._result_set(rq, sid, st, first)]}

    def _rq_fetch(self, req: dict, ident=None) -> dict:  # noqa: N802
        conn = self._conn(req, ident)
        sid = req.get("statementId")
        st = conn.get(sid)
        if not st or "spill" not in st:
            raise _AvaticaError(f"no results for statement {sid}")
        return {"response": "fetch", "missingStatement": False,
                "frame": self._frame(
                    st, int(req.get("offset") or 0),
                    int(req.get("fetchMaxRowCount") or -1))}

    # JDBC drivers issue these housekeeping calls; ack them
    def _rq_connectionSync(self, req: dict, ident=None) -> dict:  # noqa: N802
        return {"response": "connectionSync",
                "connProps": req.get("connProps") or {}}

    def _rq_syncResults(self, req: dict, ident=None) -> dict:  # noqa: N802
        return {"response": "syncResults", "moreResults": False,
                "missingStatement": False}


class _AvaticaError(RuntimeError):
    pass


class _AvaticaForbidden(_AvaticaError):
    """Authorization failure — surfaced as HTTP 403."""


class _Statements:
    """Async SQL statements — the MSQ task-style surface
    (sql/.../sql/http/SqlStatementResource.java: POST
    /druid/v2/sql/statements → {queryId, state}, GET …/{id} polls
    state, GET …/{id}/results pages results, DELETE cancels). States
    mirror SqlStatementState: ACCEPTED → RUNNING → SUCCESS | FAILED |
    CANCELED. Each statement is one task of the engine's registry
    (druid_spark.tasks), which runs it, bounds the completed ones and
    scopes them to their owner. Results spill to parquet
    (_SpilledResult — the durable-results contract) so a heavy SELECT
    through the async surface never materializes in driver memory;
    pages are served from the spill files."""

    PAGE_SIZE = 100_000  # rows per /results?page=N page

    def __init__(self, engine, scheduler: QueryScheduler | None = None,
                 request_logger=None):
        self.engine = engine
        self.scheduler = scheduler or QueryScheduler(engine.spark)
        self.request_logger = request_logger

    def submit(self, text: str, params=None,
               identity: str | None = None) -> dict:
        qid = str(uuid.uuid4())
        # an INSERT/REPLACE names its datasource once the ingest starts
        ttype = "query_controller" if _re_task.match(text or "") else "query"

        def body(rec):
            df = self.engine.sql(_bind_parameters(text, params), task_id=qid)
            # distributed parquet spill — the driver never holds the
            # result rows (durable-results paging contract)
            rec["spill"] = _SpilledResult(df, qid)

        def done(rec):
            if self.request_logger is not None:
                # statements log at completion with the real
                # end-to-end duration (SqlStatementResource contract)
                ok = rec["status"] == "SUCCESS"
                self.request_logger.log(
                    kind="statement", detail=(text or "")[:500],
                    status=200 if ok else 500, identity=identity,
                    remote=None, queryId=qid, success=ok,
                    query_time_ms=int(rec["duration_ms"]))

        rec = self.engine.tasks.run_async(
            qid, ttype, None, body, self.scheduler, done, owner=identity,
            payload={"type": ttype, "id": qid, "sqlQuery": text})
        return {"queryId": qid, "state": rec["status"]}

    def _get(self, qid: str, ident) -> dict | None:
        """The statement's record; other tasks are not statements."""
        rec = self.engine.tasks.get(qid, ident)
        return rec if rec is not None and "owner" in rec else None

    def status(self, qid: str, ident=None) -> dict | None:
        rec = self._get(qid, ident)
        if rec is None:
            return None
        out = {"queryId": qid, "state": rec["status"]}
        spill = rec["spill"]
        if rec["status"] == "SUCCESS" and spill is not None:
            # page manifest (SqlStatementResource result stanza: page
            # id/numRows/sizeInBytes). Pages here are the row-range
            # pages /results?page=N actually serves (PAGE_SIZE rows);
            # sizeInBytes prorates the spill's on-disk bytes.
            total_b = sum(os.path.getsize(p) for p, _f, _n in spill.files)
            sizes = [min(self.PAGE_SIZE, spill.total - lo)
                     for lo in range(0, spill.total, self.PAGE_SIZE)]
            pages = [{"id": i, "numRows": n,
                      "sizeInBytes": round(total_b * n / spill.total)}
                     for i, n in enumerate(sizes)]
            out["result"] = {"numTotalRows": spill.total,
                             "dataSource": "__query_select",
                             "pages": pages}
        if rec["error_msg"] is not None:
            out["errorDetails"] = {
                "error": "CANCELED" if rec["cancel"]
                else "Unknown exception",
                "errorMessage": rec["error_msg"],
                "errorClass": rec["error_class"], "host": None}
        return out

    def results(self, qid: str, page: int = 0,
                page_size: int | None = None,
                ident=None) -> tuple[int, Any]:
        rec = self._get(qid, ident)
        if rec is None:
            return 404, {"error": "Not found", "errorMessage": qid,
                         "errorClass": None, "host": None}
        spill = rec["spill"]
        if rec["status"] != "SUCCESS" or spill is None:
            return 400, {"error": "Statement not successful",
                         "errorMessage": f"state is {rec['status']}",
                         "errorClass": None, "host": None}
        size = page_size or self.PAGE_SIZE
        return 200, spill.row_dicts(page * size, size)

    def cancel(self, qid: str, ident=None) -> bool:
        if self._get(qid, ident) is None:
            return False
        self.engine.tasks.cancel(qid)
        # Actually stop the Spark jobs, not just the bookkeeping
        # (QueryScheduler.cancelQuery semantics).
        self.scheduler.cancel(qid)
        return True


class _Overlord:
    """Overlord task + supervisor API — the reference's ingestion
    entry points (indexing-service OverlordResource.java:108:
    POST /druid/indexer/v1/task → {"task": id}, GET task/{id}/status →
    the TaskStatusResponse envelope, GET task/{id} → payload,
    POST task/{id}/shutdown; SupervisorResource.java:81:
    POST /druid/indexer/v1/supervisor → {"id": ...}, suspend/resume/
    shutdown lifecycle). Task types: index / index_parallel (spec →
    run_ingestion → catalog registration, so the datasource is
    immediately queryable), compact (ClientCompactionTaskQuery analog →
    coordinator.compact_table), kill (KillUnusedSegmentsTask →
    coordinator.drop_interval), noop (NoopTask — the reference's test
    task). The task routes read the engine's one task registry
    (druid_spark.tasks), so they also serve SQL statements (the id
    POST /druid/v2/sql/task returns), SQL ingest and the coordinator
    duties' tasks; the registry runs each task under the query
    scheduler's job group, so shutdown cancels its Spark jobs."""

    _TYPES = ("index", "index_parallel", "compact", "kill", "noop")

    def __init__(self, engine, scheduler: QueryScheduler | None = None):
        self.engine = engine
        self.scheduler = scheduler or QueryScheduler(engine.spark)
        self._supervisors: dict[str, dict] = {}
        # overlord dynamic worker config (WorkerBehaviorConfig) — a
        # no-op for the single-process engine, but the console reads/
        # writes it
        self.worker_config: dict | None = None

    # ------------------------------------------------------------ tasks
    def submit(self, spec: dict) -> tuple[int, dict]:
        ttype = spec.get("type")
        if ttype not in self._TYPES:
            # OverlordResource.taskPost returns 400 with {"error": ...}
            # when the task type can't be instantiated (UOE branch)
            return 400, {"error": f"unsupported task type [{ttype}]"}
        ds = (spec.get("dataSource")
              or spec.get("spec", {}).get("dataSchema", {})
                                     .get("dataSource")
              or spec.get("dataSchema", {}).get("dataSource"))
        tid = (spec.get("id")
               or f"{ttype}_{ds or 'task'}_{uuid.uuid4().hex[:12]}")

        def work(rec):
            if ttype in ("index", "index_parallel"):
                from druid_spark.ingest.batch import run_ingestion
                svc = self.engine.table_service()
                name = run_ingestion(self.engine.spark, spec, svc)
                self.engine.catalog.commit(
                    name, svc.path(name),
                    spec.get("spec", spec)["dataSchema"]
                    .get("granularitySpec", {})
                    .get("segmentGranularity", "day"))
                rec["processed"] = sum(
                    nr for ds_, _p, _sz, nr
                    in self.engine.catalog.segments()
                    if ds_ == name and nr >= 0)
            elif ttype == "compact":
                from druid_spark.coordinator import compact_table
                tuning = spec.get("tuningConfig") or {}
                compact_table(self.engine.catalog, ds,
                              tuning.get("targetFilesPerPartition", 1))
            elif ttype == "kill":
                from druid_spark.coordinator import drop_interval
                drop_interval(self.engine.catalog, ds, spec["interval"])
            elif ttype == "noop":
                # NoopTask.java: sleeps runTime millis then succeeds —
                # poll the cancel flag so shutdown interrupts the sleep
                deadline = time.time() + spec.get("runTime", 0) / 1000.0
                while time.time() < deadline and not rec["cancel"]:
                    time.sleep(0.02)

        try:
            self.engine.tasks.run_async(tid, ttype, ds, work,
                                        self.scheduler, payload=spec)
        except KeyError:
            return 400, {"error": f"Task[{tid}] already exists"}
        return 200, {"task": tid}

    @staticmethod
    def _status_plus(rec: dict) -> dict:
        """TaskStatusPlus JSON (OverlordResource.getTaskStatus)."""
        terminal = rec["status"] in TERMINAL
        code = rec["status"] if terminal else "RUNNING"
        err = rec["error_msg"]
        if rec["error_class"] and not rec["cancel"]:
            err = f"{rec['error_class']}: {err}"
        return {
            "id": rec["task_id"], "groupId": rec["task_id"],
            "type": rec["type"],
            "createdTime": rec["created_time"].replace("+00:00", "Z"),
            "queueInsertionTime": "1970-01-01T00:00:00.000Z",
            "statusCode": code, "status": code,
            "runnerStatusCode": "NONE" if terminal else "RUNNING",
            "duration": int(rec["duration_ms"]) if terminal else -1,
            "location": {"host": None, "port": -1, "tlsPort": -1},
            "dataSource": rec["datasource"], "errorMsg": err}

    def _not_found(self, tid: str) -> tuple[int, dict]:
        return 404, {"error": f"Cannot find any task with id: [{tid}]"}

    def status(self, tid: str, ident=None) -> tuple[int, dict]:
        rec = self.engine.tasks.get(tid, ident)
        if rec is None:
            return self._not_found(tid)
        return 200, {"task": tid, "status": self._status_plus(rec)}

    def payload(self, tid: str, ident=None) -> tuple[int, dict]:
        rec = self.engine.tasks.get(tid, ident)
        if rec is None:
            return self._not_found(tid)
        return 200, {"task": tid, "payload": rec.get("payload") or {
            "type": rec["type"], "id": tid, "dataSource": rec["datasource"]}}

    def reports(self, tid: str, ident=None) -> tuple[int, dict]:
        """GET task/{id}/reports — IngestionStatsAndErrorsTaskReport
        for completed ingestion tasks (OverlordResource
        /task/{taskid}/reports; TaskReport.java shape). Non-ingestion
        tasks have no reports, like the reference."""
        rec = self.engine.tasks.get(tid, ident)
        if rec is None or rec.get("processed") is None:
            return 404, {"error":
                         f"No task reports were found for task [{tid}]"}
        return 200, {"ingestionStatsAndErrors": {
            "type": "ingestionStatsAndErrors", "taskId": tid,
            "payload": {
                "ingestionState": "COMPLETED",
                "unparseableEvents": {},
                "rowStats": {"buildSegments": {
                    "processed": rec["processed"],
                    "processedBytes": -1, "processedWithError": 0,
                    "thrownAway": 0, "unparseable": 0}},
                "errorMsg": rec["error_msg"],
                "segmentAvailabilityConfirmed": True,
                "segmentAvailabilityWaitTimeMs": 0}}}

    def tasks(self, state: str | None = None, ident=None) -> list[dict]:
        """GET /druid/indexer/v1/tasks (+ runningTasks/completeTasks
        filter paths)."""
        recs = self.engine.tasks.records(ident)
        if state == "running":
            recs = [r for r in recs if r["status"] not in TERMINAL]
        elif state == "complete":
            recs = [r for r in recs if r["status"] in TERMINAL]
        elif state in ("waiting", "pending"):
            recs = []  # no queue: tasks start immediately
        return [self._status_plus(r) for r in recs]

    def shutdown(self, tid: str, ident=None) -> tuple[int, dict]:
        if not self.engine.tasks.cancel(tid, ident):
            return self._not_found(tid)
        self.scheduler.cancel(tid)
        return 200, {"task": tid}

    def shutdown_datasource(self, ds: str, ident=None) -> tuple[int, dict]:
        tids = [r["task_id"] for r in self.engine.tasks.records(ident)
                if r["datasource"] == ds and r["status"] not in TERMINAL]
        for t in tids:
            self.shutdown(t, ident)
        return 200, {"numChangedTasks": len(tids)}

    # ------------------------------------------------------ supervisors
    def supervisor_submit(self, spec: dict) -> tuple[int, dict]:
        from druid_spark.streaming.ingest import start_supervisor
        try:
            name = spec.get("spec", spec)["dataSchema"]["dataSource"]
        except (KeyError, TypeError) as e:
            return 400, {"error": "Invalid supervisor spec",
                         "errorMessage": str(e),
                         "errorClass": None, "host": None}
        try:
            ingest, query = start_supervisor(
                self.engine.spark, spec, self.engine.table_service().base)
        except Exception as e:
            return 400, error_body("Supervisor start failed", e)
        self._supervisors[name] = {"id": name, "spec": spec,
                                   "suspended": False,
                                   "ingest": ingest, "query": query}
        return 200, {"id": name}

    def supervisor_ids(self) -> list[str]:
        return sorted(self._supervisors)

    def supervisor_get(self, sid: str) -> tuple[int, dict]:
        rec = self._supervisors.get(sid)
        if rec is None:
            return 404, {"error": f"[{sid}] does not exist"}
        return 200, rec["spec"]

    def supervisor_status(self, sid: str) -> tuple[int, dict]:
        rec = self._supervisors.get(sid)
        if rec is None:
            return 404, {"error": f"[{sid}] does not exist"}
        active = bool(rec["query"] is not None
                      and rec["query"].isActive)
        state = ("SUSPENDED" if rec["suspended"]
                 else "RUNNING" if active else "STOPPED")
        now = dt.datetime.now(dt.timezone.utc)
        return 200, {
            "id": sid,
            "generationTime": now.isoformat().replace("+00:00", "Z"),
            "payload": {"dataSource": sid, "state": state,
                        "detailedState": state, "healthy": active,
                        "suspended": rec["suspended"]}}

    def supervisor_suspend(self, sid: str) -> tuple[int, dict]:
        from druid_spark.streaming.ingest import SUPERVISORS
        rec = self._supervisors.get(sid)
        if rec is None:
            return 404, {"error": f"[{sid}] does not exist"}
        if rec["query"] is not None:
            try:
                rec["query"].stop()
            except Exception:
                pass
        rec["suspended"] = True
        for s in SUPERVISORS:
            if s["supervisor_id"] == sid:
                s["suspended"] = True
        return 200, rec["spec"]

    def supervisor_resume(self, sid: str) -> tuple[int, dict]:
        rec = self._supervisors.get(sid)
        if rec is None:
            return 404, {"error": f"[{sid}] does not exist"}
        if not rec["suspended"]:
            return 200, rec["spec"]
        code, out = self.supervisor_submit(rec["spec"])
        return (code, rec["spec"] if code == 200 else out)

    def supervisor_reset(self, sid: str) -> tuple[int, dict]:
        """POST /{id}/reset (SupervisorResource.reset): drop the stored
        offsets (the Structured Streaming checkpoint) and restart
        consumption from the spec's configured starting position."""
        rec = self._supervisors.get(sid)
        if rec is None:
            return 404, {"error": f"[{sid}] does not exist"}
        if rec["query"] is not None:
            try:
                rec["query"].stop()
            except Exception:
                pass
        import shutil
        shutil.rmtree(rec["ingest"].checkpoint, ignore_errors=True)
        code, out = self.supervisor_submit(rec["spec"])
        return (200, {"id": sid}) if code == 200 else (code, out)

    def supervisor_shutdown(self, sid: str) -> tuple[int, dict]:
        from druid_spark.streaming.ingest import SUPERVISORS
        rec = self._supervisors.pop(sid, None)
        if rec is None:
            return 404, {"error": f"[{sid}] does not exist"}
        if rec["query"] is not None:
            try:
                rec["query"].stop()
            except Exception:
                pass
        for s in [s for s in SUPERVISORS if s["supervisor_id"] == sid]:
            SUPERVISORS.remove(s)
        return 200, {"id": sid}


# --------------------------------------------------------------- handler
def _owner_checked(method):
    """Answer 403 when a route looks up a task (an SQL statement)
    that another identity owns — the task registry's lookup raises
    TaskForbidden, before any response is written."""
    def wrapped(self):
        try:
            method(self)
        except TaskForbidden as e:
            self._send_err(403, "Forbidden", str(e))
    return wrapped


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    # silence per-request stderr logging
    def log_message(self, fmt, *args):  # noqa: D102
        pass

    @property
    def engine(self):
        return self.server.engine  # type: ignore[attr-defined]

    # ------------------------------------------------------- security
    def _allowed(self, ident: str, rtype: str, name: str,
                 action: str) -> bool:
        authz = getattr(self.server, "authorizer", None)
        return authz is None or authz.authorize(ident, rtype, name, action)

    def _auth(self, resources=()) -> str | None:
        """Authenticate the request and authorize each (type, name,
        action) resource (DruidPlanner.java:216 authorize step /
        AuthorizationUtils.authorizeAllResourceActions). Writes the
        401/403 response and returns None on failure."""
        auth = getattr(self.server, "authenticator", None)
        ident = auth.authenticate(self.headers) if auth is not None \
            else "allowAll"
        if ident is None:
            body = json.dumps({
                "error": "Unauthorized",
                "errorMessage": "Authentication required",
                "errorClass": None, "host": None}).encode()
            self.send_response(401)
            if auth is not None and auth.challenge:
                self.send_header("WWW-Authenticate", auth.challenge)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return None
        for rtype, name, action in resources:
            if not self._allowed(ident, rtype, name, action):
                self._send_json(403, {
                    "error": "Forbidden",
                    "errorMessage": f"Unauthorized access to "
                                    f"[{rtype}:{name}] for action "
                                    f"[{action}]",
                    "errorClass": None, "host": None})
                return None
        return ident

    def _sql_res(self, text: str):
        return sql_resources(self.engine.catalog.tables(), text or "")

    # ------------------------------------- basic-security administration
    # BasicAuthenticatorResource / BasicAuthorizerResource analogs
    # (extensions-core/druid-basic-security/.../endpoint/): runtime
    # user/role/permission management over HTTP against the wired
    # authenticator/authorizer. The {authenticatorName}/{authorizerName}
    # path segment is accepted verbatim — this single-process server has
    # one instance per kind serving every name. Every mutation is
    # audit-logged (AuditManager analog).
    _SEC_RE = re.compile(
        r"^/druid-ext/basic-security/(authentication|authorization)"
        r"/db/[^/]+(/.*)?$")

    def _sec_backend(self, kind: str):
        """The configured instance, or None when it doesn't support
        runtime administration (e.g. the allow-all defaults)."""
        if kind == "authentication":
            be = getattr(self.server, "authenticator", None)
            return be if hasattr(be, "create_user") else None
        be = getattr(self.server, "authorizer", None)
        return be if hasattr(be, "create_role") else None

    def _ds_summary(self, name: str) -> dict:
        """DatasourcesResource ?simple shape: per-datasource tier +
        segment rollups from the segment registry."""
        segs = [s for s in self.engine.catalog.segments_full()
                if s[0] == name]
        size = sum(int(s[3] or 0) for s in segs)
        starts = sorted(s[4] for s in segs if s[4])
        ends = sorted(s[5] for s in segs if s[5])
        return {"name": name, "properties": {
            "tiers": {"_default_tier": {"size": size,
                                        "replicatedSize": size,
                                        "segmentCount": len(segs)}},
            "segments": {"count": len(segs), "size": size,
                         "replicatedSize": size,
                         "minTime": starts[0] if starts else None,
                         "maxTime": ends[-1] if ends else None}}}

    def _send_err(self, status: int, error: str, msg: str) -> None:
        """Send the reference's error JSON with no exception class."""
        self._send_json(status, {"error": error, "errorMessage": msg,
                                 "errorClass": None, "host": None})

    def _send_404(self, msg: str) -> None:
        self._send_err(404, "Not found", msg)

    def _security_get(self, path: str) -> None:
        m = self._SEC_RE.match(path)
        if not m:
            return self._send_404(path)
        kind, rest = m.group(1), (m.group(2) or "").strip("/")
        be = self._sec_backend(kind)
        if be is None:
            return self._send_404(f"no administrable {kind} backend")
        parts = rest.split("/") if rest else []
        if kind == "authentication":
            if parts == ["users"]:
                return self._send_json(200, be.user_names())
            if len(parts) == 2 and parts[0] == "users":
                if parts[1] not in be.users:
                    return self._send_404(parts[1])
                return self._send_json(200, {
                    "username": parts[1],
                    "credentials": (
                        {"set": be.users[parts[1]] is not None})})
        else:
            if parts == ["users"]:
                return self._send_json(200, be.user_names())
            if parts == ["roles"]:
                return self._send_json(200, be.role_names())
            if len(parts) == 2 and parts[0] in ("users", "roles"):
                out = (be.get_user(parts[1]) if parts[0] == "users"
                       else be.get_role(parts[1]))
                if out is None:
                    return self._send_404(parts[1])
                return self._send_json(200, out)
        self._send_404(path)

    def _security_mutate(self, path: str, body, ident,
                         method: str) -> None:
        m = self._SEC_RE.match(path)
        if not m:
            return self._send_404(path)
        kind, rest = m.group(1), (m.group(2) or "").strip("/")
        be = self._sec_backend(kind)
        if be is None:
            return self._send_404(f"no administrable {kind} backend")
        parts = rest.split("/") if rest else []

        def done(ok: bool, action: str, status: int = 200,
                 fail: int = 404) -> None:
            if ok:
                self.server.audit.record(  # type: ignore[attr-defined]
                    key=path, type_="basic-security",
                    payload={"action": action, "method": method,
                             "body": body if isinstance(body, (dict, list))
                             else None},
                    author=ident, ip=self.client_address[0])
                self._send_json(status, {})
            else:
                self._send_err(fail, "Invalid request", rest)

        if kind == "authentication":
            if len(parts) == 2 and parts[0] == "users":
                if method == "POST":
                    return done(be.create_user(parts[1]), "createUser",
                                fail=400)
                return done(be.delete_user(parts[1]), "deleteUser")
            if len(parts) == 3 and parts[0] == "users" and \
                    parts[2] == "credentials" and method == "POST":
                pw = (body or {}).get("password")
                if not isinstance(pw, str):
                    return self._send_err(400, "Invalid request",
                                          "missing password")
                return done(be.set_credentials(parts[1], pw),
                            "updateCredentials")
        else:
            if len(parts) == 2 and parts[0] == "users":
                if method == "POST":
                    return done(be.create_user(parts[1]), "createUser",
                                fail=400)
                return done(be.delete_user(parts[1]), "deleteUser")
            if len(parts) == 2 and parts[0] == "roles":
                if method == "POST":
                    return done(be.create_role(parts[1]), "createRole",
                                fail=400)
                return done(be.delete_role(parts[1]), "deleteRole")
            if len(parts) == 4 and parts[0] == "users" and \
                    parts[2] == "roles":
                if method == "POST":
                    return done(be.assign_role(parts[1], parts[3]),
                                "assignRole")
                return done(be.unassign_role(parts[1], parts[3]),
                            "unassignRole")
            if len(parts) == 3 and parts[0] == "roles" and \
                    parts[2] == "permissions" and method == "POST":
                if not isinstance(body, list):
                    return self._send_err(400, "Invalid request",
                                          "expected a permission list")
                try:
                    return done(be.set_permissions(parts[1], body),
                                "setPermissions")
                except ValueError as e:
                    return self._send_err(400, "Invalid request", str(e))
        self._send_404(path)

    def _timed(self, fn, kind: str, detail: str) -> None:
        """Run a query handler under the request logger (RequestLogger
        contract: time, remote, identity, query id, success,
        query/time ms). Status and query id are the ones _headers sent;
        a stream that fails after its headers keeps its status and logs
        success false with the error class (_stream sets _last_error)."""
        logger = getattr(self.server, "request_logger", None)
        if logger is None:
            fn()
            return
        self._last_status = self._last_qid = self._last_error = None
        t0 = time.time()
        try:
            fn()
        except Exception as e:
            self._last_status, self._last_error = 500, type(e).__name__
            raise
        finally:
            status = self._last_status or 200
            logger.log(kind=kind, detail=detail, status=status,
                       identity=getattr(self, "_ident", None),
                       remote=self.client_address[0],
                       queryId=self._last_qid,
                       success=status < 400 and not self._last_error,
                       error=self._last_error,
                       query_time_ms=int((time.time() - t0) * 1000))

    def _headers(self, status: int, qid: str | None, ctype: str | None,
                 length: int | None = None, etag: str | None = None) -> None:
        """Status line and headers of a response, recording the status
        and query id for the request log. No length means a chunked
        body."""
        self._last_status = status
        if qid:
            self._last_qid = qid
        self.send_response(status)
        if ctype:
            self.send_header("Content-Type", ctype)
        if length is None:
            self.send_header("Transfer-Encoding", "chunked")
        else:
            self.send_header("Content-Length", str(length))
        if qid:
            self.send_header("X-Druid-Query-Id", qid)
        if etag:
            self.send_header("ETag", etag)
        self.end_headers()

    def _send(self, status: int, body: bytes,
              ctype: str | None = "application/json",
              qid: str | None = None, etag: str | None = None) -> None:
        self._headers(status, qid, ctype, len(body), etag)
        self.wfile.write(body)

    def _send_json(self, status: int, obj: Any, qid: str | None = None) -> None:
        self._send(status, json.dumps(obj).encode(), qid=qid)

    def _send_error(self, e: Exception, qid: str) -> None:
        status, code = next(((s, c) for cls, s, c in _QUERY_ERRORS
                             if isinstance(e, cls)),
                            (500, "Unknown exception"))
        self._send_json(status, error_body(code, e), qid)

    def _submit(self, qid: str, ctx: dict, fn) -> Any:
        """Run fn under the scheduler with the context's lane and
        timeout."""
        return self.server.scheduler.submit(  # type: ignore[attr-defined]
            qid, fn, lane=QueryScheduler.compute_lane(ctx),
            timeout_ms=_timeout_ms(ctx))

    def _stream(self, qid: str, ctx: dict, df, ctype: str, body,
                etag: str | None = None) -> None:
        """Write a query result as it is computed — the one result
        writer of the native and SQL endpoints (the reference's
        QueryResultPusher). Rows come from a local iterator under the
        scheduler, so no result materializes on the driver; body(rows)
        turns the JSON-safe row dicts into the body's pieces, which go
        out as ~64 KiB chunks of a chunked response.

        The first row is pulled before the headers go out, so a fast
        failure still gets its error status. Once the headers are out,
        an error truncates the body (no completeness marker), closes the
        connection, and is logged as a failure."""
        # started/aborted share one lock: a timeout raised by submit
        # before the worker sent headers must keep the worker (which a
        # cancel does not always stop) off the socket, or two responses
        # interleave on the keep-alive connection
        lock = threading.Lock()
        state = {"started": False, "aborted": False}

        def run() -> None:
            it = df.toLocalIterator()
            first = next(it, None)
            with lock:
                if state["aborted"]:
                    return
                state["started"] = True
                self._headers(200, qid, ctype, etag=etag)
            rows = it if first is None else itertools.chain((first,), it)
            buf = bytearray()

            def chunk() -> None:
                if buf:
                    self.wfile.write(b"%X\r\n%s\r\n" % (len(buf), buf))
                    buf.clear()

            for piece in body(map(_row_dict, rows)):
                buf += piece
                if len(buf) >= 65536:  # one write per chunk, not per row
                    chunk()
            chunk()
            self.wfile.write(b"0\r\n\r\n")

        try:
            self._submit(qid, ctx, run)
        except Exception as e:
            with lock:
                started = state["started"]
                state["aborted"] = True
            if not started:
                self._send_error(e, qid)
                return
            self.close_connection = True
            self._last_error = type(e).__name__

    @_owner_checked
    def do_GET(self):  # noqa: N802
        from urllib.parse import parse_qs, urlparse
        u = urlparse(self.path)
        path = u.path.rstrip("/")
        # /status stays unsecured (reference status endpoints); every
        # other read authenticates, with per-resource authorization
        # where the path names one
        ident = "allowAll"
        if path not in ("/status", "/status/health"):
            res = []
            if (m := re.match(r"^/druid/v2/datasources/([^/]+)$", path)):
                res = [(DATASOURCE, m.group(1), READ)]
            elif (m := re.match(r"^/druid/coordinator/v1/metadata/"
                                r"datasources/([^/]+)/segments$", path)):
                res = [(DATASOURCE, m.group(1), READ)]
            elif (m := re.match(r"^/druid/coordinator/v1/datasources/"
                                r"([^/]+)/intervals$", path)):
                res = [(DATASOURCE, m.group(1), READ)]
            elif (m := re.match(r"^/druid/coordinator/v1/datasources/"
                                r"([^/]+)$", path)):
                res = [(DATASOURCE, m.group(1), READ)]
            elif path.startswith("/druid/indexer/v1") or \
                    path.startswith("/druid/coordinator/v1/config/"
                                    "compaction") or \
                    path.startswith("/druid/coordinator/v1/rules") or \
                    path.startswith("/druid/coordinator/v1/lookups/"
                                    "config") or \
                    path == "/druid/coordinator/v1/servers" or \
                    path == "/druid/coordinator/v1/compaction/status" or \
                    path == "/druid/coordinator/v1/audit" or \
                    path.startswith("/druid/coordinator/v1/config") or \
                    path.startswith("/druid/coordinator/v1/broker/"
                                    "config") or \
                    path.startswith("/druid/coordinator/v1/cluster") or \
                    path.startswith("/druid-ext/basic-security/"):
                res = [(STATE, "STATE", READ)]
            ident = self._auth(res)
            if ident is None:
                return
        if path == "/status":
            self._send_json(200, {"version": __version__})
        elif path == "/status/health":
            self._send_json(200, True)
        elif path == "/status/properties":
            # StatusResource.getProperties analog: the engine's live
            # Spark SQL confs (the runtime properties a console shows)
            from druid_spark.session import RUNTIME_CONFS
            props = {}
            for k in sorted(RUNTIME_CONFS):
                try:
                    props[k] = self.engine.spark.conf.get(k)
                except Exception:
                    pass
            props["druid.spark.version"] = __version__
            self._send_json(200, props)
        elif path == "/druid/coordinator/v1/loadstatus":
            # CoordinatorResource.getLoadStatus: single-process engine
            # is always fully loaded
            self._send_json(200, {"inventoryInitialized": True})
        elif path == "/druid/v2/datasources":
            # filtered by READ permission, like the reference's
            # authorized datasource listing (AuthorizationUtils
            # filterAuthorizedResources)
            self._send_json(200, [
                t for t in self.engine.catalog.tables()
                if self._allowed(ident, DATASOURCE, t, READ)])
        elif path == "/druid/coordinator/v1/config/compaction":
            # CoordinatorCompactionConfigsResource.getCompactionConfig
            duty = self.server.compaction  # type: ignore[attr-defined]
            self._send_json(200, {"compactionConfigs":
                                  list(duty.configs.values())})
        elif path == "/druid/indexer/v1/compaction/config/datasources":
            # the newer overlord-side home of the same configs
            duty = self.server.compaction  # type: ignore[attr-defined]
            self._send_json(200, {"compactionConfigs":
                                  list(duty.configs.values())})
        elif (m := re.match(r"^/druid/indexer/v1/compaction/config/"
                            r"datasources/([^/]+)$", path)):
            duty = self.server.compaction  # type: ignore[attr-defined]
            cfg = duty.configs.get(m.group(1))
            if cfg is None:
                self._send_404(m.group(1))
            else:
                self._send_json(200, cfg)
        elif path == "/druid/indexer/v1/compaction/config/cluster":
            self._send_json(200, {
                "compactionPollPeriod": None,
                "engine": "native", "useSupervisors": False})
        elif path == "/druid/coordinator/v1/compaction/status":
            # CompactionResource.getCompactionSnapshotForDataSource analog
            duty = self.server.compaction  # type: ignore[attr-defined]
            self._send_json(200, {"latestStatus": duty.history[-20:],
                                  "pending": duty.scan()})
        elif path == "/druid/coordinator/v1/config":
            # CoordinatorDynamicConfig (CoordinatorResource
            # getDynamicConfigs)
            self._send_json(200, self.server.dynamic_config)  # type: ignore
        elif path == "/druid/coordinator/v1/config/history":
            q = parse_qs(u.query)
            self._send_json(200, self.server.audit.history(  # type: ignore
                type_="coordinator.config",
                n=int((q.get("count") or ["100"])[0])))
        elif path == "/druid/coordinator/v1/broker/config":
            self._send_json(200, self.server.broker_config)  # type: ignore
        elif path == "/druid/coordinator/v1/broker/config/history":
            q = parse_qs(u.query)
            self._send_json(200, self.server.audit.history(  # type: ignore
                type_="broker.config",
                n=int((q.get("count") or ["100"])[0])))
        elif path == "/druid/coordinator/v1/cluster" or \
                (m := re.match(r"^/druid/coordinator/v1/cluster/"
                               r"([A-Za-z_]+)$", path)):
            # ClusterResource.getClusterServers:63-88 — every role is
            # this single process
            host, port = self.server.server_address[:2]
            node = {"host": f"{host}:{port}", "port": port,
                    "tlsPort": -1}
            roles = {"coordinator": [node], "overlord": [node],
                     "broker": [node], "historical": [node]}
            if path.endswith("/cluster"):
                self._send_json(200, roles)
            else:
                role = m.group(1).lower()
                if role in roles:
                    self._send_json(200, roles[role])
                else:
                    self._send_err(400, "Invalid nodeRole", m.group(1))
        elif path == "/druid/indexer/v1/workers":
            # OverlordResource.getWorkers:701 — one in-process worker
            # sized by the scheduler's slot pool
            host, port = self.server.server_address[:2]
            sched = self.server.scheduler  # type: ignore[attr-defined]
            running = [t["task_id"] for t in self.engine.tasks
                       if t["status"] == "RUNNING"]
            cap = sched._total_cap or (os.cpu_count() or 1)
            self._send_json(200, [{
                "worker": {"scheme": "http", "host": f"{host}:{port}",
                           "ip": str(host), "capacity": cap,
                           "version": __version__, "category":
                           "_default_worker_category"},
                "currCapacityUsed": len(running),
                "currParallelIndexCapacityUsed": 0,
                "availabilityGroups": [],
                "runningTasks": running,
                "lastCompletedTaskTime": None,
                "blacklistedUntil": None}])
        elif path == "/druid/indexer/v1/totalWorkerCapacity":
            # OverlordResource.getTotalWorkerCapacity:439 — the
            # console's capacity gauge
            sched = self.server.scheduler  # type: ignore[attr-defined]
            running = sum(1 for t in self.engine.tasks
                          if t["status"] == "RUNNING")
            cap = sched._total_cap or (os.cpu_count() or 1)
            self._send_json(200, {
                "currentClusterCapacity": cap,
                "usedClusterCapacity": running,
                "maximumCapacityWithAutoScale": cap})
        elif path == "/druid/indexer/v1/worker/history":
            q = parse_qs(u.query)
            self._send_json(200, self.server.audit.history(  # type: ignore
                type_="worker.config",
                n=int((q.get("count") or ["100"])[0])))
        elif path == "/druid/v2/sql/task/enabled":
            # SqlTaskResource — the console's MSQ capability probe
            self._send_json(200, {"enabled": True})
        elif path == "/druid/v2/sql/engines":
            # the console's engine census (no dart here)
            self._send_json(200, {"engines": [
                {"name": "broker"}, {"name": "msq-task"}]})
        elif path == "/druid/coordinator/v1/rules":
            # RulesResource.getRules: rules per datasource
            self._send_json(200, self.server.retention.rules)  # type: ignore
        elif (m := re.match(r"^/druid/coordinator/v1/rules/([^/]+)$",
                            path)) and m.group(1) != "history":
            ret = self.server.retention  # type: ignore[attr-defined]
            self._send_json(200, ret.rules.get(m.group(1), []))
        elif path == "/druid/coordinator/v1/datasources":
            # DatasourcesResource.getQueryableDataSources: plain name
            # list, ?simple adds per-datasource tier/segment rollups
            q = parse_qs(u.query)
            names = [t for t in self.engine.catalog.tables()
                     if self._allowed(ident, DATASOURCE, t, READ)]
            if "simple" in q or "simple" in (u.query or ""):
                self._send_json(200, [self._ds_summary(t)
                                      for t in names])
            else:
                self._send_json(200, names)
        elif (m := re.match(r"^/druid/coordinator/v1/datasources/"
                            r"([^/]+)$", path)):
            # DatasourcesResource.getDataSource
            name = m.group(1)
            if name not in self.engine.catalog.tables():
                self._send_404(name)
            else:
                self._send_json(200, self._ds_summary(name))
        elif path == "/druid/coordinator/v1/metadata/datasources":
            # coordinator metadata API (server/.../http/MetadataResource
            # .java getDataSources)
            self._send_json(200, [
                t for t in self.engine.catalog.tables()
                if self._allowed(ident, DATASOURCE, t, READ)])
        elif path == "/druid/coordinator/v1/servers":
            # CoordinatorResource.getClusterServers: single-process —
            # this engine is the whole cluster (?simple adds sizes)
            sc = self.engine.spark.sparkContext
            server = f"local:{sc.applicationId}"
            if "simple" in parse_qs(u.query or "",
                                    keep_blank_values=True):
                total = sum(sz for _ds, _p, sz, _nr
                            in self.engine.catalog.segments())
                self._send_json(200, [{
                    "host": server, "tier": "_default_tier",
                    "type": "historical", "currSize": total,
                    "maxSize": -1}])
            else:
                self._send_json(200, [server])
        elif path == "/druid/coordinator/v1/metadata/segments":
            # MetadataResource.getAllUsedSegments (cluster-wide)
            self._send_json(200, [
                {"dataSource": ds, "segmentPath": p, "size": sz,
                 "numRows": nr}
                for ds, p, sz, nr in self.engine.catalog.segments()
                if self._allowed(ident, DATASOURCE, ds, READ)])
        elif path == "/druid/coordinator/v1/lookups/config":
            # LookupCoordinatorResource.getTiers
            self._send_json(200, self.engine.catalog.lookup_tiers())
        elif (m := re.match(r"^/druid/coordinator/v1/lookups/config/"
                            r"([^/]+)$", path)):
            tier = self.engine.catalog.tier_lookups(m.group(1))
            if tier is None:
                self._send_404(m.group(1))
            else:
                self._send_json(200, sorted(tier))
        elif (m := re.match(r"^/druid/coordinator/v1/lookups/config/"
                            r"([^/]+)/([^/]+)$", path)):
            tier, name = m.group(1), m.group(2)
            mapping = (self.engine.catalog.tier_lookups(tier)
                       or {}).get(name)
            if mapping is None:
                self._send_404(name)
            else:
                self._send_json(200, {
                    "version": str(self.engine.catalog.version),
                    "lookupExtractorFactory": {
                        "type": "map",
                        "map": {str(k): str(v)
                                for k, v in mapping.items()}}})
        elif path == "/druid/coordinator/v1/audit" or \
                path == "/druid/coordinator/v1/rules/history":
            # AuditManager.fetchAuditHistory (SQLAuditManager analog);
            # rules/history is RulesResource.getDatasourceRuleHistory
            q = parse_qs(u.query)
            self._send_json(200, self.server.audit.history(  # type: ignore
                key=(q.get("key") or [None])[0],
                type_=("rules" if path.endswith("/rules/history")
                       else (q.get("type") or [None])[0]),
                n=int((q.get("count") or ["100"])[0])))
        elif path.startswith("/druid-ext/basic-security/"):
            self._security_get(path)
        elif (m := re.match(r"^/druid/coordinator/v1/datasources/"
                            r"([^/]+)/intervals$", path)):
            # DataSourcesResource.getIntervalsWithServedSegments: the
            # served intervals, newest first; ?simple adds per-interval
            # size/count rollups
            name = m.group(1)
            if name not in self.engine.catalog.tables():
                self._send_404(name)
                return
            per: dict[str, dict] = {}
            for ds, _p, sz, nr, start, end, _pn, _v \
                    in self.engine.catalog.segments_full():
                if ds != name or not start:
                    continue
                iv = f"{start}/{end}"
                agg = per.setdefault(iv, {"size": 0, "count": 0})
                agg["size"] += sz
                agg["count"] += 1
            if "simple" in parse_qs(u.query or "",
                                    keep_blank_values=True):
                self._send_json(
                    200, dict(sorted(per.items(), reverse=True)))
            else:
                self._send_json(200, sorted(per, reverse=True))
        elif (path.startswith("/druid/coordinator/v1/metadata/datasources/")
              and path.endswith("/segments")):
            # MetadataResource.getAllUsedSegmentsForDatasource: the
            # engine's segments are the warehouse parquet partitions.
            # ?full mirrors the DataSegment JSON shape (interval,
            # version, shardSpec) like the reference's full= arm.
            name = path.split("/")[-2]
            if "full" in parse_qs(u.query or "", keep_blank_values=True):
                segs = [{"dataSource": ds,
                         "interval": (f"{start}/{end}"
                                      if start else None),
                         "version": ver,
                         "loadSpec": {"type": "local", "path": p},
                         "shardSpec": {"type": "numbered",
                                       "partitionNum": pnum},
                         "size": sz, "numRows": nr,
                         "identifier": f"{ds}_{start or 'all'}_{pnum}"}
                        for ds, p, sz, nr, start, end, pnum, ver
                        in self.engine.catalog.segments_full()
                        if ds == name]
            else:
                segs = [{"dataSource": ds, "segmentPath": p, "size": sz,
                         "numRows": nr}
                        for ds, p, sz, nr in self.engine.catalog.segments()
                        if ds == name]
            if not segs and name not in self.engine.catalog.tables():
                self._send_404(name)
                return
            self._send_json(200, segs)
        elif path.startswith("/druid/v2/datasources/"):
            # GET /druid/v2/datasources/{name}: dimensions/metrics shape
            # (QueryResource getDatasource?full analog — column schema)
            name = path.split("/")[-1]
            try:
                df = self.engine.catalog.table(name)
            except KeyError as e:
                self._send_json(404, error_body("Unknown datasource", e))
                return
            self._send_json(200, {
                "name": name,
                "columns": [{"name": f.name,
                             "type": f.dataType.simpleString().upper(),
                             "nullable": f.nullable}
                            for f in df.schema.fields]})
        elif path == "/druid/indexer/v1/leader":
            # OverlordResource.getLeader: the leader URL (single-node:
            # always ourselves)
            host, port = self.server.server_address[:2]
            self._send_json(200, f"http://{host}:{port}")
        elif path in ("/druid/indexer/v1/isLeader",
                      "/druid/coordinator/v1/isLeader"):
            self._send_json(200, {"leader": True})
        elif path == "/druid/indexer/v1/worker":
            # OverlordResource.getWorkerConfig (dynamic config; null
            # until one is posted, like the reference)
            self._send_json(
                200, self.server.overlord.worker_config)  # type: ignore
        elif (m := re.match(
                r"^/druid/indexer/v1/(tasks|runningTasks|completeTasks"
                r"|waitingTasks|pendingTasks)$", path)):
            state = {"tasks": None, "runningTasks": "running",
                     "completeTasks": "complete",
                     "waitingTasks": "waiting",
                     "pendingTasks": "pending"}[m.group(1)]
            self._send_json(200, self.server.overlord.tasks(  # type: ignore
                state, ident))
        elif (m := re.match(
                r"^/druid/indexer/v1/task/([^/]+)/status$", path)):
            status, out = self.server.overlord.status(  # type: ignore
                m.group(1), ident)
            self._send_json(status, out)
        elif (m := re.match(
                r"^/druid/indexer/v1/task/([^/]+)/reports$", path)):
            status, out = self.server.overlord.reports(  # type: ignore
                m.group(1), ident)
            self._send_json(status, out)
        elif (m := re.match(r"^/druid/indexer/v1/task/([^/]+)$", path)):
            status, out = self.server.overlord.payload(  # type: ignore
                m.group(1), ident)
            self._send_json(status, out)
        elif path == "/druid/indexer/v1/supervisor":
            # SupervisorResource.specGetAll: plain → ids, ?full → specs,
            # ?state=true → per-supervisor state summaries
            ov = self.server.overlord  # type: ignore[attr-defined]
            q = parse_qs(u.query, keep_blank_values=True)
            if "full" in q:
                self._send_json(200, [
                    {"id": sid, "spec": ov.supervisor_get(sid)[1]}
                    for sid in ov.supervisor_ids()])
            elif q.get("state", ["false"])[0].lower() == "true":
                self._send_json(200, [
                    {"id": sid, **ov.supervisor_status(sid)[1]["payload"]}
                    for sid in ov.supervisor_ids()])
            else:
                self._send_json(200, ov.supervisor_ids())
        elif (m := re.match(
                r"^/druid/indexer/v1/supervisor/([^/]+)/status$", path)):
            status, out = self.server.overlord.supervisor_status(  # type: ignore
                m.group(1))
            self._send_json(status, out)
        elif (m := re.match(
                r"^/druid/indexer/v1/supervisor/([^/]+)$", path)):
            status, out = self.server.overlord.supervisor_get(m.group(1))  # type: ignore
            self._send_json(status, out)
        elif path.startswith("/druid/v2/sql/statements/"):
            parts = path.split("/")
            st = self.server.statements  # type: ignore[attr-defined]
            if parts[-1] == "results":
                q = parse_qs(u.query)
                try:
                    page = int(q.get("page", ["0"])[0])
                    if page < 0:
                        raise ValueError(page)
                except ValueError:
                    self._send_err(400, "Invalid page", str(q.get("page")))
                    return
                code, body = st.results(parts[-2], page=page, ident=ident)
                self._send_json(code, body)
            else:
                out = st.status(parts[-1], ident)
                if out is None:
                    self._send_404(parts[-1])
                else:
                    self._send_json(200, out)
        else:
            self._send_404(self.path)

    @_owner_checked
    def do_DELETE(self):  # noqa: N802
        path = self.path.rstrip("/")
        res = []
        if (m := re.match(
                r"^/druid/coordinator/v1/datasources/([^/]+)$", path)):
            res = [(DATASOURCE, m.group(1), WRITE)]
        elif path.startswith("/druid/coordinator/v1/config/compaction/") \
                or path.startswith("/druid/coordinator/v1/lookups/"
                                   "config/") \
                or path.startswith("/druid-ext/basic-security/"):
            res = [(STATE, "STATE", WRITE)]
        ident = self._auth(res)
        if ident is None:
            return
        if path.startswith("/druid-ext/basic-security/"):
            self._security_mutate(path, None, ident, "DELETE")
            return
        if (m := re.match(r"^/druid/coordinator/v1/lookups/config/"
                          r"([^/]+)/([^/]+)$", path)):
            # LookupCoordinatorResource.deleteLookup (tier-scoped)
            if self.engine.catalog.drop_lookup(m.group(2),
                                               tier=m.group(1)):
                self.server.audit.record(  # type: ignore[attr-defined]
                    key=f"{m.group(1)}/{m.group(2)}", type_="lookups",
                    payload=None, author=ident,
                    ip=self.client_address[0])
                self._send_json(202, {})
            else:
                self._send_404(m.group(2))
            return
        if (m := re.match(
                r"^/druid/coordinator/v1/config/compaction/([^/]+)$",
                path)):
            # CoordinatorCompactionConfigsResource.deleteCompactionConfig
            if self.server.compaction.remove_config(m.group(1)):  # type: ignore
                self.server.audit.record(  # type: ignore[attr-defined]
                    key=m.group(1), type_="compaction.config",
                    payload=None, author=ident,
                    ip=self.client_address[0])
                self._send_json(200, {})
            else:
                self._send_404(m.group(1))
            return
        if (m := re.match(
                r"^/druid/coordinator/v1/datasources/([^/]+)$", path)):
            # DatasourcesResource.markAsUnusedAllSegments analog: the
            # datasource stops resolving; disk files are untouched
            # (reclaim is the kill task's job)
            if self.engine.catalog.drop_table(m.group(1)):
                self._send_json(200, {})
            else:
                self._send_404(m.group(1))
            return
        if path.startswith("/druid/v2/sql/statements/"):
            qid = path.split("/")[-1]
            ok = self.server.statements.cancel(qid, ident)  # type: ignore
            if ok:
                self._send(202, b"")
            else:
                self._send_404(qid)
        elif path.startswith("/druid/v2/sql/") or path.startswith("/druid/v2/"):
            # DELETE /druid/v2/{queryId} (QueryResource.cancelQuery) and
            # DELETE /druid/v2/sql/{sqlQueryId} (SqlResource.cancelQuery):
            # 202 if the id was running, 404 otherwise.
            qid = path.split("/")[-1]
            sched = self.server.scheduler  # type: ignore[attr-defined]
            if sched.cancel(qid):
                self._send(202, b"")
            else:
                self._send_404(qid)
        else:
            self._send_404(self.path)

    @_owner_checked
    def do_POST(self):  # noqa: N802
        try:
            n = int(self.headers.get("Content-Length", 0))
            raw = self.rfile.read(n)
            body = json.loads(raw) if raw else {}
        except (ValueError, TypeError) as e:
            self._send_json(400, error_body("Unable to parse query", e))
            return
        path = self.path.rstrip("/")
        ident = self._auth(self._post_resources(path, body))
        if ident is None:
            return
        self._ident = ident
        if path == "/druid/v2":
            self._timed(lambda: self._native(body), "native",
                        str(body.get("dataSource")))
        elif path == "/druid/v2/sql":
            self._timed(lambda: self._sql(body), "sql",
                        (body.get("query") or "")[:500])
        elif path == "/druid/v2/sql/avatica":
            status, out = self.server.avatica.handle(  # type: ignore
                body, identity=getattr(self, "_ident", None))
            self._send_json(status, out)
        elif path == "/druid/indexer/v1/task":
            status, out = self.server.overlord.submit(body)  # type: ignore
            self._send_json(status, out)
        elif (m := re.match(
                r"^/druid/indexer/v1/task/([^/]+)/shutdown$", path)):
            status, out = self.server.overlord.shutdown(  # type: ignore
                m.group(1), ident)
            self._send_json(status, out)
        elif (m := re.match(
                r"^/druid/indexer/v1/datasources/([^/]+)"
                r"/shutdownAllTasks$", path)):
            status, out = self.server.overlord.shutdown_datasource(  # type: ignore
                m.group(1), ident)
            self._send_json(status, out)
        elif path == "/druid/indexer/v1/supervisor":
            status, out = self.server.overlord.supervisor_submit(body)  # type: ignore
            self._send_json(status, out)
        elif (m := re.match(
                r"^/druid/indexer/v1/supervisor/([^/]+)/"
                r"(suspend|resume|shutdown|terminate|reset)$", path)):
            ov = self.server.overlord  # type: ignore[attr-defined]
            fn = {"suspend": ov.supervisor_suspend,
                  "resume": ov.supervisor_resume,
                  "shutdown": ov.supervisor_shutdown,
                  "terminate": ov.supervisor_shutdown,
                  "reset": ov.supervisor_reset}[m.group(2)]
            status, out = fn(m.group(1))
            self._send_json(status, out)
        elif path == "/druid/coordinator/v1/config/compaction" or \
                re.match(r"^/druid/indexer/v1/compaction/config/"
                         r"datasources/[^/]+$", path):
            # CoordinatorCompactionConfigsResource.addOrUpdate (also
            # reachable at the newer overlord-side path, where the
            # datasource rides the URL)
            if (m := re.match(r"^/druid/indexer/v1/compaction/config/"
                              r"datasources/([^/]+)$", path)):
                body = dict(body or {})
                body.setdefault("dataSource", m.group(1))
            ds = body.get("dataSource")
            if not ds:
                self._send_err(400, "Invalid config", "missing dataSource")
                return
            duty = self.server.compaction  # type: ignore[attr-defined]
            duty.set_config(
                ds,
                max_files_per_partition=int(
                    body.get("maxFilesPerPartition", 8)),
                target_files=int(body.get("targetFiles", 1)))
            self.server.audit.record(  # type: ignore[attr-defined]
                key=ds, type_="compaction.config", payload=body,
                author=ident, ip=self.client_address[0])
            self._send_json(200, {})
        elif (m := re.match(r"^/druid/coordinator/v1/rules/([^/]+)$",
                            path)):
            # RulesResource.setDatasourceRules
            if not isinstance(body, list):
                self._send_err(400, "Invalid rules", "expected a list")
                return
            self.server.retention.set_rules(m.group(1), body)  # type: ignore
            self.server.audit.record(  # type: ignore[attr-defined]
                key=m.group(1), type_="rules", payload=body,
                author=ident, ip=self.client_address[0])
            self._send_json(200, {})
        elif path == "/druid/coordinator/v1/retention/run":
            dropped = self.server.retention.run_once()  # type: ignore
            self._send_json(200, {"dropped": dropped})
        elif (m := re.match(
                r"^/druid/coordinator/v1/datasources/([^/]+)$", path)):
            # DataSourcesResource.markAsUsedAllNonOvershadowedSegments
            # (DataSourcesResource.java:206): re-enable a datasource a
            # prior DELETE marked unused; response mirrors the
            # reference's SegmentUpdateResponse
            if self.engine.catalog.restore_table(m.group(1)):
                segs = sum(1 for d, *_ in self.engine.catalog.segments()
                           if d == m.group(1))
                self.server.audit.record(  # type: ignore[attr-defined]
                    key=m.group(1), type_="segments.markUsed",
                    payload=None, author=ident,
                    ip=self.client_address[0])
                self._send_json(200, {"numChangedSegments": segs})
            else:
                self._send_404(m.group(1))
        elif path == "/druid/indexer/v1/worker":
            # OverlordResource.setWorkerConfig
            self.server.overlord.worker_config = body  # type: ignore
            self.server.audit.record(  # type: ignore[attr-defined]
                key="worker.config", type_="worker.config",
                payload=body, author=ident, ip=self.client_address[0])
            self._send_json(200, {})
        elif path == "/druid/coordinator/v1/config":
            # CoordinatorResource.setDynamicConfigs: merge-updates the
            # dynamic config (unknown keys accepted like the reference's
            # lenient deserialization), audit-recorded
            if not isinstance(body, dict):
                self._send_err(400, "Invalid config", "expected object")
                return
            self.server.dynamic_config.update(body)  # type: ignore
            self.server.audit.record(  # type: ignore[attr-defined]
                key="coordinator.config", type_="coordinator.config",
                payload=body, author=ident, ip=self.client_address[0])
            self._send_json(200, {})
        elif path == "/druid/coordinator/v1/broker/config":
            if not isinstance(body, dict):
                self._send_err(400, "Invalid config", "expected object")
                return
            self.server.broker_config = body  # type: ignore
            self.server.audit.record(  # type: ignore[attr-defined]
                key="broker.config", type_="broker.config",
                payload=body, author=ident, ip=self.client_address[0])
            self._send_json(200, {})
        elif (m := re.match(r"^/druid/coordinator/v1/lookups/config/"
                            r"([^/]+)/([^/]+)$", path)):
            # LookupCoordinatorResource.createOrUpdateLookup: only the
            # map factory is representable (URI namespaces load via
            # druid_spark.lookups.load_lookup). The tier segment is
            # honored (reference manages arbitrary tiers); non-default
            # tiers resolve as 'tier/name'.
            fac = (body or {}).get("lookupExtractorFactory") or {}
            if fac.get("type") != "map" or \
                    not isinstance(fac.get("map"), dict):
                self._send_json(400, {
                    "error": "Invalid lookup",
                    "errorMessage": "expected lookupExtractorFactory "
                                    "{type: map, map: {...}}",
                    "errorClass": None, "host": None})
                return
            self.engine.catalog.register_lookup(
                m.group(2), fac["map"], tier=m.group(1))
            self.server.audit.record(  # type: ignore[attr-defined]
                key=f"{m.group(1)}/{m.group(2)}", type_="lookups",
                payload=body, author=ident, ip=self.client_address[0])
            self._send_json(202, {})
        elif path == "/druid/coordinator/v1/lookups/config":
            # bulk update: {tier: {name: {lookupExtractorFactory...}}}
            tiers = body if isinstance(body, dict) else {}
            n = 0
            for tname, specs in tiers.items():
                for lname, spec in (specs or {}).items():
                    fac = (spec or {}).get(
                        "lookupExtractorFactory") or {}
                    if fac.get("type") == "map" and \
                            isinstance(fac.get("map"), dict):
                        self.engine.catalog.register_lookup(
                            lname, fac["map"], tier=tname)
                        n += 1
            if n:
                self.server.audit.record(  # type: ignore[attr-defined]
                    key="__bulk", type_="lookups", payload=body,
                    author=ident, ip=self.client_address[0])
            self._send_json(202, {"updated": n})
        elif path.startswith("/druid-ext/basic-security/"):
            self._security_mutate(path, body, ident, "POST")
        elif path == "/druid/coordinator/v1/compaction/run":
            # manual duty cycle (the coordinator fires this on its
            # period; exposed for operators and tests)
            work = self.server.compaction.run_once()  # type: ignore
            self._send_json(200, {"compacted": work})
        elif path in ("/druid/v2/sql/statements", "/druid/v2/sql/task"):
            # /sql/task is the MSQ entry (sql/.../sql/http/SqlTaskResource
            # analog, SURVEY §3.3): same async machinery, task-shaped
            # response. INSERT/REPLACE route through the engine's SQL
            # ingestion writer like any engine.sql() call.
            text = body.get("query")
            if not text:
                self._send_err(400, "SQL parse failed", "missing 'query'")
                return
            out = self.server.statements.submit(  # type: ignore
                text, body.get("parameters"),
                identity=getattr(self, "_ident", None))
            if path.endswith("/task"):
                out = {"taskId": out["queryId"], "state": out["state"]}
            self._send_json(202, out)
        else:
            self._send_404(self.path)

    def _post_resources(self, path: str, body) -> list:
        """Resources a POST touches — native queries walk the
        datasource tree, SQL statements name-scan the catalog (WRITE on
        INSERT/REPLACE targets, EXTERNAL on EXTERN, STATE on sys.*),
        Overlord submissions are datasource WRITEs."""
        if not isinstance(body, dict):
            return []
        if path == "/druid/v2":
            return native_query_resources(body)
        if path in ("/druid/v2/sql", "/druid/v2/sql/statements",
                    "/druid/v2/sql/task"):
            return self._sql_res(body.get("query"))
        if path == "/druid/v2/sql/avatica":
            return self._sql_res(body.get("sql")) if body.get("sql") else []
        if path == "/druid/indexer/v1/task":
            ds = (body.get("dataSource")
                  or body.get("spec", {}).get("dataSchema", {})
                                         .get("dataSource")
                  or body.get("dataSchema", {}).get("dataSource"))
            return ([(DATASOURCE, ds, WRITE)] if ds
                    else [(STATE, "STATE", WRITE)])
        if path == "/druid/indexer/v1/supervisor":
            try:
                ds = body.get("spec", body)["dataSchema"]["dataSource"]
                return [(DATASOURCE, ds, WRITE)]
            except (KeyError, TypeError):
                return [(STATE, "STATE", WRITE)]
        if (m := re.match(r"^/druid/indexer/v1/supervisor/([^/]+)/",
                          path + "/")):
            return [(DATASOURCE, m.group(1), WRITE)]
        if path.startswith("/druid/indexer/v1/"):
            return [(STATE, "STATE", WRITE)]
        if path.startswith("/druid/coordinator/v1/config") or \
                path == "/druid/coordinator/v1/compaction/run" or \
                path == "/druid/coordinator/v1/broker/config" or \
                path.startswith("/druid/coordinator/v1/rules") or \
                path.startswith("/druid/coordinator/v1/lookups/config") or \
                path == "/druid/coordinator/v1/retention/run" or \
                path.startswith("/druid-ext/basic-security/"):
            return [(STATE, "STATE", WRITE)]
        if (m := re.match(
                r"^/druid/coordinator/v1/datasources/([^/]+)$", path)):
            return [(DATASOURCE, m.group(1), WRITE)]  # markAsUsed
        return []

    def _native(self, q: dict) -> None:
        ctx = dict(q.get("context") or {})
        qid = ctx.get("queryId") or str(uuid.uuid4())
        qt = q.get("queryType")
        # ThresholdBasedQueryPrioritizationStrategy: long-range scans
        # get demoted priority → the bounded low lane
        prio = getattr(self.server, "prioritization", None)
        if prio is not None:
            adj = prio.compute_priority(q)
            if adj is not None:
                ctx["priority"] = adj
        # ETag handshake (QueryResource.java HDR_IF_NONE_MATCH /
        # HDR_ETAG): the tag hashes the query body + catalog version,
        # so an unchanged datasource re-serves from the client's cache
        # with 304 and never touches Spark.
        etag = None
        try:
            import hashlib
            cat = self.engine.catalog
            stamp = f"{getattr(cat, 'version', 0)}:{getattr(cat, 'data_dir', '')}"
            etag = '"' + hashlib.sha1(
                (json.dumps(q, sort_keys=True) + stamp).encode()
            ).hexdigest() + '"'
            if self.headers.get("If-None-Match") == etag:
                self._send(304, b"", None, qid, etag)
                return
        except Exception:
            etag = None
        # The native types whose result size scales with data (scan) or
        # bucket/group cardinality (timeseries at fine grain, groupBy)
        # stream — the reference's QueryResource writes every result
        # Sequence incrementally. topN/search/timeBoundary/metadata
        # results are bounded by construction and are sent whole.
        streamed = qt in ("scan", "timeseries", "groupBy")
        try:
            df = self.engine.query(q)
            if not streamed:
                rows = self._submit(qid, ctx, df.collect)
        except NotImplementedError as e:
            self._send_json(400, error_body("Unknown query type", e), qid)
            return
        except KeyError as e:
            self._send_json(400, error_body("Unknown datasource", e), qid)
            return
        except Exception as e:  # analysis/runtime, scheduler
            self._send_error(e, qid)
            return
        if streamed:
            self._stream(qid, ctx, df, "application/json",
                         _native_body(q, df.columns), etag)
            return
        body = json.dumps(shape_native(q, [_row_dict(r) for r in rows]))
        self._send(200, body.encode(), qid=qid, etag=etag)

    def _sql(self, body: dict) -> None:
        ctx = body.get("context") or {}
        qid = ctx.get("sqlQueryId") or str(uuid.uuid4())
        text = body.get("query")
        if not text:
            self._send_json(
                400, {"error": "SQL parse failed",
                      "errorMessage": "missing 'query'",
                      "errorClass": None, "host": None}, qid)
            return
        fmt = body.get("resultFormat", "object")
        try:
            text = _bind_parameters(text, body.get("parameters"))
            # context.sqlTimeZone (PlannerContext CTX_SQL_TIME_ZONE):
            # becomes a leading SET; a statement-level SET still wins
            # (parsed later, overwrites the key)
            if ctx.get("sqlTimeZone"):
                tz = str(ctx["sqlTimeZone"]).replace("'", "''")
                text = f"SET sqlTimeZone = '{tz}'; " + text
            df = self.engine.sql(text)
            # context.sqlOuterLimit (SqlResource/SqlLifecycle: wrap the
            # statement in an outer LIMIT — the web console's safety cap)
            try:
                outer = int(ctx.get("sqlOuterLimit", 0))
                if outer > 0:
                    df = df.limit(outer)
            except (TypeError, ValueError):
                pass
            # context.sqlStringifyArrays (PlannerContext.java:694 —
            # DEFAULT TRUE): array-typed result columns serialize as
            # JSON STRINGS over the HTTP API unless the context turns
            # it off (SqlResults.java coerce). JVM-side to_json, so
            # the stream stays columnar up to the iterator.
            stringify = ctx.get("sqlStringifyArrays", True)
            if isinstance(stringify, str):
                stringify = stringify.lower() != "false"
            if stringify:
                from pyspark.sql import functions as _F
                from pyspark.sql import types as _T
                arr = {f.name for f in df.schema.fields
                       if isinstance(f.dataType, _T.ArrayType)}
                if arr:
                    df = df.select(*[
                        _F.to_json(_F.col(c)).alias(c) if c in arr
                        else _F.col(c) for c in df.columns])
            writer = _sql_body(fmt, df.schema,
                               bool(body.get("header", False)),
                               bool(body.get("typesHeader", False)),
                               bool(body.get("sqlTypesHeader", False)))
        except Exception as e:
            if "PARSE_SYNTAX_ERROR" in str(e):
                self._send_json(400, error_body("SQL parse failed", e), qid)
            else:
                self._send_error(e, qid)
            return
        # every resultFormat streams (SqlResourceQueryResultPusher
        # pushes all writers incrementally), so a heavy SELECT never
        # materializes on the driver in any sync format
        self._stream(qid, ctx, df, _SQL_CTYPE.get(fmt, "application/json"),
                     writer)


def _timeout_ms(ctx: dict) -> int | None:
    """context.timeout in millis (QueryContexts.getTimeout; 0/absent =
    no timeout)."""
    try:
        t = int(ctx.get("timeout", 0))
        return t if t > 0 else None
    except (TypeError, ValueError):
        return None


def _bind_parameters(text: str, params) -> str:
    """Positional '?' binding (SqlResource SqlParameter.java): values
    are spliced as SQL literals — strings escaped, numerics verbatim.
    Quote-aware: a '?' inside a string literal (LIKE 'a?%') is NOT a
    placeholder, and running out of parameters raises instead of
    silently deleting the marker."""
    if not params:
        return text
    if not isinstance(params, (list, tuple)):
        raise ValueError("parameters must be an array of "
                         "{type, value} objects")
    vals = []
    for p in params:
        v = p.get("value") if isinstance(p, dict) else p
        if v is None:
            vals.append("NULL")
        elif isinstance(v, bool):
            vals.append("TRUE" if v else "FALSE")
        elif isinstance(v, (int, float)):
            vals.append(repr(v))
        else:
            vals.append("'" + str(v).replace("'", "''") + "'")
    out, i, pi = [], 0, 0
    while i < len(text):
        ch = text[i]
        if ch in "'\"":
            j = i + 1
            while j < len(text):
                if text[j] == ch:
                    if j + 1 < len(text) and text[j + 1] == ch:
                        j += 2
                        continue
                    break
                j += 1
            out.append(text[i:j + 1])
            i = j + 1
        elif ch == "?":
            if pi >= len(vals):
                raise ValueError(
                    "too few parameters for '?' placeholders")
            out.append(vals[pi])
            pi += 1
            i += 1
        else:
            out.append(ch)
            i += 1
    return "".join(out)


# --------------------------------------------------------------- server
class DruidHttpServer:
    """In-process HTTP server over one engine.

        srv = DruidHttpServer(engine).start()   # ephemeral port
        ... requests against http://127.0.0.1:{srv.port} ...
        srv.stop()
    """

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0,
                 total_slots: int | None = None,
                 lane_limits: dict[str, int] | None = None,
                 authenticator: Authenticator | None = None,
                 authorizer: Authorizer | None = None,
                 compaction_period: float | None = None,
                 retention_period: float | None = None,
                 request_log_path: str | None = None,
                 audit_log_path: str | None = None,
                 audit_retention_seconds: float | None = None,
                 prioritization: dict | None = None):
        from druid_spark.metrics import AuditLog, RequestLogger
        self.engine = engine
        self.request_logger = RequestLogger(path=request_log_path)
        self.audit = AuditLog(path=audit_log_path,
                              retention_seconds=audit_retention_seconds)
        # attach before the first request can arrive
        self.scheduler = QueryScheduler(engine.spark, total=total_slots,
                                        lane_limits=lane_limits)
        # druid.query.scheduler.prioritization.* analog
        from druid_spark.scheduler import ThresholdPrioritization
        self._httpd_prio = None
        if prioritization:
            self._httpd_prio = ThresholdPrioritization(
                period_threshold=prioritization.get("periodThreshold"),
                duration_threshold=prioritization.get(
                    "durationThreshold"),
                adjustment=int(prioritization.get("adjustment", 5)))
        self._httpd = ThreadingHTTPServer((host, port), _Handler)
        self._httpd.engine = engine  # type: ignore[attr-defined]
        self._httpd.request_logger = self.request_logger  # type: ignore[attr-defined]
        self._httpd.audit = self.audit  # type: ignore[attr-defined]
        self._httpd.prioritization = self._httpd_prio  # type: ignore[attr-defined]
        # CoordinatorDynamicConfig defaults (CoordinatorDynamicConfig
        # .Builder defaults) + broker dynamic config — the console's
        # dynamic-config dialogs read/write these; histories serve
        # from the audit trail
        self._httpd.dynamic_config = {  # type: ignore[attr-defined]
            "millisToWaitBeforeDeleting": 900_000,
            "maxSegmentsToMove": 100,
            "replicantLifetime": 15,
            "replicationThrottleLimit": 500,
            "balancerComputeThreads": 1,
            "killDataSourceWhitelist": [],
            "killPendingSegmentsSkipList": [],
            "maxSegmentsInNodeLoadingQueue": 500,
            "decommissioningNodes": [],
            "pauseCoordination": False,
            "replicateAfterLoadTimeout": False,
            "useRoundRobinSegmentAssignment": True,
            "smartSegmentLoading": True,
            "debugDimensions": None,
        }
        self._httpd.broker_config = {  # type: ignore[attr-defined]
            "type": "default"}
        # allow-all by default — an unsecured server behaves as before
        self._httpd.authenticator = (  # type: ignore[attr-defined]
            authenticator or Authenticator())
        self._httpd.authorizer = (  # type: ignore[attr-defined]
            authorizer or Authorizer())
        self._httpd.scheduler = self.scheduler  # type: ignore[attr-defined]
        self._httpd.statements = _Statements(  # type: ignore[attr-defined]
            engine, scheduler=self.scheduler,
            request_logger=self.request_logger)
        self._httpd.avatica = _Avatica(  # type: ignore[attr-defined]
            engine, scheduler=self.scheduler,
            request_logger=self.request_logger,
            authorizer=self._httpd.authorizer)
        self._httpd.overlord = _Overlord(  # type: ignore[attr-defined]
            engine, scheduler=self.scheduler)
        from druid_spark.coordinator import CompactionDuty, RetentionDuty
        self.compaction = CompactionDuty(engine)
        self._httpd.compaction = self.compaction  # type: ignore[attr-defined]
        if compaction_period is not None:
            self.compaction.start(period=compaction_period)
        self.retention = RetentionDuty(engine)
        self._httpd.retention = self.retention  # type: ignore[attr-defined]
        if retention_period is not None:
            self.retention.start(period=retention_period)
        self._httpd.daemon_threads = True
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "DruidHttpServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True,
            name="druid-spark-http")
        self._thread.start()
        return self

    def stop(self) -> None:
        self.compaction.stop()
        self.retention.stop()
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)
