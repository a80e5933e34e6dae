"""`dashboard` workload: concurrent HTTP clients against DruidHttpServer.

Each client runs a closed loop over its own seeded stream of native
queries (POST /druid/v2) and Druid SQL (POST /druid/v2/sql) on a
persistent connection. Each client takes the templates in turn from its
own starting point, so that together the clients run every template
equally often whatever the seed, and every fourth request re-sends one
of that client's last eight requests, like a dashboard refresh. Filter
values and intervals are drawn from the generated tables' value ranges,
so the distinct-query set is far larger than the engine's plan cache
while the repeat window fits in it.
"""

from __future__ import annotations

import datetime as dt
import http.client
import itertools
import json
import os
import threading
import time

import gen
from oracle import Oracle, compare, native_rows
from workload import Op, Workload

REPEAT_EVERY = 4          # every fourth request is a refresh
REPEAT_WINDOW = 8

_LI_AGGS = [{"type": "count", "name": "n"},
            {"type": "doubleSum", "name": "rev", "fieldName": "l_extendedprice"},
            {"type": "doubleSum", "name": "qty", "fieldName": "l_quantity"}]


def _day(d: int) -> dt.datetime:
    return gen.LINEITEM_START + dt.timedelta(days=d)


def _iv(a: dt.datetime, b: dt.datetime) -> str:
    return f"{a:%Y-%m-%dT%H:%M:%S}Z/{b:%Y-%m-%dT%H:%M:%S}Z"


def _lit(t: dt.datetime) -> str:
    return f"TIMESTAMP '{t:%Y-%m-%d %H:%M:%S}'"


def _li_window(r, k, spans=(7, 30, 90, 365)):
    span = spans[k % len(spans)]
    a = int(r.integers(0, gen.LINEITEM_DAYS - span))
    return span, _day(a), _day(a + span)


def _ev_window(r, k):
    hours = (6, 12, 24)[k % 3]
    a = int(r.integers(0, gen.EVENTS_DAYS * 24 - hours))
    start = gen.EVENTS_START + dt.timedelta(hours=a)
    return start, start + dt.timedelta(hours=hours)


# Each template takes the seeded generator and how many times this client
# has used it (which cycles the interval length, so every run sees the
# same mix of sizes) and returns
# (path, body, oracle_sql, compare_kwargs, query_type).
def q_timeseries(r, k):
    span, a, b = _li_window(r, k)
    gran = {7: "day", 30: "day", 90: "week", 365: "month"}[span]
    q = {"queryType": "timeseries", "dataSource": "lineitem",
         "granularity": gran, "intervals": [_iv(a, b)],
         "aggregations": _LI_AGGS}
    where = f"l_shipdate >= {_lit(a)} AND l_shipdate < {_lit(b)}"
    if r.random() < 0.5:
        flag = str(r.choice(gen.RETURN_FLAGS))
        q["filter"] = {"type": "selector", "dimension": "l_returnflag",
                       "value": flag}
        where += f" AND l_returnflag = '{flag}'"
    sql = (f"SELECT date_trunc('{gran}', l_shipdate) AS \"timestamp\", "
           f"count(*) AS n, sum(l_extendedprice) AS rev, "
           f"sum(l_quantity) AS qty FROM lineitem WHERE {where} GROUP BY 1")
    return "/druid/v2", q, sql, {"drop_zero": "n"}, "timeseries"


def q_topn(r, k):
    _span, a, b = _li_window(r, k, (30, 90, 365))
    q = {"queryType": "topN", "dataSource": "lineitem", "granularity": "all",
         "intervals": [_iv(a, b)], "dimension": "l_suppkey",
         "metric": "rev", "threshold": 10,
         "aggregations": _LI_AGGS[:2]}
    sql = (f"SELECT l_suppkey, count(*) AS n, sum(l_extendedprice) AS rev "
           f"FROM lineitem WHERE l_shipdate >= {_lit(a)} "
           f"AND l_shipdate < {_lit(b)} GROUP BY 1 "
           f"ORDER BY rev DESC, l_suppkey LIMIT 10")
    return "/druid/v2", q, sql, {"ordered": True}, "topN"


def q_groupby(r, k):
    _span, a, b = _li_window(r, k, (90, 365))
    lo = int(r.integers(0, 6))
    hi = lo + int(r.integers(1, 5))
    q = {"queryType": "groupBy", "dataSource": "lineitem",
         "granularity": "all", "intervals": [_iv(a, b)],
         "dimensions": ["l_returnflag", "l_linestatus"],
         "filter": {"type": "bound", "dimension": "l_discount",
                    "lower": f"{lo / 100:.2f}", "upper": f"{hi / 100:.2f}",
                    "ordering": "numeric"},
         "aggregations": _LI_AGGS}
    sql = (f"SELECT l_returnflag, l_linestatus, count(*) AS n, "
           f"sum(l_extendedprice) AS rev, sum(l_quantity) AS qty "
           f"FROM lineitem WHERE l_shipdate >= {_lit(a)} "
           f"AND l_shipdate < {_lit(b)} AND l_discount >= {lo / 100:.2f} "
           f"AND l_discount <= {hi / 100:.2f} GROUP BY 1, 2")
    return "/druid/v2", q, sql, {}, "groupBy"


def q_filtered(r, k):
    _span, a, b = _li_window(r, k, (30, 90, 365))
    flag = str(r.choice(gen.RETURN_FLAGS))
    qmax = int(r.integers(5, 50))
    q = {"queryType": "timeseries", "dataSource": "lineitem",
         "granularity": "all", "intervals": [_iv(a, b)],
         "aggregations": [
             {"type": "count", "name": "n"},
             {"type": "filtered", "name": "n_flag",
              "filter": {"type": "selector", "dimension": "l_returnflag",
                         "value": flag},
              "aggregator": {"type": "count", "name": "n_flag"}},
             {"type": "filtered", "name": "rev_small",
              "filter": {"type": "bound", "dimension": "l_quantity",
                         "upper": str(qmax), "upperStrict": True,
                         "ordering": "numeric"},
              "aggregator": {"type": "doubleSum", "name": "rev_small",
                             "fieldName": "l_extendedprice"}}]}
    sql = (f"SELECT {_lit(a)} AS \"timestamp\", count(*) AS n, "
           f"count(*) FILTER (WHERE l_returnflag = '{flag}') AS n_flag, "
           f"sum(l_extendedprice) FILTER (WHERE l_quantity < {qmax}) "
           f"AS rev_small FROM lineitem WHERE l_shipdate >= {_lit(a)} "
           f"AND l_shipdate < {_lit(b)}")
    return "/druid/v2", q, sql, {}, "timeseries"


def q_join(r, k):
    _span, a, b = _li_window(r, k, (30, 90, 365))
    text = ("SELECT n.n_name AS nation, COUNT(*) AS n, "
            "SUM(l.l_extendedprice) AS rev FROM lineitem l "
            "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
            "JOIN nation n ON s.s_nationkey = n.n_nationkey "
            f"WHERE l.__time >= {_lit(a)} AND l.__time < {_lit(b)} "
            "GROUP BY n.n_name")
    sql = ("SELECT n.n_name AS nation, count(*) AS n, "
           "sum(l.l_extendedprice) AS rev FROM lineitem l "
           "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
           "JOIN nation n ON s.s_nationkey = n.n_nationkey "
           f"WHERE l.l_shipdate >= {_lit(a)} AND l.l_shipdate < {_lit(b)} "
           "GROUP BY 1")
    return "/druid/v2/sql", {"query": text}, sql, {}, "sql"


def q_time_floor(r, k):
    a, b = _ev_window(r, k)
    country = str(r.choice(gen.COUNTRIES))
    text = ("SELECT TIME_FLOOR(__time, 'PT1H') AS t, event_type, "
            "COUNT(*) AS n, SUM(\"value\") AS v FROM events "
            f"WHERE __time >= {_lit(a)} AND __time < {_lit(b)} "
            f"AND country = '{country}' GROUP BY 1, 2")
    sql = ("SELECT date_trunc('hour', ts) AS t, event_type, count(*) AS n, "
           "sum(\"value\") AS v FROM events "
           f"WHERE ts >= {_lit(a)} AND ts < {_lit(b)} "
           f"AND country = '{country}' GROUP BY 1, 2")
    return "/druid/v2/sql", {"query": text}, sql, {}, "sql"


def q_distinct(r, k):
    a, b = _ev_window(r, k)
    text = ("SELECT event_type, APPROX_COUNT_DISTINCT(user_id) AS users, "
            "COUNT(*) AS n FROM events "
            f"WHERE __time >= {_lit(a)} AND __time < {_lit(b)} GROUP BY 1")
    sql = ("SELECT event_type, count(DISTINCT user_id) AS users, "
           "count(*) AS n FROM events "
           f"WHERE ts >= {_lit(a)} AND ts < {_lit(b)} GROUP BY 1")
    return "/druid/v2/sql", {"query": text}, sql, {"approx": {"users": 0.05}}, "sql"


def q_like(r, k):
    a, b = _ev_window(r, k)
    cat = str(r.choice(gen.CATEGORIES))
    text = ("SELECT country, COUNT(*) AS n, SUM(\"value\") AS v FROM events "
            f"WHERE page LIKE '/{cat}/%' AND __time >= {_lit(a)} "
            f"AND __time < {_lit(b)} GROUP BY country "
            "ORDER BY n DESC, country LIMIT 5")
    sql = ("SELECT country, count(*) AS n, sum(\"value\") AS v FROM events "
           f"WHERE page LIKE '/{cat}/%' AND ts >= {_lit(a)} AND ts < {_lit(b)} "
           "GROUP BY 1 ORDER BY n DESC, country LIMIT 5")
    return "/druid/v2/sql", {"query": text}, sql, {"ordered": True}, "sql"


TEMPLATES = [q_timeseries, q_topn, q_groupby, q_filtered, q_join,
             q_time_floor, q_distinct, q_like]


class Request:
    __slots__ = ("key", "path", "payload", "oracle_sql", "cmp", "qtype")

    def __init__(self, path, body, oracle_sql, cmp, qtype):
        self.path, self.oracle_sql, self.cmp, self.qtype = \
            path, oracle_sql, cmp, qtype
        self.payload = json.dumps(body, sort_keys=True).encode()
        self.key = path + " " + self.payload.decode()


def stream(seed: int, client: int, clients: int):
    """Endless seeded request stream of one of `clients` clients: the
    templates in turn, client c starting c/clients of the way through
    them; each request's parameters drawn from the seed; and every
    fourth request a re-send of one of the last eight."""
    r = gen.rng(seed, 100, client)
    first = client * len(TEMPLATES) // clients
    uses = dict.fromkeys(TEMPLATES, client)
    recent: list[Request] = []
    for n in itertools.count(1):
        if n % REPEAT_EVERY == 0:
            # walk back through the window, so every template is
            # refreshed in turn
            yield recent[-1 - (n // REPEAT_EVERY) % len(recent)]
            continue
        fn = TEMPLATES[(first + n - n // REPEAT_EVERY - 1) % len(TEMPLATES)]
        req = Request(*fn(r, uses[fn]))
        uses[fn] += 1
        recent = (recent + [req])[-REPEAT_WINDOW:]
        yield req


class Dashboard(Workload):
    name = "dashboard"
    http = True
    # measured rate on local[4]: 6-8 queries/s
    expected_ops_per_s = 7.0

    def inputs(self, cache_dir, seed):
        return gen.dataset(cache_dir, "olap", seed)

    def register(self, engine, data):
        for name, tcol in (("lineitem", "l_shipdate"), ("events", "ts"),
                           ("supplier", None), ("nation", None)):
            engine.catalog.register_table(
                name, os.path.join(data["path"], name), time_column=tcol)

    def warm(self, ctx):
        """One request of every template, spread over the clients, from
        a stream no timed client uses."""
        r = gen.rng(ctx.seed, 101)
        reqs = [Request(*fn(r, i)) for i, fn in enumerate(TEMPLATES)]
        statuses: list[int] = []

        def client(mine):
            conn = http.client.HTTPConnection("127.0.0.1", ctx.server.port,
                                              timeout=120)
            for req in mine:
                conn.request("POST", req.path, req.payload,
                             {"Content-Type": "application/json"})
                resp = conn.getresponse()
                resp.read()
                statuses.append(resp.status)
            conn.close()

        threads = [threading.Thread(target=client, args=(reqs[i::ctx.cores],))
                   for i in range(ctx.cores)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if statuses != [200] * len(reqs):
            raise RuntimeError(f"warm-up statuses {statuses}")

    def run(self, ctx, seconds):
        ops: list[Op] = []
        lock = threading.Lock()
        deadline = time.perf_counter() + seconds

        def client(cid: int):
            conn = http.client.HTTPConnection("127.0.0.1", ctx.server.port,
                                              timeout=120)
            mine = []
            for req in stream(ctx.seed, cid, ctx.cores):
                if time.perf_counter() >= deadline:
                    break
                op = Op("query", req.key)
                op.t0 = time.perf_counter()
                try:
                    conn.request("POST", req.path, req.payload,
                                 {"Content-Type": "application/json"})
                    resp = conn.getresponse()
                    body = resp.read()
                    op.t1 = time.perf_counter()
                    op.status = resp.status
                    op.group = resp.getheader("X-Druid-Query-Id")
                except (OSError, http.client.HTTPException) as e:
                    op.t1 = time.perf_counter()
                    op.error = repr(e)
                    conn.close()
                    conn = http.client.HTTPConnection(
                        "127.0.0.1", ctx.server.port, timeout=120)
                    body = b""
                op.result = (req, body)
                op.bytes = len(body)
                if op.status != 200 and op.error is None:
                    op.error = f"HTTP {op.status}"
                ctx.read_stages(op)
                mine.append(op)
            conn.close()
            with lock:
                ops.extend(mine)

        threads = [threading.Thread(target=client, args=(i,),
                                    name=f"client-{i}")
                   for i in range(ctx.cores)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return ops

    def check(self, ctx, ops):
        """Every response is compared with DuckDB's answer to its
        request, computed once per distinct request. In a traced run
        every request must also show a Spark job in its group: no
        dashboard request asks for the result cache."""
        data = ctx.data["path"]
        oracle = Oracle()
        try:
            for name in ("lineitem", "events", "supplier", "nation"):
                oracle.load(name, f"SELECT * FROM read_parquet("
                                  f"'{os.path.join(data, name)}/*.parquet')")
            wants: dict[str, list] = {}
            for op in ops:
                if op.error:
                    continue
                req, body = op.result
                try:
                    env = json.loads(body)
                    rows = (env if req.qtype == "sql"
                            else native_rows(req.qtype, env))
                except (ValueError, KeyError, TypeError) as e:
                    op.error = f"unparsable response: {e!r}"
                    continue
                op.rows = len(rows)
                if op.exec is not None and op.exec["jobs"] == 0:
                    op.error = f"no Spark job recorded for group {op.group}"
                    continue
                if req.key not in wants:
                    wants[req.key] = oracle.rows(req.oracle_sql)
                why = compare(rows, wants[req.key], **req.cmp)
                if why is not None:
                    op.error = f"oracle mismatch: {why}"
        finally:
            oracle.close()
