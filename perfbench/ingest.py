"""`ingest_mixed` workload: appends beside reads on one datasource.

One writer appends seeded event batches through Druid SQL
`INSERT INTO stream SELECT ... FROM TABLE(EXTERN(...)) PARTITIONED BY
HOUR`, each batch a new hour, so the partition count grows through the
run. Two readers call the engine directly: native queries over closed
hours (with useResultCache) and over the appended range, and, for three
reads in five, SQL over a trailing window. Every read must match the
oracle for some prefix of committed batches.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import shutil
import threading
import time

import pyarrow.parquet as pq

import gen
from oracle import Oracle, compare, iso
from stats import median
from workload import Op, Workload

READERS = 2
HIST_END = gen.STREAM_START + dt.timedelta(hours=gen.STREAM_HISTORY_HOURS)
PART_FMT = "yyyy-MM-dd-HH"
_AGGS = [{"type": "count", "name": "n"},
         {"type": "doubleSum", "name": "s", "fieldName": "amount"}]


def insert_sql(table: str, path: str) -> str:
    src = json.dumps({"type": "local", "files": [path]})
    return (f"INSERT INTO {table} SELECT ts AS __time, user_id, event_type, "
            f"country, amount FROM TABLE(EXTERN('{src}', "
            f"'{{\"type\": \"parquet\"}}')) PARTITIONED BY HOUR")


def _iv(a: dt.datetime, b: dt.datetime) -> str:
    return f"{a:%Y-%m-%dT%H:%M:%S}Z/{b:%Y-%m-%dT%H:%M:%S}Z"


def _lit(t: dt.datetime) -> str:
    return f"TIMESTAMP '{t:%Y-%m-%d %H:%M:%S}'"


class Read:
    """One reader request; `oracle_sql` takes the committed-batch count."""
    __slots__ = ("key", "native", "text", "oracle_sql", "cmp", "drop")

    def __init__(self, native, text, oracle_sql, cmp, drop=()):
        self.native, self.text = native, text
        self.oracle_sql, self.cmp, self.drop = oracle_sql, cmp, drop
        self.key = json.dumps(native, sort_keys=True) if native else text


# (first hour, event type) of the closed-hour reads: few enough that all
# but the first few of a run's closed reads hit the result cache
CLOSED = [(h, e) for h in (0, 12) for e in (None, "view")]


def r_closed(r, k) -> Read:
    """Hourly timeseries over closed history hours (result-cached)."""
    h, etype = CLOSED[k % len(CLOSED)]
    a = gen.STREAM_START + dt.timedelta(hours=h)
    b = a + dt.timedelta(hours=6)
    q = {"queryType": "timeseries", "dataSource": "stream",
         "granularity": "hour", "intervals": [_iv(a, b)],
         "aggregations": _AGGS, "context": {"useResultCache": True}}
    where = f"ts >= {_lit(a)} AND ts < {_lit(b)}"
    if etype:
        q["filter"] = {"type": "selector", "dimension": "event_type",
                       "value": str(etype)}
        where += f" AND event_type = '{etype}'"
    sql = ("SELECT date_trunc('hour', ts) AS \"timestamp\", count(*) AS n, "
           f"sum(amount) AS s FROM stream WHERE {where} AND batch < {{k}} "
           "GROUP BY 1")
    return Read(q, None, sql, {"drop_zero": "n"})


def r_newest(r, k) -> Read:
    """topN over every appended hour. Not result-cached: a cached result
    over a growing interval can be served stale (see README,
    "Known engine defect")."""
    q = {"queryType": "topN", "dataSource": "stream", "granularity": "all",
         "intervals": [_iv(HIST_END, dt.datetime(2030, 1, 1))],
         "dimension": "country", "metric": "s", "threshold": 5,
         "aggregations": _AGGS}
    sql = ("SELECT country, count(*) AS n, sum(amount) AS s FROM stream "
           f"WHERE ts >= {_lit(HIST_END)} AND batch < {{k}} GROUP BY 1 "
           "ORDER BY s DESC, country LIMIT 5")
    return Read(q, None, sql, {"ordered": True}, drop=("__time",))


def r_sql(r, k) -> Read:
    """Druid SQL over a trailing window reaching into the appends; the
    window starts 6, 12 or 18 hours before the history ends, in turn."""
    x = HIST_END - dt.timedelta(hours=6 * (1 + k % 3),
                                minutes=int(r.integers(0, 60)))
    text = ("SELECT event_type, COUNT(*) AS n, SUM(amount) AS s FROM stream "
            f"WHERE __time >= {_lit(x)} GROUP BY 1")
    sql = ("SELECT event_type, count(*) AS n, sum(amount) AS s FROM stream "
           f"WHERE ts >= {_lit(x)} AND batch < {{k}} GROUP BY 1")
    return Read(None, text, sql, {})


# three of five reads are SQL: the median then falls inside the SQL
# reads' narrow band instead of between the templates, where it jumped
# by 20% from run to run
TEMPLATES = [r_closed, r_sql, r_newest, r_sql, r_sql]


def stream(seed: int, reader: int):
    """Endless seeded read stream: the templates in turn, reader r
    starting at template r, so that every seed runs the same mix, and
    each template's parameter cycle from a seeded starting point."""
    r = gen.rng(seed, 200, reader)
    phase = [int(r.integers(len(CLOSED))) for _ in TEMPLATES]
    for n in itertools.count(reader):
        i = n % len(TEMPLATES)
        yield TEMPLATES[i](r, phase[i] + n // len(TEMPLATES))


def _rows(read: Read, rows) -> list[dict]:
    out = []
    for row in rows:
        d = {k: (iso(v) if isinstance(v, dt.datetime) else v)
             for k, v in row.asDict().items() if k not in read.drop}
        if "__time" in d:
            d["timestamp"] = d.pop("__time")
        out.append(d)
    return out


def _dir_stats(path: str) -> tuple[int, int, int]:
    """(data files, bytes, partitions) of a warehouse table."""
    files = size = 0
    parts = sum(1 for d in os.listdir(path) if d.startswith("__dt="))
    for d, _, fns in os.walk(path):
        for fn in fns:
            if fn.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, fn))
    return files, size, parts


class IngestMixed(Workload):
    name = "ingest_mixed"
    rows_kind = "append"
    # measured read rate on local[4] with the writer running: 5-7/s
    expected_ops_per_s = 6.0

    def inputs(self, cache_dir, seed):
        return gen.dataset(cache_dir, "stream", seed)

    def prepare(self, data, work):
        shutil.copytree(os.path.join(data["path"], "history"),
                        os.path.join(work, "druid", "stream"))

    def register(self, engine, data):
        path = os.path.join(engine.warehouse_dir, "stream")
        engine.catalog.register_table("stream", engine.spark.read.parquet(path),
                                      source_path=path)
        engine.catalog.set_partitioning("stream", "__dt", PART_FMT)

    def _batches(self, ctx) -> list[str]:
        d = os.path.join(ctx.data["path"], "batches")
        return [os.path.join(d, f) for f in sorted(os.listdir(d))]

    def warm(self, ctx):
        """An append into a scratch datasource plus one read of every
        template; the timed datasource is left untouched."""
        ctx.engine.sql(insert_sql("warm_stream", self._batches(ctx)[-1]))
        r = gen.rng(ctx.seed, 201)
        for fn in TEMPLATES:
            self._read(ctx, fn(r, 1))

    @staticmethod
    def _read(ctx, req: Read):
        df = (ctx.engine.query(req.native) if req.native
              else ctx.engine.sql(req.text))
        return df.collect()

    def run(self, ctx, seconds):
        ops: list[Op] = []
        lock = threading.Lock()
        committed = [0]
        deadline = time.perf_counter() + seconds
        sc = ctx.spark.sparkContext
        table_dir = os.path.join(ctx.engine.warehouse_dir, "stream")
        batches = self._batches(ctx)
        batch_rows = [pq.ParquetFile(p).metadata.num_rows for p in batches]

        def writer():
            mine = []
            before = _dir_stats(table_dir) if ctx.tracer else None
            for k, path in enumerate(batches):
                if time.perf_counter() >= deadline:
                    break
                op = Op("append", f"batch{k}")
                op.group = f"perfbench-append-{k}"
                sc.setJobGroup(op.group, "perfbench append")
                op.t0 = time.perf_counter()
                try:
                    ctx.engine.sql(insert_sql("stream", path))
                except Exception as e:  # noqa: BLE001 - reported as a failure
                    op.error = repr(e)
                op.t1 = time.perf_counter()
                mine.append(op)
                if op.error:
                    break
                with lock:
                    committed[0] = k + 1
                op.rows = batch_rows[k]
                if before is not None:
                    after = _dir_stats(table_dir)
                    op.extra = {"files": after[0] - before[0],
                                "bytes": after[1] - before[1],
                                "partitions": after[2]}
                    before = after
            with lock:
                ops.extend(mine)

        def reader(rid: int):
            mine = []
            for i, req in enumerate(stream(ctx.seed, rid)):
                if time.perf_counter() >= deadline:
                    break
                op = Op("query", req.key)
                op.group = f"perfbench-read-{rid}-{i}"
                sc.setJobGroup(op.group, "perfbench read")
                with lock:
                    k_lo = committed[0]
                op.t0 = time.perf_counter()
                try:
                    rows = self._read(ctx, req)
                except Exception as e:  # noqa: BLE001 - reported as a failure
                    op.error, rows = repr(e), []
                op.t1 = time.perf_counter()
                with lock:
                    k_hi = committed[0]
                op.rows = len(rows)
                op.result = (req, _rows(req, rows), k_lo, k_hi)
                ctx.read_stages(op)
                mine.append(op)
            with lock:
                ops.extend(mine)

        threads = [threading.Thread(target=writer, name="writer")]
        threads += [threading.Thread(target=reader, args=(i,),
                                     name=f"reader-{i}")
                    for i in range(READERS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self._committed = committed[0]
        return ops

    def check(self, ctx, ops):
        """Each read must equal the oracle over the history plus the
        first k batches, for some k committed while it ran (the append
        in flight included); the table must end holding the history plus
        every committed batch."""
        k_max = self._committed
        hist = os.path.join(ctx.data["path"], "history")
        files = self._batches(ctx)[:k_max]
        oracle = Oracle()
        try:
            sel = ("SELECT __time AS ts, user_id, event_type, country, amount, "
                   f"-1 AS batch FROM read_parquet('{hist}/*/*.parquet', "
                   "hive_partitioning = false)")
            if files:
                sel += (" UNION ALL SELECT ts, user_id, event_type, country, "
                        "amount, CAST(regexp_extract(filename, "
                        "'b([0-9]+)\\.parquet$', 1) AS INTEGER) AS batch "
                        f"FROM read_parquet({files!r}, filename = true)")
            oracle.load("stream", sel)
            wants: dict[tuple[str, int], list] = {}
            for op in ops:
                if op.kind != "query" or op.error:
                    continue
                req, rows, k_lo, k_hi = op.result
                why = None
                # the batch in flight counts once its write job commits,
                # which is before its INSERT returns
                for k in range(k_lo, min(k_hi + 1, k_max) + 1):
                    if (req.key, k) not in wants:
                        wants[req.key, k] = oracle.rows(req.oracle_sql.format(k=k))
                    why = compare(rows, wants[req.key, k], **req.cmp)
                    if why is None:
                        break
                if why is not None:
                    op.error = (f"matches no committed prefix "
                                f"{k_lo}..{k_hi}: {why}")
            got = ctx.engine.sql("SELECT COUNT(*) AS n FROM stream").collect()
            want = oracle.rows("SELECT count(*) AS n FROM stream")[0]["n"]
            appends = [op for op in ops if op.kind == "append"]
            if got[0]["n"] != want and appends:
                appends[-1].error = (f"table holds {got[0]['n']} rows, "
                                     f"committed {want}")
        finally:
            oracle.close()

    def layer_counts(self, ctx, ops):
        app = [op for op in ops if op.kind == "append" and op.extra]
        rows = sum(op.rows for op in app)
        return {"ingest.files_per_append": median(
                    (op.extra["files"] for op in app), empty=0.0),
                "ingest.bytes_per_row": sum(op.extra["bytes"] for op in app)
                / max(rows, 1),
                "ingest.partitions": app[-1].extra["partitions"] if app else 0}

    def summary(self, ops, wall):
        app = [op.ms for op in ops if op.kind == "append" and not op.error]
        return {"appends": len(app),
                "append_p50_ms": median(app) if app else None,
                "ingest_rows_per_s": sum(op.rows for op in ops
                                         if op.kind == "append") / wall}
