"""An append costs what it writes. Catalog.commit lists the table on the
driver and keeps the stored schema while the directory only gained
Spark-written files of that schema, so it runs no Spark job, and a
small local input is written by one task. Every other change reads the
table as a fresh read would. EXTERN sources are views of one statement.
"""

import datetime as dt
import itertools
import json
import os
import statistics
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from druid_spark import DruidSparkEngine
from druid_spark import catalog as C
from druid_spark.coordinator import compact_table, drop_interval

_GROUPS = itertools.count()
_START = dt.datetime(2024, 1, 1)


@pytest.fixture()
def eng(spark, tmp_path):
    e = DruidSparkEngine(spark)
    e.warehouse_dir = str(tmp_path / "wh")
    yield e
    e.close()


def _jobs(spark, run):
    """run()'s result and the Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"append-commit-{next(_GROUPS)}"
    sc.setJobGroup(group, "append commit test")
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _hours(spark, first: int, n: int, rows: int = 2, extra: bool = False):
    """`rows` events in each of `n` hours from hour `first` after
    2024-01-01, with an `x` column when `extra`."""
    data = [(_START + dt.timedelta(hours=first + h, minutes=r),
             f"u{r}", float(h * rows + r)) + ((r,) if extra else ())
            for h in range(n) for r in range(rows)]
    return spark.createDataFrame(
        data, ["__time", "user", "v"] + ["x"] * extra)


def _insert(e, table: str, source: str, head: str | None = None,
            columns: str = "__time, user, v") -> None:
    """INSERT INTO `table` (or the statement `head` given) SELECT
    `columns` FROM `source`, PARTITIONED BY HOUR."""
    e.sql(f"{head or 'INSERT INTO ' + table} SELECT {columns} "
          f"FROM {source} PARTITIONED BY HOUR")


def test_append_to_a_long_history_costs_as_much_as_to_a_short_one(
        spark, eng, monkeypatch):
    """An append's commit runs no Spark job at 30 and at 800 partitions,
    and an append to the 800-partition table costs within 2x of one to
    the 30-partition table (re-reading the table used to cost 10x the
    write there)."""
    commits = []
    commit = C.Catalog.commit

    def counted(self, *a, **kw):
        commits.append(_jobs(spark, lambda: commit(self, *a, **kw))[1])

    for name, hours in (("short", 30), ("long", 800)):
        eng.catalog.register_table(f"{name}_src", _hours(spark, 0, hours))
        _insert(eng, name, f"{name}_src")
    monkeypatch.setattr(C.Catalog, "commit", counted)
    cost = {"short": [], "long": []}
    for k in range(3):
        eng.catalog.register_table("hour_src", _hours(spark, 1000 + k, 1))
        for name in cost:
            t = time.perf_counter()
            _insert(eng, name, "hour_src")
            cost[name].append(time.perf_counter() - t)
    assert commits == [0] * 6
    parts = [d for d in os.listdir(eng.table_service().path("long"))
             if d.startswith("__dt=")]
    assert len(parts) == 803
    assert eng.sql("SELECT COUNT(*) AS n FROM long").collect()[0]["n"] \
        == 2 * 803
    short, long_ = (statistics.median(cost[n]) for n in ("short", "long"))
    assert long_ <= 2 * short, (cost, short, long_)


def _same(spark, e, name) -> None:
    """Table `name` equals a fresh read of its directory, registered."""
    path = e.table_service().path(name)
    got = e.catalog.table(name)
    want = C._normalize(spark.read.parquet(path), None, path)
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, want.collect()))


def test_commit_keeps_the_schema_only_while_it_cannot_change(
        spark, eng, monkeypatch):
    """After every kind of write the committed table equals a fresh
    read of its directory, in schema and rows; appends of the stored
    schema keep it, and the other writes infer it again."""
    kept = []
    keeps = C._keeps_schema
    monkeypatch.setattr(C, "_keeps_schema",
                        lambda *a: kept.append(keeps(*a)) or kept[-1])
    path = eng.table_service().path("t")
    steps = []

    def step(label, run):
        kept.clear()
        run()
        steps.append((label, list(kept)))
        _same(spark, eng, "t")

    eng.catalog.register_table("a", _hours(spark, 0, 3))
    eng.catalog.register_table("b", _hours(spark, 3, 2))
    eng.catalog.register_table("c", _hours(spark, 5, 2, extra=True))
    eng.catalog.register_table("d", _hours(spark, 1, 1, rows=5))
    step("insert", lambda: _insert(eng, "t", "a"))
    step("append", lambda: _insert(eng, "t", "b"))
    step("new column", lambda: _insert(eng, "t", "c",
                                       columns="__time, user, v, x"))
    step("replace where", lambda: _insert(
        eng, "t", "d", "REPLACE INTO t OVERWRITE WHERE __time >= "
        "TIMESTAMP '2024-01-01 01:00:00' AND __time < "
        "TIMESTAMP '2024-01-01 02:00:00'"))
    step("kill", lambda: drop_interval(
        eng.catalog, "t", "2024-01-01T00:00:00Z/2024-01-01T01:00:00Z"))
    step("compact", lambda: compact_table(eng.catalog, "t", 1))

    def drop_in():
        chunk = os.path.join(path, "__dt=2024-01-01-02")
        pq.write_table(pa.table({
            "__time": pa.array([_START + dt.timedelta(hours=2, minutes=30)],
                               pa.timestamp("us")),
            "user": ["pa"], "v": [0.5]}),
            os.path.join(chunk, "part-pyarrow.parquet"))
        eng.catalog.commit("t", path)
    step("pyarrow file", drop_in)
    assert steps == [
        ("insert", []),            # a new table: nothing to keep
        ("append", [True]),
        ("new column", [False]),   # another schema
        ("replace where", [False]),  # files replaced
        ("kill", [False]),         # files gone
        ("compact", [False]),      # files rewritten
        ("pyarrow file", [False]),  # no Spark row metadata
    ]


def test_commit_infers_again_when_the_chunk_grain_changes(spark, eng):
    """An HOUR append to a DAY table: Spark infers the DAY values as a
    date and a mix with hour values as a string, so the commit must not
    keep the stored schema."""
    eng.catalog.register_table("a", _hours(spark, 0, 30))
    eng.catalog.register_table("b", _hours(spark, 50, 2))
    eng.sql("INSERT INTO t SELECT __time, user, v FROM a PARTITIONED BY DAY")
    assert dict(eng.catalog.table("t").dtypes)["__dt"] == "date"
    _insert(eng, "t", "b")
    _same(spark, eng, "t")
    assert dict(eng.catalog.table("t").dtypes)["__dt"] == "string"


def test_small_local_input_is_written_by_one_task(spark, eng, tmp_path,
                                                  monkeypatch):
    """An INSERT from a small local file writes each chunk as one file
    in one Spark job; over ONE_TASK_SCAN_BYTES it shuffles by chunk."""
    src = str(tmp_path / "src.parquet")
    ts = [_START + dt.timedelta(minutes=7 * i) for i in range(600)]
    pq.write_table(pa.table({"ts": pa.array(ts, pa.timestamp("us")),
                             "v": [float(i) for i in range(600)]}), src)
    writes = []
    write = type(eng.table_service()).write

    def counted(self, *a, **kw):
        writes.append(_jobs(spark, lambda: write(self, *a, **kw))[1])

    monkeypatch.setattr(type(eng.table_service()), "write", counted)
    extern = json.dumps({"type": "local", "files": [src]})
    for table in ("small", "big"):
        if table == "big":
            monkeypatch.setattr(C, "ONE_TASK_SCAN_BYTES", 0)
        eng.sql(f"INSERT INTO {table} SELECT ts AS __time, v FROM "
                f"TABLE(EXTERN('{extern}', '{{\"type\": \"parquet\"}}')) "
                "PARTITIONED BY HOUR")
        path = eng.table_service().path(table)
        chunks = [d for d in os.listdir(path) if d.startswith("__dt=")]
        assert len(chunks) == 70
        assert all(len([f for f in os.listdir(os.path.join(path, d))
                        if f.endswith(".parquet")]) == 1 for d in chunks)
        assert eng.sql(f"SELECT COUNT(*) AS n FROM {table}") \
            .collect()[0]["n"] == 600
    assert writes[0] == 1
    assert writes[1] > 1  # the shuffle runs as its own job


def _extern_sum(e, data: str) -> int:
    src = json.dumps({"type": "inline", "data": data}).replace("\n", "\\n")
    return e.sql(
        f"SELECT SUM(x) AS s FROM TABLE(EXTERN('{src}', "
        "'{\"type\": \"csv\", \"columns\": [\"x\"]}', "
        "'[{\"name\": \"x\", \"type\": \"LONG\"}]'))").collect()[0]["s"]


def test_extern_reads_its_own_source(spark, eng):
    """Two EXTERN SELECTs of one text over different sources, with no
    catalog write between them, each read their own source (the second
    returned the first's sum when every EXTERN view had one name), and
    no EXTERN view outlives its statement."""
    assert _extern_sum(eng, "1\n2") == 3
    assert _extern_sum(eng, "1\n2\n3") == 6
    assert _extern_sum(eng, "1\n2") == 3
    assert not [t for t in spark.catalog.listTables()
                if t.name.startswith("__extern_")]


def test_concurrent_extern_statements_keep_their_sources(spark, eng):
    """EXTERN SELECTs from several threads each sum their own source."""
    got, errors = {}, []

    def run(i):
        try:
            got[i] = [_extern_sum(eng, "\n".join(["1"] * (i + 1)))
                      for _ in range(3)]
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert got == {i: [i + 1] * 3 for i in range(3)}
    assert not [t for t in spark.catalog.listTables()
                if t.name.startswith("__extern_")]


def test_extern_insert_drops_its_view(spark, eng):
    eng.sql("""
        INSERT INTO ext_t SELECT TIME_PARSE(ts) AS __time, x
        FROM TABLE(EXTERN(
          '{"type": "inline", "data": "2024-01-01T01:00:00Z,1"}',
          '{"type": "csv", "columns": ["ts", "x"]}',
          '[{"name": "ts", "type": "STRING"}, {"name": "x", "type": "LONG"}]'))
        PARTITIONED BY DAY""")
    assert eng.catalog.table("ext_t").agg(F.sum("x")).collect()[0][0] == 1
    assert not [t for t in spark.catalog.listTables()
                if t.name.startswith("__extern_")]
