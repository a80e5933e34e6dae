"""Druid SQL ingestion statements: INSERT INTO / REPLACE INTO.

Reference: sql/calcite/parser/DruidSqlInsert.java:39,
DruidSqlReplace.java:42 — the MSQ task engine's SQL surface (SURVEY §3.3):

    INSERT INTO t SELECT ... PARTITIONED BY DAY [CLUSTERED BY c1, c2]
    REPLACE INTO t OVERWRITE ALL SELECT ... PARTITIONED BY MONTH
    REPLACE INTO t OVERWRITE WHERE <__time pred> SELECT ... PARTITIONED BY DAY

Spark-first: the statement IS Spark's own DAG — the SELECT plans through
Catalyst, PARTITIONED BY becomes the time-partitioned Parquet layout,
REPLACE maps to dynamic partition overwrite (only the time chunks present
in the new data are swapped — the VersionedIntervalTimeline overshadow
semantics), CLUSTERED BY becomes a sort within time chunks (the range
shard-spec analog, giving per-file min/max pruning on those columns).
"""

from __future__ import annotations

import itertools
import re
import shutil
from dataclasses import dataclass


_EXTERN_RE = re.compile(
    r"TABLE\s*\(\s*EXTERN\s*\(\s*"
    r"'(?P<src>(?:[^']|'')*)'\s*,\s*"
    r"'(?P<fmt>(?:[^']|'')*)'\s*"
    r"(?:,\s*'(?P<sig>(?:[^']|'')*)'\s*)?\)\s*\)",
    re.IGNORECASE | re.DOTALL,
)

_DRUID_TO_SPARK_TYPE = {
    "string": "string", "long": "long", "double": "double",
    "float": "float", "array<string>": "array<string>",
    "array<long>": "array<long>", "array<double>": "array<double>",
}


# EXTERN view names, unique in the process as a view must be to its
# statement: a reused name let a plan-cache key or a concurrent
# statement read another statement's source
_EXTERN_VIEWS = itertools.count(1)


def rewrite_extern(engine, text: str) -> tuple[str, list[str]]:
    """TABLE(EXTERN('<inputSource>', '<inputFormat>'[, '<signature>']))
    → a temp view over the batch reader; returns the rewritten text and
    the views, which the caller drops once the statement has been
    analyzed or written.

    Reference: sql/calcite/external/ExternalOperatorConversion.java +
    DruidExternTableMacro.java — MSQ's SQL-side external input. The
    three arguments are SQL-quoted JSON: an inputSource, an inputFormat,
    and an optional row-signature array [{"name","type"},...]. Spark-
    first: the external input becomes a spark.read DataFrame (read_input
    handles local/http/inline sources and csv/json/parquet/... formats),
    signature casts applied, registered as a temp view the surrounding
    query — SELECT or INSERT/REPLACE — references like any table."""
    import json

    from pyspark.sql import functions as F

    from druid_spark.ingest.batch import read_input

    frames = []  # every input is read before any view exists
    for m in _EXTERN_RE.finditer(text):
        src = json.loads(m.group("src").replace("''", "'"))
        fmt = json.loads(m.group("fmt").replace("''", "'"))
        df = read_input(engine.spark,
                        {"inputSource": src, "inputFormat": fmt})
        if m.group("sig"):
            cols = json.loads(m.group("sig").replace("''", "'"))
            df = df.select(*[
                F.col(c["name"]).cast(
                    _DRUID_TO_SPARK_TYPE.get(c["type"].lower(), "string"))
                .alias(c["name"]) for c in cols])
        frames.append((m.group(0), df))
    out, views = text, []
    for extern, df in frames:
        views.append(f"__extern_{next(_EXTERN_VIEWS)}")
        df.createOrReplaceTempView(views[-1])
        out = out.replace(extern, views[-1])
    return out, views


_EXPORT_RE = re.compile(
    r"^\s*(?P<verb>INSERT|REPLACE)\s+INTO\s+EXTERN\s*\(\s*"
    r"(?P<provider>[A-Za-z_]\w*)\s*\(\s*"
    r"exportPath\s*=>\s*'(?P<path>[^']+)'\s*\)\s*\)\s*"
    r"AS\s+(?P<fmt>CSV|PARQUET|JSON)\s+"
    r"(?:OVERWRITE\s+ALL\s+)?"
    r"(?P<select>(?:SELECT|WITH)\s.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def run_export_sql(engine, text: str):
    """INSERT/REPLACE INTO EXTERN(local(exportPath => '...')) AS CSV
    SELECT ... — the MSQ export destination
    (CalciteExportTest.java:109-115, msq/.../destination). Spark-first:
    the SELECT plans through Catalyst and `df.write` streams it out
    in parallel (one file per partition — the export is distributed,
    never collected to the driver). Returns the exported DataFrame, or
    None if the text is not an export statement."""
    m = _EXPORT_RE.match(text)
    if m is None:
        return None
    if m.group("provider").lower() not in ("local", "localstorage", "s3",
                                           "google", "azure"):
        raise ValueError(f"unknown export provider {m.group('provider')!r}")
    df = engine.sql(m.group("select"))
    fmt = m.group("fmt").lower()
    writer = df.write.mode("overwrite")
    if fmt == "csv":
        writer.option("header", True).csv(m.group("path"))
    elif fmt == "json":
        writer.json(m.group("path"))
    else:
        writer.parquet(m.group("path"))
    return df


_STMT_RE = re.compile(
    r"^\s*(?P<verb>INSERT|REPLACE)\s+INTO\s+(?P<table>[A-Za-z_][\w]*)\s+"
    r"(?:OVERWRITE\s+(?P<overwrite>ALL|WHERE\s+.+?)\s+(?=SELECT|WITH))?"
    r"(?P<select>(?:SELECT|WITH)\s.+?)\s+"
    r"PARTITIONED\s+BY\s+(?P<grain>[A-Za-z_]+)"
    r"(?:\s+CLUSTERED\s+BY\s+(?P<cluster>[\w\s,]+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_GRAIN = {"hour": "hour", "day": "day", "week": "week", "month": "month",
          "year": "year", "all": "all"}


@dataclass
class IngestStatement:
    verb: str                 # INSERT | REPLACE
    table: str
    select: str
    granularity: str
    overwrite_where: str | None   # None => OVERWRITE ALL (replace) / append
    overwrite_all: bool
    cluster_by: list[str]


def parse_ingest_sql(text: str) -> IngestStatement | None:
    m = _STMT_RE.match(text)
    if not m:
        return None
    verb = m.group("verb").upper()
    grain = m.group("grain").lower()
    if grain not in _GRAIN:
        raise ValueError(
            f"PARTITIONED BY {m.group('grain')!r} — supported: "
            f"{sorted(_GRAIN)}")
    ow = m.group("overwrite")
    overwrite_all = bool(ow and ow.upper() == "ALL")
    where = None
    if ow and not overwrite_all:
        where = re.sub(r"^\s*WHERE\s+", "", ow, flags=re.IGNORECASE)
    if verb == "REPLACE" and not ow:
        raise ValueError("REPLACE requires OVERWRITE ALL or OVERWRITE WHERE")
    cluster = [c.strip() for c in (m.group("cluster") or "").split(",")
               if c.strip()]
    return IngestStatement(verb, m.group("table"), m.group("select"),
                           _GRAIN[grain], where, overwrite_all, cluster)


def run_ingest_sql(engine, stmt: IngestStatement,
                   task_id: str | None = None):
    """Execute against the engine's TableService; returns the written
    DataFrame (so the statement composes like a query). The new/updated
    datasource is (re)registered in the engine catalog.

    Runs as one `query_controller` task of the engine's task registry
    with the target datasource (MSQ ControllerImpl / TaskStorage
    analog) — under the caller-supplied task_id when the async
    statements API drives it, so the statement and its task are one
    record, like the reference's sqlQueryId == taskId contract."""
    import uuid as _uuid

    with engine.tasks.track(task_id or f"query-{_uuid.uuid4()}",
                            "query_controller", stmt.table):
        return _run_ingest_body(engine, stmt)


def _run_ingest_body(engine, stmt: IngestStatement):
    df = engine.sql(stmt.select)
    if "__time" not in df.columns:
        raise ValueError(
            "INSERT/REPLACE SELECT must produce a __time column "
            "(ColumnHolder.TIME_COLUMN_NAME)")
    if stmt.overwrite_where:
        # Druid rejects rows outside the OVERWRITE WHERE range; we filter,
        # and dynamic partition overwrite then swaps exactly the chunks
        # the surviving rows land in
        df = df.where(engine.sql_expr(stmt.overwrite_where))

    svc = engine.table_service()
    if stmt.verb == "REPLACE" and stmt.overwrite_all:
        shutil.rmtree(svc.path(stmt.table), ignore_errors=True)
    mode = "append" if stmt.verb == "INSERT" else "overwrite"
    svc.write(df, stmt.table, stmt.granularity, mode=mode,
              cluster_by=stmt.cluster_by)
    # partitioned by __dt, interval queries prune time chunks
    # (Catalog.scan); query compilers never surface __dt unless selected
    engine.catalog.commit(stmt.table, svc.path(stmt.table), stmt.granularity)
    return df
