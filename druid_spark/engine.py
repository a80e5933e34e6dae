"""DruidSparkEngine — the native-JSON query compiler.

This is the analog of the reference's query entry point
(server/.../server/QueryResource.java:74 deserializing the polymorphic
Query, processing/.../query/Query.java:62-72 for the registered types).
Each query type compiles to a declarative DataFrame program; Catalyst
supplies pushdown/pruning/broadcast/AQE (SURVEY §4 — "built-in").
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

import re as _re

from druid_spark.cache import LockedLRU
from druid_spark.catalog import Catalog, interval_ranges
from druid_spark.expr import compile_expr, parse, Compiler, Bin, Ref
from druid_spark.filters import FilterCompiler
from druid_spark.tasks import TaskRegistry
from druid_spark.time_filters import lift_time_bounds
from druid_spark.dimensions import virtual_columns

# Druid SQL: EXPLAIN PLAN [WITH ...] FOR <query>
# (sql/src/main/codegen — DruidSqlParserImplFactory explain syntax)
_EXPLAIN_RE = _re.compile(
    r"^\s*EXPLAIN\s+PLAN\s+(?:WITH\s+\w+\s+)?FOR\s+(?P<q>.*)$",
    _re.IGNORECASE | _re.DOTALL)

# SparkSession -> (engine-serial, catalog-version) of the last temp-view
# registration, so sql() skips redundant per-call view churn. Weakly
# keyed by the session object itself (not id(): Python reuses ids after
# GC, so an id-keyed stamp could let a new engine at a freed engine's
# address skip registration and resolve stale views); the serial is a
# process-wide monotonic counter, never reused.
import itertools as _it
import threading as _threading
import weakref as _weakref
_ENGINE_SERIAL = _it.count(1)
_SYS_DOT_RE = _re.compile(
    r"\bsys\.(tasks|segments|servers|server_segments|supervisors)\b",
    _re.IGNORECASE)
_INFO_DOT_RE = _re.compile(
    r"\bINFORMATION_SCHEMA\.(TABLES|COLUMNS|SCHEMATA|ROUTINES)\b",
    _re.IGNORECASE)
_IDENT_RE = _re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
# Druid's lookup schema (sql/.../calcite/schema/LookupSchema.java):
# every registered lookup is queryable as the two-column (k, v) table
# `lookup.<name>`
_LOOKUP_DOT_RE = _re.compile(r"\blookup\.([A-Za-z_]\w*)", _re.IGNORECASE)
_CURRENT_TS_RE = _re.compile(r"\bCURRENT_TIMESTAMP\b", _re.IGNORECASE)
_CURRENT_DATE_RE = _re.compile(r"\bCURRENT_DATE\b", _re.IGNORECASE)
# a statement's view over a TABLE(EXTERN(...)) source (rewrite_extern)
_EXTERN_VIEW_RE = _re.compile(r"\b__extern_\d+\b")
_SQL_VIEWS_STAMP: "_weakref.WeakKeyDictionary[SparkSession, tuple[int, int]]" \
    = _weakref.WeakKeyDictionary()
_SQL_LOOKUPS_STAMP: \
    "_weakref.WeakKeyDictionary[SparkSession, tuple[int, int]]" \
    = _weakref.WeakKeyDictionary()
# serializes sql()'s temp-view refresh: concurrent refreshes could
# leave an older refresh's views under a newer stamp
_SQL_VIEWS_LOCK = _threading.Lock()

# Cache capacities in entries, and this engine's own cap on the rows a
# cached result may hold (a larger one is served uncached), so the
# driver stays bounded.
PLAN_CACHE_ENTRIES = 64
RESULT_CACHE_ENTRIES = 32
RESULT_CACHE_MAX_ROWS = 10_000
# result-cache marker: this key's result is over the row cap
_OVER_CAP = object()


class _CachedResult(_ClassicDataFrame):
    """A result-cache entry: the lazy plan until its first collect or
    toLocalIterator. That runs in the caller's thread, so under the
    server's scheduler (lane, timeout, cancel), and swaps in the rows as
    a JVM-built local relation; later reads run no Spark job (PySpark's
    createDataFrame(list) would parallelize). A result over
    RESULT_CACHE_MAX_ROWS stays the plan, and its key is marked
    _OVER_CAP so a repeat goes straight to the plan."""

    def __new__(cls, *_args):  # the base __new__ calls __init__ itself
        return object.__new__(cls)

    def __init__(self, plan: DataFrame, cache: LockedLRU, key: str):
        super().__init__(plan._jdf, plan.sparkSession)
        self._cache, self._key, self._local = cache, key, False

    def _fill(self) -> bool:
        # racing first reads may both compute; they swap in equal rows
        if not self._local:
            jdf = self._jdf
            rows = jdf.limit(RESULT_CACHE_MAX_ROWS + 1).collectAsList()
            if rows.size() > RESULT_CACHE_MAX_ROWS:
                self._cache.put(self._key, _OVER_CAP)
                return False
            self._jdf = self.sparkSession._jsparkSession.createDataFrame(
                rows, jdf.schema())
            self._local = True
        return True

    def collect(self):
        self._fill()
        return super().collect()

    def toLocalIterator(self, prefetchPartitions: bool = False):
        if self._fill():  # at most the row cap, and no job
            return iter(super().collect())
        return super().toLocalIterator(prefetchPartitions)


# TABLE(APPEND(...)) merges column types with Calcite's
# least-restrictive rule (TableAppendMacro → SqlTypeUtil
# leastRestrictive): numeric types widen, date widens to timestamp,
# anything else falls back to STRING (every Druid column casts to its
# string form losslessly). First-seen-wins would silently truncate.
_APPEND_NUM_RANK = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3,
                    "float": 4, "double": 5}


def _append_widen(a: str, b: str) -> str:
    if a == b:
        return a
    if a in _APPEND_NUM_RANK and b in _APPEND_NUM_RANK:
        return a if _APPEND_NUM_RANK[a] >= _APPEND_NUM_RANK[b] else b
    ts = {"date", "timestamp", "timestamp_ntz"}
    if a in ts and b in ts:
        return "timestamp_ntz" if "timestamp_ntz" in (a, b) else "timestamp"
    return "string"


def _sub_outside_strings(text: str, subs) -> str:
    """Apply (regex, repl) substitutions only OUTSIDE quoted spans
    ('...', "...", `...`; '' escapes inside single quotes) — a string
    literal such as WHERE ds = 'sys.tasks' must survive the dotted
    system-schema rewrite verbatim."""
    out, i, start, n = [], 0, 0, len(text)

    def apply(seg: str) -> str:
        for rx, repl in subs:
            seg = rx.sub(repl, seg)
        return seg

    while i < n:
        ch = text[i]
        if ch in "'\"`":
            out.append(apply(text[start:i]))
            j = i + 1
            while j < n:
                if text[j] == ch:
                    if ch == "'" and j + 1 < n and text[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(text[i:j + 1])
            i = j + 1
            start = i
        else:
            i += 1
    out.append(apply(text[start:]))
    return "".join(out)


def qcol(name: str) -> Column:
    """Column ref that tolerates dots in names (join rightPrefix 'j0.')."""
    if "." in name or "`" in name:
        return F.col("`" + name.replace("`", "") + "`")
    return F.col(name)


class QueryContext:
    """Per-query compile context: the base DataFrame, virtual columns,
    and a resolver closing over both."""

    def __init__(self, df: DataFrame, vcols: dict[str, Column], lookups: dict):
        self.df = df
        self.vcols = vcols
        self.lookups = lookups

    def resolver(self) -> Callable[[str], Column]:
        vcols = self.vcols

        def res(name: str) -> Column:
            if name in vcols:
                return vcols[name]
            return qcol(name)

        return res

    def filter_compiler(self) -> FilterCompiler:
        return FilterCompiler(self.df, self.resolver(), self.lookups)


class DruidSparkEngine:
    def __init__(self, spark: SparkSession, data_dir: str | None = None,
                 exact_approx: bool = False,
                 sketch_default_nominal_entries: int | None = 4096,
                 hyperunique_parity: bool = False):
        """exact_approx: rewrite approximate aggregators (HLL etc.) to
        exact forms — used by the correctness harness vs the DuckDB
        oracle (SURVEY §7.3.5).

        hyperunique_parity: when a query REQUESTS approximate count
        distinct (exact mode off for the statement), estimate through
        the reference-exact HyperLogLogCollector reproduction
        (functions/hllc.py) instead of Spark's Datasketches HLL, so
        estimate VALUES match the reference's goldens bit-for-bit.
        Opt-in: the default approx path stays JVM-side.

        sketch_default_nominal_entries: bound applied to tuple/theta
        sketch map-state when an aggregator omits nominalEntries — the
        reference samples at ITS default in that case
        (extensions-core/datasketches/.../
        ArrayOfDoublesSketchAggregatorFactory.java), so a Druid query
        ported verbatim gets bounded per-group state here too instead
        of an O(distinct keys) fold. Forced OFF (None) in exact_approx
        sessions: those back the DuckDB oracle gates and differential
        fuzzers, which require byte-exact unbounded folds. Pass None
        explicitly for a non-exact session that still needs exact
        sketch folds (the fuzz harnesses do)."""
        from druid_spark.session import harden_session
        # The engine must work on a session it did not create (the
        # correctness driver's). nanosAsLong / UTC / ANSI-off are
        # semantic requirements, not tuning.
        self.spark = harden_session(spark)
        self.catalog = Catalog(spark)
        self.exact_approx = exact_approx
        self.hyperunique_parity = hyperunique_parity
        if hyperunique_parity:
            from druid_spark.functions.hllc import register_hllc_udf
            register_hllc_udf(self.spark)
        self.sketch_default_nominal_entries = (
            None if exact_approx else sketch_default_nominal_entries)
        self._serial = next(_ENGINE_SERIAL)
        # Prepared plans: ANALYZED DataFrames keyed on the statement plus
        # the catalog version, which every registration bumps. A hit skips
        # Spark's parse/analyze (~65 of ~95 ms per query, SCALE.md r6),
        # like Avatica prepared statements (sql/.../avatica/DruidMeta.java).
        self._plan_cache = LockedLRU(PLAN_CACHE_ENTRIES)
        # Results (context.useResultCache / SET useResultCache), filled
        # by their first collect (see _CachedResult). Keyed on the
        # tables' Catalog.fingerprint, not the catalog version, so an
        # append to one interval leaves cached queries over others valid.
        self._result_cache = LockedLRU(RESULT_CACHE_ENTRIES)
        # every task — overlord tasks, async SQL statements, SQL
        # ingest and coordinator duty runs — is one record here; it
        # feeds sys.tasks and the HTTP task routes
        self.tasks = TaskRegistry()
        if data_dir:
            self.catalog.register_dir(data_dir)
        # Overlap the one-time per-session SQL-function DDL pass (~80
        # CREATE FUNCTION statements, seconds on a cold JVM) with
        # engine warm-up instead of serializing it into the first
        # interactive sql() call; the session-scoped stamp makes this a
        # no-op for every later engine on the same session.
        from druid_spark.functions.register import prewarm_druid_functions
        prewarm_druid_functions(self.spark)

    # -------------------------------------------------------- public API
    def query(self, q: dict[str, Any]) -> DataFrame:
        """Compile one native-JSON query. context.useResultCache caches
        the collected result keyed by the canonical query JSON plus a
        PER-INTERVAL table fingerprint — the analog of the reference's
        segment-level result cache (server/.../client/
        CachingClusteredClient.java:281 caches per segment so an append
        invalidates only the new intervals; the whole-result layer is
        ResultLevelCachingQueryRunner.java:51). For time-partitioned
        tables it covers only the registered files in the partitions the
        query's intervals touch: an append to another day keeps it."""
        # useCache/populateCache are the reference's segment-cache keys
        # (QueryContexts) — this engine's per-interval fingerprint cache
        # plays that role, so they alias useResultCache
        _ctx = q.get("context", {})
        use_cache = bool(_ctx.get("useResultCache")
                         or (_ctx.get("useCache")
                             and _ctx.get("populateCache", True)))
        import json as _json
        canon = _json.dumps(q, sort_keys=True, default=str)
        fp = None
        if use_cache:
            try:
                fp = self._tables_fingerprint(q)
            except Exception:
                use_cache = False  # unfingerprintable → serve uncached
        # the version is read AFTER the fingerprint (a registration
        # publishes both at once): a result key never names newer files
        # than the plan reads
        plan_key = f"native||cv={self.catalog.version}||{canon}"

        def plan() -> DataFrame:
            return self._plan_cache.get_or_build(
                plan_key, lambda: self._dispatch(q))

        if not use_cache:
            return plan()
        return self._cached_result(f"{canon}||{fp}", plan)

    def _cached_result(self, key: str,
                       plan: Callable[[], DataFrame]) -> DataFrame:
        """The result-cache entry for `key` (filled by its first
        collect), or plan() when that result is over the row cap."""
        out = self._result_cache.get_or_build(
            key, lambda: _CachedResult(plan(), self._result_cache, key))
        return plan() if out is _OVER_CAP else out

    # the four cache lookups (native/SQL x plan/result) count here
    plan_cache_hits = property(lambda self: self._plan_cache.hits)
    plan_cache_misses = property(lambda self: self._plan_cache.misses)
    cache_misses = property(lambda self: self._result_cache.misses)

    def _tables_fingerprint(self, q: dict) -> str:
        """One fingerprint per table the query touches, interval-aware
        (see query() docstring). Each leaf table is fingerprinted at
        the intervals that bound ITS scan — the reference keys on the
        segments actually scanned per datasource
        (CachingClusteredClient.java:281). The outer intervals reach
        the base spine of a join (its left side provides __time),
        every union branch, and filter/restrict/unnest bases. A join's
        RIGHT side and a nested query datasource are not bounded by
        the OUTER intervals (any right row can match; a nested query
        can re-stamp __time), but round 7 narrows them by their OWN
        explicit bounds when present: a nested query's `intervals`
        field and a filter datasource's top-level interval filter on
        __time both limit which partitions that subtree scans,
        whatever happens to the rows afterwards. A table appearing at
        two different interval scopes (self-join) falls back to
        whole-table."""
        from druid_spark.security import native_query_resources
        names = [n for _, n, _ in native_query_resources(q)]
        pairs: list[tuple[str, Any]] = []  # (table, intervals-or-None)

        def walk(ds, ivs) -> None:
            if isinstance(ds, str):
                pairs.append((ds, ivs))
                return
            if not isinstance(ds, dict):
                return
            t = ds.get("type")
            if t in ("table", "globalTable"):
                pairs.append((ds.get("name"), ivs))
            elif t == "union":
                for d in ds.get("dataSources", []):
                    walk(d, ivs)
            elif t in ("restrict", "unnest"):
                walk(ds.get("base"), ivs)
            elif t == "filter":
                # an explicit interval filter on __time bounds the base
                # scan; only adopt it when nothing narrower is inherited
                # (either alone is a superset of the true scanned set —
                # supersets only over-invalidate, never go stale)
                fivs = self._filter_time_intervals(ds.get("filter"))
                walk(ds.get("base"), ivs if ivs is not None else fivs)
            elif t == "join":
                walk(ds.get("left"), ivs)
                walk(ds.get("right"), None)
            elif t == "query":
                sub = ds.get("query", {})
                walk(sub.get("dataSource"), sub.get("intervals"))

        walk(q.get("dataSource"), q.get("intervals"))
        per: dict[str, Any] = {}
        for n, ivs in pairs:
            if n not in per:
                per[n] = ivs
            elif per[n] != ivs:
                per[n] = None  # conflicting scopes → whole table
        out = []
        for n in sorted(set(names)):
            ivs = per.get(n)
            ranges = interval_ranges(ivs) if ivs else None
            out.append(f"{n}={self.catalog.fingerprint(n, ranges)}")
        return ";".join(out)

    @staticmethod
    def _filter_time_intervals(f) -> list | None:
        """Intervals of a top-level `interval` filter on __time, looking
        through AND conjunctions (each conjunct's scan set is a superset
        of the conjunction's — safe to fingerprint by one). OR branches
        widen the scan, so they yield None (whole table)."""
        if not isinstance(f, dict):
            return None
        if (f.get("type") == "interval"
                and f.get("dimension") == "__time"):
            return f.get("intervals")
        if f.get("type") == "and":
            for sub in f.get("fields") or []:
                ivs = DruidSparkEngine._filter_time_intervals(sub)
                if ivs:
                    return ivs
        return None

    def close(self) -> None:
        """Drop the cached plans and results. The engine does not own
        the SparkSession (it may be the caller's) and never stops it."""
        self._plan_cache.clear()
        self._result_cache.clear()

    def __enter__(self) -> "DruidSparkEngine":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _dispatch(self, q: dict[str, Any]) -> DataFrame:
        qt = q["queryType"]
        from druid_spark.queries import (groupby, metadata, scan, search,
                                         timeboundary, timeseries, topn,
                                         union_q, windowing)
        dispatch = {
            "timeseries": timeseries.compile_query,
            "topN": topn.compile_query,
            "groupBy": groupby.compile_query,
            "scan": scan.compile_query,
            "search": search.compile_query,
            "timeBoundary": timeboundary.compile_query,
            "dataSourceMetadata": timeboundary.compile_dsmeta,
            "segmentMetadata": metadata.compile_query,
            "windowOperator": windowing.compile_query,
            "union": union_q.compile_query,
        }
        if qt not in dispatch:
            raise NotImplementedError(f"queryType {qt}")
        return dispatch[qt](self, q)

    def sql(self, text: str, task_id: str | None = None) -> DataFrame:
        """Druid-flavoured SQL: register tables as views + the Druid
        function surface (SQL UDFs, Catalyst-inlined), rewrite the
        aggregate-layer names, then let Spark SQL run it (SURVEY §3.1 —
        steps 2-8 are Catalyst built-ins). INSERT INTO / REPLACE INTO ...
        PARTITIONED BY statements route to the ingestion writer
        (DruidSqlInsert/DruidSqlReplace — SURVEY §3.3)."""
        from druid_spark.ingest.sql_ingest import (rewrite_extern,
                                                   run_export_sql)
        # Multi-statement SET context (SqlStatementFactory /
        # testMultiStatementSetsContext): leading `SET k = v;`
        # statements become query context for the trailing SELECT.
        # Honored key: useApproximateCountDistinct (flips the
        # exact/approx compile mode per statement); other keys are
        # accepted and ignored like unknown context fields. Values must
        # be literals (the reference errors on non-literal SETs).
        set_ctx: dict[str, str] = {}
        sm = _re.match(r"\s*((?:SET\s+[\w.]+\s*=\s*[^;]+;\s*)+)(.*)$",
                       text, _re.S | _re.I)
        if sm:
            for kv in _re.findall(r"SET\s+([\w.]+)\s*=\s*([^;]+);",
                                  sm.group(1), _re.I):
                set_ctx[kv[0]] = kv[1].strip().strip("'\"")
            text = sm.group(2)
        # Dotted system-schema names, exactly as a Druid client writes
        # them (SystemSchema.java / InformationSchema.java): rewrite
        # sys.<table> / INFORMATION_SCHEMA.<table> to the engine's flat
        # temp-view names and (re)build the views so they are always
        # queryable without an explicit create_system_views() call.
        if _SYS_DOT_RE.search(text) or _INFO_DOT_RE.search(text):
            self.create_system_views()
            text = _sub_outside_strings(text, [
                (_SYS_DOT_RE,
                 lambda g: "sys_" + g.group(1).lower()),
                (_INFO_DOT_RE,
                 lambda g: "information_schema_" + g.group(1).lower())])
        # SET sqlCurrentTimestamp = '...' (PlannerContext.java — the
        # reference pins CURRENT_TIMESTAMP/CURRENT_DATE per statement
        # so dashboard queries replay reproducibly; every quidem golden
        # runs under a pinned value)
        if set_ctx.get("sqlCurrentTimestamp"):
            from druid_spark.granularity import parse_iso_ts
            now = parse_iso_ts(set_ctx["sqlCurrentTimestamp"])
            text = _sub_outside_strings(text, [
                (_CURRENT_TS_RE,
                 lambda g: f"TIMESTAMP '{now:%Y-%m-%d %H:%M:%S}'"),
                (_CURRENT_DATE_RE,
                 lambda g: f"DATE '{now:%Y-%m-%d}'")])
        # lookup.<name> schema tables (LookupSchema.java): register the
        # (k, v) view for each referenced lookup, then flatten the
        # dotted name. Lookup content changes bump catalog.version, so
        # prepared plans over old views can't serve.
        if _LOOKUP_DOT_RE.search(text):
            known = self.catalog.lookups
            for name in set(_LOOKUP_DOT_RE.findall(text)):
                if name in known:
                    self.catalog.lookup_df(name).createOrReplaceTempView(
                        f"__lookup_tbl_{name}")
            # in table position with no alias of its own, alias the
            # view AS the bare lookup name — the reference resolves
            # `lookyloo.k` column refs against the schema-qualified
            # table (CalciteJoinQueryTest lookup joins)
            kw = ("ON|USING|WHERE|GROUP|ORDER|HAVING|LIMIT|LEFT|RIGHT|"
                  "INNER|FULL|CROSS|JOIN|UNION|INTERSECT|EXCEPT|OFFSET|AS")
            text = _sub_outside_strings(text, [
                (_re.compile(
                    r"(?is)\b(FROM\s+|JOIN\s+|,\s*)lookup\.([A-Za-z_]\w*)"
                    # \b pins the WHOLE name: backtracking must not
                    # shorten it to satisfy the no-alias lookahead
                    r"\b(?!\s+(?:AS\s+)?(?!(?:" + kw + r")\b)\w+)"
                    r"(?!\s*\.)"),
                 lambda g: f"{g.group(1)}__lookup_tbl_{g.group(2)} "
                           f"{g.group(2)}")])
            text = _sub_outside_strings(text, [
                (_LOOKUP_DOT_RE, lambda g: "__lookup_tbl_" + g.group(1))])
        m = _EXPLAIN_RE.match(text)
        if m:
            return self._explain(m.group("q"))
        views: list[str] = []
        if "EXTERN" in text.upper():
            exported = run_export_sql(self, text)
            if exported is not None:
                return exported
            text, views = rewrite_extern(self, text)
        try:
            return self._statement(text, set_ctx, task_id)
        finally:
            for view in views:
                self.spark.catalog.dropTempView(view)

    def _statement(self, text: str, set_ctx: dict[str, str],
                   task_id: str | None) -> DataFrame:
        """sql() of one statement, its context and EXTERN sources
        resolved: an INSERT/REPLACE runs, a query is analyzed."""
        from druid_spark.functions.register import register_druid_functions
        from druid_spark.functions.sqlshim import rewrite_druid_sql
        from druid_spark.ingest.sql_ingest import (parse_ingest_sql,
                                                   run_ingest_sql)
        stmt = parse_ingest_sql(text)
        if stmt is not None:
            return run_ingest_sql(self, stmt, task_id=task_id)
        if not getattr(self, "_fns_registered", False):
            register_druid_functions(self.spark)
            self._fns_registered = True
        self._register_sql_lookups()
        # Key on registration serials read BEFORE the views refresh: a
        # racing registration then gives an older key newer data, never
        # the reverse.
        serials = (self.catalog.serials()
                   if set_ctx.get("useResultCache", "").lower() == "true"
                   else None)
        # Re-create temp views only when the catalog changed OR another
        # engine on the same session registered views last (several
        # engines — e.g. one per sf_dir — share the view namespace).
        stamp = (self._serial, self.catalog.version)
        with _SQL_VIEWS_LOCK:
            if _SQL_VIEWS_STAMP.get(self.spark) != stamp:
                for name in self.catalog.tables():
                    try:
                        # the whole-table scan: one partition when small
                        df = self.catalog.scan(name)
                    except Exception:
                        # a bad registration (missing/corrupt path) must
                        # not take down SQL over every OTHER datasource;
                        # querying the bad table itself still surfaces the
                        # real error via catalog.scan()
                        continue
                    if _IDENT_RE.fullmatch(name):
                        df.createOrReplaceTempView(name)
                    else:
                        # Druid datasource names are arbitrary strings
                        # ('web-events'); createOrReplaceTempView rejects
                        # non-identifiers, but backticked DDL over a mangled
                        # alias makes them addressable as `name` in SQL
                        mangled = "__ds_" + _re.sub(r"\W", "_", name)
                        df.createOrReplaceTempView(mangled)
                        self.spark.sql(
                            f"CREATE OR REPLACE TEMPORARY VIEW "
                            f"`{name}` AS SELECT * FROM {mangled}")
                _SQL_VIEWS_STAMP[self.spark] = stamp
        exact = self.exact_approx
        if "useApproximateCountDistinct" in set_ctx:
            exact = set_ctx["useApproximateCountDistinct"].lower() != "true"
        if "APPEND" in text.upper():
            text = self._rewrite_table_append(text)
        # unambiguous SCALAR column names across registered tables:
        # Druid's array/MV family auto-wraps string scalars as
        # 1-element MVDs, which the rewriter can only do knowing the
        # column isn't already an array (qaUnnest array_length(c_long))
        from druid_spark.security import sql_resources
        ref_tables = {n for rt, n, _a in sql_resources(
            self.catalog.tables(), text) if rt == "DATASOURCE"}
        scalar_cols, array_cols, array_elem, scalar_types = \
            self._scalar_array_cols(ref_tables or None)
        # the json_columns()-derived hint sets scope to the query's
        # referenced tables the same way _scalar_array_cols does — an
        # unrelated table's same-named MVD/COMPLEX column must not
        # drive the MVD explode or COMPLEX rejection rewrites for a
        # scalar column of the referenced table
        _jc_by_table = self.catalog.json_columns()
        _known = set(self.catalog.tables())
        if ref_tables and ref_tables & _known:
            _jc_by_table = {t: cols for t, cols in _jc_by_table.items()
                            if t in ref_tables}
        json_cols = {c for cols in _jc_by_table.values()
                     for c, ty in cols.items()
                     if ty not in ("MVD", "AUTO")}
        mvd_cols = {c for cols in _jc_by_table.values()
                    for c, ty in cols.items() if ty == "MVD"}
        # schema-discovered ("auto") scalar columns: variant-capable,
        # so MV functions stringify them instead of nulling like a
        # DECLARED numeric dim
        auto_scalars = {c for cols in _jc_by_table.values()
                        for c, ty in cols.items() if ty == "AUTO"}
        # REAL typed arrays (not MVDs): numeric/bool element types can
        # never be MVDs (MVDs are VARCHAR), plus variant arrays the
        # catalog marked "ARRAY". Scalar string functions and IN over
        # these reject like the reference's Calcite validator; string-
        # element arrays stay ambiguous with MVDs (both store as
        # array<string>) and are deliberately not guarded.
        real_arrays = {c for c, et in array_elem.items()
                       if et and not et.split("(")[0] in
                       ("string", "varchar", "char")}
        real_arrays |= {c for jc in _jc_by_table.values()
                        for c, ty in jc.items() if ty == "ARRAY"}
        final = rewrite_druid_sql(
            text, exact=exact, tz=set_ctx.get("sqlTimeZone", "UTC"),
            # extendedFilteredSumRewrite context flag (filtered_sum.iq
            # !set): false keeps SUM(CASE..ELSE 0) un-filtered (0 for
            # a no-match group instead of NULL)
            filtered_sum_rewrite=set_ctx.get(
                "extendedFilteredSumRewrite", "true").lower()
                != "false",
            default_nominal_entries=self.sketch_default_nominal_entries,
            scalar_cols=scalar_cols - array_cols, json_cols=json_cols,
            array_elem=array_elem, scalar_types=scalar_types,
            real_array_cols=real_arrays, mvd_cols=mvd_cols,
            variant_array_cols={
                c for cols in _jc_by_table.values()
                for c, ty in cols.items() if ty == "ARRAY"},
            hllc_parity=self.hyperunique_parity,
            auto_scalar_cols=auto_scalars,
            # context.decoupledUnnestFilterCollapse (default off):
            # opt-in reproduction of the reference's decoupled-planner
            # unnest virtual-column naming collision (see
            # sqlshim._decoupled_unnest_filter_collapse)
            unnest_filter_collapse=set_ctx.get(
                "decoupledUnnestFilterCollapse", "").lower() == "true",
            # context.strictWindowFrames (default off): refuse the
            # window-frame shapes the reference refuses
            # (DruidSqlValidator.java:138-170) instead of answering
            # them as a capability superset
            strict_window_frames=set_ctx.get(
                "strictWindowFrames", "").lower() == "true",
            # ordered per-table column lists for the self-join star
            # expansion (Calcite's 0-suffix duplicate naming)
            table_columns={
                t: [n for n, _ty in cols]
                for t, cols in self._col_kind_cache[1].items()
                if not ref_tables or t in ref_tables},
            # typed per-table map for the UNION branch alignment
            # (MVD tags override the storage type)
            table_col_types={
                t: {n: ("MVD" if _jc_by_table.get(t, {}).get(n)
                        == "MVD" else ty) for n, ty in cols}
                for t, cols in self._col_kind_cache[1].items()
                if not ref_tables or t in ref_tables},
            # DECLARED COMPLEX<json> dims reject LIKE (Calcite); a
            # discovery-stored json TEXT column ("JSON_TEXT" hint)
            # stays LIKE-able (qaJsonCols ingest_schmless I14-I17)
            declared_json_cols={
                c for cols in _jc_by_table.values()
                for c, ty in cols.items() if ty == "COMPLEX<json>"})
        # an EXTERN view lives for one statement: its plan never repeats
        if _EXTERN_VIEW_RE.search(final):
            return self._run_sql(final)
        # `SET useResultCache = true;` — the SQL spelling of the
        # result-level cache (ResultLevelCachingQueryRunner serves SQL
        # too), keyed on the rewritten statement + whole-table
        # fingerprints, so any referenced table's change invalidates.
        if serials is not None:
            return self._cached_result(
                f"sql||{final}||exact={exact}||"
                f"dne={self.sketch_default_nominal_entries}||"
                + ";".join(f"{n}={serials.get(n, 0)}"
                           for n in sorted(ref_tables)),
                lambda: self._run_sql(final))
        # System-schema views (sys.tasks, sys.supervisors, ...) mutate
        # without a catalog bump — their statements always re-analyze.
        if _re.search(r"\b(?:sys|information_schema)_\w+", final):
            return self.spark.sql(final)
        # catalog.version (read before the view refresh) covers lookup
        # re-registration (LOOKUP's SQL UDF body inlines its content) and
        # every table registration, appends included; the files a pruned
        # scan reads follow from the statement and the registrations.
        return self._plan_cache.get_or_build(
            f"plansql||{final}||exact={exact}||cv={stamp[1]}",
            lambda: self._run_sql(final))

    def _run_sql(self, text: str) -> DataFrame:
        """spark.sql(text), reading each table whose `__time` the WHERE
        clause bounds through Catalog.scan: the table's name gives way
        to the catalog's view over the pruned scan."""
        lifts = lift_time_bounds(text, self.catalog.tables())
        if not lifts:
            return self.spark.sql(text)
        with self.catalog.scan_views() as bind:
            for lift in sorted(lifts, key=lambda lift: -lift.span[0]):
                view = bind(lift.table, [lift.range])
                if view is not None:
                    a, b = lift.span
                    text = (text[:a] + view
                            + ("" if lift.aliased else " AS " + text[a:b])
                            + text[b:])
            return self.spark.sql(text)

    def _scalar_array_cols(self, tables: set | None = None
                           ) -> tuple[set, set, dict, dict]:
        """Column-name → scalar/array classification merged over
        `tables` (default: every registered table), with the per-table
        schemas cached per catalog version.  Scoping to the tables a
        query actually references keeps an unrelated table's
        same-named numeric column from polluting the TIME_*
        numeric-argument guard (a false rejection, not validation).
        Uses catalog.schema() (footer-only for pending tables) so the
        SQL execute path never force-materializes lazily-registered
        parquet tables, and a bad registration is skipped per-table
        instead of aborting the scan (which used to silently disable
        the scalar auto-wrap for ALL tables and re-attempt the failed
        read on every query)."""
        cached = getattr(self, "_col_kind_cache", None)
        if cached is None or cached[0] != self.catalog.version:
            per: dict = {}
            for t in self.catalog.tables():
                try:
                    fields = self.catalog.schema(t).fields
                except Exception:
                    continue
                per[t] = [(f.name, f.dataType.simpleString())
                          for f in fields]
            cached = (self.catalog.version, per)
            self._col_kind_cache = cached
        per = cached[1]
        names = (per.keys() if tables is None
                 else [t for t in tables if t in per]) or per.keys()
        scalar: set = set()
        arr: set = set()
        elem: dict = {}
        stypes: dict = {}
        ambiguous: set = set()
        s_ambiguous: set = set()
        for t in names:
            for cname, s in per[t]:
                if s.startswith("array"):
                    arr.add(cname)
                    # element type for the cross-type comparison
                    # coercion; names with conflicting element types
                    # across tables are dropped (ambiguous)
                    et = s[6:-1] if s.startswith("array<") else ""
                    if elem.get(cname, et) != et:
                        ambiguous.add(cname)
                    elem[cname] = et
                else:
                    scalar.add(cname)
                    # scalar type map (the TIME_* numeric-argument
                    # rejection); ambiguous names dropped
                    if stypes.get(cname, s) != s:
                        s_ambiguous.add(cname)
                    stypes[cname] = s
        for a in ambiguous:
            elem.pop(a, None)
        for a in s_ambiguous:
            stypes.pop(a, None)
        return scalar, arr, elem, stypes

    def _rewrite_table_append(self, text: str) -> str:
        """TABLE(APPEND('ds1', 'ds2', ...)) → a UNION ALL subquery
        over the merged schema (sql/calcite/external/
        TableAppendMacro.java / CalciteTableAppendTest.java): column
        set is the ordered union across datasources, first-seen type
        wins (others cast), missing columns pad with typed NULLs.
        Catalog datasources only; unknown names raise like the
        reference's 'no table found' planning error."""
        pat = _re.compile(r"\bTABLE\s*\(\s*APPEND\s*\(", _re.IGNORECASE)
        while True:
            m = pat.search(text)
            if not m:
                return text
            depth, i = 2, m.end()
            while depth and i < len(text):
                if text[i] == "(":
                    depth += 1
                elif text[i] == ")":
                    depth -= 1
                i += 1
            # i is one past TABLE's closer; APPEND's closer is the
            # last ')' before it (args are quoted names, no parens)
            inner = text[m.end():text.rindex(")", m.end(), i - 1)]
            names = [a.strip().strip("'\"")
                     for a in inner.split(",") if a.strip()]
            if not names:
                raise ValueError("APPEND() needs at least one datasource")
            known = self.catalog.tables()
            for n in names:
                if n not in known:
                    raise KeyError(f"APPEND: unknown datasource {n!r}")
            merged: dict[str, str] = {}
            schemas = {}
            for n in names:
                fields = {f.name: f.dataType.simpleString()
                          for f in self.catalog.table(n).schema.fields}
                schemas[n] = fields
                for col, t in fields.items():
                    merged[col] = (_append_widen(merged[col], t)
                                   if col in merged else t)
            selects = []
            for n in names:
                cols = []
                for col, t in merged.items():
                    if col not in schemas[n]:
                        cols.append(f"CAST(NULL AS {t}) AS `{col}`")
                    elif schemas[n][col] != t:
                        cols.append(f"CAST(`{col}` AS {t}) AS `{col}`")
                    else:
                        cols.append(f"`{col}`")
                selects.append(f"SELECT {', '.join(cols)} FROM `{n}`")
            text = (text[:m.start()]
                    + "(" + " UNION ALL ".join(selects) + ")"
                    + text[i:])

    @staticmethod
    def _table_word_re(t: str):
        return _re.compile(rf"\b{_re.escape(t)}\b", _re.IGNORECASE)

    def _explain(self, inner: str) -> DataFrame:
        """Druid SQL `EXPLAIN PLAN FOR <query>`
        (sql/calcite/planner/DruidPlanner.java explain path;
        CalciteQueryTest testExplain*): one row with the physical PLAN,
        RESOURCES (tables read, as Druid reports read-resources), and
        ATTRIBUTES (statement type). The plan text is Spark's formatted
        physical plan — the honest analog of Druid's native-query JSON.
        EXPLAIN of an INSERT/REPLACE plans the SELECT and reports the
        ingest attributes WITHOUT executing (the reference explains
        the ingest plan; engine.sql would otherwise run it)."""
        from druid_spark.ingest.sql_ingest import parse_ingest_sql
        stmt = parse_ingest_sql(inner)
        attrs = '{"statementType": "SELECT"}'
        plan_text = inner
        if stmt is not None:
            import json as _json
            attrs = _json.dumps({
                "statementType": stmt.verb,
                "targetDataSource": stmt.table,
                "partitionedBy": stmt.granularity})
            plan_text = stmt.select
        df = self.sql(plan_text)
        plan = df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution
            .ExplainMode.fromString("formatted"))
        tables = sorted(t for t in self.catalog.tables()
                        if self._table_word_re(t).search(plan_text))
        resources = "[" + ", ".join(
            '{"name": "%s", "type": "DATASOURCE"}' % t for t in tables) + "]"
        return self.spark.createDataFrame(
            [(plan, resources, attrs)],
            ["PLAN", "RESOURCES", "ATTRIBUTES"])

    # Above this many entries, a lookup's map-literal arm would bloat the
    # generated function text linearly (a 100k-entry lookup is a multi-MB
    # SQL definition plus a driver-side parse) — that lookup's arm becomes
    # a MAX() correlated subquery over a temp view instead, which Catalyst
    # de-correlates into a broadcast hash join (asserted in
    # tests/test_sql_layer.py): the per-row hash-map probe Druid's
    # broadcast LookupExtractor does natively.
    SQL_LOOKUP_INLINE_MAX = 10_000

    def _register_sql_lookups(self) -> None:
        """SQL LOOKUP(expr, 'name') (QueryLookupOperatorConversion):
        generated as a Catalyst-inlined SQL UDF dispatching over the
        registered lookups — small maps as map literals (the
        broadcast-map-literal plan Druid uses), large maps as
        broadcast-joined temp views (see SQL_LOOKUP_INLINE_MAX).
        Re-registered when the lookup registry changes."""
        lookups = self.catalog.lookups
        # The LOOKUP temp function is SESSION-wide: stamp per session
        # (engine serial + registry content) like _SQL_VIEWS_STAMP, so
        # a second engine on the same session re-registers instead of
        # silently serving the other engine's arms.
        key = (self._serial, hash(tuple(sorted(
            (n, len(m), hash(tuple(sorted(m.items()))))
            for n, m in lookups.items()))))
        if _SQL_LOOKUPS_STAMP.get(self.spark) == key:
            return
        _SQL_LOOKUPS_STAMP[self.spark] = key
        if not lookups:
            return
        def q(s: str) -> str:
            # SQL string literal: double embedded single quotes
            return "'" + str(s).replace("'", "''") + "'"

        arms = []
        for name, mapping in lookups.items():
            if len(mapping) > self.SQL_LOOKUP_INLINE_MAX:
                view = self._lookup_view(name)
                # MAX over <=1 matched row == the value (registry keys are
                # unique); the aggregate form is what lets Catalyst plan
                # an equi LeftOuter join (a plain scalar subquery plans a
                # LeftSingle BroadcastNestedLoopJoin — quadratic)
                arms.append(f"WHEN {q(name)} THEN (SELECT MAX(l.v) "
                            f"FROM {view} l WHERE l.k = x)")
            else:
                pairs = ", ".join(
                    f"{q(k)}, {q(v)}" for k, v in mapping.items())
                arms.append(
                    f"WHEN {q(name)} THEN element_at(map({pairs}), x)")
        body = "CASE lk " + " ".join(arms) + " END"
        self.spark.sql(
            "CREATE OR REPLACE TEMPORARY FUNCTION LOOKUP(x STRING, lk STRING) "
            f"RETURNS STRING RETURN {body}")

    def _lookup_view(self, name: str) -> str:
        """Register lookup `name` as a (k, v) temp view; deterministic
        sanitized view name."""
        import hashlib
        safe = _re.sub(r"[^A-Za-z0-9_]", "_", name)
        view = (f"__druid_lookup_{safe}_"
                f"{hashlib.md5(name.encode()).hexdigest()[:6]}")
        self.catalog.lookup_df(name).createOrReplaceTempView(view)
        return view

    def sql_expr(self, text: str) -> Column:
        """a scalar SQL predicate/expression with Druid functions available."""
        if not getattr(self, "_fns_registered", False):
            from druid_spark.functions.register import register_druid_functions
            register_druid_functions(self.spark)
            self._fns_registered = True
        return F.expr(text)

    def table_service(self):
        """lazily-created warehouse for SQL ingestion (defaults under
        spark-warehouse/druid)."""
        if not hasattr(self, "_table_service"):
            from druid_spark.ingest.batch import TableService
            import os
            base = getattr(self, "warehouse_dir", None) or os.path.join(
                os.getcwd(), "spark-warehouse", "druid")
            self._table_service = TableService(self.spark, base)
        return self._table_service

    def create_system_views(self) -> None:
        """INFORMATION_SCHEMA / sys analogs
        (sql/calcite/schema/InformationSchema.java, SystemSchema.java:105)."""
        def druid_data_type(f, json_cols):
            """Calcite-facing DATA_TYPE the reference publishes
            (InformationSchema.java COLUMNS: RelDataType SqlTypeName —
            VARCHAR/BIGINT/FLOAT/DOUBLE/TIMESTAMP/ARRAY/COMPLEX<json>;
            Druid has no 8/16/32-bit ints or booleans)."""
            if f.name in json_cols:
                # the MVD hint is internal — MVDs publish as VARCHAR
                if json_cols[f.name] != "MVD":
                    return json_cols[f.name]
                return "VARCHAR"
            s = f.dataType.simpleString()
            if s.startswith("array"):
                return "ARRAY"
            return {"string": "VARCHAR", "bigint": "BIGINT",
                    "int": "BIGINT", "smallint": "BIGINT",
                    "tinyint": "BIGINT", "boolean": "BIGINT",
                    "float": "FLOAT", "double": "DOUBLE",
                    "date": "DATE", "binary": "VARBINARY",
                    }.get(s.split("(")[0],
                          "TIMESTAMP" if s.startswith("timestamp")
                          else "DOUBLE" if s.startswith("decimal")
                          else s.upper())

        rows_t, rows_c = [], []
        hints = self.catalog.json_columns()
        for t in self.catalog.tables():
            df = self.catalog.table(t)
            jc = hints.get(t, {})
            rows_t.append(("druid", "druid", t, "TABLE"))
            for i, f in enumerate(df.schema.fields):
                rows_c.append(("druid", "druid", t, f.name, i + 1,
                               druid_data_type(f, jc),
                               "YES" if f.nullable else "NO"))
        self.spark.createDataFrame(
            rows_t, ["TABLE_CATALOG", "TABLE_SCHEMA", "TABLE_NAME",
                     "TABLE_TYPE"]).createOrReplaceTempView(
            "information_schema_tables")
        self.spark.createDataFrame(
            rows_c, ["TABLE_CATALOG", "TABLE_SCHEMA", "TABLE_NAME",
                     "COLUMN_NAME", "ORDINAL_POSITION", "DATA_TYPE",
                     "IS_NULLABLE"]).createOrReplaceTempView(
            "information_schema_columns")
        # INFORMATION_SCHEMA.SCHEMATA (InformationSchema.java:105
        # SCHEMATA_SIGNATURE): the root schemas every Druid deployment
        # exposes
        self.spark.createDataFrame(
            [("druid", s, None, None, None, None, None)
             for s in ("druid", "INFORMATION_SCHEMA", "lookup", "sys")],
            T.StructType([
                T.StructField("CATALOG_NAME", T.StringType()),
                T.StructField("SCHEMA_NAME", T.StringType()),
                T.StructField("SCHEMA_OWNER", T.StringType()),
                T.StructField("DEFAULT_CHARACTER_SET_CATALOG",
                              T.StringType()),
                T.StructField("DEFAULT_CHARACTER_SET_SCHEMA",
                              T.StringType()),
                T.StructField("DEFAULT_CHARACTER_SET_NAME",
                              T.StringType()),
                T.StructField("SQL_PATH", T.StringType()),
            ])).createOrReplaceTempView("information_schema_schemata")
        # INFORMATION_SCHEMA.ROUTINES (InformationSchema.java:141
        # ROUTINES_SIGNATURE: one row per operator in the
        # DruidOperatorTable) — here, the engine's registered Druid
        # function surface: the SQL-UDF registry plus the aggregate
        # spellings the shim compiles
        from druid_spark.functions.register import _FUNCS
        routine_rows = [("druid", "INFORMATION_SCHEMA", name.upper(),
                         "FUNCTION", "NO", f"({args})")
                        for name, args, _ret, _body in _FUNCS]
        routine_rows += [
            ("druid", "INFORMATION_SCHEMA", agg, "FUNCTION", "YES",
             None)
            for agg in ("EARLIEST", "LATEST", "EARLIEST_BY",
                        "LATEST_BY", "ANY_VALUE", "APPROX_COUNT_DISTINCT",
                        "APPROX_COUNT_DISTINCT_DS_HLL",
                        "APPROX_COUNT_DISTINCT_DS_THETA",
                        "APPROX_QUANTILE", "APPROX_QUANTILE_DS",
                        "DS_HLL", "DS_THETA", "DS_QUANTILES_SKETCH",
                        "DS_KLL_QUANTILES_SKETCH", "DS_TUPLE_DOUBLES",
                        "STRING_AGG", "LISTAGG", "ARRAY_AGG",
                        "ARRAY_CONCAT_AGG", "BIT_AND", "BIT_OR",
                        "BIT_XOR", "GROUPING", "VAR_POP", "VAR_SAMP",
                        "STDDEV_POP", "STDDEV_SAMP", "BLOOM_FILTER",
                        "TDIGEST_QUANTILE")]
        self.spark.createDataFrame(
            routine_rows,
            T.StructType([
                T.StructField("ROUTINE_CATALOG", T.StringType()),
                T.StructField("ROUTINE_SCHEMA", T.StringType()),
                T.StructField("ROUTINE_NAME", T.StringType()),
                T.StructField("ROUTINE_TYPE", T.StringType()),
                T.StructField("IS_AGGREGATOR", T.StringType()),
                T.StructField("SIGNATURES", T.StringType()),
            ])).createOrReplaceTempView("information_schema_routines")
        full = self.catalog.segments_full()
        if full:
            # SEGMENTS_SIGNATURE subset (SystemSchema.java:105): the
            # single-warehouse engine publishes every segment it has —
            # is_published/is_available are identically 1, nothing is
            # realtime-unpublished or overshadowed after handoff
            self.spark.createDataFrame(
                [(f"{ds}_{start or 'all'}_{pnum}", ds, p, sz, nr,
                  start, end, pnum, ver, 1, 1, 0, 0)
                 for ds, p, sz, nr, start, end, pnum, ver in full],
                T.StructType([
                    T.StructField("segment_id", T.StringType()),
                    T.StructField("datasource", T.StringType()),
                    T.StructField("segment_path", T.StringType()),
                    T.StructField("size", T.LongType()),
                    T.StructField("num_rows", T.LongType()),
                    T.StructField("start", T.StringType()),
                    T.StructField("end", T.StringType()),
                    T.StructField("partition_num", T.LongType()),
                    T.StructField("version", T.StringType()),
                    T.StructField("is_published", T.LongType()),
                    T.StructField("is_available", T.LongType()),
                    T.StructField("is_realtime", T.LongType()),
                    T.StructField("is_overshadowed", T.LongType()),
                ])).createOrReplaceTempView("sys_segments")
        # sys.servers (SystemSchema.java SERVERS_SIGNATURE): this
        # process plays every role — in Spark terms the driver is the
        # broker and the executors are the data servers.
        sc = self.spark.sparkContext
        server = f"local:{sc.applicationId}"
        self.spark.createDataFrame(
            [(server, "localhost", -1, -1,
              "broker_historical", "_default_tier", 0, 0)],
            ["server", "host", "plaintext_port", "tls_port", "server_type",
             "tier", "curr_size", "max_size"]
        ).createOrReplaceTempView("sys_servers")
        # sys.server_segments (SystemSchema SERVER_SEGMENTS): which
        # server serves which segment — single-process: all of them
        self.spark.createDataFrame(
            [(server, f"{s[0]}:{s[1]}") for s in full],
            T.StructType([T.StructField("server", T.StringType()),
                          T.StructField("segment_id", T.StringType())])
        ).createOrReplaceTempView("sys_server_segments")
        # sys.tasks (SystemSchema TASKS signature, reduced): a
        # snapshot of the task registry
        self.spark.createDataFrame(
            [(t["task_id"], t["type"], t["datasource"], t["created_time"],
              t["status"], int(t["duration_ms"] or 0), t["error_msg"])
             for t in self.tasks],
            T.StructType([
                T.StructField("task_id", T.StringType()),
                T.StructField("type", T.StringType()),
                T.StructField("datasource", T.StringType()),
                T.StructField("created_time", T.StringType()),
                T.StructField("status", T.StringType()),
                T.StructField("duration", T.LongType()),
                T.StructField("error_msg", T.StringType()),
            ])).createOrReplaceTempView("sys_tasks")
        # sys.supervisors (SystemSchema SUPERVISOR_SIGNATURE): live
        # state from the streaming-query handles
        from druid_spark.streaming.ingest import SUPERVISORS
        self.spark.createDataFrame(
            [(s["supervisor_id"], s["datasource"], s["source"],
              "SUSPENDED" if s.get("suspended")
              else "RUNNING" if s["query"].isActive else "STOPPED",
              bool(s.get("suspended", False)))
             for s in SUPERVISORS],
            T.StructType([
                T.StructField("supervisor_id", T.StringType()),
                T.StructField("datasource", T.StringType()),
                T.StructField("source", T.StringType()),
                T.StructField("state", T.StringType()),
                T.StructField("suspended", T.BooleanType()),
            ])).createOrReplaceTempView("sys_supervisors")

    def record_task(self, task_id: str, task_type: str,
                    datasource: str | None, status: str,
                    duration_ms: float = 0.0,
                    error_msg: str | None = None) -> None:
        """Insert or update a sys.tasks row (TaskStorage analog: latest
        status wins per task_id)."""
        self.tasks.record(task_id, task_type, datasource, status,
                          duration_ms, error_msg)

    # ---------------------------------------------------- datasources
    def resolve(self, ds: Any, ctx: dict | None = None,
                ranges=None) -> DataFrame:
        """Datasource composition — processing/.../query/DataSource.java:41-53
        (table | union | query | join | lookup | inline | unnest | filter |
        restrict | globalTable). `ctx` is the query context (skewHint
        reaches the join compiler through it). `ranges` are the query's
        intervals as Catalog.scan takes them: they prune every table
        whose `__time` the result keeps — union branches and the bases
        of a join's left side, filter, restrict and unnest — and the
        caller must filter the result on them."""
        if isinstance(ds, str):
            return self.catalog.scan(ds, ranges)
        t = ds["type"]
        if t in ("table", "globalTable"):
            return self.catalog.scan(ds["name"], ranges)
        if t == "union":
            dfs = [self.resolve(d, ctx, ranges) for d in ds["dataSources"]]
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d, allowMissingColumns=True)
            return out
        if t == "query":
            return self.query(ds["query"])
        if t == "lookup":
            return self.catalog.lookup_df(ds["lookup"])
        if t == "inline":
            names = ds["columnNames"]
            rows = [tuple(r) for r in ds["rows"]]
            return self.spark.createDataFrame(rows, names)
        if t == "filter":
            base = self.resolve(ds["base"], ctx, ranges)
            fc = FilterCompiler(base, qcol, self.catalog.lookups)
            return base.where(fc.compile(ds["filter"]))
        if t == "restrict":
            # RestrictedDataSource + Policy (policy/Policy.java:36-37):
            # "row" applies a row-filter (RowFilterPolicy.java:62 ANDs it
            # into the cursor spec); "noRestriction" is a passthrough.
            base = self.resolve(ds["base"], ctx, ranges)
            pol = ds.get("policy") or {}
            if pol.get("type") == "row":
                fc = FilterCompiler(base, qcol, self.catalog.lookups)
                return base.where(fc.compile(pol["rowFilter"]))
            return base
        if t == "unnest":
            base = self.resolve(ds["base"], ctx, ranges)
            vc = ds["virtualColumn"]
            src = compile_expr(vc["expression"], qcol, self.catalog.lookups)
            out = base.withColumn(vc["name"], F.explode(src))
            if ds.get("unnestFilter"):
                fc = FilterCompiler(out, qcol, self.catalog.lookups)
                out = out.where(fc.compile(ds["unnestFilter"]))
            return out
        if t == "join":
            return self._join(ds, ctx, ranges)
        raise NotImplementedError(f"datasource type {t}")

    def _join(self, ds: dict, ctx: dict | None = None,
              ranges=None) -> DataFrame:
        """Join datasource (processing/.../query/JoinDataSource.java:91).
        The right side is broadcast in the reference (lookup/inline/
        subquery); we hint broadcast() for those shapes and let AQE
        handle the rest. Condition is a Druid expression whose
        right-side refs carry rightPrefix (JoinConditionAnalysis.java:53
        — equi-conditions on the right).

        context.skewHint (engine extension): a truthy hint, optionally
        {"salts": N}, salts the left (fact) side of an equi-join so one
        hot key spreads across N sub-keys instead of serializing a
        single reducer — AQE's skew split handles moderate skew, the
        salt arm handles the extreme regime (see skew.py). Falls back
        to the plain join for non-equi conditions, outer joins, and
        broadcast-shaped right sides (broadcast never skews).

        context.detectSkew (engine extension): opt-in auto-detection —
        optionally {"threshold": frac, "salts": N} — probes the left
        side's join key with a one-pass freqItems summary and takes
        the salt arm only when some key exceeds the threshold share
        (default 0.2). skewHint wins when both are set."""
        left = self.resolve(ds["left"], ctx, ranges)
        right = self.resolve(ds["right"], ctx)
        prefix = ds.get("rightPrefix", "j0.")
        for c in right.columns:
            right = right.withColumnRenamed(c, prefix + c)
        rtype = ds["right"]["type"] if isinstance(ds["right"], dict) else "table"
        broadcastable = rtype in ("lookup", "inline", "query", "globalTable")
        how = ds.get("joinType", "INNER").lower()
        hint = (ctx or {}).get("skewHint")
        detect = (ctx or {}).get("detectSkew")
        if (hint or detect) and not broadcastable \
                and how in ("inner", "left"):
            pairs = self._equi_pairs(ds["condition"], left, right)
            if pairs and not hint and detect:
                # opt-in auto-detection: one shuffle-free pass over the
                # pruned key column (freqItems' streaming summary) —
                # any key above the support threshold routes to the
                # salt arm. False positives just salt a uniform join
                # (correct, mildly wasteful); users who already know
                # the hot key should pass skewHint and skip the scan.
                support = (detect.get("threshold", 0.2)
                           if isinstance(detect, dict) else 0.2)
                key = F.concat_ws(
                    "\x01", *[F.col(a).cast("string") for a, _ in pairs])
                hot = left.select(key.alias("__k")) \
                    .stat.freqItems(["__k"], float(support)) \
                    .collect()[0][0]
                hint = {"salts": (detect.get("salts", 16)
                                  if isinstance(detect, dict) else 16)} \
                    if hot else None
            if pairs and hint:
                from druid_spark.skew import salted_join_pairs
                n = hint.get("salts", 16) if isinstance(hint, dict) else 16
                return salted_join_pairs(left, right, pairs,
                                         n_salts=int(n), how=how)
        if broadcastable:
            right = F.broadcast(right)
        cond = self._join_condition(ds["condition"], left, right)
        return left.join(right, cond, how)

    def _equi_pairs(self, condition: str, left: DataFrame,
                    right: DataFrame) -> list[tuple[str, str]] | None:
        """(left_col, right_col) pairs when the condition is a pure
        conjunction of column equalities (JoinConditionAnalysis's
        equi-condition decomposition); None otherwise."""
        pairs: list[tuple[str, str]] = []

        def walk(ast) -> bool:
            if isinstance(ast, Bin) and ast.op == "&&":
                return walk(ast.l) and walk(ast.r)
            if isinstance(ast, Bin) and ast.op == "==" \
                    and isinstance(ast.l, Ref) and isinstance(ast.r, Ref):
                a, b = ast.l.name, ast.r.name
                if a in left.columns and b in right.columns:
                    pairs.append((a, b))
                    return True
                if b in left.columns and a in right.columns:
                    pairs.append((b, a))
                    return True
            return False

        return pairs if walk(parse(condition)) and pairs else None

    def _join_condition(self, condition: str, left: DataFrame,
                        right: DataFrame) -> Column:
        ast = parse(condition)

        def res(name: str) -> Column:
            if name in right.columns:
                return right["`" + name + "`"] if "." in name else right[name]
            return left["`" + name + "`"] if "." in name else left[name]

        return Compiler(res, self.catalog.lookups).compile(ast).cast("boolean")

    # ---------------------------------------------------- shared compile steps
    def prepare(self, q: dict) -> QueryContext:
        """Resolve datasource, compile virtual columns, apply intervals +
        filter. The intervals pick the files each table scan reads
        (Catalog.scan, the analog of Druid's segment interval pruning in
        CachingClusteredClient.computeSegmentsToQuery:430), then filter
        the rows on `__time`."""
        ivs = q.get("intervals")
        pred = self.intervals_predicate(ivs)
        df = self.resolve(q["dataSource"], q.get("context"),
                          interval_ranges(ivs) if pred is not None else None)
        vcols = virtual_columns(q.get("virtualColumns"), qcol, self.catalog.lookups)
        ctx = QueryContext(df, vcols, self.catalog.lookups)
        if pred is not None:
            df = df.where(pred)
        if q.get("filter"):
            fc = FilterCompiler(df, ctx.resolver(), self.catalog.lookups)
            df = df.where(fc.compile(q["filter"]))
        # hide the storage partition column from results (it exists only
        # for pruning; dropped after the predicates bind so Catalyst
        # still pushes the partition filter to the scan)
        if isinstance(q["dataSource"], str):
            part = self.catalog.partitioning(q["dataSource"])
            if part and part[0] in df.columns:
                df = df.drop(part[0])
        ctx.df = df
        return ctx

    @staticmethod
    def intervals_predicate(intervals) -> Column | None:
        if not intervals:
            return None
        if isinstance(intervals, dict):  # {"type":"intervals","intervals":[...]}
            intervals = intervals["intervals"]
        from druid_spark.granularity import parse_iso_interval
        out = None
        for iv in intervals:
            a, b = parse_iso_interval(iv)
            p = (
                (F.col("__time") >= F.to_timestamp(F.lit(a)))
                & (F.col("__time") < F.to_timestamp(F.lit(b)))
            )
            out = p if out is None else (out | p)
        return out


