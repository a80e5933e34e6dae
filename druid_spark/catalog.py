"""Table + lookup registry.

Druid datasources are time-series tables with a mandatory `__time`
column (processing/.../segment/column/ColumnHolder.java:32). We map any
registered table's time column to `__time` (kept alongside the
original name) at registration; tables without a time axis (pure
dimension tables used for joins/lookups) are allowed — Spark has no
mandatory-time constraint and queries that don't touch `__time` work
fine.

Lookups mirror processing/.../query/lookup/LookupExtractor.java:36 —
small key→value maps broadcast to every node. Here: a dict registered
by name; applied either as a map-literal expression (LOOKUP() function,
tiny maps) or as a broadcast-join DataFrame (lookup datasource).
"""

from __future__ import annotations

import hashlib
import os
import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# default time-column mapping for the driver's tables
DEFAULT_TIME_COLUMNS = {
    "events": "ts",
    "orders": "o_orderdate",
    "lineitem": "l_shipdate",
}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _fix_nanos(df: DataFrame, path: str) -> DataFrame:
    """Parquet TIMESTAMP(NANOS) columns are read as long
    (spark.sql.legacy.parquet.nanosAsLong) — convert to TimestampType
    (micros) here so the engine sees real timestamps."""
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa
        schema = pq.read_schema(path)
    except Exception:
        return df
    for field in schema:
        if pa.types.is_timestamp(field.type) and field.type.unit == "ns":
            df = df.withColumn(
                field.name,
                F.timestamp_micros((F.col(field.name) / 1000).cast("long")))
    return df


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP (UTC instant).

    The engine models all time as UTC instants (reference
    processing/.../column/ColumnHolder.java `__time` is millis-UTC). A
    session the engine didn't create may have read parquet with
    `inferTimestampNTZ` on, yielding TIMESTAMP_NTZ columns that break
    `unix_millis`, `session_window` and oracle type parity — normalize
    at registration so no downstream operator ever sees NTZ."""
    from pyspark.sql import types as T
    ntz = [f.name for f in df.schema.fields
           if isinstance(f.dataType, T.TimestampNTZType)]
    for name in ntz:
        df = df.withColumn(name, F.col(name).cast(T.TimestampType()))
    return df


class Catalog:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._tables: dict[str, DataFrame] = {}
        # name -> (path, time_column): registered but not yet read
        self._pending: dict[str, tuple[str, str | None]] = {}
        # name -> column names stored as JSON text (COMPLEX<json>)
        self._json_cols: dict[str, set[str]] = {}
        # lookup registry by tier (LookupCoordinatorResource manages
        # {tier: {name: spec}}; `__default` is the reference's
        # LookupCoordinatorResource DEFAULT_TIER). Non-default tiers
        # resolve under the qualified name "tier/name" everywhere a
        # lookup name is accepted (LOOKUP(), lookup filters/extraction,
        # join datasources).
        self._lookup_tiers: dict[str, dict[str, dict]] = {
            "__default": {}}
        # bumped on any registration; lets the SQL layer skip re-creating
        # temp views when nothing changed (a py4j round trip per table
        # per sql() call otherwise)
        self.version = 0
        self._paths: dict[str, str] = {}  # table -> source path (sys.segments)
        # table -> (partition column, strftime-style date_format pattern):
        # lets the engine derive partition predicates from __time intervals
        # (the segment-timeline interval pruning analog — Catalyst cannot
        # infer __dt from __time on its own)
        self._partitioning: dict[str, tuple[str, str]] = {}
        # table -> registration serial (bumped per register_table and
        # drop_table call): the whole-table snapshot identity that
        # result-cache keys name
        self._reg_serial: dict[str, int] = {}
        # path-backed table -> the files its registered DataFrame reads
        # (inputFiles(), recorded once when the DataFrame is built): lets
        # fingerprint() narrow a partitioned table to the partitions a
        # query touches
        self._files: dict[str, tuple[str, ...]] = {}
        # dropped-but-restorable datasources: name -> (path,
        # time_column, partitioning) — the metadata-store "unused
        # segments" analog behind restore_table()
        self._dropped: dict[str, tuple] = {}

    def set_partitioning(self, name: str, column: str, fmt: str) -> None:
        self._partitioning[name] = (column, fmt)

    def partitioning(self, name: str) -> tuple[str, str] | None:
        return self._partitioning.get(name)

    def source_path(self, name: str) -> str | None:
        return self._paths.get(name)

    def fingerprint(self, name: str,
                    part_ranges: list[tuple[str, str]] | None = None) -> str:
        """Identity of the data a query over `name` reads: the
        registration serial (a registered DataFrame is a fixed file
        snapshot), or, for a partitioned path-backed table, a hash of
        its registered files within the inclusive `part_ranges`."""
        part = self._partitioning.get(name)
        if part and part_ranges is not None:
            self.table(name)  # a pending table records its files here
            files = self._files.get(name)
            if files is not None:
                marker = f"/{part[0]}="
                touched = [
                    f for f in files if marker in f and any(
                        lo <= f.split(marker, 1)[1].split("/", 1)[0] <= hi
                        for lo, hi in part_ranges)]
                return hashlib.blake2b("\n".join(touched).encode(),
                                       digest_size=16).hexdigest()
        return f"reg:{self._reg_serial.get(name, 0)}"

    def register_dir(self, data_dir: str,
                     time_columns: dict[str, str] | None = None) -> None:
        """Register every *.parquet table in a directory (lazy: scans are
        planned, not executed)."""
        tcols = {**DEFAULT_TIME_COLUMNS, **(time_columns or {})}
        for fn in sorted(os.listdir(data_dir)):
            if fn.endswith(".parquet"):
                name = fn[: -len(".parquet")]
                self.register_table(name, os.path.join(data_dir, fn),
                                    time_column=tcols.get(name))

    def register_table(self, name: str, source: str | DataFrame,
                       time_column: str | None = None,
                       source_path: str | None = None,
                       json_columns: list[str] | None = None) -> None:
        # COMPLEX<json> columns are stored as JSON text (our nested-
        # data convention); the hint lets INFORMATION_SCHEMA report
        # the Druid-visible type (InformationSchema.java DATA_TYPE).
        # A dict maps column -> DATA_TYPE ('COMPLEX<json>' or 'ARRAY'
        # for variant-element arrays); a list means COMPLEX<json>.
        self._files.pop(name, None)
        files = None
        if json_columns is not None:
            self._json_cols[name] = (
                dict(json_columns) if isinstance(json_columns, dict)
                else {c: "COMPLEX<json>" for c in json_columns})
        else:
            self._json_cols.pop(name, None)
        if isinstance(source, str):
            # Lazy: defer the parquet read (schema/footer fetch + nanos/
            # NTZ normalization) until first access. Registering a whole
            # directory costs 10 py4j scan plans otherwise — ~3-4 s of
            # engine init for tables a query may never touch.
            self._pending[name] = (source, time_column)
            self._paths[name] = source
            self._tables.pop(name, None)
        else:
            df = source
            if source_path:
                self._paths[name] = source_path
            df = _normalize_ntz(df)
            if (time_column and time_column in df.columns
                    and "__time" not in df.columns):
                df = df.withColumn("__time", F.col(time_column))
            self._pending.pop(name, None)
            self._tables[name] = df
            if source_path:
                files = tuple(sorted(df.inputFiles()))
        # Publish the data and the version plan keys name BEFORE the
        # snapshot identity result keys name (files, serial), which
        # readers take first: a reader that sees the new identity also
        # gets the new data.
        self.version += 1
        if files is not None:
            self._files[name] = files
        self._reg_serial[name] = self._reg_serial.get(name, 0) + 1

    def register_lookup(self, name: str, mapping: dict[str, Any],
                        tier: str = "__default") -> None:
        self._lookup_tiers.setdefault(tier, {})[name] = mapping
        self.version += 1

    def drop_lookup(self, name: str, tier: str = "__default") -> bool:
        d = self._lookup_tiers.get(tier, {})
        if name in d:
            del d[name]
            if not d and tier != "__default":
                del self._lookup_tiers[tier]
            self.version += 1
            return True
        return False

    def lookup_tiers(self) -> list[str]:
        return sorted(self._lookup_tiers)

    def tier_lookups(self, tier: str) -> dict[str, dict] | None:
        """Lookup name → mapping for one tier; None if no such tier."""
        return self._lookup_tiers.get(tier)

    def _materialize(self, name: str) -> DataFrame:
        # read + normalize BEFORE popping _pending: if the read raises
        # (bad/missing path) the registration must survive so the next
        # table() call re-raises the real error instead of a misleading
        # "unknown datasource".
        path, time_column = self._pending[name]
        df = _fix_nanos(self.spark.read.parquet(path), path)
        df = _normalize_ntz(df)
        if (time_column and time_column in df.columns
                and "__time" not in df.columns):
            df = df.withColumn("__time", F.col(time_column))
        self._tables[name] = df
        self._files[name] = tuple(sorted(df.inputFiles()))
        self._pending.pop(name, None)
        return df

    def schema(self, name: str):
        """Schema WITHOUT materializing a lazily-registered table: a
        pending path gets a footer-only read whose DataFrame is
        discarded, so the deferred registration (and its error
        surface on table()) stays intact."""
        if name in self._tables:
            return self._tables[name].schema
        path, time_column = self._pending[name]
        sch = self.spark.read.parquet(path).schema
        if (time_column and time_column in sch.fieldNames()
                and "__time" not in sch.fieldNames()):
            sch = sch.add("__time", sch[time_column].dataType)
        return sch

    def table(self, name: str) -> DataFrame:
        if name in self._pending:
            return self._materialize(name)
        if name not in self._tables:
            raise KeyError(f"unknown datasource {name!r}; "
                           f"have {self.tables()}")
        return self._tables[name]

    def lookup(self, name: str) -> dict:
        return self.lookups[name]

    def lookup_df(self, name: str) -> DataFrame:
        rows = [(str(k), str(v)) for k, v in self.lookup(name).items()]
        return self.spark.createDataFrame(rows, ["k", "v"])

    @property
    def lookups(self) -> dict[str, dict]:
        """Flat resolution view: default-tier lookups under their plain
        name, other tiers under 'tier/name'."""
        out = dict(self._lookup_tiers.get("__default", {}))
        for tier, d in self._lookup_tiers.items():
            if tier == "__default":
                continue
            for n, m in d.items():
                out[f"{tier}/{n}"] = m
        return out

    def tables(self) -> list[str]:
        return sorted(set(self._tables) | set(self._pending))

    def drop_table(self, name: str) -> bool:
        """Unregister a datasource (DatasourcesResource.java
        markAsUnusedAllSegmentsOrKillUnusedSegmentsInInterval analog:
        the table stops resolving; files on disk are untouched —
        reclaiming space is the kill task's job). Returns False if the
        name was unknown."""
        known = name in self._tables or name in self._pending
        # Remember enough to re-enable the datasource later (the
        # reference keeps unused segments in the metadata store;
        # markAsUsed* brings them back — DataSourcesResource.java:206).
        # Only path-backed tables can be restored (a DataFrame
        # registration has no durable source).
        if known and name in self._paths:
            tc = (self._pending.get(name) or (None, None))[1]
            self._dropped[name] = (self._paths[name], tc,
                                   self._partitioning.get(name))
        self._tables.pop(name, None)
        self._pending.pop(name, None)
        self._paths.pop(name, None)
        self._partitioning.pop(name, None)
        self._files.pop(name, None)
        if known:
            self.version += 1
            self._reg_serial[name] = self._reg_serial.get(name, 0) + 1
            # Also drop the SQL temp views engine.sql created for this
            # name (both the direct view and the mangled alias for
            # non-identifier names) — the view-refresh path only
            # createOrReplace's views for CURRENT tables, so without
            # this the dropped datasource keeps resolving in SQL via
            # the stale view, contradicting markAsUnused semantics.
            for view in (f"`{name.replace('`', '')}`",
                         "__ds_" + re.sub(r"\W", "_", name)):
                try:
                    self.spark.sql(f"DROP VIEW IF EXISTS {view}")
                except Exception:
                    pass
        return known

    def restore_table(self, name: str) -> bool:
        """Re-enable a dropped path-backed datasource —
        markAsUsedAllNonOvershadowedSegments analog
        (DataSourcesResource.java:206): re-registers from the
        remembered source path. False when nothing restorable."""
        info = self._dropped.pop(name, None)
        if info is None or name in self._tables or name in self._pending:
            return False
        path, time_column, part = info
        if not os.path.exists(path):
            return False  # killed on disk in the meantime
        self.register_table(name, path, time_column=time_column)
        if part:
            self._partitioning[name] = part
        return True

    def segments(self) -> list[tuple]:
        """(datasource, segment path, size bytes, num rows) per parquet
        file — the sys.segments analog (SystemSchema.java:105). Row counts
        come from parquet footers (no data scan)."""
        out = []
        for name, path in sorted(self._paths.items()):
            files = []
            if os.path.isdir(path):
                for root, _, fns in os.walk(path):
                    files += [os.path.join(root, f) for f in fns
                              if f.endswith(".parquet")]
            elif path.endswith(".parquet"):
                files = [path]
            for f in sorted(files):
                rows = -1
                try:
                    import pyarrow.parquet as pq
                    rows = pq.read_metadata(f).num_rows
                except Exception:
                    pass
                out.append((name, f, os.path.getsize(f), rows))
        return out

    def segments_full(self) -> list[tuple]:
        """Reference-shaped segment rows (SystemSchema.java:105
        SEGMENTS_SIGNATURE subset): (datasource, segment_path, size,
        num_rows, start, end, partition_num, version). start/end come
        from the `__dt=<bucket>` partition directory (the engine's
        segment-interval layout); partition_num indexes files within
        one interval; version is the file mtime (segment version is a
        timestamp in the reference too). Caveat: WEEK-partitioned
        tables share the day directory format (yyyy-MM-dd, Monday
        buckets), so their rows report day-length intervals — the
        start is always exact."""
        import datetime as _dt
        import re as _re

        _GRAIN = {4: ("%Y", "year"), 7: ("%Y-%m", "month"),
                  10: ("%Y-%m-%d", "day"), 13: ("%Y-%m-%d-%H", "hour")}

        def interval(path: str):
            m = _re.search(r"__dt=([^/]+)", path)
            if not m:
                return None, None
            val = m.group(1)
            spec = _GRAIN.get(len(val))
            if not spec:
                return None, None
            fmt, grain = spec
            try:
                start = _dt.datetime.strptime(val, fmt)
            except ValueError:
                return None, None
            if grain == "hour":
                end = start + _dt.timedelta(hours=1)
            elif grain == "day":
                end = start + _dt.timedelta(days=1)
            elif grain == "month":
                end = (start.replace(day=28) + _dt.timedelta(days=4)) \
                    .replace(day=1)
            else:
                end = start.replace(year=start.year + 1)
            iso = "%Y-%m-%dT%H:%M:%S.000Z"
            return start.strftime(iso), end.strftime(iso)

        out = []
        part_counter: dict[tuple, int] = {}
        for name, f, size, rows in self.segments():
            start, end = interval(f)
            key = (name, start)
            pnum = part_counter.get(key, 0)
            part_counter[key] = pnum + 1
            try:
                version = _dt.datetime.utcfromtimestamp(
                    os.path.getmtime(f)).strftime("%Y-%m-%dT%H:%M:%SZ")
            except OSError:
                version = None
            out.append((name, f, size, rows, start, end, pnum, version))
        return out
