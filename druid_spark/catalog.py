"""Table + lookup registry.

Druid datasources are time-series tables with a mandatory `__time`
column (processing/.../segment/column/ColumnHolder.java:32). We map any
registered table's time column to `__time` (kept alongside the
original name) at registration; tables without a time axis (pure
dimension tables used for joins/lookups) are allowed — Spark has no
mandatory-time constraint and queries that don't touch `__time` work
fine.

Each table is one `_Table` record in one immutable state (version,
{name: record}). Every write replaces the state whole (Catalog._publish)
and every read takes it in one attribute read, as a Druid publish swaps
one VersionedIntervalTimeline.

Lookups mirror processing/.../query/lookup/LookupExtractor.java:36 —
small key→value maps broadcast to every node. Here: a dict registered
by name; applied either as a map-literal expression (LOOKUP() function,
tiny maps) or as a broadcast-join DataFrame (lookup datasource).
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import glob
import hashlib
import itertools
import json
import os
import re
import threading
from collections import deque
from typing import Any, Callable, NamedTuple
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from druid_spark.cache import LockedLRU
from druid_spark.granularity import (chunk_format, chunk_interval,
                                     strftime_format)

# default time-column mapping for the driver's tables
DEFAULT_TIME_COLUMNS = {
    "events": "ts",
    "orders": "o_orderdate",
    "lineitem": "l_shipdate",
}

# Pruned scans kept per (table, registration, file set or partition
# range); re-registering a table drops its entries.
SCAN_CACHE_ENTRIES = 64

# A scan whose files are all local and total less than this many bytes
# is read as one partition (see _sized), and such an input is written by
# one task (TableService.write). Every dashboard and ingest input of
# perfbench is under 14 MB.
ONE_TASK_SCAN_BYTES = 32 << 20

_EPOCH = _dt.datetime(1970, 1, 1)
_US = _dt.timedelta(microseconds=1)
# time ranges are half-open [start, end) pairs of epoch microseconds;
# these stand for an unbounded side
MIN_US, MAX_US = -(1 << 62), 1 << 62
_UNIT_US = {"milliseconds": 1000, "microseconds": 1, "nanoseconds": 0.001}
_DAY_US = 86_400_000_000
_UTC_ZONES = {"UTC", "Etc/UTC", "GMT", "Etc/GMT", "Z", "+00:00", "UCT",
              "Etc/UCT", "Universal", "Etc/Universal", "Zulu", "Etc/Zulu"}


def to_us(t: _dt.datetime) -> int:
    """Epoch microseconds of a naive-UTC or aware datetime."""
    if t.tzinfo is not None:
        t = t.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return (t - _EPOCH) // _US


def interval_ranges(intervals) -> list[tuple[int, int]]:
    """Druid ISO intervals (a list or {"intervals": [...]}) as
    [start, end) epoch-microsecond pairs."""
    from druid_spark.granularity import parse_iso_interval
    if isinstance(intervals, dict):
        intervals = intervals["intervals"]
    out = []
    for iv in intervals:
        a, b = parse_iso_interval(iv)
        out.append((to_us(_dt.datetime.fromisoformat(a)),
                    to_us(_dt.datetime.fromisoformat(b))))
    return out


def _part_ranges(part, ranges) -> list[tuple[str | None, str | None]]:
    """Time ranges as inclusive [lo, hi] partition-value ranges (None:
    unbounded) of a table partitioned as `part` (column, date_format
    pattern, segment granularity). A value is its bucket's start,
    zero-padded, so chronological order is lexicographic order."""
    _col, fmt, grain = part
    py_fmt = strftime_format(fmt)
    lo_ok, hi_ok = to_us(_dt.datetime.min), to_us(_dt.datetime.max)

    def fmt_us(us: int) -> str | None:
        if not lo_ok <= us <= hi_ok:
            return None
        return (_EPOCH + us * _US).strftime(py_fmt)

    def bucket_start(us: int) -> int:
        # a week's value is its Monday's date (1970-01-01 was a Thursday)
        # and a quarter's its first day; formatting floors every other
        # grain to its bucket
        if grain == "week":
            return us - (us // _DAY_US + 3) % 7 * _DAY_US
        if grain == "quarter" and lo_ok <= us <= hi_ok:
            t = _EPOCH + us * _US
            return to_us(_dt.datetime(t.year, (t.month - 1) // 3 * 3 + 1, 1))
        return us

    return [(fmt_us(bucket_start(a)), fmt_us(b - 1)) for a, b in ranges]


def local_sizes(files) -> list[int] | None:
    """Byte sizes of Spark input `files`; None when one is not a local
    (`file:`) file or cannot be sized, and the caller must then assume
    the input is large."""
    out = []
    for f in files:
        if not f.startswith("file:"):
            return None
        try:
            out.append(os.path.getsize(unquote(urlparse(f).path)))
        except OSError:
            return None
    return out


def _utc_session(spark: SparkSession) -> bool:
    """Whether the session reads zone-less timestamps (SQL literals,
    footers stored without UTC adjustment) as UTC, as the timeline
    assumes."""
    return spark.conf.get("spark.sql.session.timeZone") in _UTC_ZONES


def _parquet_time_bounds(path: str, column: str
                         ) -> tuple[int, int, bool] | None:
    """Min and max epoch microseconds of a top-level INT64 timestamp
    column over one local Parquet file's row-group statistics, and
    whether the column is stored UTC-adjusted (else the bounds are
    wall-clock values); None if the column is missing, not a timestamp
    (INT96 included) or lacks statistics. A file with no rows gets an
    empty range."""
    import pyarrow.parquet as pq
    try:
        md = pq.read_metadata(path)
    except Exception:
        return None
    idx = next((i for i in range(md.num_columns)
                if md.schema.column(i).path == column), None)
    if idx is None:
        return None
    col = md.schema.column(idx)
    logical = json.loads(col.logical_type.to_json())
    unit, utc = logical.get("timeUnit"), logical.get("isAdjustedToUTC")
    if col.physical_type != "INT64" or unit not in _UNIT_US:
        return None
    lo, hi = MAX_US, MIN_US
    for rg in range(md.num_row_groups):
        meta = md.row_group(rg)
        if meta.num_rows == 0:
            continue
        st = meta.column(idx).statistics
        if st is None or not st.has_min_max:
            return None
        lo, hi = min(lo, st.min_raw), max(hi, st.max_raw)
    if lo > hi:
        return lo, hi, utc
    # nanos reach the engine through a double division (_fix_nanos):
    # widen by a microsecond either side
    if unit == "nanoseconds":
        return lo // 1000 - 1, hi // 1000 + 1, utc
    return lo * _UNIT_US[unit], hi * _UNIT_US[unit], utc


def _footer_bounds(files, column, known, utc_session) -> tuple | None:
    """Per file (stamp, min, max, UTC-adjusted) of `column` from the
    Parquet footers, reusing `known` entries whose file stamp (size,
    mtime) is unchanged so each footer is read once. None (the timeline
    is unknown) unless every file is a local (`file:`) file in one flat
    directory with usable statistics. Outside a UTC session (see
    _utc_session) wall-clock bounds are unusable too: Spark reads such
    a column in the session's zone."""
    if not column or not files:
        return None
    parents = {f.rsplit("/", 1)[0] for f in files}
    if len(parents) != 1 or "=" in parents.pop().rsplit("/", 1)[-1]:
        return None  # partition directories: rebuilt reads lose them
    out = []
    for f in files:
        if not f.startswith("file:"):
            return None
        local = unquote(urlparse(f).path)
        try:
            st = os.stat(local)
        except OSError:
            return None
        stamp = (st.st_size, st.st_mtime_ns)
        entry = known.get(f)
        if entry is None or entry[0] != stamp:
            b = _parquet_time_bounds(local, column)
            if b is None:
                return None
            entry = (stamp, *b)
        if not (entry[3] or utc_session):
            return None
        out.append(entry)
    return tuple(out)


class _Table(NamedTuple):
    """A table's record: the serial `reg` of the registration that made
    it, its DataFrame `df` (None until a path registration is read),
    whether it is `used` (not dropped), source `path`, `time_column`,
    partitioning `part` (set_partitioning), JSON hints and, once a
    path-backed table is read, its time timeline — the files `df` reads
    (recorded once, with inputFiles()), each file's size when all are
    local (local_sizes), each file's footer time bounds when known (see
    _footer_bounds), the schema of a bare Parquet read (directory
    columns included) and a reader giving `df` over a subset of the
    files. Scans are cut from one _Table, so everything they use
    belongs to the same registration."""
    reg: int
    df: DataFrame | None = None
    path: str | None = None
    time_column: str | None = None
    part: tuple[str, str, str | None] | None = None
    json: dict[str, str] | None = None
    files: tuple[str, ...] | None = None
    sizes: dict[str, int] | None = None
    bounds: tuple | None = None
    schema: StructType | None = None
    read: Callable[[list[str]], DataFrame] | None = None
    used: bool = True


class _State(NamedTuple):
    """What readers see; never mutated once published."""
    version: int
    tables: dict[str, _Table]


# registration serials, unique across tables and catalogs
_REG_SERIALS = itertools.count(1)


class _Scan:
    """A scan-cache entry: a pruned scan and, once a SQL statement has
    bound it, the temp view over it."""

    def __init__(self, df: DataFrame):
        self.df, self.view, self.evicted = df, None, False


_SCAN_VIEWS = itertools.count(1)


def _normalize(df: DataFrame, time_column: str | None,
               nanos_path: str | None = None) -> DataFrame:
    """A registered table's DataFrame from its raw read: nanos and NTZ
    timestamps normalized, the time column aliased as `__time`."""
    if nanos_path:
        df = _fix_nanos(df, nanos_path)
    df = _normalize_ntz(df)
    if (time_column and time_column in df.columns
            and "__time" not in df.columns):
        df = df.withColumn("__time", F.col(time_column))
    return df


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


def _time_source(columns: list[str], df: DataFrame,
                 time_column: str | None) -> str | None:
    """The stored column (among the raw `columns`) that the registered
    `df`'s `__time` reads, if that `__time` is a timestamp (a nanos
    column read from a directory stays a long)."""
    from pyspark.sql import types as T
    if "__time" not in df.columns or not isinstance(
            df.schema["__time"].dataType, T.TimestampType):
        return None
    return "__time" if "__time" in columns else time_column


def _sized(t: _Table, files, df: DataFrame) -> DataFrame:
    """`df`, a scan of record `t` over `files`, as one partition when
    those files are local and total less than ONE_TASK_SCAN_BYTES. A
    one-partition child satisfies every aggregate and sort
    distribution, so a short query plans no exchange and runs as one
    Spark task, where AQE would run each exchange as its own job
    (DataFusion leaves inputs under repartition_file_min_size
    unpartitioned for the same reason). Larger scans, and files that
    are not local, keep the distributed plan."""
    if t.sizes is None or sum(t.sizes[f] for f in files) \
            >= ONE_TASK_SCAN_BYTES:
        return df
    return df.coalesce(1)


def _overlapping(t: _Table, part, ranges) -> tuple | None:
    """The table's files whose time span meets the half-open
    epoch-microsecond `ranges`: by partition value when the table is
    partitioned (`part`), else by footer bounds. None when there is no
    timeline (every file may hold any time)."""
    if t.files is None:
        return None
    if part:
        marker = f"/{part[0]}="
        pr = _part_ranges(part, ranges)
        return tuple(
            f for f in t.files if marker in f and any(
                (lo is None or lo <= v) and (hi is None or v <= hi)
                for v in [f.split(marker, 1)[1].split("/", 1)[0]]
                for lo, hi in pr))
    if t.bounds is None:
        return None
    return tuple(f for f, (_st, lo, hi, _utc) in zip(t.files, t.bounds)
                 if any(lo < b and hi >= a for a, b in ranges))


def _part_predicate(column: str, pr) -> str:
    """SQL text: `column` within one of the inclusive ranges `pr` (one
    parsed string costs a py4j call where Column arithmetic costs one
    per operator). The values are strftime output, digits and dashes."""
    col = "`" + column.replace("`", "``") + "`"
    arms = [" AND ".join([f"{col} >= '{lo}'"] * (lo is not None)
                         + [f"{col} <= '{hi}'"] * (hi is not None))
            for lo, hi in pr]
    return " OR ".join(f"({a})" for a in arms) or "false"


_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _dirs(root: str, path: str) -> list[tuple[str, str]]:
    """The (column, value) directories between table directory `root`
    and the file at local `path`, values with each digit as 0: a
    value's shape decides the type Spark infers for its column."""
    return [(c, re.sub(r"\d", "0", v)) for c, _eq, v in
            (d.partition("=") for d in
             os.path.relpath(path, root).split(os.sep)[:-1])]


def _keeps_schema(old: _Table, path: str, files) -> bool:
    """Whether a re-read of table directory `path` whose listing is
    `files` (input-file URIs) may keep record `old`'s schema instead of
    inferring it again: `old` read the same path, every file it read is
    still listed, and every other file is a local one that Spark wrote
    (its row metadata) with the stored data columns, by name and type in
    order (nullability aside), under directories of the same columns and
    value shapes. Inference could then not come out different."""
    import pyarrow.parquet as pq
    if (old.path != path or not old.files
            or not all(f.startswith("file:") for f in files)):
        return False
    listed = {unquote(urlparse(f).path) for f in files}
    known = {unquote(urlparse(f).path) for f in old.files}
    if not known <= listed:
        return False
    root = os.path.abspath(path)
    layout = _dirs(root, min(known))
    keys = {c for c, _v in layout}
    want = [(f.name, f.dataType.simpleString())
            for f in old.schema.fields if f.name not in keys]
    for f in listed - known:
        if _dirs(root, f) != layout:
            return False
        try:
            row = pq.read_metadata(f).metadata.get(_ROW_METADATA)
            got = StructType.fromJson(json.loads(row))
        except Exception:
            return False  # not Spark's, or unreadable
        if [(c.name, c.dataType.simpleString()) for c in got] != want:
            return False
    return True


def _parquet_files(path: str):
    """The Parquet files of a table path, lazily: the file itself, or
    those under the directory (a glob skips dot-names such as staging
    directories, as Spark does)."""
    if not os.path.isdir(path):
        return iter([path] if path.endswith(".parquet")
                    and os.path.isfile(path) else [])
    return glob.iglob(os.path.join(glob.escape(path), "**", "*.parquet"),
                      recursive=True)


class Catalog:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        # the segment timeline analog scan() and fingerprint() prune by
        self._state = _State(0, {})
        self._lock = threading.Lock()  # serializes writers
        # lookup registry by tier (LookupCoordinatorResource manages
        # {tier: {name: spec}}; `__default` is the reference's
        # LookupCoordinatorResource DEFAULT_TIER). Non-default tiers
        # resolve under the qualified name "tier/name" everywhere a
        # lookup name is accepted (LOOKUP(), lookup filters/extraction,
        # join datasources).
        self._lookup_tiers: dict[str, dict[str, dict]] = {
            "__default": {}}
        self._scans = LockedLRU(SCAN_CACHE_ENTRIES, on_evict=self._retire)
        # SQL views over cached scans (scan_views): statements binding
        # now, and views of scans that left the cache, dropped when none is
        self._view_lock = threading.Lock()
        self._binding = 0
        self._retired: deque[str] = deque()

    @property
    def version(self) -> int:
        """Bumped by every write; plan keys name it."""
        return self._state.version

    @property
    def _tables(self) -> dict[str, _Table]:
        """Name → record, dropped tables included."""
        return self._state.tables

    def _publish(self, name: str | None = None,
                 edit: Callable[[_Table | None], _Table] | None = None,
                 bump: bool = True) -> tuple[_Table | None, _Table | None]:
        """The step every write ends with: under the writers' lock, the
        state becomes one where `name`'s record (the used one, or None)
        is replaced by edit(record), with the next version if `bump`.
        An edit returning its argument publishes nothing. Returns the
        record before and after."""
        with self._lock:
            version, tables = self._state
            old = tables.get(name)
            old = new = old if old is not None and old.used else None
            if edit is not None:
                new = edit(old)
                if new is old:
                    return old, new
                tables = {**tables, name: new}
            self._state = _State(version + 1 if bump else version, tables)
        if edit is not None:
            self._scans.discard(lambda k: k[0] == name)
            self._drop_retired()
        return old, new

    def _live(self, name: str) -> _Table:
        t = self._state.tables.get(name)
        if t is None or not t.used:
            raise KeyError(f"unknown datasource {name!r}; "
                           f"have {self.tables()}")
        return t

    def set_partitioning(self, name: str, column: str, fmt: str,
                         granularity: str | None = None) -> None:
        """`name` is partitioned on `column`, whose values are the
        date_format(`fmt`) of each row's segment-granularity bucket. A
        day-format table without its granularity may be a week table
        (WEEK shares the day format), so its ranges start a week early."""
        if granularity is None and fmt == "yyyy-MM-dd":
            granularity = "week"
        self._live(name)  # KeyError if unknown
        self._publish(name, lambda t: t and t._replace(
            part=(column, fmt, granularity)))

    def partitioning(self, name: str) -> tuple[str, str, str | None] | None:
        t = self._state.tables.get(name)
        return t.part if t and t.used else None

    def source_path(self, name: str) -> str | None:
        t = self._state.tables.get(name)
        return t.path if t and t.used else None

    def serials(self) -> dict[str, int]:
        """Name → registration serial, from one state: the whole-table
        snapshot identity result-cache keys name."""
        return {n: t.reg for n, t in self._state.tables.items()}

    def json_columns(self) -> dict[str, dict[str, str]]:
        """Name → JSON-text column hints (column → DATA_TYPE)."""
        return {n: t.json for n, t in self._state.tables.items()
                if t.used and t.json}

    def fingerprint(self, name: str, ranges=None) -> str:
        """Identity of the data a query over `name` reads: the
        registration serial (a registered DataFrame is a fixed file
        snapshot), or, for a partitioned path-backed table, a hash of
        its registered files within the time `ranges`."""
        t = self._state.tables.get(name) or _Table(0)
        if ranges and t.used and t.part and _utc_session(self.spark):
            t = self._read(name, t)
            files = _overlapping(t, t.part, ranges)
            if files is not None:
                return hashlib.blake2b("\n".join(files).encode(),
                                       digest_size=16).hexdigest()
        return f"reg:{t.reg}"

    def scan(self, name: str, ranges=None) -> DataFrame:
        """`name`'s DataFrame cut down to the data that can meet the
        half-open epoch-microsecond time `ranges` — the segment-timeline
        lookup (CachingClusteredClient.computeSegmentsToQuery). The
        caller still applies its exact time predicate. A partitioned
        table gets a partition-column range predicate, which Spark's
        partition pruning applies; a footer-bounded table is re-read
        over the overlapping files only, with the registered schema.
        A table without a timeline is the registered DataFrame itself.
        Any other scan (pruned, or whole when its files all overlap or
        outside a UTC session, see _utc_session) is one partition when
        its files are few local bytes (_sized)."""
        t = self._table(name)
        entry = self._pruned(name, t, ranges)
        if entry is not None:
            return entry.df
        return _sized(t, t.files, t.df) if t.part or t.bounds else t.df

    def _pruned(self, name: str, t: _Table, ranges) -> _Scan | None:
        """The scan-cache entry of scanning record `t` of `name` over
        `ranges`; None when that reads the whole table."""
        if ranges is None or not _utc_session(self.spark):
            return None
        ranges = [(a, b) for a, b in ranges if a < b]
        if t.part and t.part[0] in t.df.columns:
            pr = _part_ranges(t.part, ranges)
            if (None, None) in pr:
                return None  # an unbounded range covers every partition
            return self._scans.get_or_build(
                (name, t.reg, tuple(pr)),
                lambda: _Scan(_sized(
                    t, _overlapping(t, t.part, ranges),
                    t.df.where(_part_predicate(t.part[0], pr)))))
        files = _overlapping(t, None, ranges)
        if files is None or len(files) == len(t.files):
            return None
        return self._scans.get_or_build(
            (name, t.reg, files), lambda: _Scan(self._read_files(t, files)))

    @staticmethod
    def _read_files(t: _Table, files) -> DataFrame:
        if not files:
            return t.df.where(F.lit(False))
        out = t.read(list(files))
        if out.schema != t.df.schema:
            # the whole table if the re-read differs in any way
            files, out = t.files, t.df
        return _sized(t, files, out)

    @contextlib.contextmanager
    def scan_views(self):
        """For one SQL statement: yields bind(name, ranges), the name of
        a temp view over scan(name, ranges) (made once per scan-cache
        entry) or None when that scan is the whole table. The views of
        scans that left the cache are dropped only once no statement
        is binding or being analyzed, so none vanishes under one."""
        with self._view_lock:
            self._binding += 1
        try:
            yield self._bind
        finally:
            with self._view_lock:
                self._binding -= 1
            self._drop_retired()

    def _bind(self, name: str, ranges) -> str | None:
        entry = self._pruned(name, self._table(name), ranges)
        if entry is None:
            return None
        with self._view_lock:
            if entry.view is None:
                view = f"__scan_{next(_SCAN_VIEWS)}"
                entry.df.createOrReplaceTempView(view)
                entry.view = view
                if entry.evicted:  # it left the cache meanwhile
                    self._retired.append(view)
        return entry.view

    def _retire(self, entry: _Scan) -> None:
        # runs under the scan cache's lock; the deque needs no other
        # (_bind retires a view it made after this ran)
        entry.evicted = True
        if entry.view is not None:
            self._retired.append(entry.view)

    def _drop_retired(self) -> None:
        with self._view_lock:
            while self._binding == 0 and self._retired:
                self.spark.catalog.dropTempView(self._retired.popleft())

    def _with_timeline(self, name: str, t: _Table,
                       raw: DataFrame) -> _Table:
        """Path-backed record `t` with `raw`, a read of t.path, as its
        DataFrame, and its time timeline. Only a bare Parquet read can
        be re-read file by file or have its nanos fixed from the file."""
        bare = raw._jdf.queryExecution().analyzed() \
            .getClass().getSimpleName() == "LogicalRelation"
        nanos_path = t.path if bare else None
        df = _normalize(raw, t.time_column, nanos_path)
        # the current record lends the footer bounds it already read
        old = self._state.tables.get(name)
        known = (dict(zip(old.files, old.bounds))
                 if old is not None and old.bounds else {})
        files = tuple(sorted(df.inputFiles()))
        sizes = local_sizes(files)
        column = _time_source(raw.columns, df, t.time_column) if bare else None
        schema = raw.schema
        return t._replace(
            df=df, files=files,
            sizes=None if sizes is None else dict(zip(files, sizes)),
            bounds=_footer_bounds(files, column, known,
                                  _utc_session(self.spark)),
            schema=schema if bare else None,
            read=lambda fs: _normalize(
                self.spark.read.schema(schema).parquet(*fs),
                t.time_column, nanos_path))

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
        """Register `source` as `name`, keeping its partitioning. A path
        is read on first use: reading a whole directory's tables costs
        ~3-4 s of engine init for tables a query may never touch."""
        # COMPLEX<json> columns are stored as JSON text (our nested-
        # data convention); the hint lets INFORMATION_SCHEMA report
        # the Druid-visible type (InformationSchema.java DATA_TYPE).
        # A dict maps column -> DATA_TYPE ('COMPLEX<json>' or 'ARRAY'
        # for variant-element arrays); a list means COMPLEX<json>.
        hints = None if json_columns is None else (
            dict(json_columns) if isinstance(json_columns, dict)
            else dict.fromkeys(json_columns, "COMPLEX<json>"))
        t = _Table(next(_REG_SERIALS), time_column=time_column, json=hints)
        if isinstance(source, str):
            t = t._replace(path=source)
        elif source_path:
            t = self._with_timeline(name, t._replace(path=source_path),
                                    source)
        else:
            t = t._replace(df=_normalize(source, time_column))
        self._publish(name, lambda old: t._replace(part=old and old.part))

    def commit(self, name: str, path: str,
               granularity: str | None = None) -> None:
        """Publish the warehouse directory `path` as table `name`: the
        step every writer ends with, as Druid's all publish through
        SegmentTransactionalInsertAction. `path` is listed again (on
        the driver, see session.RUNTIME_CONFS) and published in one step
        with its partitioning: the `__dt` chunks of the segment
        `granularity` (chunk_format; ALL has none), or, for None, the
        table's registered partitioning. The read keeps the current
        record's schema when the listing shows only added files of that
        schema (_keeps_schema), so an append runs no Spark job; any
        other change infers the schema again, as a fresh read would.
        With no Parquet file left the table is unregistered
        (drop_table)."""
        if next(_parquet_files(path), None) is None:
            self.drop_table(name)
            return
        old = self._state.tables.get(name)
        raw = None
        if old is not None and old.used and old.schema is not None:
            raw = self.spark.read.schema(old.schema).parquet(path)
            if not _keeps_schema(old, path, raw.inputFiles()):
                raw = None
        t = self._with_timeline(
            name, _Table(next(_REG_SERIALS), path=path),
            self.spark.read.parquet(path) if raw is None else raw)
        fmt = granularity and chunk_format(granularity)
        part = ("__dt", fmt, granularity.lower()) if fmt else None
        self._publish(name, lambda old: t._replace(
            part=old and old.part if granularity is None else part))

    def register_lookup(self, name: str, mapping: dict[str, Any],
                        tier: str = "__default") -> None:
        self._lookup_tiers.setdefault(tier, {})[name] = mapping
        self._publish()

    def drop_lookup(self, name: str, tier: str = "__default") -> bool:
        d = self._lookup_tiers.get(tier, {})
        if name in d:
            del d[name]
            if not d and tier != "__default":
                del self._lookup_tiers[tier]
            self._publish()
            return True
        return False

    def lookup_tiers(self) -> list[str]:
        return sorted(self._lookup_tiers)

    def tier_lookups(self, tier: str) -> dict[str, dict] | None:
        """Lookup name → mapping for one tier; None if no such tier."""
        return self._lookup_tiers.get(tier)

    def _read(self, name: str, t: _Table) -> _Table:
        """Record `t` of `name`, read if it was not. The read replaces
        `t` only while the table holds that registration (whose
        partitioning may have changed). A read that raises publishes
        nothing: the next table() call re-raises the real error."""
        if t.df is not None:
            return t
        read = self._with_timeline(name, t, self.spark.read.parquet(t.path))
        _old, new = self._publish(
            name, lambda cur: read._replace(part=cur.part)
            if cur and cur.reg == t.reg and cur.df is None else cur,
            bump=False)
        return new if new and new.reg == t.reg else read

    def schema(self, name: str):
        """Schema WITHOUT materializing a lazily-registered table: a
        path not read yet gets a footer-only read whose DataFrame is
        discarded, so the deferred registration (and its error
        surface on table()) stays intact."""
        t = self._live(name)
        if t.df is not None:
            return t.df.schema
        sch = self.spark.read.parquet(t.path).schema
        if (t.time_column and t.time_column in sch.fieldNames()
                and "__time" not in sch.fieldNames()):
            sch = sch.add("__time", sch[t.time_column].dataType)
        return sch

    def table(self, name: str) -> DataFrame:
        return self._table(name).df

    def _table(self, name: str) -> _Table:
        return self._read(name, self._live(name))

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
        return sorted(n for n, t in self._state.tables.items() if t.used)

    def drop_table(self, name: str) -> bool:
        """Unregister a datasource (DatasourcesResource.java
        markAsUnusedAllSegmentsOrKillUnusedSegmentsInInterval analog:
        the table stops resolving; files on disk are untouched —
        reclaiming space is the kill task's job). Returns False if the
        name was unknown."""
        # The dropped record is what restore_table re-enables, as the
        # reference keeps unused segments in the metadata store.
        old, new = self._publish(name, lambda t: t and t._replace(
            reg=next(_REG_SERIALS), used=False))
        if new is old:
            return False
        # Also drop the SQL temp views engine.sql created for this name
        # (the direct view and the mangled alias): the view refresh only
        # replaces views of current tables, so the dropped datasource
        # would keep resolving in SQL.
        for view in (f"`{name.replace('`', '')}`",
                     "__ds_" + re.sub(r"\W", "_", name)):
            with contextlib.suppress(Exception):
                self.spark.sql(f"DROP VIEW IF EXISTS {view}")
        return True

    def restore_table(self, name: str) -> bool:
        """Re-enable a dropped path-backed datasource —
        markAsUsedAllNonOvershadowedSegments analog
        (DataSourcesResource.java:206): re-registers the remembered
        source path, time column and partitioning. False when nothing
        is restorable or the name was registered anew."""
        t = self._state.tables.get(name)
        if (t is None or t.used or t.path is None
                or next(_parquet_files(t.path), None) is None):
            return False  # nothing to restore, or killed on disk
        old, new = self._publish(name, lambda cur: cur or _Table(
            next(_REG_SERIALS), path=t.path, time_column=t.time_column,
            part=t.part))
        return new is not old

    def segments(self) -> list[tuple]:
        """(datasource, segment path, size bytes, num rows) per parquet
        file — the sys.segments analog (SystemSchema.java:105). Row counts
        come from parquet footers (no data scan)."""
        import pyarrow.parquet as pq
        out = []
        for name, path in sorted((n, t.path) for n, t in
                                 self._state.tables.items()
                                 if t.used and t.path):
            for f in sorted(_parquet_files(path)):
                try:
                    rows = pq.read_metadata(f).num_rows
                except Exception:
                    rows = -1
                out.append((name, f, os.path.getsize(f), rows))
        return out

    def segments_full(self) -> list[tuple]:
        """Reference-shaped segment rows (SystemSchema.java:105
        SEGMENTS_SIGNATURE subset): (datasource, segment_path, size,
        num_rows, start, end, partition_num, version). start/end are the
        time chunk of the file's partition value under the table's
        registered partitioning (chunk_interval); partition_num indexes
        files within one interval; version is the file mtime (segment
        version is a timestamp in the reference too)."""
        iso = "%Y-%m-%dT%H:%M:%S.000Z"
        out = []
        part_counter: dict[tuple, int] = {}
        for name, f, size, rows in self.segments():
            col, fmt, grain = (self.partitioning(name)
                               or ("__dt", None, None))
            m = re.search(f"/{re.escape(col)}=([^/]+)/", f)
            start = end = None
            if m:
                with contextlib.suppress(ValueError):
                    start, end = (t.strftime(iso) for t in
                                  chunk_interval(m.group(1), fmt, grain))
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
