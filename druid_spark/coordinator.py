"""Coordinator duties — auto-compaction and retention.

The reference coordinator runs periodic duties; CompactSegments
(server/.../server/coordinator/duty/CompactSegments.java) scans each
datasource's segment timeline for intervals fragmented into many small
segments and submits compaction tasks for just those intervals. The
Spark analog: scan a warehouse table's time-partition directories via
parquet footers (no data read), and rewrite only the partitions whose
file count exceeds the per-datasource config. The overlord's compact
and kill tasks share these steps (compact_table, drop_interval); each
ends in Catalog.commit. Both duties run on one loop (_Duty), and each
compaction or retention kill they do is a task of the engine's task
registry (druid_spark.tasks), where sys.tasks reads it.

The rewrite targets one partition directory at a time, staging into a
dot-prefixed temp dir inside the warehouse (ignored by Spark's
partition discovery) and swapping it in. Single-node swap semantics:
rmtree+rename, not MVCC — the reference swaps atomically via segment
versions/overshadowing.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import shutil
import threading
import uuid
from typing import Any, Callable

from druid_spark.granularity import (add_period, chunk_interval,
                                     parse_iso_interval)


def _iso_interval(iv: str) -> tuple[dt.datetime, dt.datetime]:
    """An ISO interval as naive-UTC [start, end) datetimes."""
    return tuple(dt.datetime.fromisoformat(t) for t in parse_iso_interval(iv))


def _table_dir(catalog, ds: str) -> str:
    path = catalog.source_path(ds)
    if path is None or not os.path.isdir(path):
        raise KeyError(f"no warehouse table {ds!r}")
    return path


def _partition_dirs(path: str) -> list[tuple[str, int]]:
    """(partition dirname, parquet file count) for each time partition
    under a warehouse table path — footer-free listing."""
    out = []
    if not os.path.isdir(path):
        return out
    for d in sorted(os.listdir(path)):
        full = os.path.join(path, d)
        if "=" not in d or not os.path.isdir(full):
            continue
        n = sum(1 for f in os.listdir(full) if f.endswith(".parquet"))
        out.append((d, n))
    return out


def chunks_to_drop(catalog, ds: str,
                   drop: Callable[[dt.datetime, dt.datetime], bool]
                   ) -> list[tuple[str, dt.datetime]]:
    """(dirname, start) of each time chunk of table `ds` whose
    [start, end) (chunk_interval) `drop` accepts. A chunk goes whole,
    the unit Druid retires."""
    path = _table_dir(catalog, ds)
    col, fmt, grain = catalog.partitioning(ds) or ("__dt", None, None)
    out = []
    for d, _n in _partition_dirs(path):
        if not d.startswith(col + "="):
            continue
        try:
            start, end = chunk_interval(d.split("=", 1)[1], fmt, grain)
        except ValueError:
            continue
        if drop(start, end):
            out.append((d, start))
    return out


def delete_chunks(catalog, ds: str, chunks) -> None:
    """Delete `chunks` (chunks_to_drop) of table `ds`, then commit it:
    the step retention rules and the kill task share."""
    if not chunks:
        return
    path = _table_dir(catalog, ds)
    for d, _start in chunks:
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)
    catalog.commit(ds, path)


def drop_interval(catalog, ds: str, interval: str) -> list[str]:
    """Kill task (KillUnusedSegmentsTask analog): drop the chunks of
    `ds` that the ISO `interval` contains; a chunk it only overlaps
    stays, as with IntervalDropRule. Returns the dropped partition
    values."""
    a, b = _iso_interval(interval)
    chunks = chunks_to_drop(catalog, ds, lambda s, e: a <= s and e <= b)
    delete_chunks(catalog, ds, chunks)
    return [d.split("=", 1)[1] for d, _start in chunks]


def _compact_partition(catalog, ds: str, part: str, target: int) -> None:
    """Rewrite partition directory `part` of table `ds` into `target`
    files."""
    path = catalog.source_path(ds)
    pdir = os.path.join(path, part)
    tmp = os.path.join(path, f".compact_{uuid.uuid4().hex[:8]}")
    (catalog.spark.read.parquet(pdir).repartition(target)
     .write.mode("overwrite").parquet(tmp))
    # drop the _SUCCESS marker so the swapped dir holds parquet only
    for f in os.listdir(tmp):
        if f.startswith("_"):
            os.remove(os.path.join(tmp, f))
    shutil.rmtree(pdir)
    os.rename(tmp, pdir)


def compact_table(catalog, ds: str, target: int) -> None:
    """Compaction task (ClientCompactionTaskQuery analog): rewrite every
    time partition of `ds` into `target` files, then commit the table."""
    path = _table_dir(catalog, ds)
    for part, _n in _partition_dirs(path):
        _compact_partition(catalog, ds, part, target)
    catalog.commit(ds, path)


class _Duty:
    """A coordinator duty: `run_once` is one cycle, `start` runs it on
    a daemon thread every `period` seconds until `stop`."""

    PERIOD = 60.0

    def __init__(self, engine):
        self.engine = engine
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._lock = threading.Lock()

    def start(self, period: float | None = None):
        if self._thread is not None and self._thread.is_alive():
            return self
        self._stop.clear()
        period = self.PERIOD if period is None else period

        def loop():
            while not self._stop.wait(period):
                try:
                    self.run_once()
                except Exception:
                    pass  # next cycle retries

        self._thread = threading.Thread(
            target=loop, daemon=True, name=type(self).__name__)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None


class RetentionDuty(_Duty):
    """Retention / load-drop rules duty — the coordinator's rule engine
    (server/.../server/coordinator/rules/: LoadRule, DropRule,
    PeriodLoadRule, PeriodDropBeforeRule, RunRules duty; RulesResource
    for the HTTP surface). Rules per datasource are evaluated in order,
    FIRST MATCH WINS; a partition matched by a load rule is retained,
    by a drop rule deleted (the markAsUnused + kill analog:
    delete_chunks removes its files and commits the table). No matching
    rule = retained (the cluster default rule is loadForever).

    Supported rule types: loadForever, dropForever,
    loadByPeriod {"period"} (retain partitions younger than now-P),
    dropByPeriod {"period"} (drop partitions younger than now-P),
    dropBeforeByPeriod {"period"} (drop partitions older than now-P),
    loadByInterval / dropByInterval {"interval": "A/B"}."""

    PERIOD = 300.0

    def __init__(self, engine, now=None):
        super().__init__(engine)
        self.rules: dict[str, list[dict[str, Any]]] = {}
        self._now = now  # fixed clock for tests; None = wall clock

    def set_rules(self, datasource: str, rules: list[dict]) -> None:
        self.rules[datasource] = list(rules)

    def _decide(self, rules: list[dict], start, end, now) -> str:
        """First-match rule decision. Reference semantics (rules/):
        LOAD rules match on OVERLAP (Rules.eligibleForLoad — any
        overlap with [now-P, now], or interval end in the future with
        includeFuture=true, the default); DROP rules match only on
        CONTAINMENT (PeriodDropRule.appliesTo:74-81 —
        currInterval.contains(theInterval) with includeFuture=false,
        start-side containment with the includeFuture=true default;
        IntervalDropRule.appliesTo:64-67 — interval.contains). A
        partition straddling a boundary is therefore retained by drop
        rules and falls through to the next rule."""
        for r in rules:
            t = r.get("type")
            if t == "loadForever":
                return "load"
            if t == "dropForever":
                return "drop"
            if t == "loadByPeriod":
                horizon = add_period(now, r["period"], -1)
                if r.get("includeFuture", True):
                    # Rules.eligibleForLoad includeFuture arm:
                    # currInterval.start < interval.end
                    if end > horizon:
                        return "load"
                elif end > horizon and start < now:
                    return "load"  # overlap with [now-P, now]
            elif t == "dropByPeriod":
                horizon = add_period(now, r["period"], -1)
                if r.get("includeFuture", True):
                    # PeriodDropRule:77-78: currInterval.start <=
                    # theInterval.start
                    if start >= horizon:
                        return "drop"
                elif start >= horizon and end <= now:
                    return "drop"  # full containment in [now-P, now]
            elif t == "dropBeforeByPeriod":
                # PeriodDropBeforeRule:63-64: end <= now - P
                if end <= add_period(now, r["period"], -1):
                    return "drop"
            elif t in ("loadByInterval", "dropByInterval"):
                ia, ib = _iso_interval(r["interval"])
                if t == "loadByInterval":
                    if start < ib and end > ia:  # overlap
                        return "load"
                elif ia <= start and end <= ib:  # containment
                    return "drop"
        return "load"  # cluster default rule: loadForever

    def run_once(self) -> list[dict[str, Any]]:
        """One rule pass: drop every chunk whose first matching rule is
        a drop rule, datasource by datasource. Each dropped chunk is one
        kill task of the engine's task registry, running from the
        delete to the table's commit. A datasource whose drop fails
        ends in FAILED kill tasks with the error (one, if its rules
        failed before any chunk was chosen), and the pass goes on."""
        now = self._now or dt.datetime.now(dt.timezone.utc).replace(
            tzinfo=None)
        dropped = []
        cat, tasks = self.engine.catalog, self.engine.tasks

        def tid(ds, value):
            return f"kill_{ds}_{value}_{uuid.uuid4().hex[:6]}"

        with self._lock:
            for ds, rules in self.rules.items():
                if not os.path.isdir(cat.source_path(ds) or ""):
                    continue
                try:
                    chunks = chunks_to_drop(
                        cat, ds, lambda s, e: self._decide(rules, s, e, now)
                        == "drop")
                except Exception as e:
                    tasks.record(tid(ds, "rules"), "kill", ds, "FAILED",
                                 error_msg=str(e))
                    continue
                try:
                    with contextlib.ExitStack() as kills:
                        for d, _start in chunks:
                            kills.enter_context(tasks.track(
                                tid(ds, d.split("=", 1)[1]), "kill", ds))
                        delete_chunks(cat, ds, chunks)
                except Exception:
                    continue  # each kill recorded FAILED with the error
                dropped += [{"dataSource": ds, "partition": d,
                             "start": start.isoformat()}
                            for d, start in chunks]
        return dropped


class CompactionDuty(_Duty):
    """Auto-compaction duty over an engine's warehouse tables.

        duty = CompactionDuty(engine)
        duty.set_config("events_day", max_files_per_partition=4)
        duty.run_once()          # one duty cycle, returns work done
        duty.start(period=60)    # or: background daemon loop
    """

    def __init__(self, engine):
        super().__init__(engine)
        # ds -> {"maxFilesPerPartition": int, "targetFiles": int}
        self.configs: dict[str, dict[str, Any]] = {}
        self.history: list[dict[str, Any]] = []

    # ------------------------------------------------------------ config
    def set_config(self, datasource: str,
                   max_files_per_partition: int = 8,
                   target_files: int = 1) -> None:
        """Per-datasource compaction config
        (CoordinatorCompactionConfig analog)."""
        self.configs[datasource] = {
            "dataSource": datasource,
            "maxFilesPerPartition": int(max_files_per_partition),
            "targetFiles": int(target_files)}

    def remove_config(self, datasource: str) -> bool:
        return self.configs.pop(datasource, None) is not None

    # -------------------------------------------------------------- scan
    def scan(self) -> list[dict[str, Any]]:
        """Fragmented partitions across all configured datasources."""
        found = []
        for ds, cfg in self.configs.items():
            path = self.engine.catalog.source_path(ds)
            if not path:
                continue
            for part, n in _partition_dirs(path):
                if n > cfg["maxFilesPerPartition"]:
                    found.append({"dataSource": ds, "partition": part,
                                  "files": n,
                                  "targetFiles": cfg["targetFiles"]})
        return found

    # ----------------------------------------------------------- compact
    def run_once(self) -> list[dict[str, Any]]:
        """One duty cycle: compact every fragmented partition found,
        each as one compact task of the engine's task registry.
        Commits touched datasources so queries see the new file listing
        (a registered DataFrame pins its file index)."""
        with self._lock:
            work = self.scan()
            for w in work:
                tid = (f"compact_{w['dataSource']}_"
                       f"{w['partition'].split('=', 1)[-1]}_"
                       f"{uuid.uuid4().hex[:6]}")
                w["status"] = "SUCCESS"
                try:
                    with self.engine.tasks.track(tid, "compact",
                                                 w["dataSource"]):
                        _compact_partition(self.engine.catalog,
                                           w["dataSource"], w["partition"],
                                           w["targetFiles"])
                except Exception:  # recorded; keep the duty loop alive
                    w["status"] = "FAILED"
            for ds in {w["dataSource"] for w in work}:
                self.engine.catalog.commit(
                    ds, self.engine.catalog.source_path(ds))
            # the last 20, all /compaction/status serves
            self.history = (self.history + [dict(w) for w in work])[-20:]
            return work
