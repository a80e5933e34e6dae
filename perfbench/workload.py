"""What every workload shares: the operation record and the interface."""

from __future__ import annotations

from typing import Any


class Op:
    """One timed operation. `kind` is "query" for the reads whose
    latency the end-to-end metrics report and "append" for writes."""

    __slots__ = ("kind", "key", "t0", "t1", "status", "error", "rows",
                 "bytes", "group", "exec", "result", "extra")

    def __init__(self, kind: str, key: str):
        self.kind, self.key = kind, key
        self.t0 = self.t1 = 0.0
        self.status = 200
        self.error: str | None = None
        self.rows = 0
        self.bytes = 0
        self.group: str | None = None    # Spark job group of the operation
        self.exec: dict | None = None    # its stage metrics (traced run)
        self.result: Any = None
        self.extra: dict = {}

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class Ctx:
    """A set-up engine, ready for timed operations."""

    def __init__(self, spark, engine, server, data, seed, cores):
        self.spark, self.engine, self.server = spark, engine, server
        self.data, self.seed, self.cores = data, seed, cores
        self.stages = None               # StageMetrics in a traced run
        self.tracer = None

    def read_stages(self, op: Op) -> None:
        """In a traced run, the stage metrics of op's job group. Call
        after op has returned, outside its timed interval; a read that
        fails fails the op."""
        if self.stages is None or not op.group:
            return
        try:
            op.exec = self.stages.read(op.group)
        except Exception as e:  # noqa: BLE001 - reported as a failure
            op.error = op.error or f"stage metrics: {e!r}"


class Workload:
    name = ""
    http = False                     # serve through DruidHttpServer
    expected_ops_per_s = 1.0         # query ops/s on local[4]; fixes the tail
    rows_kind = "query"              # op kind whose rows rows_per_s counts

    def inputs(self, cache_dir: str, seed: int) -> dict:
        raise NotImplementedError

    def prepare(self, data: dict, work: str) -> None:
        """Per-run copy of mutable inputs (not part of set-up time)."""

    def register(self, engine, data: dict) -> None:
        raise NotImplementedError

    def warm(self, ctx: Ctx) -> None:
        """Untimed warm-up at the end of set-up."""

    def run(self, ctx: Ctx, seconds: int) -> list[Op]:
        raise NotImplementedError

    def check(self, ctx: Ctx, ops: list[Op]) -> None:
        """Compare outputs with the oracle; set op.error on mismatch."""
        raise NotImplementedError

    def layer_counts(self, ctx: Ctx, ops: list[Op]) -> dict[str, float]:
        """Workload-specific per-layer values (ingest.*, datapipe.*)."""
        return {}

    def summary(self, ops: list[Op], wall: float) -> dict[str, float]:
        """Workload-specific figures for the run-details line."""
        return {}
