"""Per-layer metrics of a traced run, from its spans and operations.

Times are medians over the operations (or calls) where the layer
appears; a layer a workload never reaches reports 0.
"""

from __future__ import annotations

from stats import covered, median, self_times


def _med(xs) -> float:
    return median(xs, empty=0.0)


def span_metrics(spans) -> dict[str, float]:
    """server.*, scheduler.*, engine.*, functions.*, share.* and the
    ingest span times."""
    done = [s for s in spans if s.end is not None]
    by_id = {s.id: s for s in done}
    selfs = self_times([(s.id, s.parent, s.start, s.end) for s in done])
    kids: dict[int, list] = {}
    by_req: dict[int, list] = {}
    for s in done:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
        by_req.setdefault(s.req, []).append(s)

    def named(name):
        return [s for s in done if s.name == name]

    out: dict[str, float] = {}
    reqs = named("server.request")
    req_self, shape, tot = [], [], {"req": 0.0, "srv": 0.0, "queue": 0.0,
                                     "compile": 0.0, "exec": 0.0}
    for r in reqs:
        inner = [c for c in kids.get(r.id, ())
                 if c.name.startswith(("engine.", "scheduler."))]
        own = r.dur - covered([(c.start, c.end) for c in inner],
                              r.start, r.end)
        req_self.append(own)
        mine = by_req.get(r.req, ())
        shape.append(sum(s.dur for s in mine if s.name == "server.shape")
                     + sum(s.leaf for s in mine))
        tot["req"] += r.dur
        tot["srv"] += own
        for c in inner:
            if c.name.startswith("engine."):
                tot["compile"] += c.dur
        for s in mine:
            if s.name == "scheduler.run":
                tot["exec"] += s.dur
                tot["queue"] += s.start - by_id[s.parent].start
    out["server.request_ms"] = _med(r.dur * 1e3 for r in reqs)
    out["server.self_ms"] = _med(x * 1e3 for x in req_self)
    out["server.shape_ms"] = _med(x * 1e3 for x in shape)
    for k, name in (("srv", "share.server"), ("queue", "share.queue"),
                    ("compile", "share.compile"), ("exec", "share.exec")):
        out[name] = tot[k] / tot["req"] if tot["req"] else 0.0

    subs = named("scheduler.submit")
    out["scheduler.submit_ms"] = _med(s.dur * 1e3 for s in subs)
    out["scheduler.queue_ms"] = _med(
        (c.start - s.start) * 1e3 for s in subs for c in kids.get(s.id, ())
        if c.name == "scheduler.run")
    out["engine.query_ms"] = _med(selfs[s.id] * 1e3
                                  for s in named("engine.query"))
    out["engine.sql_ms"] = _med(selfs[s.id] * 1e3 for s in named("engine.sql"))
    out["functions.rewrite_ms"] = _med(s.dur * 1e3
                                       for s in named("functions.rewrite"))
    out["ingest.append_ms"] = _med(s.dur * 1e3 for s in named("ingest.append"))
    out["ingest.write_ms"] = _med(s.dur * 1e3 for s in named("ingest.write"))
    # append minus its select compile (nested engine.sql) and write
    out["ingest.register_ms"] = _med(selfs[s.id] * 1e3
                                     for s in named("ingest.append"))
    return out


def exec_metrics(ops, cores: int) -> dict[str, float]:
    """exec.* medians over the query operations' Spark job groups."""
    ex = [(op, op.exec) for op in ops if op.kind == "query" and op.exec]
    out = {}
    for key in ("jobs", "stages_skipped", "tasks", "rows_scanned",
                "bytes_scanned", "shuffle_bytes", "task_busy_ms", "gc_ms"):
        out[f"exec.{key}"] = _med(e[key] for _op, e in ex)
    out["exec.ms"] = _med(e["wall_ms"] for _op, e in ex)
    out["exec.cpu_ms"] = _med(e["cpu_ns"] / 1e6 for _op, e in ex)
    out["exec.spill_bytes"] = _med(e["mem_spill"] + e["disk_spill"]
                                   for _op, e in ex)
    out["exec.rows_scanned_per_row_returned"] = _med(
        e["rows_scanned"] / max(op.rows, 1) for op, e in ex)
    out["exec.slot_utilization"] = _med(
        e["task_busy_ms"] / (e["wall_ms"] * cores)
        for _op, e in ex if e["wall_ms"] > 0)
    return out
