"""DuckDB oracle and result normalization.

Engine results (HTTP JSON envelopes or collected rows) and DuckDB rows
are both turned into lists of {column: value} dicts with timestamps as
Druid's ISO-8601 millisecond strings, then compared column by column
with a float tolerance.
"""

from __future__ import annotations

import datetime as dt
import math
import re
from typing import Any

import duckdb

REL_TOL = 1e-6


def iso(v: dt.datetime) -> str:
    return v.strftime("%Y-%m-%dT%H:%M:%S.") + f"{v.microsecond // 1000:03d}Z"


_ISO_RE = re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?Z$")


def _canon(v: Any) -> Any:
    if isinstance(v, dt.datetime):
        return iso(v)
    if isinstance(v, dt.date):
        return iso(dt.datetime(v.year, v.month, v.day))
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float)):
        return float(v)
    if hasattr(v, "__float__"):        # Decimal
        return float(v)
    if isinstance(v, str):
        if _ISO_RE.match(v):
            return iso(dt.datetime.fromisoformat(v[:-1]))
        try:
            return float(v)            # numeric dimension served as a string
        except ValueError:
            return v
    return v


def canon_rows(rows: list[dict]) -> list[dict]:
    return [{k: _canon(v) for k, v in r.items()} for r in rows]


def native_rows(query_type: str, envelope: list) -> list[dict]:
    """Rows of a native-query HTTP response envelope."""
    if query_type == "timeseries":
        return [{"timestamp": e["timestamp"], **e["result"]} for e in envelope]
    if query_type == "topN":
        return [r for e in envelope for r in e["result"]]
    if query_type == "groupBy":
        return [e["event"] for e in envelope]
    raise ValueError(query_type)


def _sort_key(r: dict, cols: list[str]):
    return tuple((0, "") if r.get(c) is None else
                 (1, round(r[c], 6)) if isinstance(r[c], float) else
                 (2, str(r[c])) for c in cols)


def _close(a: Any, b: Any, tol: float) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=tol, abs_tol=1e-6)
    return a == b


def compare(got: list[dict], want: list[dict], ordered: bool = False,
            approx: dict[str, float] | None = None,
            drop_zero: str | None = None) -> str | None:
    """None when `got` matches `want`, else a one-line reason.

    ordered: rows must match position by position (ORDER BY / topN);
    otherwise both sides are sorted. approx: per-column relative
    tolerance for approximate aggregates. drop_zero: drop engine rows
    whose column is 0 (zero-filled empty timeseries buckets)."""
    got, want = canon_rows(got), canon_rows(want)
    if drop_zero:
        got = [r for r in got if r.get(drop_zero) not in (0, 0.0)]
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    if not want:
        return None
    cols = sorted(want[0])
    if got and sorted(got[0]) != cols:
        return f"columns {sorted(got[0])}, oracle {cols}"
    approx = approx or {}
    exact_cols = [c for c in cols if c not in approx]
    if not ordered:
        got = sorted(got, key=lambda r: _sort_key(r, exact_cols))
        want = sorted(want, key=lambda r: _sort_key(r, exact_cols))
    for i, (g, w) in enumerate(zip(got, want)):
        for c in cols:
            if not _close(g[c], w[c], approx.get(c, REL_TOL)):
                return f"row {i} column {c}: {g[c]!r} != oracle {w[c]!r}"
    return None


class Oracle:
    """In-memory DuckDB over the same Parquet files the engine reads."""

    def __init__(self):
        self.con = duckdb.connect(":memory:", config={"threads": 2})

    def load(self, name: str, select_sql: str) -> None:
        self.con.execute(f"CREATE OR REPLACE TABLE {name} AS {select_sql}")

    def rows(self, sql: str) -> list[dict]:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]

    def close(self) -> None:
        self.con.close()
