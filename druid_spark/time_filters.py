"""Lift `__time` bounds out of a Druid SQL statement's WHERE clause.

The analog of Druid's MoveTimeFiltersToIntervals (SURVEY §3): the
planner moves `__time` filters into the query intervals that its segment
timeline prunes by. Here the intervals go to `Catalog.scan`, which picks
the files each table scan reads. The statement itself is not changed:
Spark still applies every filter, so lifting only has to be sound
(every row the statement can return lies inside the lifted range), not
exact.

The lifter is deliberately conservative. It reads only statements with
exactly one SELECT and no set operation, whose FROM clause is a plain
list of tables joined by commas or JOINs, and whose WHERE clause has no
top-level OR or NOT. From the WHERE clause's top-level AND chain it
takes conjuncts `[alias.]__time {>=,>,<,<=} TIMESTAMP '...'` (either
side) and `[alias.]__time BETWEEN TIMESTAMP '...' AND TIMESTAMP '...'`.
A bound counts only for a table referenced once in the FROM clause, and
an unqualified `__time` only when the FROM clause names a single table.
Any other shape lifts nothing, so the statement reads whole tables.
"""

from __future__ import annotations

import datetime as _dt
import re
from collections import Counter
from typing import NamedTuple

from druid_spark.catalog import MAX_US, MIN_US, to_us

_TOKEN_RE = re.compile(r"""
    (?P<ws>\s+|--[^\n]*|/\*.*?\*/)
  | (?P<str>'(?:[^'\\]|\\.|'')*')
  | (?P<qid>`(?:[^`]|``)*`|"(?:[^"\\]|\\.|"")*")
  | (?P<word>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<num>\d+(?:\.\d*)?(?:[eE][-+]?\d+)?)
  | (?P<op><=>|<=|>=|<>|!=|==|\|\||::|\S)
""", re.S | re.X)
_TS_LITERAL_RE = re.compile(
    r"\d{4}-\d{2}-\d{2}(?:[ T]\d{2}:\d{2}(?::\d{2}(?:\.\d{1,6})?)?)?"
    r"(?:Z|[+-]\d{2}:\d{2})?")
_SET_OPS = {"UNION", "INTERSECT", "EXCEPT", "MINUS"}
_CLAUSE_END = {"WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "WINDOW",
               "QUALIFY", "OFFSET", "CLUSTER", "DISTRIBUTE", "SORT",
               "FETCH"} | _SET_OPS
_JOIN_WORDS = {"JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "OUTER",
               "SEMI", "ANTI", "NATURAL"}
_NOT_ALIAS = _CLAUSE_END | _JOIN_WORDS | {
    "ON", "USING", "AS", "LATERAL", "PIVOT", "UNPIVOT", "TABLESAMPLE"}
_FLIP = {">=": "<=", ">": "<", "<=": ">=", "<": ">"}


class _Tok(NamedTuple):
    kind: str
    text: str
    start: int
    end: int

    @property
    def up(self) -> str:
        return self.text.upper() if self.kind == "word" else ""


class Lift(NamedTuple):
    """One table's lifted bound: its half-open epoch-microsecond range,
    the span of its name in the statement, and whether the FROM clause
    gave it an alias."""
    table: str
    range: tuple[int, int]
    span: tuple[int, int]
    aliased: bool


def _tokens(text: str) -> list[_Tok]:
    return [_Tok(m.lastgroup, m.group(), m.start(), m.end())
            for m in _TOKEN_RE.finditer(text) if m.lastgroup != "ws"]


def _ident(t: _Tok) -> str | None:
    if t.kind == "word":
        return t.text
    if t.kind == "qid" and t.text[0] == "`":
        return t.text[1:-1].replace("``", "`")
    return None


def _top(toks: list[_Tok]):
    """(index, token) of the tokens outside any parentheses or CASE
    expression."""
    depth = 0
    for i, t in enumerate(toks):
        if t.text == ")" or t.up == "END":
            depth -= 1
        if depth == 0:
            yield i, t
        if t.text == "(" or t.up == "CASE":
            depth += 1


def _strip_parens(toks: list[_Tok]) -> list[_Tok]:
    while len(toks) >= 2 and toks[0].text == "(" and toks[-1].text == ")":
        depth = 0
        for i, t in enumerate(toks):
            depth += (t.text == "(") - (t.text == ")")
            if depth == 0 and i < len(toks) - 1:
                return toks  # the first ( closes before the end
        toks = toks[1:-1]
    return toks


def _split_and(toks: list[_Tok]) -> list[list[_Tok]]:
    """The operands of the top-level AND chain (a BETWEEN keeps its
    own AND)."""
    parts, cur, between = [], [], False
    top = {i for i, _ in _top(toks)}
    for i, t in enumerate(toks):
        if i in top and t.up == "BETWEEN":
            between = True
        elif i in top and t.up == "AND":
            if between:
                between = False
            else:
                parts.append(cur)
                cur = []
                continue
        cur.append(t)
    parts.append(cur)
    return parts


def _has_top(toks: list[_Tok], words: set[str]) -> bool:
    return any(t.up in words or (t.text == "!" and "NOT" in words)
               for _, t in _top(toks))


def _clause_word(toks: list[_Tok], i: int) -> bool:
    """Whether toks[i] starts a clause rather than naming a column."""
    t, nxt = toks[i], toks[i + 1] if i + 1 < len(toks) else None
    if t.text == ";":
        return True
    if t.up not in _CLAUSE_END:
        return False
    if t.up in ("GROUP", "ORDER", "SORT", "CLUSTER", "DISTRIBUTE"):
        return nxt is not None and nxt.up == "BY"
    return nxt is None or nxt.kind != "op" or nxt.text == "("


def _conjuncts(toks: list[_Tok]):
    for part in _split_and(toks):
        inner = _strip_parens(part)
        if (inner is not part and _has_top(inner, {"AND"})
                and not _has_top(inner, {"OR", "NOT"})):
            yield from _conjuncts(inner)
        else:
            yield part


def _time_ref(toks: list[_Tok]):
    """The qualifier of a `[q.]__time` reference ("" if unqualified),
    or None if the tokens are something else."""
    toks = _strip_parens(toks)
    names = [_ident(t) for t in toks]
    if len(toks) == 1 and names[0] and names[0].lower() == "__time":
        return ""
    if (len(toks) == 3 and toks[1].text == "." and names[0]
            and names[2] and names[2].lower() == "__time"):
        return names[0]
    return None


def _timestamp(toks: list[_Tok]) -> int | None:
    """Epoch microseconds of a `TIMESTAMP '...'` literal (the session
    time zone is UTC), or None."""
    toks = _strip_parens(toks)
    if (len(toks) != 2 or toks[0].up != "TIMESTAMP"
            or toks[1].kind != "str"):
        return None
    s = toks[1].text[1:-1].strip()
    if not _TS_LITERAL_RE.fullmatch(s):
        return None
    try:
        return to_us(_dt.datetime.fromisoformat(s.replace("Z", "+00:00")))
    except ValueError:
        return None


def _bound(toks: list[_Tok]):
    """(qualifier, lo, hi) of one conjunct — a half-open range — or
    None if it is not a `__time` bound."""
    top = list(_top(toks))
    ops = [i for i, t in top if t.text in _FLIP or t.up == "BETWEEN"]
    if len(ops) != 1:
        return None
    k = ops[0]
    if toks[k].up == "BETWEEN":
        ands = [i for i, t in top if t.up == "AND"]
        qual = _time_ref(toks[:k])
        if len(ands) != 1 or qual is None:
            return None
        lo, hi = _timestamp(toks[k + 1:ands[0]]), _timestamp(toks[ands[0] + 1:])
        if lo is None or hi is None:
            return None
        return qual, lo, hi + 1
    op, qual, ts = toks[k].text, _time_ref(toks[:k]), _timestamp(toks[k + 1:])
    if qual is None:
        op, qual, ts = _FLIP[op], _time_ref(toks[k + 1:]), _timestamp(toks[:k])
    if qual is None or ts is None:
        return None
    if op in (">=", ">"):
        return qual, ts, MAX_US
    return qual, MIN_US, ts + (op == "<=")


def _from_items(toks: list[_Tok]):
    """[(name, alias, name token)] of a FROM clause made only of tables
    joined by commas or JOINs; None for any other shape."""
    items, i, n, want_item = [], 0, len(toks), True
    while i < n:
        t = toks[i]
        if want_item:
            name = _ident(t)
            if name is None or t.up in _NOT_ALIAS or (
                    i + 1 < n and toks[i + 1].text in ("(", ".")):
                return None  # subquery, table function, qualified name
            i += 1
            alias = None
            if i < n and toks[i].up == "AS":
                i += 1
                alias = _ident(toks[i]) if i < n else None
                if alias is None:
                    return None
                i += 1
            elif i < n and _ident(toks[i]) and toks[i].up not in _NOT_ALIAS:
                alias = _ident(toks[i])
                i += 1
            if i < n and toks[i].text == "(":
                return None  # column alias list
            items.append((name, alias, t))
            want_item = False
        elif t.text == ",":
            want_item, i = True, i + 1
        elif t.up in _JOIN_WORDS:
            while i < n and toks[i].up in _JOIN_WORDS - {"JOIN"}:
                i += 1
            if i >= n or toks[i].up != "JOIN":
                return None
            want_item, i = True, i + 1
        elif t.up in ("ON", "USING"):
            depth, i = 0, i + 1
            while i < n:
                u = toks[i]
                if depth == 0 and (u.text == "," or (
                        u.up in _JOIN_WORDS and not (
                            i + 1 < n and toks[i + 1].text == "("))):
                    break
                depth += (u.text == "(") - (u.text == ")")
                i += 1
        else:
            return None  # LATERAL VIEW, PIVOT, TABLESAMPLE, ...
    return None if want_item else items


def lift_time_bounds(text: str, tables) -> list[Lift]:
    """The `__time` bounds of `text`'s WHERE clause, per catalog table
    in `tables` (see the module docstring for the shapes read)."""
    toks = _tokens(text)
    words = [t.up for t in toks]
    if words.count("SELECT") != 1 or _SET_OPS & set(words):
        return []
    top = list(_top(toks))
    starts = [i for i, t in top if t.up == "FROM"]
    if len(starts) != 1:
        return []  # none, or an IS DISTINCT FROM
    clauses = [i for i, _t in top if i > starts[0] and _clause_word(toks, i)]
    end = clauses[0] if clauses else len(toks)
    items = _from_items(toks[starts[0] + 1:end])
    if not items or not clauses or toks[end].up != "WHERE":
        return []
    w_end = next((i for i in clauses if i > end), len(toks))
    where = toks[end + 1:w_end]
    if _has_top(where, {"OR", "NOT"}):
        return []
    by_lower: dict[str, list[str]] = {}
    for t in tables:
        by_lower.setdefault(t.lower(), []).append(t)

    def table_of(name: str) -> str | None:
        if name in tables:
            return name
        same = by_lower.get(name.lower(), [])
        return same[0] if len(same) == 1 else None

    refs = Counter(table_of(name) for name, _a, _t in items)
    ranges: dict[int, tuple[int, int]] = {}
    for part in _conjuncts(where):
        b = _bound(part)
        if b is None:
            continue
        qual, lo, hi = b
        if qual:
            hits = [k for k, (name, alias, _t) in enumerate(items)
                    if (alias or name).lower() == qual.lower()]
        else:
            hits = [0] if len(items) == 1 else []
        if len(hits) != 1:
            continue
        a, z = ranges.get(hits[0], (MIN_US, MAX_US))
        ranges[hits[0]] = (max(a, lo), min(z, hi))
    out = []
    for k, rng in sorted(ranges.items()):
        name, alias, tok = items[k]
        table = table_of(name)
        if table is not None and refs[table] == 1:
            out.append(Lift(table, rng, (tok.start, tok.end),
                            alias is not None))
    return out
