"""Round-7 ADVICE regression tests.

1. ARRAY_SLICE/MV_SLICE of a NULL array → NULL (not an array of
   NULLs): reference ArraySliceFunction (Function.java:4641) returns
   a null array for null input; SIZE(NULL) made the guard WHENs
   UNKNOWN so the TRANSFORM branch built end-start NULL elements.
2. engine scalar-column scan must not materialize lazily-registered
   tables, and a bad registration must not disable the scan.
3. _normalize_window_frames with TWO named reversed-frame windows
   (stale finditer indices spliced corrupted SQL).
4. Empty-frame (reversed) MIN/MAX/FIRST_VALUE fold keeps the
   operand's type (was CAST(NULL AS STRING)).
5. _parenthesize_in_is quote-awareness: ')' inside an IN-list string
   literal miscounted paren depth.

The streaming view() race fix is covered in
tests/test_kafka.py::test_view_poll_stress_no_race.
"""

import pytest


def _one(engine, expr):
    return engine.sql(f"SELECT {expr} AS x").collect()[0]["x"]


# ---------------------------------------------------------- 1: slice NULL

def test_array_slice_null_array_is_null(engine):
    assert _one(engine, "ARRAY_SLICE(CAST(NULL AS VARCHAR ARRAY), 0, 2)") \
        is None
    assert _one(engine, "MV_SLICE(CAST(NULL AS VARCHAR ARRAY), 1, 3)") \
        is None
    # non-null behavior unchanged: pad with nulls past the end
    assert _one(engine, "ARRAY_SLICE(ARRAY['a','b'], 1, 4)") == \
        ["b", None, None]


# ------------------------------------------- 2: no forced materialization

def test_scalar_scan_keeps_pending_and_survives_bad_table(engine, tmp_path):
    import os
    cat = engine.catalog
    # footer-only schema read leaves a lazy registration unread
    from tests.conftest import SF_DIR
    cat.register_table("__lazy_ok", os.path.join(SF_DIR, "region.parquet"),
                       time_column=None)
    try:
        assert cat._tables["__lazy_ok"].df is None
        assert "r_name" in cat.schema("__lazy_ok").fieldNames()
        assert cat._tables["__lazy_ok"].df is None, \
            "schema() must not materialize a pending table"
    finally:
        cat.drop_table("__lazy_ok")
    # a bad registration (missing path) must not abort the column scan
    # nor take down SQL over other datasources
    cat.register_table("__bad_reg", str(tmp_path / "nope_missing"),
                       time_column=None)
    try:
        assert cat._tables["__bad_reg"].df is None
        rows = engine.sql("SELECT MV_LENGTH('x') AS x").collect()
        # auto-wrap still works: scalar 'x' literal wraps to ['x']
        assert rows[0]["x"] == 1
        # the bad registration survives (its error surfaces on direct use)
        assert cat._tables["__bad_reg"].df is None
        with pytest.raises(Exception, match="nope_missing"):
            cat.table("__bad_reg").collect()
    finally:
        cat.drop_table("__bad_reg")


# --------------------------------------- 3+4: reversed frames, two windows

def test_two_named_reversed_windows(engine):
    """Two named WINDOW defs both carrying reversed (always-empty)
    frames: the second substitution used to splice with stale offsets
    and produce corrupted SQL."""
    rows = engine.sql("""
        SELECT l_linenumber,
               SUM(l_quantity) OVER w1 AS s1,
               COUNT(l_orderkey) OVER w2 AS c2
        FROM lineitem
        WHERE l_orderkey < 10
        WINDOW w1 AS (ORDER BY l_linenumber
                      ROWS BETWEEN 0 PRECEDING AND 1 PRECEDING),
               w2 AS (ORDER BY l_linenumber
                      ROWS BETWEEN 2 PRECEDING AND 3 PRECEDING)
        """).collect()
    assert rows
    for r in rows:
        assert r["s1"] is None
        assert r["c2"] == 0


def test_empty_frame_fold_preserves_operand_type(engine):
    """MIN over an always-empty frame folds to a NULL of the operand's
    type — a STRING null broke type unification in surrounding
    arithmetic (ADVICE r7 low)."""
    df = engine.sql("""
        SELECT MIN(l_orderkey) OVER (ORDER BY l_linenumber
                 ROWS BETWEEN 0 PRECEDING AND 1 PRECEDING) AS mn,
               MIN(l_orderkey) OVER (ORDER BY l_linenumber
                 ROWS BETWEEN 0 PRECEDING AND 1 PRECEDING) + 1 AS mn1
        FROM lineitem WHERE l_orderkey < 5
        """)
    t = dict(df.dtypes)
    assert t["mn"] in ("bigint", "int", "long"), t
    for r in df.collect():
        assert r["mn"] is None and r["mn1"] is None


# --------------------------------------------------- 5: IN-list literal ')'

def test_in_is_true_with_paren_in_literal(engine):
    rows = engine.sql(
        "SELECT n_name FROM nation "
        "WHERE (n_name IN ('a)', 'NATION_3') ) IS TRUE").collect()
    assert {r["n_name"] for r in rows} == {"NATION_3"}
    rows2 = engine.sql(
        "SELECT n_name FROM nation "
        "WHERE n_name IN ('a)', 'NATION_3') IS TRUE").collect()
    assert {r["n_name"] for r in rows2} == {"NATION_3"}
