"""Every warehouse writer publishes through Catalog.commit. These checks
parse `druid_spark/` without running it: outside catalog.py no module
sets a table's partitioning itself, or registers a fresh
`spark.read.parquet(...)` of a written directory, which is commit's
job."""

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "druid_spark")


def _modules():
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                with open(path) as fh:
                    yield os.path.relpath(path, PKG), ast.parse(fh.read())


def _is_parquet_read(node) -> bool:
    """`<x>.read.parquet(...)`, possibly with reader options between."""
    if not (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"):
        return False
    recv = node.func.value
    while isinstance(recv, ast.Call) and isinstance(recv.func,
                                                    ast.Attribute):
        recv = recv.func.value
    return isinstance(recv, ast.Attribute) and recv.attr == "read"


def _violations(rel: str, tree) -> list[str]:
    read_names = {t.id for node in ast.walk(tree)
                  if isinstance(node, ast.Assign)
                  and _is_parquet_read(node.value)
                  for t in node.targets if isinstance(t, ast.Name)}
    out = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)):
            continue
        if node.func.attr == "set_partitioning":
            out.append(f"{rel}:{node.lineno} calls set_partitioning")
        if node.func.attr == "register_table":
            args = node.args + [k.value for k in node.keywords]
            if any(_is_parquet_read(a) or (isinstance(a, ast.Name)
                                           and a.id in read_names)
                   for a in args):
                out.append(f"{rel}:{node.lineno} registers a parquet read")
    return out


def test_only_catalog_publishes_tables():
    found = [v for rel, tree in _modules() if rel != "catalog.py"
             for v in _violations(rel, tree)]
    assert found == []


def test_guard_sees_both_forms():
    tree = ast.parse(
        "tbl = spark.read.parquet(p)\n"
        "cat.register_table('t', tbl, source_path=p)\n"
        "cat.register_table('t', e.spark.read.parquet(p))\n"
        "cat.register_table('t', df)\n"
        "cat.set_partitioning('t', '__dt', 'yyyy')\n")
    assert [v.split(" ", 1)[0] for v in _violations("m.py", tree)] == [
        "m.py:2", "m.py:3", "m.py:5"]
