"""Every warehouse writer publishes through Catalog.commit. These checks
parse `druid_spark/` without running it: outside catalog.py no module
sets a table's partitioning itself, or registers a fresh
`spark.read.parquet(...)` of a written directory, which is commit's
job; and none reads a private attribute of the catalog, whose state
only its own methods may take apart.
"""

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


def _private_reads(rel: str, tree) -> list[str]:
    """Reads of `<catalog>._name`, where `<catalog>` is a name
    `catalog`, an attribute `.catalog` or a name bound to either."""
    def is_catalog(node) -> bool:
        return (isinstance(node, ast.Name) and node.id == "catalog"
                or isinstance(node, ast.Attribute) and node.attr == "catalog")
    aliases = {t.id for node in ast.walk(tree)
               if isinstance(node, ast.Assign) and is_catalog(node.value)
               for t in node.targets if isinstance(t, ast.Name)}
    return sorted(
        (node.lineno, f"{rel}:{node.lineno} reads catalog.{node.attr}")
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr.startswith("_")
        and not node.attr.startswith("__")
        and (is_catalog(node.value) or isinstance(node.value, ast.Name)
             and node.value.id in aliases))


def test_only_catalog_reads_its_private_state():
    found = [v for rel, tree in _modules() if rel != "catalog.py"
             for _line, v in _private_reads(rel, tree)]
    assert found == []


def test_private_read_guard_sees_each_form():
    tree = ast.parse(
        "a = self.catalog._reg_serial\n"
        "b = catalog._json_cols.get(t, {})\n"
        "cat = self.engine.catalog\n"
        "c = cat._tables\n"
        "d = self.catalog.tables()\n"
        "e = self._cache\n"
        "f = catalog.__class__\n")
    assert [v.split(" ", 1)[0] for _line, v in _private_reads("m.py", tree)
            ] == ["m.py:1", "m.py:2", "m.py:4"]
