"""Every task's lifecycle lives in the task registry
(druid_spark/tasks.py). These checks parse `druid_spark/` without
running it: outside tasks.py no module stores a `…["state"]` of its
own, and none defines a `MAX_DONE` cap, so no second task store with
its own state machine or eviction can come back.
"""

import ast

from tests.test_commit_path import _modules


def _task_store_violations(rel: str, tree) -> list[str]:
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
            targets = [node.target]
        else:
            continue
        for t in (e for tgt in targets for e in ast.walk(tgt)):
            if (isinstance(t, ast.Subscript)
                    and isinstance(t.ctx, ast.Store)
                    and isinstance(t.slice, ast.Constant)
                    and t.slice.value == "state"):
                out.append((node.lineno, f"{rel}:{node.lineno} stores "
                                         "['state']"))
            elif isinstance(t, ast.Name) and t.id == "MAX_DONE":
                out.append((node.lineno,
                            f"{rel}:{node.lineno} defines MAX_DONE"))
    return [v for _line, v in sorted(out)]


def test_only_the_registry_keeps_task_state():
    found = [v for rel, tree in _modules() if rel != "tasks.py"
             for v in _task_store_violations(rel, tree)]
    assert found == []


def test_task_store_guard_sees_each_form():
    tree = ast.parse(
        "rec['state'] = 'RUNNING'\n"
        "x = rec['state']\n"
        "a, b['state'] = 1, 2\n"
        "c['state'] += 'x'\n"
        "class S:\n"
        "    MAX_DONE = 256\n"
        "MAX_DONE: int = 3\n"
        "out = {'state': rec['status']}\n"
        "self.MAX_DONE = 3\n")
    assert [v.split(" ", 1)[0] for v in _task_store_violations(
        "m.py", tree)] == ["m.py:1", "m.py:3", "m.py:4", "m.py:6",
                           "m.py:7"]
