"""Scripts and tests import the package of their own checkout."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _is_sys_path(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "path"
            and isinstance(node.value, ast.Name) and node.value.id == "sys")


def _absolute_literals(node: ast.AST) -> list[str]:
    return [n.value for n in ast.walk(node)
            if isinstance(n, ast.Constant) and isinstance(n.value, str)
            and os.path.isabs(n.value)]


def test_no_absolute_path_literal_on_sys_path():
    files = [os.path.join(ROOT, "bench.py")] + [
        os.path.join(d, f) for top in ("tests", "tools")
        for d, _, fs in os.walk(os.path.join(ROOT, top)) for f in fs if f.endswith(".py")]
    found = []
    for path in files:
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and _is_sys_path(node.func.value)):
                values = node.args
            elif isinstance(node, ast.Assign) and any(
                    _is_sys_path(t.value if isinstance(t, ast.Subscript) else t)
                    for t in node.targets):
                values = [node.value]
            else:
                continue
            found += [f"{os.path.relpath(path, ROOT)}:{node.lineno}: {lit}"
                      for v in values for lit in _absolute_literals(v)]
    assert not found, found
