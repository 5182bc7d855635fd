"""Every package import in the command-line scripts resolves.

Several tools are run by hand only (``tools/a0003_floor.py``,
``tools/vocab_decade.py``) and import operator internals, and the
benchmark (``perfbench/``) imports the package inside functions and
patches its methods when tracing; this walks their imports and the
tracer's patch targets so moving a name breaks a test instead of the
script."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PKG = "one_stop_cdc_ingestion_toolkit_spark"
SCRIPTS = sorted(
    [
        *ROOT.glob("tools/*.py"),
        *ROOT.glob("perfbench/*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
)


def _package_imports(path: Path) -> list[tuple[str, str]]:
    tree = ast.parse(path.read_text())
    return [
        (node.module, alias.name)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and node.module
        and node.module.split(".")[0] == PKG
        for alias in node.names
    ]


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: p.name)
def test_script_imports_resolve(script):
    for module, name in _package_imports(script):
        mod = importlib.import_module(module)
        if not hasattr(mod, name):
            importlib.import_module(f"{module}.{name}")


def test_tracer_wraps_existing_methods():
    """``Tracer.wrap(cls, "method", ...)`` replaces ``cls.__dict__[method]``,
    so each wrapped method must be defined on that class itself; a rename
    would break only the traced benchmark runs."""
    tree = ast.parse((ROOT / "perfbench" / "tracing.py").read_text())
    classes = {
        alias.asname or alias.name: (node.module, alias.name)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and node.module
        for alias in node.names
    }
    wraps = [
        (call.args[0].id, call.args[1].value)
        for call in ast.walk(tree)
        if isinstance(call, ast.Call)
        and isinstance(call.func, ast.Attribute)
        and call.func.attr == "wrap"
        and isinstance(call.func.value, ast.Name)
        and call.func.value.id == "self"
    ]
    assert len(wraps) >= 8
    for cls_name, method in wraps:
        module, name = classes[cls_name]
        cls = getattr(importlib.import_module(module), name)
        assert method in cls.__dict__, f"{cls_name}.{method}"
