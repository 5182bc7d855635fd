"""Every package import in the command-line scripts resolves.

Several tools are run by hand only (``tools/a0003_floor.py``,
``tools/vocab_decade.py``) and import operator internals; this walks
their imports so moving a name breaks a test instead of the tool."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PKG = "one_stop_cdc_ingestion_toolkit_spark"
SCRIPTS = sorted(
    [*ROOT.glob("tools/*.py"), ROOT / "bench.py", ROOT / "__spark_entry__.py"]
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
