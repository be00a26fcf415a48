"""Every ``from data_reconciliation_spark... import name`` in the scripts
and the benchmark resolves, so deleting a library name cannot silently
break a tool, the bench entry points, or the perfbench worker probe."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted(
    [
        *ROOT.glob("tools/*.py"),
        *ROOT.glob("bench*.py"),
        ROOT / "__spark_entry__.py",
        *ROOT.glob("perfbench/**/*.py"),
    ]
)


def _library_imports(source: str):
    for node in ast.walk(ast.parse(source)):
        if (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and node.module
            and node.module.split(".")[0] == "data_reconciliation_spark"
        ):
            for alias in node.names:
                yield node.lineno, node.module, alias.name
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "from data_reconciliation_spark" in node.value
        ):
            # child-process scripts held as string constants (run via
            # ``python -c``) import the library too
            try:
                yield from _library_imports(node.value)
            except SyntaxError:
                pass


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(ROOT)))
def test_script_library_imports_resolve(path):
    missing = []
    for lineno, module, name in _library_imports(path.read_text()):
        mod = importlib.import_module(module)
        if hasattr(mod, name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"{path.name}:{lineno}: {module}.{name}")
    assert not missing, missing
