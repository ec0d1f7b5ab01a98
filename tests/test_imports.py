"""Every ``ad_data_lake_spark`` module and name that the scripts, the
bench CLI and the benchmark harness import must resolve — a deleted or
renamed library function shows up here, not in a script run. Imports
are read with ``ast`` (function-level ones included) and resolved by
importing the library modules only; no SparkSession is started."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PKG = "ad_data_lake_spark"
SOURCES = sorted(
    [*REPO.glob("scripts/*.py"), REPO / "bench.py", *REPO.glob("perfbench/*.py")]
)


def _library_imports(path: Path) -> list[tuple[str, str | None, int]]:
    """(module, imported name or None, line) for each library import."""
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found += [
                (a.name, None, node.lineno)
                for a in node.names
                if a.name.split(".")[0] == PKG
            ]
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] == PKG:
                found += [(node.module, a.name, node.lineno) for a in node.names]
    return found


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: str(p.relative_to(REPO)))
def test_library_imports_resolve(path):
    broken = []
    for module, name, line in _library_imports(path):
        try:
            mod = importlib.import_module(module)
        except ImportError as e:
            broken.append(f"{line}: import {module}: {e}")
            continue
        if name is None or name == "*" or hasattr(mod, name):
            continue
        # a submodule not yet imported is not an attribute of its package
        if hasattr(mod, "__path__") and importlib.util.find_spec(f"{module}.{name}"):
            continue
        broken.append(f"{line}: {module} has no {name}")
    assert not broken, f"{path.name}:\n" + "\n".join(broken)
