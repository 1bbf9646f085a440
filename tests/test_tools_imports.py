"""Every engine name that bench.py and tools/*.py import must exist.

The scripts import the engine inside functions and no other test imports
them, so a script that still names a deleted or renamed helper would only
fail when someone runs it. This parses each script (function-local imports
included) and checks each ``from em_connected_components_spark... import
name`` against the module. No Spark session is started.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = "em_connected_components_spark"
SCRIPTS = [ROOT / "bench.py", *sorted((ROOT / "tools").glob("*.py"))]


def _engine_imports(path: pathlib.Path) -> list[tuple[str, str, int]]:
    """(module, name, line) for every engine from-import in the script."""
    found = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module == PACKAGE or node.module.startswith(PACKAGE + ".")
        ):
            found += [(node.module, a.name, node.lineno) for a in node.names]
    return found


def test_scripts_import_the_engine():
    # guards against a vacuous pass: the script set really holds engine imports
    assert sum(len(_engine_imports(p)) for p in SCRIPTS) > 0


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_engine_names_exist(path):
    missing = []
    for module, name, line in _engine_imports(path):
        mod = importlib.import_module(module)
        is_submodule = hasattr(mod, "__path__") and (
            importlib.util.find_spec(f"{module}.{name}") is not None
        )
        if not hasattr(mod, name) and not is_submodule:
            missing.append(f"{path.name}:{line} {module}.{name}")
    assert not missing, missing
