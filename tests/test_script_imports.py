"""Every package name the scripts, the bench, the driver entry and perfbench
import still exists. Those files run only by hand or under the benchmark, so
a deleted or renamed package name would otherwise fail at their next run.
No Spark session: the package modules import without one."""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "entity_resolver_spark"
FILES = sorted(
    glob.glob(os.path.join(ROOT, "scripts", "*.py"))
    + glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
    + [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
)


def _package_imports(path: str) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for every package import in ``path``, top level
    or inside a function; ``name`` is None for a plain ``import module``."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and not node.level and node.module:
            if node.module.split(".")[0] == PACKAGE:
                out += [(node.lineno, node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (node.lineno, a.name, None)
                for a in node.names
                if a.name.split(".")[0] == PACKAGE
            ]
    return out


def _resolves(module: str, name: str | None) -> bool:
    mod = importlib.import_module(module)
    if name is None or hasattr(mod, name):
        return True
    try:  # ``from package import submodule``
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


@pytest.mark.parametrize(
    "path", FILES, ids=[os.path.relpath(p, ROOT) for p in FILES]
)
def test_imported_package_names_exist(path):
    missing = [
        f"{os.path.relpath(path, ROOT)}:{line}: {module}"
        + (f".{name}" if name else "")
        for line, module, name in _package_imports(path)
        if not _resolves(module, name)
    ]
    assert not missing, missing


def test_every_checked_file_imports_the_package():
    """Guards the walk itself: a file list or AST filter that matched
    nothing would pass the test above vacuously."""
    for path in (
        os.path.join(ROOT, "bench.py"),
        os.path.join(ROOT, "__spark_entry__.py"),
        os.path.join(ROOT, "perfbench", "spans.py"),
    ):
        assert _package_imports(path), path
