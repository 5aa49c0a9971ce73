"""Every ``from pdfsearch_spark… import name`` in the dev scripts, the
benches and the driver entry resolves. Those files have no tests of their
own, so without this check deleting or renaming a package internal they use
would only surface when someone next runs them. The files are parsed, not
executed."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
FILES = sorted(
    [*ROOT.glob("scripts/*.py"), ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    + list(ROOT.glob("perfbench/*.py"))
)


def _package_imports(path: Path):
    """(module, name) per imported package name; name None for ``import m``."""
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] == "pdfsearch_spark":
                for alias in node.names:
                    yield node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "pdfsearch_spark":
                    yield alias.name, None


def _resolves(module: str, name: str | None) -> bool:
    mod = importlib.import_module(module)
    if name is None or name == "*" or hasattr(mod, name):
        return True
    try:  # ``from pkg import submodule``
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


@pytest.mark.parametrize("path", FILES, ids=lambda p: str(p.relative_to(ROOT)))
def test_package_imports_resolve(path):
    missing = [
        f"{m}.{n}" if n else m for m, n in _package_imports(path) if not _resolves(m, n)
    ]
    assert not missing, f"{path.name} imports names the package no longer has: {missing}"


PACKAGE = ROOT / "pdfsearch_spark"
REFERRERS = sorted(
    [*PACKAGE.rglob("*.py"), *ROOT.glob("tests/*.py"), *FILES]
)


def _defined_names(stmt: ast.stmt) -> list[str]:
    """Top-level function, class and constant names a statement defines."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        names = [stmt.name]
    elif isinstance(stmt, ast.Assign):
        names = [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    elif isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        names = [stmt.target.id]
    else:
        names = []
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def _referenced_names(stmt: ast.stmt) -> set[str]:
    """Names a statement reads: loads, attribute names, imported names and
    the strings of an ``__all__`` list."""
    out: set[str] = set()
    for node in ast.walk(stmt):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
    if isinstance(stmt, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets
    ):
        out |= {
            n.value for n in ast.walk(stmt.value)
            if isinstance(n, ast.Constant) and isinstance(n.value, str)
        }
    return out


def test_no_dead_definitions():
    """Every top-level function, class and constant of the package is
    referenced outside its own definition: by the package, the tests, the
    dev scripts, the benches or the driver entry. Files are parsed, not
    executed."""
    defined: list[tuple[str, Path, int]] = []
    refs: dict[str, set[tuple[Path, int]]] = {}
    for path in REFERRERS:
        body = ast.parse(path.read_text(), filename=str(path)).body
        for i, stmt in enumerate(body):
            if path.is_relative_to(PACKAGE):
                defined += [(n, path, i) for n in _defined_names(stmt)]
            for n in _referenced_names(stmt):
                refs.setdefault(n, set()).add((path, i))
    dead = [
        f"{path.relative_to(ROOT)}:{name}"
        for name, path, i in defined
        if not refs.get(name, set()) - {(path, i)}
    ]
    assert not dead, f"defined but never referenced: {dead}"
