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
