"""Every module of the package is imported somewhere in the repo.

A static scan (``ast``, no Spark, nothing imported): collect the module
names that the package, ``jobs/``, ``tools/``, ``tests/``, ``bench*.py``
and ``__spark_entry__.py`` import — relative imports resolved against
the importing file's package, ``from pkg import name`` counted as a
possible submodule import — and require each non-``__init__`` module
under ``wayproblems_spark/`` to appear among them, imported by a file
other than itself. A module nothing imports is dead code: delete it.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "wayproblems_spark"


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _scanned_files():
    for pattern in (f"{PKG}/**/*.py", "jobs/**/*.py", "tools/**/*.py", "tests/**/*.py"):
        yield from REPO.glob(pattern)
    yield from REPO.glob("bench*.py")
    yield REPO / "__spark_entry__.py"


def _imported_names(path: Path) -> set[str]:
    """Every dotted name `path` may import, with all its parent packages."""
    tree = ast.parse(path.read_text(), filename=str(path))
    package = _module_name(path).split(".")
    if path.name != "__init__.py":
        package = package[:-1]
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = package[: len(package) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            names.add(mod)
            names.update(f"{mod}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def test_every_package_module_is_imported():
    importers: dict[str, set[str]] = {}
    for path in _scanned_files():
        me = _module_name(path)
        for name in _imported_names(path):
            importers.setdefault(name, set()).add(me)
    modules = [
        _module_name(p)
        for p in sorted((REPO / PKG).rglob("*.py"))
        if p.name != "__init__.py"
    ]
    orphans = [m for m in modules if not importers.get(m, set()) - {m}]
    assert not orphans, f"modules nothing in the repo imports: {orphans}"
