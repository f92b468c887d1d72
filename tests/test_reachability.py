"""Reachability guard: every top-level, undecorated function and class in
``nexusbase_spark/`` is named somewhere other than its own definition.

"Named" means an AST ``Name``, ``Attribute`` or import (never a string)
in any module of the package, ``tests/``, ``tools/`` or ``perfbench/``,
or in ``bench.py`` / ``__spark_entry__.py``. A package ``__init__``
re-export (``from .x import f``) does not count: it keeps a name
importable, not used. Decorated definitions are reached through their
decorator (the query registry, ``dataclass``, ...) and are skipped.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "nexusbase_spark")
SCAN_DIRS = ("nexusbase_spark", "tests", "tools", "perfbench")
SCAN_FILES = ("bench.py", "__spark_entry__.py")


def _py_files() -> list[str]:
    out = [os.path.join(REPO, f) for f in SCAN_FILES]
    for d in SCAN_DIRS:
        for root, _, files in os.walk(os.path.join(REPO, d)):
            out += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return sorted(p for p in out if os.path.isfile(p))


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            out |= {a.name.rsplit(".", 1)[-1] for a in n.names}
    return out


def unreached() -> list[str]:
    """``module:name`` of every top-level, undecorated def/class that no
    statement names, other than its own definition and package
    ``__init__`` re-exports."""
    defs: list[tuple[str, str]] = []
    # name -> {(file, name of the top-level def it sits in, or None)}
    named: dict[str, set[tuple[str, str | None]]] = {}
    for path in _py_files():
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        in_package = path.startswith(PACKAGE + os.sep)
        is_init = os.path.basename(path) == "__init__.py"
        for stmt in tree.body:
            own = None
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                own = stmt.name
                if in_package and not stmt.decorator_list:
                    defs.append((path, stmt.name))
            if in_package and is_init and isinstance(stmt, ast.ImportFrom):
                continue
            for name in _names(stmt):
                named.setdefault(name, set()).add((path, own))
    return sorted(
        f"{os.path.relpath(path, REPO)}:{name}" for path, name in defs
        if not (named.get(name, set()) - {(path, name)}))


def test_every_package_definition_is_reached():
    assert unreached() == []
