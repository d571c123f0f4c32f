"""Every top-level ``def``/``class`` in the package has a caller.

A helper nothing references is a second code path that no query, tool
or benchmark exercises — it drifts silently from the implementation
the registry actually runs. This walks the AST of the package plus
every program that drives it (`__spark_entry__.py`, `bench.py`,
`tools/`, `perfbench/`, `tests/`) and fails on any package-level
definition that is never referenced as a ``Name``, an ``Attribute`` or
an import alias outside its own body. Docstrings and comments are not
references: only code counts."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "real_time_database_monitoring_system_spark"
DRIVERS = [
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    ROOT / "tools",
    ROOT / "perfbench",
    ROOT / "tests",
]


def _py_files(path: Path) -> list[Path]:
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _referenced(node: ast.AST) -> set[str]:
    names = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            names.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            names.add(sub.attr)
        elif isinstance(sub, ast.alias):
            names.add(sub.name.rsplit(".", 1)[-1])
    return names


def test_every_package_def_has_a_caller():
    defined, used = set(), set()
    for path in _py_files(PACKAGE) + [p for d in DRIVERS for p in _py_files(d)]:
        tree = ast.parse(path.read_text(), filename=str(path))
        in_package = path.is_relative_to(PACKAGE)
        for stmt in tree.body:
            refs = _referenced(stmt)
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                refs.discard(stmt.name)
                if in_package:
                    defined.add(stmt.name)
            used |= refs
    dead = sorted(defined - used)
    assert not dead, f"top-level defs nothing references: {dead}"

