"""`util.materialize` is the package's only lineage-break call.

Its ``spark.graft.materialize.mode`` switch (``local`` block storage
vs ``reliable`` checkpoint dir) only holds if no other package code
calls ``.localCheckpoint(`` or ``.checkpoint(`` itself. This walks the
package AST and fails on any such call outside `util.materialize`.
Comments and docstrings are not calls: only code counts."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "real_time_database_monitoring_system_spark"
ALLOWED = {("operators/util.py", "materialize")}
BREAKS = {"localCheckpoint", "checkpoint"}


def _break_calls(tree: ast.AST):
    """(enclosing top-level def, line) of every lineage-break call."""
    for stmt in tree.body:
        owner = getattr(stmt, "name", "<module>")
        for sub in ast.walk(stmt):
            if (
                isinstance(sub, ast.Call)
                and isinstance(sub.func, ast.Attribute)
                and sub.func.attr in BREAKS
            ):
                yield owner, sub.lineno


def test_only_materialize_breaks_lineage():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        for owner, line in _break_calls(tree):
            if (rel, owner) not in ALLOWED:
                offenders.append(f"{rel}:{line} in {owner}")
    assert not offenders, f"lineage breaks outside util.materialize: {offenders}"
