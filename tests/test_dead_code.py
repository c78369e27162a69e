"""Spark-free guard against dead code: every top-level function and class
the package defines must be referenced somewhere in the code base."""

from __future__ import annotations

import ast
import os
from pathlib import Path

REPO = Path(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
PKG = REPO / "nosql_based_business_intelligence_system_spark"


def _sources() -> list[Path]:
    files = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    for d in (PKG, REPO / "tests", REPO / "tools", REPO / "perfbench"):
        files += sorted(d.rglob("*.py"))
    return files


def _referenced(tree: ast.AST) -> set[str]:
    """Names a module uses: loads and attribute accesses, imported names,
    and identifier-shaped string constants (getattr, registries keyed by
    name)."""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                out.add(node.value)
    return out


def test_no_unreferenced_top_level_defs():
    defined: dict[str, str] = {}
    for f in sorted(PKG.rglob("*.py")):
        for node in ast.parse(f.read_text()).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defined[node.name] = f"{f.relative_to(REPO)}:{node.lineno}"
    used: set[str] = set()
    for f in _sources():
        used |= _referenced(ast.parse(f.read_text()))
    dead = sorted(f"{where} {name}" for name, where in defined.items() if name not in used)
    assert not dead, f"top-level defs referenced nowhere: {dead}"
