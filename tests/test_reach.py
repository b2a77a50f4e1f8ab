"""Every public top-level function and class in ``engine/spark`` and
``engine/datawork`` is reached by code outside ``tests/``: a declared
query, a CLI, ``tools/``, ``perfbench/`` or ``bench.py``, directly or
through another engine function. ``engine/core`` is out of scope: its
test-only helpers are the reference's parity surface."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
SCOPES = {("engine", "spark"), ("engine", "datawork")}

#: name -> why it stays without a non-test caller
ALLOWED = {
    "banded_sig_expr": "the Column-expression reference that "
                       "test_banded_sig_udf_bitwise_equals_expression "
                       "pins the Arrow banded_sig_udf against",
}


def _sources():
    for p in sorted(REPO.rglob("*.py")):
        rel = p.relative_to(REPO)
        if rel.parts[0] == "tests" or any(
                part == "dist" or part.startswith(".") for part in rel.parts):
            continue
        yield rel, ast.parse(p.read_text(), str(rel))


def _names_used(tree: ast.AST) -> set:
    """Identifiers a module loads, reads as an attribute, or imports."""
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            used.add(node.attr)
        elif isinstance(node, ast.alias):
            used.add(node.name.rsplit(".", 1)[-1])
    return used


def test_engine_definitions_have_a_non_test_caller():
    defined, used = {}, set()
    for rel, tree in _sources():
        used |= _names_used(tree)
        if rel.parts[:2] in SCOPES and len(rel.parts) == 3:
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)) \
                        and not node.name.startswith("_"):
                    defined[node.name] = f"{rel}:{node.lineno}"
    unreached = sorted(f"{name} ({where})"
                       for name, where in defined.items()
                       if name not in used and name not in ALLOWED)
    assert not unreached, (
        "engine definitions only tests reach (delete them, or give the "
        f"reason in ALLOWED): {unreached}")
    assert set(ALLOWED) <= set(defined), "stale ALLOWED entry"
