"""Every public top-level function and class in ``engine/spark`` and
``engine/datawork`` is reached by code outside ``tests/``: a declared
query, a CLI, ``tools/``, ``perfbench/`` or ``bench.py``, directly or
through another engine function. ``engine/core`` is out of scope: its
test-only helpers are the reference's parity surface. The datawork text
and hash rules are spelled only in ``engine/datawork/textstats.py``."""

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


#: the datawork text and hash rules, each spelled once in RULE_HOME
RULES = ("F.split(F.trim(F.lower(", "F.substring(F.md5(",
         "F.sequence(F.lit(1), F.size(")
RULE_HOME = "engine/datawork/textstats.py"

#: (file, spelling) -> why that site keeps its own spelling
RULE_SITES_ALLOWED = {
    ("engine/spark/udfs.py", "F.substring(F.md5("):
        "bucket_col is the pipeline's resume-bucket contract with "
        "stable_bucket, and engine.spark does not import engine.datawork",
    ("engine/datawork/substrings.py", "F.sequence(F.lit(1), F.size("):
        "span windows keep case, drop empty tokens and are hashed, to "
        "match the oracle's list_filter spelling",
}


def _source_texts():
    for p in sorted(REPO.rglob("*.py")):
        rel = p.relative_to(REPO)
        if rel.parts[0] == "tests" or any(
                part == "dist" or part.startswith(".") for part in rel.parts):
            continue
        yield rel, p.read_text()


def _sources():
    for rel, text in _source_texts():
        yield rel, ast.parse(text, str(rel))


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


def test_text_and_hash_rules_have_one_spelling():
    """Lowered words, word n-grams and the md5 32-bit hash are spelled only
    in textstats (``words``, ``word_ngrams``, ``md5_u32``); every other
    site calls them, so the rules cannot drift from the oracle's apart."""
    sites = {(rel.as_posix(), rule)
             for rel, text in _source_texts() for rule in RULES
             if rule in text and rel.as_posix() != RULE_HOME}
    stray = sorted(sites - set(RULE_SITES_ALLOWED))
    assert not stray, (
        f"spell these through {RULE_HOME} (or give the reason in "
        f"RULE_SITES_ALLOWED): {stray}")
    assert set(RULE_SITES_ALLOWED) <= sites, "stale RULE_SITES_ALLOWED entry"
