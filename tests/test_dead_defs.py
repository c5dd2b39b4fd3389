"""Dead-code guard: every public top-level def in the engine packages
is referenced somewhere in the repo's Python outside its own body.

No Spark: both the defs and the references come from an AST walk.  A
reference is a name (``f(...)``), an attribute (``mod.f``) or an
import alias (``from mod import f``); docstrings, comments and other
string literals do not count, so a def that only prose mentions is
dead.  References inside the def's own source lines (recursion) do not
count either.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGES = ("operators", "functions", "kernels", "plans", "sources", "streaming")


def references(tree: ast.AST) -> list[tuple[str, int]]:
    """(name, line) for every name, attribute and import alias."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            out.append((node.attr, node.end_lineno))
        elif isinstance(node, ast.alias):
            out += [(part, node.lineno) for part in node.name.split(".")]
            if node.asname:
                out.append((node.asname, node.lineno))
    return out


def test_references_skip_prose():
    src = '''
"""The module docstring names prose_only."""
from mod import imported as alias  # comment names commented_only
import pkg.sub

def f():
    """f calls documented_only."""
    return called() + obj.attr_ref + "string_only"
'''
    names = {n for n, _ in references(ast.parse(src))}
    assert {"imported", "alias", "pkg", "sub", "called", "obj", "attr_ref"} <= names
    assert names.isdisjoint(
        {"prose_only", "commented_only", "documented_only", "string_only"}
    )


def test_no_unreferenced_public_defs():
    trees = {
        path.relative_to(REPO): ast.parse(path.read_text(), str(path))
        for path in sorted(REPO.rglob("*.py"))
        if not any(p.startswith(".") for p in path.relative_to(REPO).parts)
    }
    uses: dict[str, list[tuple[Path, int]]] = defaultdict(list)
    for rel, tree in trees.items():
        for name, line in references(tree):
            uses[name].append((rel, line))
    dead = []
    for rel, tree in trees.items():
        if rel.parts[0] != "gdal_spark" or rel.parts[1] not in PACKAGES:
            continue
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) \
                    or node.name.startswith("_"):
                continue
            first = min([node.lineno, *(d.lineno for d in node.decorator_list)])
            if all(r == rel and first <= line <= node.end_lineno
                   for r, line in uses[node.name]):
                dead.append(f"{rel}::{node.name}")
    assert not dead, f"public defs nothing references: {dead}"
