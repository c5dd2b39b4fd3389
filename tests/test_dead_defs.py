"""Dead-code guard: every public top-level def in the engine packages
is referenced somewhere in the repo's Python outside its own body.

No Spark: the defs come from an AST walk, and a reference is any
whole-word occurrence of the name in a ``.py`` file (code, docstring or
comment), the ``grep -rw`` rule.  Occurrences inside the def's own
source lines (its signature, docstring or recursion) do not count.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGES = ("operators", "functions", "kernels", "plans", "sources", "streaming")
WORD = re.compile(r"\w+")


def test_no_unreferenced_public_defs():
    sources = {
        path.relative_to(REPO): path.read_text()
        for path in sorted(REPO.rglob("*.py"))
        if not any(p.startswith(".") for p in path.relative_to(REPO).parts)
    }
    uses = Counter(w for text in sources.values() for w in WORD.findall(text))
    dead = []
    for rel, text in sources.items():
        if rel.parts[0] != "gdal_spark" or rel.parts[1] not in PACKAGES:
            continue
        lines = text.splitlines()
        for node in ast.parse(text, str(rel)).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) \
                    or node.name.startswith("_"):
                continue
            first = min([node.lineno, *(d.lineno for d in node.decorator_list)])
            own = "\n".join(lines[first - 1:node.end_lineno])
            if uses[node.name] <= WORD.findall(own).count(node.name):
                dead.append(f"{rel}::{node.name}")
    assert not dead, f"public defs nothing references: {dead}"
