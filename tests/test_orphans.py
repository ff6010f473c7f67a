"""Orphan guard: every top-level def and class in the package is
referenced by code somewhere outside its own body.

References are counted from the syntax tree of every Python file in the
package, the jobs, ``__spark_entry__.py``, ``bench.py``, ``perfbench/``
and the tests: a name, an attribute, an imported name, or a string
constant equal to the name (``monkeypatch.setattr(mod, "name", ...)``,
perfbench's patch targets). Comments and prose inside docstrings do not
count. Code nothing references is deleted, not kept.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "docling_spark"
SEARCHED = [PACKAGE, REPO / "jobs", REPO / "perfbench", REPO / "tests",
            REPO / "__spark_entry__.py", REPO / "bench.py"]
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _py_files(root: Path) -> list[Path]:
    return [root] if root.is_file() else sorted(root.rglob("*.py"))


def _references(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1]
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            yield node.value


def test_every_top_level_def_is_referenced():
    trees = {path: ast.parse(path.read_text()) for root in SEARCHED for path in _py_files(root)}
    refs = Counter(name for tree in trees.values() for name in _references(tree))

    orphans = []
    for path in _py_files(PACKAGE):
        for node in trees[path].body:
            if not isinstance(node, DEFS):
                continue
            inside = sum(1 for name in _references(node) if name == node.name)
            if refs[node.name] == inside:
                orphans.append(f"{path.relative_to(REPO)}:{node.lineno} {node.name}")
    assert not orphans, "top-level defs nothing references:\n" + "\n".join(orphans)


def test_prose_is_not_a_reference():
    tree = ast.parse('"""see f and g"""\n# f\nx = g\nh(mod, "k")\n')
    assert set(_references(tree)) == {"see f and g", "x", "g", "h", "mod", "k"}
