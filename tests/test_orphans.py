"""Orphan guard: every top-level def, class and assigned name in the
package is referenced by code somewhere outside its own body.

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


def _defined(node: ast.stmt) -> list[str]:
    """The names a top-level statement defines: a def or class, or the
    plain names an assignment binds (dunders such as ``__all__`` are
    read by the language, not by code)."""
    if isinstance(node, DEFS):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [
        n.id
        for t in targets
        for n in ast.walk(t)
        if isinstance(n, ast.Name)
        and isinstance(n.ctx, ast.Store)
        and not n.id.startswith("__")
    ]


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
            for defined in _defined(node):
                inside = sum(1 for name in _references(node) if name == defined)
                if refs[defined] == inside:
                    orphans.append(f"{path.relative_to(REPO)}:{node.lineno} {defined}")
    assert not orphans, "top-level names nothing references:\n" + "\n".join(orphans)


def test_assigned_names_are_defined():
    tree = ast.parse("A = 1\nB: int = 2\nC, D = 3, 4\n__all__ = []\nE[0] = 5\n")
    assert [n for node in tree.body for n in _defined(node)] == ["A", "B", "C", "D"]


def test_prose_is_not_a_reference():
    tree = ast.parse('"""see f and g"""\n# f\nx = g\nh(mod, "k")\n')
    assert set(_references(tree)) == {"see f and g", "x", "g", "h", "mod", "k"}
