"""Orphan guard: every top-level def and class in the package is named
somewhere outside its own body.

A name counts as referenced when it appears as a whole word in any
Python file of the package, the jobs, ``__spark_entry__.py``,
``bench.py``, ``perfbench/`` or the tests, other than in the lines of
its own definition. Code nothing references is deleted, not kept.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "docling_spark"
SEARCHED = [PACKAGE, REPO / "jobs", REPO / "perfbench", REPO / "tests",
            REPO / "__spark_entry__.py", REPO / "bench.py"]
_WORD = re.compile(r"\w+")


def _py_files(root: Path) -> list[Path]:
    return [root] if root.is_file() else sorted(root.rglob("*.py"))


def test_every_top_level_def_is_referenced():
    words = Counter()
    for root in SEARCHED:
        for path in _py_files(root):
            words.update(_WORD.findall(path.read_text()))

    orphans = []
    for path in _py_files(PACKAGE):
        source = path.read_text()
        lines = source.splitlines()
        for node in ast.parse(source).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            body = "\n".join(lines[first - 1 : node.end_lineno])
            inside = sum(1 for w in _WORD.findall(body) if w == node.name)
            if words[node.name] == inside:
                orphans.append(f"{path.relative_to(REPO)}:{node.lineno} {node.name}")
    assert not orphans, "top-level defs nothing references:\n" + "\n".join(orphans)
