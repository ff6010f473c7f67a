"""Options guard: every defaulted parameter of an operator is set by
some caller outside the tests.

A default that no caller overrides is a configuration no test or
benchmark runs; it becomes a constant. Calls are read from the syntax
tree of the package, the jobs, ``__spark_entry__.py``, ``bench.py`` and
``perfbench/``, and matched to a ``def`` by name: a call passes a
parameter by keyword, by position, or through ``*args``/``**kwargs``.
The allowlist holds the output selectors and the parallelism that the
tests set and the production callers leave at their default.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "docling_spark"
OPERATORS = [PACKAGE / "operators", PACKAGE / "streaming"]
CALLERS = [PACKAGE, REPO / "jobs", REPO / "perfbench",
           REPO / "__spark_entry__.py", REPO / "bench.py"]
ALLOWED = {
    "convert_any.want_doctags",
    "convert_any.want_json",
    "multimodal_pages.image_scale",
    "chunk_pages.num_partitions",
}


def _py_files(root: Path) -> list[Path]:
    return [root] if root.is_file() else sorted(root.rglob("*.py"))


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """(name, position) of each parameter with a default; keyword-only
    parameters have no position."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(p.arg, i) for i, p in enumerate(pos) if i >= first]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _calls(trees) -> dict[str, list[ast.Call]]:
    calls = defaultdict(list)
    for tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                calls[name].append(node)
    return calls


def _passes(call: ast.Call, name: str, position: int | None) -> bool:
    if any(k.arg in (name, None) for k in call.keywords):
        return True
    if position is None:
        return False
    return len(call.args) > position or any(isinstance(a, ast.Starred) for a in call.args)


def _unset(defs_trees, calls) -> dict[str, str]:
    """``def.param`` -> where it is defined, for every defaulted
    parameter that no call passes."""
    unset = {}
    for path, tree in defs_trees:
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef):
                for name, position in _defaulted(fn):
                    if not any(_passes(c, name, position) for c in calls[fn.name]):
                        unset[f"{fn.name}.{name}"] = f"{path.relative_to(REPO)}:{fn.lineno}"
    return unset


def test_every_operator_default_is_set_by_a_caller():
    calls = _calls(ast.parse(p.read_text()) for root in CALLERS for p in _py_files(root))
    defs = [(p, ast.parse(p.read_text())) for root in OPERATORS for p in _py_files(root)]
    unset = _unset(defs, calls)
    extra = sorted(f"{where} {param}" for param, where in unset.items() if param not in ALLOWED)
    assert not extra, "defaulted parameters no caller sets:\n" + "\n".join(extra)
    defaulted = {f"{fn.name}.{n}" for _, t in defs for fn in ast.walk(t)
                 if isinstance(fn, ast.FunctionDef) for n, _ in _defaulted(fn)}
    assert ALLOWED <= defaulted, f"allowlisted parameters gone: {sorted(ALLOWED - defaulted)}"


def test_job_defaults_are_the_operator_constants():
    from docling_spark.operators.convert import BIG_DOC_BYTES
    from docling_spark.operators.formats import LIMIT_BYTES
    from jobs.extract_job import build_parser

    p = build_parser()
    assert p.get_default("limit_bytes") == LIMIT_BYTES
    assert p.get_default("big_doc_bytes") == BIG_DOC_BYTES


def test_a_parameter_is_passed_by_keyword_position_or_unpacking():
    tree = ast.parse(
        "def f(a, b=1, *, c=2): pass\n"
        "def g(a, b=1, *, c=2): pass\n"
        "def h(a, b=1, *, c=2): pass\n"
        "f(0, 1, c=3)\ng(*xs)\ng(0, **kw)\nh(0)\nx.h(0, b=2)\n"
    )
    assert set(_unset([(REPO / "t.py", tree)], _calls([tree]))) == {"h.c"}
