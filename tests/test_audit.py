"""Syntax-tree audit of the package: what the entry points reach, and
which defaults a caller sets.

Both rules read the syntax trees of the same files: the package and its
entry points (the jobs, ``perfbench/``, ``__spark_entry__.py`` and
``bench.py``). The tests are neither roots nor callers.

Reachability. The roots are every name the entry points reference and
the top-level statements of package modules that define nothing
(imports, guards, calls). A top-level def, class or assigned name of
the package is reached when a root or a reached body references it,
up to a fixpoint. A reference is a name, an attribute, an imported name
or a string constant equal to the name (``monkeypatch.setattr(mod,
"name", ...)``, perfbench's patch targets); comments and prose inside
docstrings do not count. What no entry point reaches is deleted, not
kept, unless ``REACH_ALLOWED`` names it with a reason. An allowlisted
def keeps only itself: its body reaches nothing.

Options. A defaulted parameter that no call outside the tests passes is
a configuration nothing runs; it becomes a constant. Calls are matched
to a ``def`` by name: a call passes a parameter by keyword, by
position, or through ``*args``/``**kwargs``. Every def of
``operators/`` and ``streaming/`` is checked, and the module-level defs
of ``kernels/``. Kernel methods (``__init__``, ``get``, ``__call__``)
are out of scope: matching by name cannot tie a call to its class.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "docling_spark"
ENTRY_POINTS = ["jobs", "perfbench", "__spark_entry__.py", "bench.py"]
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

# module.name -> why it stays although no entry point reaches it
REACH_ALLOWED = {
    "dom.parse_html_stdlib": "the reference parser the fast parser is compared against "
    "(test_dom_fast_parse.py, test_dom_watch.py)",
    "textout.to_indented_text": "itxt export checked byte-for-byte by the needs_reference golden tests",
    "textout._itxt_clip": "the itxt export's text clipping",
    "stream.read_pages_stream": "Structured Streaming front-end the README documents; "
    "the stream_extract and stream_convert pin cases fix its output",
    "stream.drain": "the streaming front-end's checkpointed sink",
    "stream.PAGES_SCHEMA": "the streaming front-end's input schema",
}

# def.param -> why its default stays although no caller outside the tests sets it
OPTIONS_ALLOWED = {
    "convert_any.want_doctags": "output selector the pin sets",
    "convert_any.want_json": "output selector the pin sets",
    "multimodal_pages.image_scale": "opt-in page raster the pin sets",
    "chunk_pages.num_partitions": "parallelism the tests set",
    "encode_tiff.rows_per_strip": "builds the multi-strip layouts crawl TIFFs carry, for the decoder tests",
    "encode_tiff.tile_size": "builds the tiled layouts crawl TIFFs carry, for the decoder tests",
    "encode_tiff.planar": "builds the planar layouts crawl TIFFs carry, for the decoder tests",
    "encode_jpeg.restart_interval": "builds the restart-marker JPEGs crawl bytes carry, for the decoder tests",
    "encode_jpeg.multiscan": "builds the multi-scan progressive JPEGs crawl bytes carry, for the decoder tests",
    "export_to_dict.mimetype": "router JSON rows take the default; the right value follows the "
    "reference's own format detection, which waits for the reference tree",
    "to_indented_text.max_text_len": "the itxt export's clip length the golden tests set",
    "parse_docx.name": "the router sets it to the url through its office dispatch table, "
    "which a by-name match cannot see",
    "parse_pptx.name": "the router sets it to the url through its office dispatch table, "
    "which a by-name match cannot see",
    "parse_xlsx.name": "the router sets it to the url through its office dispatch table, "
    "which a by-name match cannot see",
}


def _py_files(root: Path) -> list[Path]:
    return [root] if root.is_file() else sorted(root.rglob("*.py"))


def _parse(repo: Path, roots: list[str]) -> dict[Path, ast.Module]:
    return {p: ast.parse(p.read_text()) for root in roots for p in _py_files(repo / root)}


def _where(path: Path, node: ast.stmt) -> str:
    return f"{path.parent.name}/{path.name}:{node.lineno}"


# ------------------------------------------------------------ reachability


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


def _unreached(repo: Path) -> dict[str, str]:
    """``module.name`` -> where it is defined, for every top-level name
    of the package in ``repo`` that no root reaches."""
    reached = {name for tree in _parse(repo, ENTRY_POINTS).values() for name in _references(tree)}
    pending = []
    for path, tree in _parse(repo, [PACKAGE]).items():
        for node in tree.body:
            names = _defined(node)
            if names:
                pending.append((path, node, names))
            else:
                reached.update(_references(node))
    while True:
        hit = [d for d in pending if not reached.isdisjoint(d[2])]
        if not hit:
            break
        pending = [d for d in pending if reached.isdisjoint(d[2])]
        for _, node, _ in hit:
            reached.update(_references(node))
    return {
        f"{path.stem}.{name}": _where(path, node)
        for path, node, names in pending
        for name in names
    }


def test_every_top_level_name_is_reached_from_an_entry_point():
    unreached = _unreached(REPO)
    extra = sorted(f"{where} {name}" for name, where in unreached.items() if name not in REACH_ALLOWED)
    assert not extra, "top-level names no entry point reaches:\n" + "\n".join(extra)
    stale = sorted(set(REACH_ALLOWED) - set(unreached))
    assert not stale, f"allowlisted names that are reached or gone: {stale}"


def test_assigned_names_are_defined():
    tree = ast.parse("A = 1\nB: int = 2\nC, D = 3, 4\n__all__ = []\nE[0] = 5\n")
    assert [n for node in tree.body for n in _defined(node)] == ["A", "B", "C", "D"]


def test_prose_is_not_a_reference():
    tree = ast.parse('"""see f and g"""\n# f\nx = g\nh(mod, "k")\n')
    assert set(_references(tree)) == {"see f and g", "x", "g", "h", "mod", "k"}


def test_reach_needs_a_chain_from_an_entry_point(tmp_path):
    """Only the two-step chain from the job survives: a def and a
    constant that only a test uses fail, and so does a def that only an
    unreached def calls."""
    files = {
        "docling_spark/mod.py": (
            "import os\n"
            "LIMIT = 3\n"
            "def step_two():\n    return os.sep\n"
            "def step_one():\n    return step_two()\n"
            "def tested_only():\n    return LIMIT\n"
            "def orphan_callee():\n    return 1\n"
            "def orphan_caller():\n    return orphan_callee()\n"
        ),
        "jobs/run.py": "from docling_spark.mod import step_one\nstep_one()\n",
        "tests/test_mod.py": (
            "from docling_spark.mod import LIMIT, orphan_caller, tested_only\n"
            "def test_it():\n    assert tested_only() == LIMIT and orphan_caller()\n"
        ),
    }
    for name, text in files.items():
        (tmp_path / name).parent.mkdir(exist_ok=True)
        (tmp_path / name).write_text(text)
    unreached = _unreached(tmp_path)
    assert set(unreached) == {"mod.LIMIT", "mod.tested_only", "mod.orphan_callee", "mod.orphan_caller"}


def test_top_level_statements_and_strings_are_roots(tmp_path):
    """A package statement that defines nothing (a guard, a call) is a
    root, and so is a string constant of an entry point (a patch
    target). A def nothing reaches reaches nothing through its own body,
    allowlisted or not."""
    files = {
        "docling_spark/mod.py": (
            "ENABLED = True\n"
            "def register():\n    return 1\n"
            "if ENABLED:\n    register()\n"
            "def patched():\n    return 2\n"
            "def kept():\n    return helper()\n"
            "def helper():\n    return 3\n"
        ),
        "perfbench/run.py": 'import docling_spark.mod as m\nsetattr(m, "patched", None)\n',
    }
    for name, text in files.items():
        (tmp_path / name).parent.mkdir(exist_ok=True)
        (tmp_path / name).write_text(text)
    assert set(_unreached(tmp_path)) == {"mod.kept", "mod.helper"}


# ----------------------------------------------------------------- options


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """(name, position) of each parameter with a default; keyword-only
    parameters have no position."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(p.arg, i) for i, p in enumerate(pos) if i >= first]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _option_defs(package: dict[Path, ast.Module]):
    """(path, def) for every def whose defaults the options rule reads."""
    for path, tree in package.items():
        if path.parent.name in ("operators", "streaming"):
            nodes = ast.walk(tree)
        elif path.parent.name == "kernels":
            nodes = tree.body
        else:
            continue
        for fn in nodes:
            if isinstance(fn, ast.FunctionDef):
                yield path, fn


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


def _unset(defs, calls) -> dict[str, str]:
    """``def.param`` -> where it is defined, for every defaulted
    parameter of ``defs`` that no call passes."""
    unset = {}
    for path, fn in defs:
        for name, position in _defaulted(fn):
            if not any(_passes(c, name, position) for c in calls[fn.name]):
                unset[f"{fn.name}.{name}"] = _where(path, fn)
    return unset


def test_every_default_is_set_by_a_caller():
    package = _parse(REPO, [PACKAGE])
    calls = _calls([*package.values(), *_parse(REPO, ENTRY_POINTS).values()])
    defs = list(_option_defs(package))
    unset = _unset(defs, calls)
    extra = sorted(f"{where} {param}" for param, where in unset.items() if param not in OPTIONS_ALLOWED)
    assert not extra, "defaulted parameters no caller sets:\n" + "\n".join(extra)
    stale = sorted(set(OPTIONS_ALLOWED) - set(unset))
    assert not stale, f"allowlisted parameters that a caller sets or that are gone: {stale}"


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
    defs = [(REPO / "t.py", fn) for fn in tree.body if isinstance(fn, ast.FunctionDef)]
    assert set(_unset(defs, _calls([tree]))) == {"h.c"}


def test_options_read_kernel_module_defs_not_methods(tmp_path):
    """Every def of ``operators/`` is read, methods too; of ``kernels/``
    only the module-level defs; other packages not at all."""
    files = {
        "docling_spark/operators/o.py": "class Op:\n    def run(self, mode=2): pass\n",
        "docling_spark/kernels/k.py": (
            "def parse(raw, strict=False): pass\n"
            "class Reader:\n    def get(self, key=None): pass\n"
        ),
        "docling_spark/sources/s.py": "def make(n, seed=0): pass\n",
    }
    for name, text in files.items():
        (tmp_path / name).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / name).write_text(text)
    package = _parse(tmp_path, [PACKAGE])
    unset = _unset(list(_option_defs(package)), _calls(package.values()))
    assert set(unset) == {"run.mode", "parse.strict"}
