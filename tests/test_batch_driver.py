"""The shared batch driver (operators/batch.py): in-process totality and
the structural rule that it is the only place documents become rows."""

import ast
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "docling_spark"
DRIVER = PACKAGE / "operators" / "batch.py"
SCANNED = sorted((PACKAGE / "operators").glob("*.py")) + sorted(
    (PACKAGE / "streaming").glob("*.py")
)
# batch-vectorized model inference and synthetic sources are not
# per-document operators
MAP_IN_PANDAS_EXEMPT = {("enrich.py", "enrich_spans"), ("multimodal.py", "synth_media")}
# the one operator whose catch-all is its output contract: an
# undecodable media item is a decoded=false row
CATCH_ALL_EXEMPT = {("multimodal.py", "extract_media_features")}

# a paragraph under 3000 divs: the walk descends one call per div to
# reach the block (inline text alone is collected without recursion)
DEEP = "b'<div>' * 3000 + b'<p>deep</p>' + b'</div>' * 3000"


def test_one_document_calls_are_total_at_default_recursion_limit():
    """convert_one runs on the driver too (spot checks, notebooks),
    where nothing has raised the recursion limit: the per-document
    wrapper must raise it itself."""
    script = f"""
import sys
assert sys.getrecursionlimit() == 1000, sys.getrecursionlimit()
from docling_spark.kernels.html_kernel import HtmlExtractor
raw = {DEEP}
try:
    HtmlExtractor().convert(raw)
    raise SystemExit("kernel no longer recurses per level; pick a deeper input")
except RecursionError:
    pass
from docling_spark.operators.convert import convert_one
row = convert_one("https://deep.example.com/page.html", raw)
assert row["status"] == "success", row["error"]
"""
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:] + proc.stdout[-2000:]


def _calls(path: Path, attr: str):
    """(top-level function name, call node) for every ``.<attr>(...)``."""
    for top in ast.parse(path.read_text()).body:
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == attr
            ):
                yield getattr(top, "name", "<module>"), node


def _timers_and_catch_alls(path: Path):
    """(top-level function name, what) for every ``.perf_counter``
    reference and every ``except Exception`` handler."""
    for top in ast.parse(path.read_text()).body:
        for node in ast.walk(top):
            if isinstance(node, ast.Attribute) and node.attr == "perf_counter":
                yield getattr(top, "name", "<module>"), "perf_counter"
            elif isinstance(node, ast.ExceptHandler) and (
                node.type is None or ast.unparse(node.type) in ("Exception", "BaseException")
            ):
                yield getattr(top, "name", "<module>"), "except Exception"


def test_document_timing_and_catch_alls_only_in_batch_py():
    offenders = [
        (p.name, fn, what)
        for p in SCANNED
        if p != DRIVER
        for fn, what in _timers_and_catch_alls(p)
        if what == "perf_counter" or (p.name, fn) not in CATCH_ALL_EXEMPT
    ]
    assert offenders == []
    assert {what for _, what in _timers_and_catch_alls(DRIVER)} == {
        "perf_counter",
        "except Exception",
    }


@pytest.mark.parametrize(
    "needle",
    ["setrecursionlimit", "[:500]", '"spark.sql.shuffle.partitions"', "zipimport"],
    ids=["recursion_limit", "error_format", "partition_default", "zip_rereads"],
)
def test_driver_concerns_live_only_in_batch_py(needle):
    offenders = [p.name for p in SCANNED if p != DRIVER and needle in p.read_text()]
    assert offenders == []
    assert needle in DRIVER.read_text()


ZIP_GUARD = """
import importlib, sys, tempfile, zipfile, zipimport
from pathlib import Path
from docling_spark.operators.batch import guard_zip_rereads

archive = Path(tempfile.mkdtemp()) / "mods.zip"

def write(**modules):
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pkg/__init__.py", "")
        for name, src in modules.items():
            z.writestr(f"pkg/{name}.py", src)

write(old="X = 1")
sys.path.insert(0, str(archive))
import pkg.old  # two importers on one archive: the zip and pkg/ in it
importers = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
assert len(importers) == 2, importers

reads = []
read = zipimport._read_directory
zipimport._read_directory = lambda path: reads.append(path) or read(path)

def rereads():
    reads.clear()
    importlib.invalidate_caches()
    return len(reads)

assert rereads() == 2  # unguarded: every invalidate re-reads
guard_zip_rereads()
assert rereads() == 0
write(old="X = 1", new="Y = 2")
assert rereads() == 2
import pkg.new
assert pkg.new.Y == 2
assert rereads() == 0
guard = zipimport.zipimporter.invalidate_caches
guard_zip_rereads()
assert zipimport.zipimporter.invalidate_caches is guard
assert rereads() == 0
archive.unlink()  # cannot be stat'ed: re-read, as before
assert rereads() == 2
assert rereads() == 2
"""


def test_zip_guard_rereads_only_changed_archives():
    proc = subprocess.run(
        [sys.executable, "-c", ZIP_GUARD], cwd=ROOT, capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr[-2000:] + proc.stdout[-2000:]


def test_map_docs_task_rereads_no_zip(spark):
    """Inside a map_docs task, PySpark's per-task invalidate_caches()
    re-reads no archive on the worker's path (with a Spark distribution
    that is pyspark.zip, py4j and the spark-core jar)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from docling_spark.operators.batch import map_docs

    def per_doc(_):
        import importlib
        import zipimport

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return [{"reads": len(reads)}]

    schema = StructType([StructField("reads", LongType())])
    df = spark.range(0, 1, 1, 1).toDF("i")
    assert [r.reads for r in map_docs(df, per_doc, schema).collect()] == [0]


def _python_task_functions(path: Path):
    """(top-level name, function) for every function a module hands to
    Spark to run in a Python worker: the first argument of
    ``mapInPandas`` / ``applyInPandasWithState`` and each ``@pandas_udf``."""
    for top in ast.parse(path.read_text()).body:
        defs = {n.name: n for n in ast.walk(top) if isinstance(n, ast.FunctionDef)}
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("mapInPandas", "applyInPandasWithState")
            ):
                yield getattr(top, "name", "<module>"), defs[node.args[0].id]
            elif isinstance(node, ast.FunctionDef) and any(
                "pandas_udf" in ast.unparse(d) for d in node.decorator_list
            ):
                yield getattr(top, "name", "<module>"), node


def test_every_python_task_guards_zip_rereads():
    tasks = [
        (p.name, top, fn)
        for p in sorted(PACKAGE.rglob("*.py"))
        for top, fn in _python_task_functions(p)
    ]
    unguarded = [
        (name, top, fn.name)
        for name, top, fn in tasks
        if not any(
            isinstance(n, ast.Call) and getattr(n.func, "id", None) == "guard_zip_rereads"
            for n in ast.walk(fn)
        )
    ]
    assert len(tasks) >= 6 and unguarded == []


def test_per_document_map_in_pandas_only_in_batch_py():
    offenders = [
        (p.name, fn)
        for p in SCANNED
        if p != DRIVER
        for fn, _ in _calls(p, "mapInPandas")
        if (p.name, fn) not in MAP_IN_PANDAS_EXEMPT
    ]
    assert offenders == []
    assert [fn for fn, _ in _calls(DRIVER, "mapInPandas")] == ["map_docs"]


def test_extract_job_spends_no_action_on_counting():
    """The job's three actions are its writes; its counts come from an
    Observation on the results write. ``F.count`` is an aggregate
    expression, not an action."""
    job = ROOT / "jobs" / "extract_job.py"
    actions = [
        ast.unparse(node)
        for attr in ("count", "collect", "first", "take", "head", "toPandas", "show")
        for _, node in _calls(job, attr)
        if not (isinstance(node.func.value, ast.Name) and node.func.value.id == "F")
    ]
    assert actions == []


def test_available_now_sink_only_in_drain():
    calls = [
        (p.name, fn)
        for p in SCANNED
        for fn, node in _calls(p, "trigger")
        if any(k.arg == "availableNow" for k in node.keywords)
    ]
    assert calls == [("stream.py", "drain")]


def test_html_parser_built_only_by_the_router():
    """One dispatch: an operator that wants a Doc from bytes asks
    convert.route_to_doc, the only place that builds the parser."""
    builders = [
        (p.name, getattr(top, "name", "<module>"))
        for p in sorted((PACKAGE / "operators").glob("*.py"))
        for top in ast.parse(p.read_text()).body
        for node in ast.walk(top)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "HtmlExtractor"
    ]
    assert builders == [("convert.py", "route_to_doc")]


def test_pdf_doc_assembled_at_once_only_by_the_router():
    """One doc-at-once path for page-shaped documents: within
    operators/ only the router's convert._pages_doc calls build_doc, and
    no operator touches the per-page blocks (pdf_layout.Block,
    page_blocks) that a second assembly path would regroup."""
    callers, block_refs = [], []
    for p in sorted((PACKAGE / "operators").glob("*.py")):
        for top in ast.parse(p.read_text()).body:
            for node in ast.walk(top):
                name = getattr(node, "id", None) or getattr(node, "attr", None)
                if isinstance(node, ast.alias):
                    name = node.name
                if name in ("Block", "page_blocks"):
                    block_refs.append((p.name, name))
                if isinstance(node, ast.Call) and (
                    getattr(node.func, "id", None) == "build_doc"
                    or getattr(node.func, "attr", None) == "build_doc"
                ):
                    callers.append((p.name, getattr(top, "name", "<module>")))
    assert callers == [("convert.py", "_pages_doc")]
    assert block_refs == []


def test_pdf_broken_on_a_later_page_keeps_earlier_pages(monkeypatch):
    """A page kernel that raises on page 2 of 3 keeps page 1's row next
    to the page_no=0 failure row. The router's document row for such a
    PDF is test_operator_pin's test_router_keeps_the_pages_before_a_broken_one."""
    from docling_spark.kernels import pdf_layout
    from docling_spark.operators import batch, extract_pdf
    from docling_spark.sources.pdfgen import build_pdf

    url = "https://pdf.example.com/broken-later.pdf"
    pdf = build_pdf([[("body", f"alpha page {n} text")] for n in (1, 2, 3)])
    page_score = pdf_layout.page_score

    def breaks_on_page_2(page):
        if page.page_no == 2:
            raise ValueError("bad page")
        return page_score(page)

    monkeypatch.setattr(pdf_layout, "page_score", breaks_on_page_2)
    per_doc = batch.per_page(extract_pdf._page_rows, {"page_no": 0})
    rows = per_doc(url, pdf)
    assert [(r["page_no"], r["status"]) for r in rows] == [(1, "success"), (0, "failure")]
    assert rows[1]["error"] == "ValueError: bad page"
    assert rows[0]["n_cells"] > 0 and rows[0]["parse_score"] is not None
