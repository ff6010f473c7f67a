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

DEEP = "b'<div>' * 3000 + b'deep' + b'</div>' * 3000"


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
    ["setrecursionlimit", "[:500]", '"spark.sql.shuffle.partitions"'],
    ids=["recursion_limit", "error_format", "partition_default"],
)
def test_driver_concerns_live_only_in_batch_py(needle):
    offenders = [p.name for p in SCANNED if p != DRIVER and needle in p.read_text()]
    assert offenders == []
    assert needle in DRIVER.read_text()


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
    operators/ only the router's convert._pages_doc calls build_doc (the
    paged strategy assembles regrouped blocks through assemble_pages)."""
    callers = [
        (p.name, getattr(top, "name", "<module>"))
        for p in sorted((PACKAGE / "operators").glob("*.py"))
        for top in ast.parse(p.read_text()).body
        for node in ast.walk(top)
        if isinstance(node, ast.Call)
        and (
            getattr(node.func, "id", None) == "build_doc"
            or getattr(node.func, "attr", None) == "build_doc"
        )
    ]
    assert callers == [("convert.py", "_pages_doc")]


def test_pdf_broken_on_a_later_page_keeps_earlier_pages(spark, monkeypatch):
    """A page kernel that raises on page 2 of 3 keeps page 1's row next
    to the page_no=0 failure row, and the document assembles to
    partial_success with page 1's text."""
    from docling_spark.kernels import pdf_layout
    from docling_spark.operators import batch, extract_pdf
    from docling_spark.sources.pdfgen import build_pdf

    url = "https://pdf.example.com/broken-later.pdf"
    pdf = build_pdf([[("body", f"alpha page {n} text")] for n in (1, 2, 3)])
    page_blocks = pdf_layout.page_blocks

    def breaks_on_page_2(page):
        if page.page_no == 2:
            raise ValueError("bad page")
        return page_blocks(page)

    monkeypatch.setattr(pdf_layout, "page_blocks", breaks_on_page_2)
    per_doc = batch.per_page(extract_pdf._page_rows, {"page_no": 0, "blocks": []})
    rows = per_doc(url, pdf)
    assert [(r["page_no"], r["status"]) for r in rows] == [(1, "success"), (0, "failure")]
    assert rows[1]["error"] == "ValueError: bad page"

    names = extract_pdf.PDF_PAGE_SCHEMA.fieldNames()
    page_rows = spark.createDataFrame(
        [tuple(r.get(n) for n in names) for r in rows], extract_pdf.PDF_PAGE_SCHEMA
    )
    (doc,) = extract_pdf.assemble_from_pages(page_rows).collect()
    assert (doc.status, doc.n_pages) == ("partial_success", 1)
    assert doc.error == "ValueError: bad page"
    assert "alpha page 1 text" in doc.md and "alpha page 1 text" in doc.txt
    assert "page 2" not in doc.txt and "page 3" not in doc.txt
