"""CSV (B2) / Markdown (B1) backends, doctags export (E3), and the
unified format router (S4)."""

import pytest
from conftest import REFERENCE, needs_reference

from docling_spark.kernels.csv_kernel import CsvError, parse_csv
from docling_spark.kernels.doctags import export_to_doctags
from docling_spark.kernels.markdown import to_markdown
from docling_spark.kernels.md_kernel import parse_markdown
from docling_spark.operators.convert import convert_one


# ----------------------------------------------------------------- CSV


def test_csv_semantics():
    """csv_backend.py:52-125: sniffed dialect, one table, first row =
    column headers, quoted fields."""
    doc = parse_csv(b'name,qty,price\nwidget,2,"1,50"\nbolt,9,0.10\n')
    tables = [n for n in doc.nodes if n.kind == "table"]
    assert len(tables) == 1
    t = tables[0].table
    assert (t.num_rows, t.num_cols) == (3, 3)
    headers = [c for c in t.cells if c.column_header]
    assert [c.text for c in headers] == ["name", "qty", "price"]
    assert t.grid()[1] == ["widget", "2", "1,50"]


def test_csv_semicolon_and_pipe():
    for delim in (";", "|", "\t"):
        raw = f"a{delim}b\n1{delim}2\n".encode()
        doc = parse_csv(raw)
        assert doc.nodes[0].table.grid() == [["a", "b"], ["1", "2"]]


def test_csv_errors():
    with pytest.raises(CsvError):
        parse_csv(b"")
    with pytest.raises(CsvError):
        parse_csv(b"\xff\xfe binary")


def test_csv_markdown_render():
    md = to_markdown(parse_csv(b"h1,h2\nv1,v2\n"))
    assert "| h1" in md and "| v1" in md


# ------------------------------------------------------------ Markdown


def test_md_headings_and_paragraphs():
    doc = parse_markdown(b"# Title\n\nintro text\n\n## Section\n\nbody here\nlazy line\n")
    kinds = [(n.kind, n.text) for n in doc.nodes if n.text]
    assert ("title", "Title") in kinds
    assert ("section_header", "Section") in kinds
    assert ("text", "body here lazy line") in kinds


def test_md_lists_nested_and_ordered():
    doc = parse_markdown(b"- a\n- b\n  - b1\n1. one\n2. two\n")
    items = [n for n in doc.nodes if n.kind == "list_item"]
    assert [n.text for n in items] == ["a", "b", "b1", "one", "two"]
    assert [n.enumerated for n in items] == [False, False, False, True, True]
    groups = [n for n in doc.nodes if n.kind == "group"]
    assert len(groups) == 3  # outer ul, nested ul, ol


def test_md_code_fence_and_table():
    raw = b"```py\nx = 1\n```\n\n| a | b |\n|---|---|\n| 1 | 2 |\n"
    doc = parse_markdown(raw)
    code = [n for n in doc.nodes if n.kind == "code"]
    assert code and code[0].text == "x = 1"
    tables = [n for n in doc.nodes if n.kind == "table"]
    assert tables and tables[0].table.grid() == [["a", "b"], ["1", "2"]]


def test_md_roundtrip_through_serializer():
    """parse -> to_markdown must preserve block structure."""
    src = "# T\n\npara one\n\n## S\n\n- x\n- y\n"
    md = to_markdown(parse_markdown(src.encode()))
    assert "# T" in md and "## S" in md and "- x" in md and "- y" in md


# ------------------------------------------------------------- doctags


def test_doctags_shape():
    doc = parse_markdown(b"# T\n\nhello\n\n- li1\n")
    tags = export_to_doctags(doc)
    assert tags.startswith("<doctag>") and tags.endswith("</doctag>")
    assert "<title>T</title>" in tags
    assert "<text>hello</text>" in tags
    assert "<unordered_list>" in tags and "<list_item>li1</list_item>" in tags


def test_doctags_locs_quantized():
    doc = parse_markdown(b"# T\n")
    tags = export_to_doctags(doc, bboxes={0: (0, 0, 306, 396)}, page_w=612, page_h=792)
    assert "<loc_0><loc_0><loc_250><loc_250>" in tags


# ---------------------------------------------------------- S4 routing


def test_convert_one_routes_by_magic():
    from docling_spark.sources.pdfgen import render_doc_pdf

    html = convert_one("u", b"<html><body><h1>H</h1><p>t</p></body></html>")
    assert (html["fmt"], html["status"]) == ("html", "success")
    assert html["md"].startswith("# H")

    pdf = convert_one("u", render_doc_pdf(1, "alpha beta gamma delta"))
    assert (pdf["fmt"], pdf["status"]) == ("pdf", "success")

    csv_r = convert_one("u", b"a,b\n1,2\n")
    assert (csv_r["fmt"], csv_r["status"]) == ("csv", "success")

    md_r = convert_one("u", b"just a plain paragraph without markup")
    assert (md_r["fmt"], md_r["status"]) == ("text", "success")

    # P7: images adapt into the PDF path -> success with an OCR score
    png = b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR" + (64).to_bytes(4, "big") + (48).to_bytes(4, "big") + b"\x08\x02\x00\x00\x00"
    img = convert_one("u", png)
    assert (img["fmt"], img["status"]) == ("image", "success")
    assert img["ocr_needed"] == 1.0

    broken_pdf = convert_one("u", b"%PDF-1.4 garbage")
    assert (broken_pdf["fmt"], broken_pdf["status"]) == ("pdf", "failure")
    assert broken_pdf["error"]


def test_convert_one_chunks_and_doctags():
    r = convert_one(
        "u",
        b"<html><body><h1>H</h1><p>one two three</p><ul><li>a</li></ul></body></html>",
        want_doctags=True,
    )
    assert r["n_chunks"] >= 2
    assert r["doctags"].startswith("<doctag>")


# ------------------------------------------- full fixture-golden parity


import pathlib as _pl

FIXTURE_ROOT = REFERENCE / "tests/data"
_GT = FIXTURE_ROOT / "groundtruth/docling_v2"


@needs_reference
@pytest.mark.parametrize(
    "name", sorted(f.name for f in (FIXTURE_ROOT / "csv").glob("*.csv"))
)
def test_csv_golden_byte_identical(name):
    from docling_spark.kernels.textout import to_indented_text

    raw = (_pl.Path("/root/reference/tests/data/csv") / name).read_bytes()
    doc = parse_csv(raw, name=name.rsplit(".", 1)[0])
    assert to_markdown(doc) == (_GT / f"{name}.md").read_text()
    assert to_indented_text(doc) == (_GT / f"{name}.itxt").read_text()


@needs_reference
@pytest.mark.parametrize(
    "name", sorted(f.name for f in (FIXTURE_ROOT / "md").glob("*.md"))
)
def test_md_golden_byte_identical(name):
    """The reference's md goldens carry one trailing newline (their
    test harness writes with newline; html goldens don't)."""
    raw = (_pl.Path("/root/reference/tests/data/md") / name).read_bytes()
    doc = parse_markdown(raw, name=name.rsplit(".", 1)[0])
    assert to_markdown(doc) + "\n" == (_GT / f"{name}.md").read_text()


@needs_reference
def test_convert_one_never_raises_on_mutated_crawl_bytes():
    """Crawl-robustness: deterministic byte mutations of every format's
    fixture (truncation, bit flips, splices) must always yield a row —
    errors-as-data, never an exception."""
    from pathlib import Path

    seeds = [
        Path("/root/reference/tests/data/html/example_03.html").read_bytes(),
        Path("/root/reference/tests/data/uspto/ipa20200022300.xml").read_bytes(),
        Path("/root/reference/tests/data/webp/webp-test.webp").read_bytes(),
        Path("/root/reference/tests/data/mets_gbs/32044009881525_select.tar.gz").read_bytes(),
        b"a,b,c\n1,2,3\n4,5,6\n",
        b"= Title\n\nSome text\n",
    ]
    from docling_spark.sources.pdfgen import render_doc_pdf, render_doc_pdf_modern

    seeds.append(render_doc_pdf(3, "fuzz seed text " * 30))
    seeds.append(render_doc_pdf_modern(4, "fuzz seed text " * 30))

    def mutations(data: bytes):
        yield data[: len(data) // 2]           # truncate
        yield data[len(data) // 3 :]           # drop header
        b = bytearray(data)
        for i in range(0, len(b), max(len(b) // 50, 1)):
            b[i] ^= 0xFF                       # periodic bit flips
        yield bytes(b)
        yield data + data[: len(data) // 4]    # splice/duplicate
        yield b"\x00" * 64 + data              # leading garbage

    n_rows = 0
    for seed in seeds:
        for mut in mutations(seed):
            row = convert_one("https://fuzz.example.com/x", mut)
            assert row["status"] in ("success", "failure", "skipped")
            assert row["url"] and row["bytes_in"] == len(mut)
            n_rows += 1
    assert n_rows == len(seeds) * 5


@needs_reference
@pytest.mark.parametrize(
    "name",
    sorted(
        f.name
        for f in (FIXTURE_ROOT / "csv").glob("*.csv")
        if (_GT / f"{f.name}.json").exists()
    ),
)
def test_csv_json_structurally_identical(name):
    import json

    from docling_spark.kernels.docjson import export_to_dict

    src = _pl.Path("/root/reference/tests/data/csv") / name
    gt_p = _GT / f"{name}.json"
    raw = src.read_bytes()
    doc = parse_csv(raw, name=name.rsplit(".", 1)[0])
    mine = export_to_dict(doc, filename=name, raw=raw, mimetype="text/csv")
    assert mine == json.loads(gt_p.read_text())


# --------------------------------------------- S4 full-router coverage


# (relative fixture path, fmt the router must report)
ALL_FORMAT_FIXTURES = [
    ("html/example_02.html", "html"),
    ("pdf/code_and_formula.pdf", "pdf"),
    ("csv/csv-comma.csv", "csv"),           # quoted-comma cells
    ("csv/csv-tab.csv", "csv"),
    ("docx/word_sample.docx", "docx"),
    ("xlsx/test-01.xlsx", "xlsx"),
    ("pptx/powerpoint_sample.pptx", "pptx"),
    ("jats/elife-56337.xml", "xml_jats"),
    ("uspto/ipa20200022300.xml", "xml_uspto"),
    ("mets_gbs/32044009881525_select.tar.gz", "mets_gbs"),
    ("md/blocks.md", "md"),
    ("md/mixed.md", "md"),                  # inline HTML; ext hint wins
    ("asciidoc/test_01.asciidoc", "asciidoc"),
    ("audio/sample_10s.mp3", "audio"),
    ("2305.03393v1-pg9-img.png", "image"),
    ("webp/webp-test.webp", "image"),
    ("tiff/2206.01062.tif", "image"),
    ("groundtruth/docling_v2/example_02.html.json", "json_docling"),
]


@needs_reference
@pytest.mark.parametrize("rel,fmt", ALL_FORMAT_FIXTURES)
def test_convert_one_covers_every_backend(rel, fmt):
    """Every routed backend family converts its reference fixture with
    status=success (document_converter.py:131-198 format map). This is
    the unit twin of the x_convert_all queries() entry."""
    path = FIXTURE_ROOT / rel
    row = convert_one(f"https://fixtures.example.com/{rel}", path.read_bytes())
    assert (row["fmt"], row["status"]) == (fmt, "success"), row["error"]
    # text-bearing formats must actually extract content
    if fmt not in ("audio", "image"):
        assert row["n_nodes"] > 0


def test_ext_hint_only_disambiguates_text_family():
    # magic bytes are authoritative: a PDF served at a .md url is a PDF
    from docling_spark.sources.pdfgen import render_doc_pdf

    row = convert_one("https://x.example.com/file.md", render_doc_pdf(1, "alpha beta"))
    assert row["fmt"] == "pdf"
    # but a markdown doc with inline HTML at .md routes as markdown
    md = b"# Title\n\nSome <b>bold</b> inline html.\n"
    row2 = convert_one("https://x.example.com/file.md", md)
    assert (row2["fmt"], row2["status"]) == ("md", "success")


def test_doctags_otsl_vocabulary_and_labels():
    """E3: OTSL cell tokens (ched/rhed/fcel/ecel/lcel/ucel), caption
    pairing, footnote and page_header/page_footer labels — the full
    label vocabulary observed in the reference's *.doctags.txt."""
    from docling_spark.kernels.doc_model import (
        BODY, FURNITURE, Doc, TableCellData, TableDataIR,
    )

    doc = Doc("t")
    doc.add_text(label="page_header", text="Running Head", content_layer=FURNITURE)
    cap = doc.add_text(label="caption", text="Table 1. Caption.", content_layer=BODY)
    data = TableDataIR(3, 3, [
        TableCellData(text="h1", start_row=0, end_row=1, start_col=0, end_col=1, column_header=True),
        # column header spanning cols 1-2 -> ched + lcel
        TableCellData(text="h23", start_row=0, end_row=1, start_col=1, end_col=3, col_span=2, column_header=True),
        # row header spanning rows 1-2 -> rhed + ucel
        TableCellData(text="r1", start_row=1, end_row=3, start_col=0, end_col=1, row_span=2, row_header=True),
        TableCellData(text="a", start_row=1, end_row=2, start_col=1, end_col=2),
        # (1,2) intentionally missing -> ecel
        TableCellData(text="b", start_row=2, end_row=3, start_col=1, end_col=2),
        TableCellData(text="c", start_row=2, end_row=3, start_col=2, end_col=3),
    ])
    t = doc.add_table(data, content_layer=BODY)
    t.caption_id = cap.node_id
    doc.add_text(label="footnote", text="1   a source", content_layer=BODY)

    tags = export_to_doctags(doc)
    assert "<page_header>Running Head</page_header>" in tags
    assert "<caption>Table 1. Caption.</caption>" in tags
    # caption renders with the table, not standalone
    assert tags.count("Table 1. Caption.") == 1
    assert "<otsl>" in tags
    row0 = "<ched>h1<ched>h23<lcel><nl>"
    row1 = "<rhed>r1<fcel>a<ecel><nl>"
    row2 = "<ucel><fcel>b<fcel>c<nl>"
    assert row0 + row1 + row2 in tags.replace("</otsl>", "")
    assert "<footnote>1   a source</footnote>" in tags


@needs_reference
def test_convert_one_want_json_all_formats():
    """E4 through the router: want_json yields a valid DoclingDocument
    JSON for every text-bearing format, table payloads included."""
    import json

    html = convert_one(
        "https://x/e.html",
        b"<html><body><h1>H</h1><p>t</p><table><tr><th>a</th><td>b</td></tr></table></body></html>",
        want_json=True,
    )
    d = json.loads(html["json"])
    assert d["schema_name"] == "DoclingDocument" and d["tables"]
    pdf = convert_one(
        "https://x/pg9.pdf",
        _pl.Path("/root/reference/tests/data/pdf/2305.03393v1-pg9.pdf").read_bytes(),
        want_json=True,
    )
    d2 = json.loads(pdf["json"])
    assert len(d2["tables"]) == 1 and d2["texts"]
    # off by default: no payload bloat in the standard row
    assert convert_one("u", b"<html><body><p>x</p></body></html>")["json"] is None
