"""``count_hierarchical_chunks`` (the row's ``n_chunks``) must equal
``len(hierarchical_chunks(doc))``, the chunker it counts without
building: on every operator-pin input, on the crawl pages, and on Docs
built to reach each branch of the chunker."""

import pytest
from test_operator_pin import HOSTILE, _html_pages, _pdf_broken_later, _pdfs, _text_docs

from docling_spark.kernels.chunker import count_hierarchical_chunks, hierarchical_chunks
from docling_spark.kernels.doc_model import (
    FURNITURE,
    G_INLINE,
    G_SECTION,
    PARAGRAPH,
    Doc,
    TableCellData,
    TableDataIR,
)
from docling_spark.operators.convert import route_to_doc


def _assert_counted(doc):
    assert count_hierarchical_chunks(doc) == len(hierarchical_chunks(doc))


def _routed(inputs):
    for url, payload in inputs:
        try:
            doc = route_to_doc({}, url, payload)
        except Exception:  # noqa: BLE001 — a failing input makes no Doc to count
            continue
        if doc is not None:
            yield doc


def test_count_on_pin_inputs():
    inputs = _html_pages() + _pdfs() + [_pdf_broken_later()] + _text_docs() + HOSTILE
    docs = list(_routed(inputs))
    assert len(docs) >= len(inputs) - len(HOSTILE)
    for doc in docs:
        _assert_counted(doc)


def test_count_on_crawl_pages():
    from perfbench.workloads import crawl_html

    for doc in _routed((p.url, p.payload) for p in crawl_html(0, 300) if p.kind == "html"):
        _assert_counted(doc)


def _table(rows):
    return TableDataIR.from_rows(rows)


def _built_docs():
    """One Doc per chunker branch, and a few that mix them."""
    docs = {}

    doc = Doc(name="tables")
    doc.add_table(_table([["", ""]]))  # one row, empty cells: no text
    doc.add_table(_table([[""], [""]]))  # two empty rows: a newline
    doc.add_table(_table([["a", ""]]))
    doc.add_table(TableDataIR(0, 0, []))
    doc.add_table(TableDataIR(3, 2, []))  # no cells at all
    doc.add_table(TableDataIR(1, 2, [TableCellData("x", start_col=1, end_col=2)]))
    doc.add_table(_table([["x"]]), content_layer=FURNITURE)
    node = doc.add_table(_table([["y"]]))
    node.table = None
    docs["tables"] = doc

    doc = Doc(name="lists")
    outer = doc.add_list_group()
    item = doc.add_list_item("one", parent=outer)
    inner = doc.add_list_group(parent=item)
    doc.add_list_item("one.one", parent=inner)
    deeper = doc.add_list_item("", parent=inner)
    doc.add_table(_table([["under", "item"]]), parent=deeper)
    doc.add_text(text="text under an item", parent=deeper)
    doc.add_code("code under an item", parent=item)
    empty = doc.add_list_group()  # items without text: no list chunk
    doc.add_list_item("", parent=empty)
    blank = doc.add_list_item("", parent=empty)
    doc.add_text(text="still walked", parent=blank)
    doc.add_list_group()  # no items at all
    inline = doc.add_group(G_INLINE, parent=doc.add_list_item("x", parent=doc.add_list_group()))
    doc.add_text(text="inline run", parent=inline)
    docs["lists"] = doc

    doc = Doc(name="layers")
    doc.add_title("Title", content_layer=FURNITURE)
    furn = doc.add_group(G_SECTION, content_layer=FURNITURE)
    doc.add_text(text="hidden under furniture", parent=furn)
    doc.add_text(text="furniture text", content_layer=FURNITURE)
    lst = doc.add_list_group(content_layer=FURNITURE)
    doc.add_list_item("furniture item", parent=lst)
    body_list = doc.add_list_group()
    f_item = doc.add_list_item("furniture item in a body list", content_layer=FURNITURE, parent=body_list)
    doc.add_text(text="body text under it", parent=f_item)
    docs["layers"] = doc

    doc = Doc(name="mixed")
    doc.add_title("T")
    head = doc.add_heading("H", level=1)
    doc.add_code("x = 1", parent=head)
    doc.add_code("")
    doc.add_text(text="")
    doc.add_text(label=PARAGRAPH, text="a paragraph")
    doc.add_text(label="caption", text="a caption is not chunked")
    pic = doc.add_picture()
    doc.add_text(text="text under a picture", parent=pic)
    sec = doc.add_group(G_SECTION)
    doc.add_heading("H2", level=2, parent=sec)
    doc.add_text(text="in a section", parent=sec)
    docs["mixed"] = doc

    docs["empty"] = Doc(name="empty")
    return docs


BUILT = _built_docs()


@pytest.mark.parametrize("name", sorted(BUILT))
def test_count_on_built_docs(name):
    _assert_counted(BUILT[name])
