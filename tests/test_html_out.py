"""E5 HTML serializer: round-trip fidelity through this engine's own
HTML kernel (reference capability: DoclingDocument.save_as_html driven
by cli/main.py:184-240; no groundtruth exists in-sandbox, so the
contract is HTML -> doc -> HTML -> doc equivalence)."""

from pathlib import Path

import pytest
from conftest import REFERENCE, needs_reference

from docling_spark.kernels.html_kernel import HtmlExtractor
from docling_spark.kernels.html_out import to_html, to_html_split_pages
from docling_spark.kernels.markdown import to_markdown

FIXTURES = REFERENCE / "tests/data/html"

RICH = b"""<html><head><title>Head Title</title></head><body>
<p>furniture intro before any heading</p>
<h1>The Title</h1>
<p>intro paragraph with <b>bold words</b> here</p>
<h2>Section One</h2>
<p>text under one</p>
<ul><li>alpha</li><li>beta<ul><li>nested</li></ul></li></ul>
<h3>Subsection</h3>
<ol start="3"><li>third</li><li>fourth</li></ol>
<table><tr><th>a</th><th>b</th></tr><tr><td colspan="2">wide</td></tr></table>
<pre>code here</pre>
<h2>Section Two</h2>
<p>closing with a <a href="https://example.com/x">link</a> and <code>inline_code()</code></p>
</body></html>"""


def _pool(doc):
    return [
        (
            n.kind,
            n.text,
            n.level,
            n.group_label,
            tuple(n.children),
            n.content_layer,
            n.enumerated,
            n.hyperlink,
            (
                n.formatting.bold,
                n.formatting.italic,
                n.formatting.underline,
                n.formatting.strikethrough,
                n.formatting.script,
            )
            if n.formatting
            else None,
        )
        for n in doc.nodes
    ]


def test_rich_roundtrip_identical_node_pool():
    d1 = HtmlExtractor().convert(RICH)
    d2 = HtmlExtractor().convert(to_html(d1).encode())
    assert _pool(d1) == _pool(d2)
    assert to_markdown(d1) == to_markdown(d2)


# Every reference HTML fixture round-trips with an identical node pool
# (incl. <details> sections, <footer> furniture, sub/sup scripts,
# alt-text and ancestor-link image captions).
POOL_EXACT = [
    "example_01", "example_02", "example_03", "example_04", "example_05",
    "example_06", "example_07", "example_08", "example_09", "formatting",
    "html_code_snippets", "hyperlink_01", "hyperlink_02", "hyperlink_03",
    "hyperlink_04", "hyperlink_05", "unit_test_01", "wiki_duck",
]


@needs_reference
@pytest.mark.parametrize("stem", POOL_EXACT)
def test_fixture_roundtrip_pool_exact(stem):
    raw = (FIXTURES / f"{stem}.html").read_bytes()
    d1 = HtmlExtractor().convert(raw)
    d2 = HtmlExtractor().convert(to_html(d1).encode())
    assert _pool(d1) == _pool(d2)


@needs_reference
def test_all_fixtures_roundtrip_md_and_idempotence():
    md_exact = 0
    for f in sorted(FIXTURES.glob("*.html")):
        d1 = HtmlExtractor().convert(f.read_bytes())
        d2 = HtmlExtractor().convert(to_html(d1).encode())
        d3 = HtmlExtractor().convert(to_html(d2).encode())
        # one serialize+parse is a fixed point for every fixture
        assert _pool(d2) == _pool(d3), f.name
        if to_markdown(d1) == to_markdown(d2):
            md_exact += 1
    assert md_exact == 18


@needs_reference
def test_serializes_docs_from_other_backends():
    """Any Doc serializes — e.g. a USPTO patent renders to HTML whose
    reparse keeps the body text."""
    from docling_spark.kernels.uspto_kernel import parse_uspto

    raw = Path("/root/reference/tests/data/uspto/ipa20200022300.xml").read_bytes()
    doc = parse_uspto(raw)
    html = to_html(doc)
    assert "<h1>SYSTEM FOR CONTROLLING" in html
    reparsed = HtmlExtractor().convert(html.encode())
    assert "seed planting implement" in to_markdown(reparsed)


def test_split_page_view():
    from docling_spark.kernels.pdf_layout import build_doc
    from docling_spark.kernels.pdf_kernel import parse_pdf
    from docling_spark.sources.pdfgen import render_doc_pdf

    pages = parse_pdf(render_doc_pdf(3, "split page view words " * 20))
    page_docs = [build_doc([p])[0] for p in pages]
    html = to_html_split_pages(page_docs, title="doc3")
    assert html.count('<section class="page"') == len(pages)
    assert 'data-page="1"' in html
