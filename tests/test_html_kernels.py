"""Unit tests for individual HTML kernels, ported case-for-case from the
reference unit tests (/root/reference/tests/test_backend_html.py)."""

from conftest import needs_reference

from docling_spark.kernels.doc_model import BODY, FURNITURE, SECTION_HEADER
from docling_spark.kernels.html_kernel import HtmlExtractor, clean_unicode
from docling_spark.kernels.hyperlinks import normalize_hyperlink
from docling_spark.kernels.markdown import to_markdown


def convert(raw: bytes):
    return HtmlExtractor().convert(raw)


def md(raw: bytes) -> str:
    return to_markdown(convert(raw))


@needs_reference
def test_heading_levels():
    # reference: test_backend_html.py:22-46 — h2 -> level 1, h3 -> level 2
    raw = open("/root/reference/tests/data/html/wiki_duck.html", "rb").read()
    doc = convert(raw)
    levels = {n.text: n.level for n in doc.nodes if n.kind == SECTION_HEADER}
    assert levels["Etymology"] == 1
    assert levels["Feeding"] == 2


def test_ordered_lists_start_semantics():
    # reference: test_backend_html.py:49-102
    cases = [
        (b"<html><body><ol><li>1st item</li><li>2nd item</li></ol></body></html>",
         "1. 1st item\n2. 2nd item"),
        (b'<html><body><ol start="1"><li>1st item</li><li>2nd item</li></ol></body></html>',
         "1. 1st item\n2. 2nd item"),
        (b'<html><body><ol start="2"><li>1st item</li><li>2nd item</li></ol></body></html>',
         "2. 1st item\n3. 2nd item"),
        (b'<html><body><ol start="0"><li>1st item</li><li>2nd item</li></ol></body></html>',
         "0. 1st item\n1. 2nd item"),
        (b'<html><body><ol start="-5"><li>1st item</li><li>2nd item</li></ol></body></html>',
         "1. 1st item\n2. 2nd item"),
        (b'<html><body><ol start="foo"><li>1st item</li><li>2nd item</li></ol></body></html>',
         "1. 1st item\n2. 2nd item"),
    ]
    for idx, (raw, expected) in enumerate(cases):
        assert md(raw) == expected, f"case {idx}"


def test_unicode_characters():
    raw = "<html><body><h1>Hello World!</h1></body></html>".encode()  # noqa: RUF001
    doc = convert(raw)
    texts = [n.text for n in doc.nodes]
    assert "Hello World!" in texts


def test_unicode_cleanup_table():
    # reference: html_backend.py:947-967
    assert clean_unicode("a\u00a0b") == "a b"
    assert clean_unicode("a\u200bb\u200cc\u200dd") == "abcd"
    assert clean_unicode("\u2013\u2014\u2015") == "---"
    assert clean_unicode("\u2018x\u2019 \u201cy\u201d") == "'x' \"y\""
    assert clean_unicode("a\u2026") == "a..."
    assert clean_unicode("a\u00adb\ufeffc\u202fd\u2060e") == "abc de"


@needs_reference
def test_parent_hyperlink_discovery():
    # reference: test_backend_html.py:121-138 (hyperlink_04)
    raw = open("/root/reference/tests/data/html/hyperlink_04.html", "rb").read()
    assert md(raw) == "[This is some text.](/start.html)"


def test_furniture_layers():
    # reference: test_backend_html.py:186-213
    raw = (
        b"<html><body><p>Initial content with some <strong>bold text</strong></p>"
        b"<h1>Main Heading</h1>"
        b"<p>Some Content</p>"
        b"<footer><p>Some Footer Content</p></footer></body></html"
    )
    doc = convert(raw)
    assert to_markdown(doc) == "# Main Heading\n\nSome Content"
    layers = {n.text: n.content_layer for n in doc.nodes if n.text}
    assert layers["Some Footer Content"] == FURNITURE
    assert layers["Some Content"] == BODY


@needs_reference
def test_table_span_grid():
    # rowspan + colspan occupancy from example_04 semantics
    raw = open("/root/reference/tests/data/html/example_04.html", "rb").read()
    doc = convert(raw)
    tables = [n for n in doc.nodes if n.kind == "table"]
    assert len(tables) == 1
    t = tables[0].table
    assert (t.num_rows, t.num_cols) == (4, 3)
    g = t.grid()
    assert g[1][0] == "Row 1 & 2, Col 1 (rowspan)"
    assert g[2][0] == "Row 1 & 2, Col 1 (rowspan)"  # rowspan duplication
    assert g[0][1] == g[0][2] == "Header 2 & 3 (colspan)"


def test_hyperlink_normalization():
    # pydantic AnyUrl | Path observable behavior (html_backend.py:476-485)
    assert normalize_hyperlink("#") == "#"
    assert normalize_hyperlink("/home.html") == "/home.html"
    assert normalize_hyperlink("https://EXAMPLE.com") == "https://example.com/"
    assert normalize_hyperlink("https://example.com:443/x") == "https://example.com/x"
    assert normalize_hyperlink("https://a.b/c%2Fd_e") == "https://a.b/c%2Fd_e"
    assert normalize_hyperlink("a b.html") == "a b.html"


def test_boilerplate_strip():
    raw = (
        b"<html><body><p>keep</p><script>drop()</script>"
        b"<style>p{}</style><div hidden>gone</div><p hidden>gone2</p></body></html>"
    )
    assert md(raw) == "keep"


def test_every_code_tag_marks_inline_code():
    raw = (
        b"<html><body><p>Press <kbd>Ctrl</kbd>, see <samp>ok</samp>, run "
        b"<code>ls</code> and <b>bold</b> <em>x</em>.</p></body></html>"
    )
    assert md(raw) == "Press `Ctrl` , see `ok` , run `ls` and **bold** *x* ."
