"""The parse-time bookkeeping of both parse paths, recomputed from the
finished tree: every tag's ``watch`` bits, and the strip and ``<br>``
candidate lists the HTML kernel reads instead of scanning the tree.

The fast/stdlib parity tests (test_dom_fast_parse.py) compare the two
paths with each other, so a propagation bug both share passes them;
here each path is checked against a scan of its own output."""

import pytest
from hypothesis import given, settings
from test_dom_fast_parse import _HTMLISH, ADVERSARIAL

from docling_spark.kernels.dom import _WATCH_BITS, parse_html, parse_html_stdlib

PARSERS = [parse_html, parse_html_stdlib]


def _subtree_bits(tag) -> int:
    """Assert ``watch`` on ``tag`` and every tag under it: the OR of the
    watch bits of its descendants. Returns that OR plus ``tag``'s own
    bit, for its parent."""
    below = 0
    for child in tag.contents:
        if child.is_tag:
            below |= _subtree_bits(child)
    assert tag.watch == below, (tag.name, tag.watch, below)
    return below | _WATCH_BITS.get(tag.name, 0)


def _scanned_candidates(soup):
    """The candidates as one document-order scan of the tree finds them."""
    strip, brs = [], []
    for node in soup.descendants():
        if node.is_tag:
            if node.name in ("script", "style") or "hidden" in node.attrs:
                strip.append(node)
            elif node.name == "br":
                brs.append(node)
    return strip, brs


def _same_nodes(a, b) -> bool:
    return len(a) == len(b) and all(x is y for x, y in zip(a, b))


def _check(parse, raw):
    try:
        soup = parse(raw)
    except AssertionError:
        # html.parser rejects some markup declarations (``<![x]>``);
        # test_dom_fast_parse.py holds both paths to raising alike
        return
    _subtree_bits(soup)
    strip, brs = _scanned_candidates(soup)
    assert _same_nodes(soup.strip_tags, strip)
    assert _same_nodes(soup.br_tags, brs)


CASES = [
    b"<div><p>unclosed at end of input",
    b"<div><img src=a.png><span><table><tr><td>x",
    b"<b><p>misnested</b> tail</p><ul><li>a<li>b</ul>",
    b"<p>a<br>b<br/>c<br hidden>d</p><div hidden><br><p>x</p></div>",
    b"<html><head><title>t</title><style>p{}</style><br></head>"
    b"<body><script>if (a<b) {}</script><h2>h</h2></body></html>",
    b"<SCRIPT>x</SCRIPT><Br><IMG SRC=x><H1>y</H1>",
    b"<pre><code>keep\n  spaces</code></pre><p hidden=\"\">h</p>",
    b"<inline-formula>x</inline-formula><details><summary>s</summary></details>",
    b"</p></div><p>stray end tags</p></table>",
]


@pytest.mark.parametrize("parse", PARSERS)
@pytest.mark.parametrize("raw", CASES + ADVERSARIAL)
def test_watch_bits_and_candidates_fixed_inputs(parse, raw):
    _check(parse, raw)


@pytest.mark.parametrize("parse", PARSERS)
def test_watch_bits_and_candidates_crawl_pages(parse):
    from perfbench.workloads import crawl_html

    for page in crawl_html(0, 60):
        if page.kind == "html":
            _check(parse, page.payload)


@pytest.mark.parametrize("parse", PARSERS)
@settings(max_examples=250, deadline=None)
@given(s=_HTMLISH)
def test_property_watch_bits_and_candidates(parse, s):
    _check(parse, s)
