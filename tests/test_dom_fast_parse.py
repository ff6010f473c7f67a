"""The whole-document fast tokenizer (dom._fast_feed) must be
observably IDENTICAL to the stdlib html.parser path it replaces —
same tree, same node types, same watch bits, or the same exception.
Reading-order/byte-identity of every export depends on this."""

import pytest
from conftest import REFERENCE, needs_reference
from hypothesis import given, settings, strategies as st

from docling_spark.kernels.dom import (
    SkipNode,
    Tag,
    _decode_html,
    _fast_feed,
    _TreeParser,
    parse_html,
    parse_html_stdlib,
)

REF_HTML = sorted((REFERENCE / "tests/data/html").glob("*.html"))


def _sig(node):
    if isinstance(node, Tag):
        return (
            "T",
            node.name,
            tuple(sorted((k, v if v is not None else "\0none")
                         for k, v in node.attrs.items())),
            node.watch,
            tuple(_sig(c) for c in node.contents),
        )
    return ("S" if isinstance(node, SkipNode) else "D", str(node))


def _outcome(fn, raw):
    try:
        return ("ok", _sig(fn(raw)))
    except Exception as e:  # noqa: BLE001 — exception parity is the contract
        return ("err", type(e).__name__)


def _fast_tree(raw):
    p = _TreeParser()
    _fast_feed(p, _decode_html(raw))
    return p.root


def _assert_same(raw):
    assert _outcome(_fast_tree, raw) == _outcome(parse_html_stdlib, raw)


@needs_reference
@pytest.mark.parametrize("fixture", REF_HTML, ids=[p.stem for p in REF_HTML])
def test_reference_fixtures_identical(fixture):
    _assert_same(fixture.read_bytes())


ADVERSARIAL = [
    b"", b"<", b"<x", b"plain & text &amp; more", b"<p>a<p>b</p>",
    b"<script>if (a<b && c>d) {}</script>done", b"<script>never closed",
    b"<style>p { content: '</div>' }</style>x",
    b"<!-- comment --->text<!--->odd<!---->",
    b"<!DOCTYPE html><html><body>x</body></html>",
    b"<![CDATA[raw <b> stuff]]>after",
    b"<?php echo '>'; ?>tail",
    b"<a href='x>y'>link</a>", b'<a href="x>y" b=c d>t</a>',
    b"<div a='1' a='2' B=3>dup</div>", b"<br/><hr />",
    b"<p attr=val", b"<p attr='unterminated", b"<p/", b"<p /",
    b"</>", b"</ >", b"</123>", b"</p extra>x", b"</p",
    b"<di\x00v>weird</di\x00v>", b"<3 not a tag>", b"a < b > c",
    b"&#65;&#x42;&#badref;&unknown;&amp", b"text &am", b"tail&",
    b"<em>nested <em>same</em> tag</em>",
    b"<table><tr><td>1<td>2<tr><td>3</table>",
    b"<SCRIPT>UPPER</SCRIPT>ok", b"<ScRiPt>x</sCrIpT>y",
    b"<script></scrip></script>z", b"<script><!-- </script>w",
    "<p>unicode é &eacute; ид</p>".encode(),
    b"\xff\xfe broken utf8 <p>x</p>",
    b"<p>" + b"<div>" * 400 + b"deep" + b"</div>" * 400,
    b"<!doctype html [ <!ENTITY x 'y'> ]>rest",
    b"<! bogus decl>after", b"<!>e", b"<![weird]>f",
    b"<![if !IE]>x<![endif]>",
    b"<p></p >tail", b"<p></ p>x", b"<a b=>v</a>", b"<a =c>v</a>",
    b"<a/b>x", b"<p class = 'x' >y</p>", b"<x y='a&amp;b'>z</x>",
]


@pytest.mark.parametrize("idx", range(len(ADVERSARIAL)))
def test_adversarial_identical(idx):
    _assert_same(ADVERSARIAL[idx])


def test_synthetic_corpus_sample_identical():
    import duckdb

    from docling_spark.sources.pages import render_page

    rows = duckdb.sql(
        "select text, lang from "
        "read_parquet('/root/testdata/sf0.01/documents.parquet') limit 120"
    ).df()
    for i, (t, lang) in enumerate(zip(rows["text"], rows["lang"])):
        _assert_same(render_page(i, t, lang))


_HTMLISH = st.text(
    alphabet=st.sampled_from(
        list("<>/!?&;#=\"' abcdefgpPSCRIPTstyle-\n\t[]%éא")
    ),
    max_size=220,
)


@settings(max_examples=250, deadline=None)
@given(s=_HTMLISH)
def test_property_identical_on_htmlish_soup(s):
    _assert_same(s)


@settings(max_examples=60, deadline=None)
@given(data=st.binary(max_size=300))
def test_property_identical_on_random_bytes(data):
    _assert_same(data)


TITLES = {
    "none": b"<html><head><meta charset=utf-8></head><body><p>x</p></body></html>",
    "head": b"<html><head><title>Head title</title></head><body><p>x</p></body></html>",
    "body": b"<html><body><div><p>x</p><title>Body title</title></div></body></html>",
    "self_closed": b"<html><head><title/></head><body>y</body></html>",
    "two": b"<title>first</title><div><title>second</title></div>",
}


@pytest.mark.parametrize("name", sorted(TITLES))
@pytest.mark.parametrize("parse", [parse_html, parse_html_stdlib])
def test_soup_title_is_the_first_title_tag(name, parse):
    """``Soup.title`` answers a page without ``<title>`` from the
    parse-time watch bit; wherever the tag sits, it is the node a full
    ``find("title")`` returns."""
    soup = parse(TITLES[name])
    found = soup.find("title")
    assert (found is None) == (name == "none")
    assert soup.title is found
