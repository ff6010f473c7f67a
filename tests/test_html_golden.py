"""Golden-output byte-identity gate.

Mirrors the reference e2e test
(/root/reference/tests/test_backend_html.py:156-183 +
tests/verify_utils.py:500-511 `verify_export` exact string equality):
every HTML fixture under /root/reference/tests/data/html must convert
to markdown byte-identical to the committed groundtruth. This is the
BASELINE.json invariant ("byte-identical extracted text per url").
"""

import pytest
from conftest import REFERENCE, needs_reference

from docling_spark.kernels.html_kernel import HtmlExtractor
from docling_spark.kernels.markdown import to_markdown

pytestmark = needs_reference

FIXTURES = REFERENCE / "tests/data/html"
GROUNDTRUTH = REFERENCE / "tests/data/groundtruth/docling_v2"

NAMES = sorted(p.name for p in FIXTURES.glob("*.html"))


@pytest.mark.parametrize("name", NAMES)
def test_html_to_markdown_byte_identical(name: str):
    raw = (FIXTURES / name).read_bytes()
    expected = (GROUNDTRUTH / (name + ".md")).read_text()
    doc = HtmlExtractor().convert(raw, name=name)
    got = to_markdown(doc)
    assert got == expected, f"markdown mismatch for {name}"


def test_fixture_corpus_is_complete():
    # the reference ships 18 HTML fixtures; fail loudly if the corpus moved
    assert len(NAMES) == 18
