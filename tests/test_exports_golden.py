"""Golden parity for the remaining export surfaces (E2 itxt, E4 JSON,
B10 JSON backend) over the full reference HTML fixture corpus.

- itxt: byte-identical against *.html.itxt (the reference's
  _export_to_indented_text surface, tests/test_backend_html.py:176-180)
- JSON: structurally identical (json ==) against *.html.json including
  origin.binary_hash (sha256 mod 2^64, empirically pinned)
- B10: export -> doc_from_dict -> export_to_markdown must be
  byte-identical to the direct markdown (docling_json_backend.py
  semantics: a stored document loses nothing)
"""

import json
import pathlib

import pytest
from conftest import REFERENCE, needs_reference

from docling_spark.kernels.docjson import doc_from_dict, export_to_dict
from docling_spark.kernels.html_kernel import HtmlExtractor
from docling_spark.kernels.markdown import to_markdown
from docling_spark.kernels.textout import to_indented_text

pytestmark = needs_reference

HTML_DIR = REFERENCE / "tests/data/html"
GT_DIR = REFERENCE / "tests/data/groundtruth/docling_v2"

FIXTURES = sorted(f.name for f in HTML_DIR.glob("*.html"))


@pytest.mark.parametrize("name", FIXTURES)
def test_itxt_byte_identical(name):
    raw = (HTML_DIR / name).read_bytes()
    expected = (GT_DIR / f"{name}.itxt").read_text()
    got = to_indented_text(HtmlExtractor(original_url=None).convert(raw))
    assert got == expected


@pytest.mark.parametrize("name", FIXTURES)
def test_json_structural_parity(name):
    raw = (HTML_DIR / name).read_bytes()
    doc = HtmlExtractor(original_url=None).convert(raw)
    got = export_to_dict(doc, filename=name, raw=raw)
    got["name"] = pathlib.Path(name).stem
    expected = json.loads((GT_DIR / f"{name}.json").read_text())
    assert got == expected


@pytest.mark.parametrize("name", FIXTURES)
def test_json_backend_roundtrip(name):
    raw = (HTML_DIR / name).read_bytes()
    doc = HtmlExtractor(original_url=None).convert(raw)
    reloaded = doc_from_dict(export_to_dict(doc, filename=name, raw=raw))
    assert to_markdown(reloaded) == to_markdown(doc)
    assert to_indented_text(reloaded) == to_indented_text(doc)
