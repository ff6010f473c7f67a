"""JATS (B7) golden parity + AsciiDoc (B6) behavior tests."""

import pytest
from conftest import REFERENCE, needs_reference

from docling_spark.kernels.asciidoc_kernel import parse_asciidoc
from docling_spark.kernels.jats_kernel import parse_jats
from docling_spark.kernels.markdown import to_markdown
from docling_spark.kernels.textout import to_indented_text
from docling_spark.operators.convert import convert_one

DATA = REFERENCE / "tests/data"
GT = DATA / "groundtruth/docling_v2"

JATS = sorted(f.name for f in (DATA / "jats").glob("*.nxml"))


@needs_reference
@pytest.mark.parametrize("name", JATS)
def test_jats_md_and_itxt_byte_identical(name):
    doc = parse_jats((DATA / "jats" / name).read_bytes(), name=name.rsplit(".", 1)[0])
    assert to_markdown(doc) == (GT / f"{name}.md").read_text()
    assert to_indented_text(doc) == (GT / f"{name}.itxt").read_text()


@needs_reference
def test_asciidoc_structure():
    """Current reference backend semantics (asciidoc_backend.py:90-443).
    NOTE: the repo's committed asciidoc goldens are stale — produced by
    an older backend (its current code emits a TITLE item which renders
    '# ...', while the goldens show plain text), so behavior is pinned
    here instead of byte-diffing those files."""
    doc = parse_asciidoc((DATA / "asciidoc" / "test_01.asciidoc").read_bytes())
    md = to_markdown(doc)
    assert md.startswith("# 1st Sample Document Title")
    assert "## Section 1" in md and "### Subsection 1.1" in md
    assert "- First list item" in md
    assert "| Header 1   | Header 2   |" in md
    paragraphs = [n.text for n in doc.nodes if n.kind == "paragraph"]
    assert "This spans multiple lines but should be treated as a single paragraph." in paragraphs


def test_asciidoc_pictures_and_captions():
    doc = parse_asciidoc(
        b".An example caption\nimage::images/x.png[Alt, width=200]\n"
    )
    pics = [n for n in doc.nodes if n.kind == "picture"]
    assert len(pics) == 1
    cap = doc.nodes[pics[0].caption_id]
    assert cap.text == "An example caption"


def test_asciidoc_table_caption_json_roundtrip():
    # table captions must survive export_to_dict -> doc_from_dict
    # (reference schema refs captions on TableItem like PictureItem)
    from docling_spark.kernels.docjson import doc_from_dict, export_to_dict
    from docling_spark.kernels.markdown import to_markdown

    src = b".Sales table\n|===\n|a |b\n|1 |2\n|===\n"
    doc = parse_asciidoc(src)
    tables = [n for n in doc.nodes if n.kind == "table"]
    assert len(tables) == 1 and tables[0].caption_id >= 0
    d = export_to_dict(doc, filename="t.adoc", raw=src)
    assert d["tables"][0]["captions"], "table caption ref missing from JSON"
    doc2 = doc_from_dict(d)
    t2 = [n for n in doc2.nodes if n.kind == "table"][0]
    assert t2.caption_id >= 0
    assert doc2.nodes[t2.caption_id].text == "Sales table"
    assert to_markdown(doc2) == to_markdown(doc)


@needs_reference
def test_router_dispatches_jats_and_asciidoc():
    r = convert_one("u", (DATA / "jats" / "elife-56337.nxml").read_bytes())
    assert (r["fmt"], r["status"]) == ("xml_jats", "success")
    r = convert_one("u", b"= Title\n\nSome text.\n\n== Section\n\nMore.\n")
    assert (r["fmt"], r["status"]) == ("asciidoc", "success")
    assert r["md"].startswith("# Title")


@needs_reference
@pytest.mark.parametrize(
    "name", ["elife-56337.nxml", "pntd.0008301.nxml", "pone.0234687.nxml"]
)
def test_jats_json_structurally_identical(name):
    import json

    from docling_spark.kernels.docjson import export_to_dict
    from docling_spark.kernels.jats_kernel import parse_jats

    src = DATA / "jats" / name
    raw = src.read_bytes()
    doc = parse_jats(raw, name=src.stem)
    mine = export_to_dict(doc, filename=name, raw=raw, mimetype="application/xml")
    gt = json.loads(
        (DATA / "groundtruth" / "docling_v2" / f"{name}.json").read_text()
    )
    assert mine == gt
