"""USPTO backend (B8): byte-identity against the reference's committed
groundtruth across all four DTD generations, plus the OASIS table
parser and router dispatch (reference tests:
tests/test_backend_patent_uspto.py)."""

import pytest
from conftest import REFERENCE, needs_reference

from docling_spark.kernels.markdown import to_markdown
from docling_spark.kernels.textout import to_indented_text
from docling_spark.kernels.uspto_kernel import XmlTable, parse_uspto
from docling_spark.operators.convert import convert_one
from docling_spark.operators.formats import sniff_format

pytestmark = needs_reference

DATA = REFERENCE / "tests/data/uspto"
GT = REFERENCE / "tests/data/groundtruth/docling_v2"

# every fixture with committed groundtruth; spans ICE application (2018,
# 2020), app v1 (2001), APS text (1997), and grant v2.5 (2002)
GOLDEN_STEMS = [
    "ipa20180000016",
    "ipa20200022300",
    "pa20010031492",
    "pftaps057006474",
    "pg06442728",
]


@pytest.mark.parametrize("stem", GOLDEN_STEMS)
def test_uspto_md_and_itxt_byte_identical(stem):
    src = next(DATA.glob(stem + ".*"))
    doc = parse_uspto(src.read_bytes(), name=src.name)
    assert to_markdown(doc) == (GT / f"{stem}.md").read_text()
    # the reference generates USPTO itxt unclipped (default export args)
    assert to_indented_text(doc, max_text_len=10**9) == (
        GT / f"{stem}.itxt"
    ).read_text()


@pytest.mark.parametrize("stem", GOLDEN_STEMS)
def test_uspto_json_structurally_identical(stem):
    import json

    from docling_spark.kernels.docjson import export_to_dict

    src = next(DATA.glob(stem + ".*"))
    raw = src.read_bytes()
    doc = parse_uspto(raw, name=src.name)
    mime = "text/plain" if src.suffix == ".txt" else "application/xml"
    mine = export_to_dict(doc, filename=src.name, raw=raw, mimetype=mime)
    assert mine == json.loads((GT / f"{stem}.json").read_text())


def test_all_uspto_fixtures_parse():
    """Fixtures without groundtruth (incl. the design patent and the
    large ICE grants) must still parse into non-trivial documents."""
    for src in sorted(DATA.iterdir()):
        if src.name.startswith("tables"):
            continue
        doc = parse_uspto(src.read_bytes(), name=src.name)
        assert len(doc.nodes) > 5, src.name


def test_xml_table_shape():
    # reference pins this table to 13 rows x 10 cols with 130 cells
    # (test_backend_patent_uspto.py test_tables)
    data = XmlTable((DATA / "tables_ipa20180000016.xml").read_text()).parse()
    assert data.num_rows == 13
    assert data.num_cols == 10
    assert len(data.cells) == 130


def test_sniffer_detects_all_generations():
    for src in sorted(DATA.iterdir()):
        if src.name.startswith("tables"):
            continue
        assert sniff_format(src.read_bytes()[:8192]) == "xml_uspto", src.name


def test_router_dispatches_uspto():
    raw = (DATA / "ipa20200022300.xml").read_bytes()
    r = convert_one("u", raw)
    assert (r["fmt"], r["status"]) == ("xml_uspto", "success")
    assert r["md"].startswith("# SYSTEM FOR CONTROLLING")
    raw = (DATA / "pftaps057006474.txt").read_bytes()
    r = convert_one("u", raw)
    assert (r["fmt"], r["status"]) == ("xml_uspto", "success")
