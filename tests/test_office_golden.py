"""Office backends (B3 XLSX / B4 DOCX / B5 PPTX) against the
reference's own fixtures and groundtruth — byte-identical markdown
(and itxt where the groundtruth provides it).

All 13 DOCX fixtures pass byte-identically, including the OMML
equation ones (kernels/omml.py renders OMML -> LaTeX with the
reference's pylatexenc-derived spacing).
"""

import pathlib

import pytest
from conftest import REFERENCE, needs_reference

from docling_spark.kernels.docx_kernel import parse_docx
from docling_spark.kernels.markdown import to_markdown
from docling_spark.kernels.pptx_kernel import parse_pptx
from docling_spark.kernels.textout import to_indented_text
from docling_spark.kernels.xlsx_kernel import parse_xlsx
from docling_spark.operators.convert import convert_one

DATA = REFERENCE / "tests/data"
GT = DATA / "groundtruth/docling_v2"

DOCX = sorted(f.name for f in (DATA / "docx").glob("*.docx"))
XLSX = sorted(f.name for f in (DATA / "xlsx").glob("*"))
PPTX = sorted(f.name for f in (DATA / "pptx").glob("*.pptx"))


@needs_reference
@pytest.mark.parametrize("name", DOCX)
def test_docx_md_byte_identical(name):
    doc = parse_docx((DATA / "docx" / name).read_bytes(), name=name.rsplit(".", 1)[0])
    assert to_markdown(doc) == (GT / f"{name}.md").read_text()


@needs_reference
@pytest.mark.parametrize("name", XLSX)
def test_xlsx_md_and_itxt_byte_identical(name):
    doc = parse_xlsx((DATA / "xlsx" / name).read_bytes(), name=name.rsplit(".", 1)[0])
    assert to_markdown(doc) == (GT / f"{name}.md").read_text()
    assert to_indented_text(doc) == (GT / f"{name}.itxt").read_text()


@needs_reference
@pytest.mark.parametrize("name", PPTX)
def test_pptx_md_and_itxt_byte_identical(name):
    doc = parse_pptx((DATA / "pptx" / name).read_bytes(), name=name.rsplit(".", 1)[0])
    assert to_markdown(doc) == (GT / f"{name}.md").read_text()
    assert to_indented_text(doc) == (GT / f"{name}.itxt").read_text()


@needs_reference
def test_router_dispatches_office_formats():
    for sub, path in (
        ("docx", DATA / "docx" / "lorem_ipsum.docx"),
        ("xlsx", DATA / "xlsx" / "test-01.xlsx"),
        ("pptx", DATA / "pptx" / "powerpoint_sample.pptx"),
    ):
        r = convert_one("u", path.read_bytes())
        assert (r["fmt"], r["status"]) == (sub, "success"), r["error"]
        assert r["md"]


def test_office_garbage_is_failure_row():
    r = convert_one("u", b"PK\x03\x04 not really a zip")
    assert r["status"] in ("failure", "skipped")


@needs_reference
def test_xlsx_json_structurally_identical_mod_image_bytes():
    """xlsx JSON groundtruth: identical dict except the picture data
    URI, whose bytes the reference re-encodes through PIL (unavailable
    here) — same pixels, different PNG compressor. We pin everything
    else plus the decoded image's dimensions."""
    import base64
    import copy
    import json

    from docling_spark.kernels.docjson import export_to_dict
    from docling_spark.kernels.image_kernel import image_frames
    from docling_spark.kernels.xlsx_kernel import parse_xlsx

    src = pathlib.Path("/root/reference/tests/data/xlsx/test-01.xlsx")
    raw = src.read_bytes()
    doc = parse_xlsx(raw, name=src.stem)
    mine = export_to_dict(
        doc,
        filename=src.name,
        raw=raw,
        mimetype="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
    )
    gt = json.loads(
        pathlib.Path(
            "/root/reference/tests/data/groundtruth/docling_v2/test-01.xlsx.json"
        ).read_text()
    )
    g, m = copy.deepcopy(gt), copy.deepcopy(mine)
    gt_uri = g["pictures"][0]["image"].pop("uri")
    my_uri = m["pictures"][0]["image"].pop("uri")
    assert m == g
    # both URIs decode to a PNG of the same pixel dimensions
    for uri in (gt_uri, my_uri):
        assert uri.startswith("data:image/png;base64,")
    dims = [
        image_frames(base64.b64decode(u.split(",", 1)[1]))[0]
        for u in (gt_uri, my_uri)
    ]
    assert dims[0] == dims[1] == (421, 430)


@needs_reference
@pytest.mark.parametrize(
    "name",
    ["powerpoint_sample.pptx", "powerpoint_with_image.pptx", "powerpoint_bad_text.pptx"],
)
def test_pptx_json_structurally_identical(name):
    """pptx JSON groundtruth incl. provenance (EMU shape boxes with
    layout/master placeholder inheritance), pages dict, and picture
    payloads; the with_image fixture compares modulo the data URI whose
    bytes the reference re-encodes through PIL."""
    import copy
    import json

    from docling_spark.kernels.docjson import export_to_dict

    src = pathlib.Path("/root/reference/tests/data/pptx") / name
    raw = src.read_bytes()
    doc = parse_pptx(raw, name=src.stem)
    mine = export_to_dict(
        doc, filename=name, raw=raw, mimetype="application/vnd.ms-powerpoint"
    )
    gt = json.loads(
        pathlib.Path(
            f"/root/reference/tests/data/groundtruth/docling_v2/{name}.json"
        ).read_text()
    )
    g, m = copy.deepcopy(gt), copy.deepcopy(mine)
    for d in (g, m):
        for p in d.get("pictures", []):
            if isinstance(p.get("image"), dict):
                p["image"].pop("uri", None)
    assert m == g


_DOCX_JSON_IDENTICAL = [
    # dict-identical against groundtruth (three compare modulo the
    # PIL-re-encoded picture data URI: test_emf, word_image_anchors,
    # word_sample)
    "equations.docx", "lorem_ipsum.docx", "table_with_equations.docx",
    "tablecell.docx", "textbox.docx", "unit_test_formatting.docx",
    "unit_test_headers.docx", "unit_test_headers_numbered.docx",
    "unit_test_lists.docx", "word_tables.docx", "test_emf_docx.docx",
    "word_image_anchors.docx", "word_sample.docx",
]


@needs_reference
@pytest.mark.parametrize("name", _DOCX_JSON_IDENTICAL)
def test_docx_json_structurally_identical(name):
    import copy
    import json

    from docling_spark.kernels.docjson import export_to_dict

    src = pathlib.Path("/root/reference/tests/data/docx") / name
    raw = src.read_bytes()
    doc = parse_docx(raw, name=src.stem)
    mine = export_to_dict(
        doc,
        filename=name,
        raw=raw,
        mimetype="application/vnd.openxmlformats-officedocument.wordprocessingml.document",
    )
    gt = json.loads(
        pathlib.Path(
            f"/root/reference/tests/data/groundtruth/docling_v2/{name}.json"
        ).read_text()
    )
    g, m = copy.deepcopy(gt), copy.deepcopy(mine)
    for d in (g, m):
        for p in d.get("pictures", []):
            if isinstance(p.get("image"), dict):
                p["image"].pop("uri", None)
    assert m == g


@needs_reference
@pytest.mark.parametrize(
    "name",
    sorted(
        f.name
        for f in (DATA / "docx").glob("*.docx")
        if (GT / f"{f.name}.itxt").exists()
    ),
)
def test_docx_itxt_byte_identical(name):
    from docling_spark.kernels.textout import to_indented_text

    src = pathlib.Path("/root/reference/tests/data/docx") / name
    doc = parse_docx(src.read_bytes(), name=src.stem)
    gt = (
        pathlib.Path("/root/reference/tests/data/groundtruth/docling_v2")
        / f"{name}.itxt"
    ).read_text()
    assert to_indented_text(doc) == gt


def test_docx_sdt_table_of_contents_extracts():
    """w:sdt containers (e.g. a ToC) contribute their paragraphs
    (msword_backend.py:267-274)."""
    import io
    import zipfile

    buf = io.BytesIO()
    z = zipfile.ZipFile(buf, "w")
    z.writestr(
        "[Content_Types].xml",
        '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/></Types>',
    )
    z.writestr(
        "word/document.xml",
        '<?xml version="1.0"?><w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"><w:body>'
        "<w:sdt><w:sdtContent>"
        "<w:p><w:r><w:t>Contents</w:t></w:r></w:p>"
        "<w:p><w:r><w:t>1. Introduction ... 3</w:t></w:r></w:p>"
        "</w:sdtContent></w:sdt>"
        "<w:p><w:r><w:t>After the ToC.</w:t></w:r></w:p>"
        "</w:body></w:document>",
    )
    z.close()
    doc = parse_docx(buf.getvalue())
    assert [n.text for n in doc.nodes if n.text] == [
        "Contents", "1. Introduction ... 3", "After the ToC.",
    ]
