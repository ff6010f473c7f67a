"""Real-world PDF shapes: cross-reference streams, /ObjStm object
streams, Type0/Identity-H fonts with embedded /ToUnicode CMaps,
/Differences encodings, filter chains, predictors, encryption gating.

Reference capability being matched: pdfium opens these natively
(/root/reference/docling/backend/pypdfium2_backend.py:120-252); round 1
only handled classic-xref latin-1 files, i.e. almost no post-2005
crawl PDF. Ground truth is by construction: the modern builder
(pdfgen.build_pdf_modern) emits the same logical article as the
classic builder, so cells and assembled documents must match exactly.
"""

import zlib
from pathlib import Path

import pytest
from conftest import needs_reference

from docling_spark.kernels.pdf_kernel import (
    FontInfo,
    PdfDocument,
    PdfError,
    parse_pdf,
    parse_tounicode_cmap,
)
from docling_spark.kernels.pdf_layout import build_doc
from docling_spark.sources.pdfgen import (
    doc_spec,
    render_doc_pdf,
    render_doc_pdf_modern,
)

TEXT = (
    "Modern PDFs pack their catalog and fonts into object streams; text "
    "rides as 2-byte CIDs whose meaning exists only in the ToUnicode "
    "CMap with digits 0 1 2 and CAPS and punctuation, too!"
)


def test_modern_cid_matches_classic_cells():
    """Same article via classic-xref/latin-1 and via xref-stream +
    ObjStm + Identity-H must produce identical cell text + geometry."""
    for doc_id in range(8):
        classic = parse_pdf(render_doc_pdf(doc_id, TEXT, compress=True))
        modern = parse_pdf(render_doc_pdf_modern(doc_id, TEXT, cid=True))
        assert len(modern) == len(classic)
        for pc, pm in zip(classic, modern):
            assert [c.text for c in pm.cells] == [c.text for c in pc.cells]
            # geometry: same positions; advances may differ only via
            # width tables (both use 500/1000 em here) -> identical
            for cc, cm in zip(pc.cells, pm.cells):
                assert (cm.l, cm.b, cm.t, cm.size) == (cc.l, cc.b, cc.t, cc.size)
                assert abs(cm.r - cc.r) < 1e-6


def test_modern_simplefont_matches_classic():
    for doc_id in (0, 5):
        classic = parse_pdf(render_doc_pdf(doc_id, TEXT))
        modern = parse_pdf(render_doc_pdf_modern(doc_id, TEXT, cid=False))
        assert [[c.text for c in p.cells] for p in modern] == [
            [c.text for c in p.cells] for p in classic
        ]


def test_modern_assembles_identically():
    """End-to-end: the layout kernel reconstructs the same document
    (title/headings/paragraphs) from the modern file."""
    for doc_id in (1, 4, 7):
        _, expected = doc_spec(doc_id, TEXT)
        pages = parse_pdf(render_doc_pdf_modern(doc_id, TEXT, cid=True))
        doc, scores = build_doc(pages, name=f"doc{doc_id}")
        assert [n.text for n in doc.nodes if n.kind == "title"] == [expected["title"]]
        assert [
            n.text for n in doc.nodes if n.kind == "section_header"
        ] == expected["headings"]
        assert [n.text for n in doc.nodes if n.kind == "text"] == expected["paragraphs"]
        assert all(s == 1.0 for s in scores)


def test_objstm_only_catalog_found():
    """Catalog/pages live ONLY inside the ObjStm — a reader without
    /ObjStm expansion sees zero pages."""
    pdf = render_doc_pdf_modern(2, TEXT, cid=True)
    doc = PdfDocument(pdf)
    cat = doc._catalog()
    assert str(cat.get("Type")) == "Catalog"
    assert doc.page_dicts()


# ------------------------------------------------------------ CMap parsing


def test_cmap_bfchar_and_bfrange_increment():
    cmap = b"""
    1 begincodespacerange <0000> <FFFF> endcodespacerange
    2 beginbfchar
    <0003> <0041>
    <0004> <00e9>
    endbfchar
    1 beginbfrange
    <0010> <0013> <0061>
    endbfrange
    """
    mapping, nbytes = parse_tounicode_cmap(cmap)
    assert nbytes == 2
    assert mapping[0x0003] == "A" and mapping[0x0004] == "é"
    assert [mapping[c] for c in range(0x10, 0x14)] == ["a", "b", "c", "d"]


def test_cmap_bfrange_array_form_and_multichar():
    cmap = b"""
    1 beginbfrange
    <0005> <0007> [<0066006900> <0058> <20ac>]
    endbfrange
    1 beginbfchar
    <0008> <00660069>
    endbfchar
    """
    mapping, _ = parse_tounicode_cmap(cmap)
    assert mapping[0x0005].startswith("fi")
    assert mapping[0x0006] == "X"
    assert mapping[0x0007] == "€"
    assert mapping[0x0008] == "fi"  # multi-char dst (ligature expansion)


def test_cmap_one_byte_codespace():
    cmap = b"1 begincodespacerange <00> <ff> endcodespacerange\n" \
           b"1 beginbfchar <41> <0042> endbfchar"
    mapping, nbytes = parse_tounicode_cmap(cmap)
    assert nbytes == 1 and mapping[0x41] == "B"


# ------------------------------------------------------- fonts + decoding


def test_fontinfo_identity_h_fallback_garbles_not_crashes():
    fi = FontInfo(code_bytes=2, to_unicode=None)
    decoded = fi.decode(bytes.fromhex("00410042"))
    assert len(decoded) == 2  # garbled but present; quality score catches it


def test_fontinfo_differences_decoding():
    fi = FontInfo(
        code_bytes=1,
        diff_map={0x80: "—", 0x81: "é"},
    )
    decoded = fi.decode(b"a\x80\x81")
    assert "".join(t for _, t in decoded) == "a—é"


def test_fontinfo_widths_advance():
    fi = FontInfo(code_bytes=1, widths={65: 722.0, 66: 667.0}, default_width=500.0)
    assert fi.advance([65, 66, 67]) == pytest.approx(722 + 667 + 500)


def test_differences_built_from_font_dict():
    """A simple font with /Encoding /Differences resolves through the
    AGL subset."""
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n"
        b"4 0 obj\n<< /Length 44 >>\nstream\n"
        b"BT /F1 12 Tf 72 700 Td (caf\x81 \x80 time) Tj ET\n"
        b"endstream\nendobj\n"
        b"5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Custom "
        b"/FirstChar 32 /Encoding << /Differences [128 /emdash /eacute] >> >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n"
    )
    pages = parse_pdf(pdf)
    assert pages[0].cells[0].text == "café — time"


# --------------------------------------------------- filters + predictors


def test_ascii_hex_flate_filter_chain():
    payload = b"BT /F1 10 Tf 72 700 Td (chained) Tj ET"
    comp = zlib.compress(payload)
    hexed = comp.hex().encode() + b">"
    content_obj = (
        b"4 0 obj\n<< /Length %d /Filter [/ASCIIHexDecode /FlateDecode] >>"
        b"\nstream\n%s\nendstream\nendobj\n" % (len(hexed), hexed)
    )
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        + content_obj
        + b"trailer\n<< /Root 1 0 R >>\n"
    )
    pages = parse_pdf(pdf)
    assert pages[0].cells[0].text == "chained"


def test_png_predictor_up_roundtrip():
    # columns=4: predict rows with Up filter, check unpredict restores
    rows = [bytes([1, 2, 3, 4]), bytes([5, 6, 7, 8]), bytes([9, 10, 11, 12])]
    enc = bytearray()
    prev = bytes(4)
    for r in rows:
        enc.append(2)  # Up
        enc += bytes((c - p) & 0xFF for c, p in zip(r, prev))
        prev = r
    out = PdfDocument._png_unpredict(bytes(enc), columns=4, bpp=1)
    assert out == b"".join(rows)


def test_encrypted_pdf_is_typed_failure():
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [] /Count 0 >>\nendobj\n"
        b"3 0 obj\n<< /Filter /Standard /V 2 >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R /Encrypt 3 0 R >>\n"
    )
    with pytest.raises(PdfError, match="encrypted"):
        parse_pdf(pdf)


@needs_reference
def test_real_world_pdf_fixtures_content_recall():
    """The reference's real PDF fixtures (varied producers: arXiv
    LaTeX, IBM Redbooks, Word exports, RTL documents) against its own
    model-derived markdown groundtruth. Byte-identity needs the ML
    layout model (reading order/labels), but the extracted TEXT must
    recall the groundtruth words — this is the 'works on a crawl'
    gate for the from-scratch reader."""
    import collections
    import re
    import sys

    from docling_spark.kernels.pdf_layout import build_doc

    sys.setrecursionlimit(20000)
    GT = Path("/root/reference/tests/data/groundtruth/docling_v2")
    floors = {
        # 0.97: geometry table reconstruction recovers the HPO table's
        # cell text into TableData (was 0.95 as loose text blocks)
        "2305.03393v1-pg9": 0.97,
        "amt_handbook_sample": 0.98,
        "code_and_formula": 0.98,
        "multi_page": 0.98,
        "picture_classification": 0.98,
        # 0.93: r5 docling-parse glyph-fallback parity (unmapped
        # /Differences names kept as "/gNN", GLYPH<c=..,font=..>
        # markers for unmapped control codes) recovers the symbol-font
        # bullet lists the reference also extracts as glyph garbage
        # 0.94: r5 CID glyph-fallback parity — an unmappable control
        # CID emits the reference's GLYPH<c=..,font=..> marker with
        # the DESCENDANT CIDFont's subset name (measured 0.974)
        "redp5110_sampled": 0.94,
        # RTL floors cover ARABIC words too (round-3 unicode regex;
        # the old [A-Za-z0-9] counter silently ignored them)
        "right_to_left_01": 0.89,
        "right_to_left_02": 0.88,
        "right_to_left_03": 0.94,
    }

    def words(s):
        return collections.Counter(re.findall(r"\w{2,}", s.lower()))

    for stem, floor in floors.items():
        pdf = Path(f"/root/reference/tests/data/pdf/{stem}.pdf").read_bytes()
        doc, _ = build_doc(parse_pdf(pdf), name=stem)
        parts = [n.text for n in doc.nodes if n.text]
        parts += [
            c.text
            for n in doc.nodes
            if getattr(n, "table", None) is not None
            for c in n.table.cells
            if c.text
        ]
        mine = " ".join(parts)
        gw = words((GT / f"{stem}.md").read_text())
        mw = words(mine)
        inter = sum((gw & mw).values())
        recall = inter / max(sum(gw.values()), 1)
        precision = inter / max(sum(mw.values()), 1)
        assert recall >= floor, f"{stem}: recall {recall:.3f} < {floor}"
        assert precision >= 0.80, f"{stem}: precision {precision:.3f}"


@needs_reference
def test_real_world_pdf_fixtures_reading_order():
    """ORDER-sensitive witness: token-SEQUENCE similarity (difflib
    ratio over word tokens) of our markdown vs the reference
    groundtruth. Bag-of-words recall cannot see reading-order errors
    (P18's whole job); this can — the round-3 RTL character-order fix
    moved right_to_left_02 from 0.005 to ~0.77 under this metric while
    recall barely moved. Floors sit ~0.03 under measured values; the
    RTL/table-form fixtures are bounded by the model-based reading
    order the reference uses (readingorder_model.py rb model)."""
    import difflib
    import re
    import sys

    from docling_spark.kernels.markdown import to_markdown
    from docling_spark.kernels.pdf_layout import build_doc

    sys.setrecursionlimit(20000)
    GT = Path("/root/reference/tests/data/groundtruth/docling_v2")
    floors = {
        "2305.03393v1-pg9": 0.94,  # r5: TableFormer-shaped grid
        # recovery — union-merged columns split back by data-row
        # substructure, row-spanning labels bind their sub-rows into
        # one logical row, in-cell joins read top-down (measured
        # 0.977; r4 plateaued at 0.901 with interleaved sub-rows)
        "amt_handbook_sample": 0.96,
        "code_and_formula": 0.97,
        "multi_page": 0.98,
        "picture_classification": 0.99,
        "redp5110_sampled": 0.90,  # r5: glyph-fallback parity — the
        # reference's own "/gNN" and GLYPH<c=..,font=..> garbage on
        # symbol-font bullets is now reproduced verbatim (measured
        # 0.913; r4 was 0.87 with the garbage dropped)
        "right_to_left_01": 0.93,  # r5: script-boundary word spaces
        # ("و python") + mirrored RTL column rule (right-aligned last
        # lines stay with their paragraph) — measured 0.960
        "right_to_left_02": 0.89,  # r5: the four side-by-side "goal
        # box" tiles emit as ONE block with tiles in content-stream
        # draw order (_tile_band_blocks) exactly like the reference's
        # rb-model output — measured 0.921. r4: lam-alef ligature kept
        # atomic through the visual->logical flip; faux-bold deduped
        "right_to_left_03": 0.94,  # r5: form pages re-block at LINE
        # granularity (_form_reblock) — label/value cells of one grid
        # row stay paired row-major like the rb model (measured 0.974;
        # r4's block-level reorder plateaued at 0.61)
    }

    def toks(s):
        return re.findall(r"\w+", s.lower())

    for stem, floor in floors.items():
        pdf = Path(f"/root/reference/tests/data/pdf/{stem}.pdf").read_bytes()
        doc, _ = build_doc(parse_pdf(pdf), name=stem)
        mine = toks(to_markdown(doc))
        gt = toks((GT / f"{stem}.md").read_text())
        ratio = difflib.SequenceMatcher(a=gt, b=mine, autojunk=False).ratio()
        assert ratio >= floor, f"{stem}: order ratio {ratio:.3f} < {floor}"


@needs_reference
def test_rtl_lam_alef_ligature_logical_order():
    """r4: a lam-alef ligature glyph expands to two chars in LOGICAL
    order inside a VISUAL-order stream; the extractor keeps the pair
    atomic through the visual->logical flip. Regression: these words
    used to come out with the pair swapped ("فوالد" instead of
    "فولاد")."""
    from docling_spark.kernels.markdown import to_markdown
    from docling_spark.kernels.pdf_layout import build_doc

    pdf = Path("/root/reference/tests/data/pdf/right_to_left_03.pdf").read_bytes()
    doc, _ = build_doc(parse_pdf(pdf), name="rtl3")
    md = to_markdown(doc)
    assert "فولادهای" in md       # steel (lam-alef mid-word)
    assert "کالای" in md          # goods (lam-alef mid-word)
    assert "فوالدهای" not in md   # the swapped form must be gone
    assert "کاالی" not in md
