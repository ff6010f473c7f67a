"""PDF extraction path: kernel roundtrip against constructed ground
truth, docling-semantics unit tests, and both Spark PDF paths.

Correctness is proven two ways: against generated PDFs whose
expected structure is known by construction, and (test_pdf_real.py)
against the reference's real PDF fixtures with word-level content
recall vs its committed groundtruth (docling_spark/sources/pdfgen.py), mirroring how the
reference validates cells/text (tests/verify_utils.py verify_cells).
"""

import pytest
from conftest import needs_reference

from docling_spark.kernels.pdf_kernel import PdfError, TextCell, parse_pdf
from docling_spark.kernels.pdf_layout import (
    build_doc,
    merge_horizontal_cells,
    page_parse_score,
    rate_text_quality,
    sanitize_lines,
)
from docling_spark.sources.pdfgen import doc_spec, render_doc_pdf

TEXT = (
    "the quick brown fox jumps over a lazy dog near the riverbank while "
    "autumn leaves drift slowly down onto cold water and distant hills glow "
    "amber in fading light as evening birds call softly"
)


# ------------------------------------------------------------- kernel unit


def test_roundtrip_exact_structure():
    for doc_id in range(12):
        compress = doc_id % 2 == 0
        pdf = render_doc_pdf(doc_id, TEXT, compress=compress)
        _, expected = doc_spec(doc_id, TEXT)
        pages = parse_pdf(pdf)
        assert len(pages) == expected["n_pages"]
        doc, scores = build_doc(pages, name=f"doc{doc_id}")
        assert [n.text for n in doc.nodes if n.kind == "title"] == [expected["title"]]
        assert [n.text for n in doc.nodes if n.kind == "section_header"] == expected["headings"]
        assert [n.text for n in doc.nodes if n.kind == "text"] == expected["paragraphs"]
        assert all(s == 1.0 for s in scores)


def test_garbage_inputs_raise_pdferror():
    for bad in (b"", b"not a pdf", b"%PDF-1.4\njunk", b"%PDF-" + b"\x00" * 100):
        with pytest.raises(PdfError):
            parse_pdf(bad)


def test_truncated_pdf_still_parses():
    """Broken xref/startxref (common in crawls) must still yield pages
    via the lenient object scan."""
    pdf = render_doc_pdf(3, TEXT)
    truncated = pdf[: pdf.rindex(b"xref")]  # drop xref table + trailer
    pages = parse_pdf(truncated)
    assert pages and pages[0].cells


def test_cid_glyph_fallback_marker():
    """A Type0 font with no ToUnicode maps printable CIDs through
    chr() (garbled by design) but emits docling-parse's exact
    GLYPH<c=..,font=..> marker for control CIDs, carrying the
    descendant CIDFont's subset-prefixed name (groundtruth
    redp5110_sampled.md:91: 'rGLYPH&lt;c=1,font=/NKDKKL+...&gt;')."""
    from docling_spark.kernels.pdf_kernel import FontInfo

    fi = FontInfo(code_bytes=2, base_font="NKDKKL+JansonTextLTStd-Roman")
    out = fi.decode(b"\x00r\x00\x01")
    assert out == [
        (0x72, "r"),
        (0x01, "GLYPH<c=1,font=/NKDKKL+JansonTextLTStd-Roman>"),
    ]


def test_markdown_heading_level_clamped():
    """Markdown has six heading levels; font-size-ranked PDF section
    hierarchies can nest deeper, which must clamp to ###### instead of
    emitting invalid '#######' prefixes (groundtruth never exceeds
    ####)."""
    from docling_spark.kernels.doc_model import Doc
    from docling_spark.kernels.markdown import to_markdown

    doc = Doc("t")
    doc.add_heading("Deep", level=12)
    md = to_markdown(doc)
    assert md.splitlines()[0] == "###### Deep"


def test_merge_horizontal_cells_reference_semantics():
    """pypdfium2_backend.py:155-250: same-row fragments merge when the
    gap <= avg height; the merged text re-decides spaces from glyph
    gaps (pdfium's get_text_bounded behavior): a kerning-sized gap
    concatenates, a word-sized gap inserts a space."""
    row = [
        TextCell("Hel", 10, 20, 28, 10, 10),
        TextCell("lo", 29, 20, 40, 10, 10),  # gap 1 < 0.17em -> no space
        TextCell("world", 45, 20, 80, 10, 10),  # gap 5 > 0.17em -> space
        TextCell("far", 160, 20, 180, 10, 10),  # gap 80 > height -> new cell
    ]
    merged = merge_horizontal_cells(row)
    assert [c.text for c in merged] == ["Hello world", "far"]
    # second visual row stays its own line
    two_rows = row[:2] + [TextCell("below", 10, 40, 50, 30, 10)]
    assert [c.text for c in merge_horizontal_cells(two_rows)] == ["Hello", "below"]


def test_merge_script_flip_space_counts_arabic_indic_digits_as_rtl():
    """Kerning-tight cells get a space only where the script direction
    flips. Arabic-Indic digits (bidi AN) belong to the RTL side: set
    against an Arabic word they join with no space, while an embedded
    latin word still gets one."""
    digits = [TextCell("صف", 10, 20, 28, 10, 10), TextCell("١٢", 28, 20, 40, 10, 10)]
    (merged,) = merge_horizontal_cells(digits)
    assert " " not in merged.text and sorted(merged.text) == sorted("صف١٢")
    latin = [TextCell("صف", 10, 20, 28, 10, 10), TextCell("python", 28, 20, 60, 10, 10)]
    (merged,) = merge_horizontal_cells(latin)
    assert merged.text.count(" ") == 1 and sorted(merged.text.replace(" ", "")) == sorted(
        "صفpython"
    )


def test_rate_text_quality_reference_semantics():
    """page_preprocessing_model.py:120-145 hard zeros + frag penalty."""
    assert rate_text_quality("normal text") == 1.0
    assert rate_text_quality("bad � char") == 0.0
    assert rate_text_quality("GLYPH<0041> here") == 0.0
    assert rate_text_quality("/G12/G34 run") == 0.0
    assert rate_text_quality("/tok1 /tok2 leading") == 0.0
    frag = "a/bc.de/fg.hi b/cd.ef/gh.ij c/de.fg/hi.jk"
    assert rate_text_quality(frag) < 1.0
    # 10th percentile page aggregation
    assert page_parse_score(["ok"] * 9 + ["�"]) < 1.0
    assert page_parse_score(["ok"] * 10) == 1.0


def test_sanitize_lines_hyphen_merge():
    """page_assemble_model.py:38-63: hyphen joins alnum word pairs,
    other lines joined with spaces, unicode normalized."""
    assert sanitize_lines(["exam-", "ple text"]) == "example text"
    assert sanitize_lines(["dash - ", "not merged"]) == "dash -  not merged"
    assert sanitize_lines(["a “quote”", "and ’tick"]) == 'a "quote" and \'tick'


# ------------------------------------------------------------ spark paths


@pytest.fixture(scope="module")
def pdf_corpus(spark):
    from docling_spark.sources.pdfgen import synthesize_pdf_pages

    return synthesize_pdf_pages(spark, "/root/testdata/sf0.001", n_docs=40).cache()


def test_extract_pdf_docs_spark(spark, pdf_corpus):
    """Doc-at-once PDF extraction is the router's pdf route: every row
    carries the page count (doc_spec: 1 + doc_id % 2) and the doc parse
    score."""
    from docling_spark.operators.convert import convert_any

    res = convert_any(pdf_corpus, content_col="content", num_partitions=8).cache()
    rows = res.collect()
    assert len(rows) == 40
    assert {(r.fmt, r.status) for r in rows} == {("pdf", "success")}
    for r in rows:
        doc_id = int(r.url.rsplit("/", 1)[1].removesuffix(".pdf"))
        assert r.n_pages == 1 + doc_id % 2, r.url
    row = res.filter(res.url.endswith("/5.pdf")).first()
    assert row.md.startswith("# ")
    assert row.parse_score == 1.0


def test_confidence_rollup(spark, pdf_corpus):
    from docling_spark.operators.extract_pdf import (
        confidence_rollup,
        parse_pdf_page_rows,
    )

    pages = parse_pdf_page_rows(pdf_corpus)
    conf = confidence_rollup(pages)
    rows = conf.collect()
    assert len(rows) == 40
    assert all(r.mean_parse_score == 1.0 for r in rows)


def test_spark_failure_rows_not_exceptions(spark):
    """Bad bytes end as rows: a broken PDF is a failure with the parser's
    error; empty bytes are no PDF at all, so the router skips them."""
    from docling_spark.operators.convert import convert_any

    bad = spark.createDataFrame(
        [("u1", bytearray(b"%PDF-broken")), ("u2", bytearray(b""))],
        "url string, content binary",
    )
    res = {r.url: r for r in convert_any(bad, content_col="content", num_partitions=2).collect()}
    assert res["u1"].status == "failure" and res["u1"].error.startswith("PdfError: ")
    assert (res["u2"].status, res["u2"].error) == ("skipped", "unsupported format: empty")


def test_doc_score_is_null_without_a_scored_page():
    """One doc-score rule: the 10th percentile over the scored pages,
    None when no page has text. A one-frame image is one unscored page;
    an HTML page is no page-shaped document at all."""
    from test_operator_pin import _images

    from docling_spark.kernels.pdf_layout import doc_score
    from docling_spark.operators.convert import convert_one

    assert doc_score([None, None]) is None
    assert doc_score([None, 0.5, 1.0]) == 0.55
    url = "https://img.example.com/gray.png"
    image = convert_one(url, dict(_images())[url])
    assert (image["fmt"], image["status"]) == ("image", "success")
    assert image["n_pages"] == 1 and image["parse_score"] is None
    page = convert_one("https://x/p.html", b"<html><body><p>hello</p></body></html>")
    assert (page["fmt"], page["status"]) == ("html", "success")
    assert page["n_pages"] is None and page["parse_score"] is None


def test_multimodal_pages_kernel():
    """S8 per-page tuples: page-local text/md, normalized bboxes,
    cells + segments counts consistent with the doc path."""
    from docling_spark.operators.extract_pdf import _multimodal_rows_for_doc

    pdf = render_doc_pdf(7, TEXT)  # doc_id 7 -> 2 pages
    rows = list(_multimodal_rows_for_doc("u", pdf))
    _, expected = doc_spec(7, TEXT)
    assert len(rows) == expected["n_pages"] == 2
    for i, r in enumerate(rows):
        assert r["page_no"] == i + 1
        assert r["cells"] and r["segments"]
        # normalized TOPLEFT coords in [0, 1]
        for c in r["cells"] + r["segments"]:
            assert 0.0 <= c["l"] <= c["r"] <= 1.0
            assert 0.0 <= c["t"] <= c["b"] <= 1.0
        assert r["md"].strip() and r["text"].strip()
    # doctags carry real <loc_> provenance from block geometry (E3)
    assert "<loc_" in rows[0]["doctags"]
    # title appears on page 1's markdown only
    assert rows[0]["md"].startswith("# ")
    assert not rows[1]["md"].startswith("# ")
    # segment indexes are doc-global and strictly increasing across pages
    idxs = [s["index_in_doc"] for r in rows for s in r["segments"]]
    assert idxs == sorted(idxs) and len(set(idxs)) == len(idxs)


def test_multimodal_marks_furniture_before_classifying():
    """A heading-sized running head repeated on every page is page
    furniture in the multimodal export as in the doc path: marked
    before classification, so it never becomes a title or heading."""
    from docling_spark.operators.convert import convert_one
    from docling_spark.operators.extract_pdf import _multimodal_rows_for_doc
    from docling_spark.sources.pdfgen import build_pdf

    pdf = build_pdf(
        [
            [("heading", "Journal of Tests"), ("body", f"page {n} {TEXT}"), ("body", TEXT)]
            for n in (1, 2, 3)
        ]
    )
    assert "Journal of Tests" not in convert_one("u", pdf)["md"]
    rows = list(_multimodal_rows_for_doc("u", pdf))
    assert len(rows) == 3
    for r in rows:
        (head,) = [s for s in r["segments"] if s["text"] == "Journal of Tests"]
        assert head["label"] == "page_header"
        assert "Journal of Tests" not in r["md"]
        assert r["md"].startswith(f"page {r['page_no']} ")


def test_multimodal_pages_spark(spark, pdf_corpus):
    from docling_spark.operators.extract_pdf import multimodal_pages

    mm = multimodal_pages(pdf_corpus, num_partitions=8)
    rows = mm.count()
    docs = mm.select("url").distinct().count()
    assert rows >= docs > 0


def test_overlap_resolution_unionfind():
    """P14: duplicate and contained blocks collapse to one survivor,
    multi-column layouts stay ordered (layout_postprocessor.py:488-543
    semantics on the rule-classified blocks)."""
    from docling_spark.kernels.pdf_layout import (
        Block,
        blocks_overlap,
        resolve_overlapping_blocks,
    )

    def blk(text, l, t, r, b, score=1.0, page=1):
        return Block("text", text, 0, page, l, t, r, b, 10.0, score)

    # near-duplicate boxes -> one block, larger survives
    dup = [blk("body text", 10, 10, 200, 40), blk("body text", 11, 11, 199, 39)]
    out = resolve_overlapping_blocks(dup)
    assert len(out) == 1 and out[0].text == "body text"

    # contained low-confidence fragment merges into its container
    cont = [blk("full paragraph here", 10, 10, 300, 80),
            blk("fragment", 20, 20, 120, 40, score=0.5)]
    out = resolve_overlapping_blocks(cont)
    assert len(out) == 1
    assert "full paragraph here" in out[0].text and "fragment" in out[0].text

    # confidence wins over area when the gap is significant: the clean
    # block's identity (score) survives; texts merge like cell-merging
    conf = [blk("garbled", 10, 10, 300, 80, score=0.2),
            blk("clean", 15, 15, 280, 75, score=0.95)]
    out = resolve_overlapping_blocks(conf)
    assert len(out) == 1 and out[0].parse_score == 0.95
    assert "clean" in out[0].text

    # disjoint two-column blocks untouched, reading order stable
    cols = [blk("left top", 10, 10, 280, 40), blk("right top", 320, 10, 600, 40),
            blk("left bottom", 10, 60, 280, 90)]
    out = resolve_overlapping_blocks(cols)
    assert [b.text for b in out] == ["left top", "right top", "left bottom"]

    # overlap predicate sanity
    assert blocks_overlap(dup[0], dup[1])
    assert not blocks_overlap(cols[0], cols[1])


def test_rasterize_page_geometry():
    """P5 (pypdfium2_backend.py:327-361 contract): output size =
    round(page x scale); text cells paint 0x30, bitmap rects 0x80 over
    a 0xFF background."""
    from docling_spark.kernels.pdf_kernel import (
        PdfPage,
        TextCell,
        encode_png_gray,
        rasterize_page,
    )

    p = PdfPage(1, 100.0, 200.0)
    p.cells.append(TextCell("x", 10, 150, 50, 160, 10))  # BOTTOMLEFT
    p.bitmap_rects.append((0, 0, 100, 50))  # bottom quarter
    w, h, img = rasterize_page(p, scale=1.0)
    assert (w, h) == (100, 200) and img.shape == (200, 100)
    assert img[0, 0] == 0xFF                      # background
    assert img[45, 30] == 0x30                    # cell: TL y = 200-160..200-150
    assert img[199, 50] == 0x80                   # bitmap at page bottom
    # scale doubles the grid
    w2, h2, img2 = rasterize_page(p, scale=2.0)
    assert (w2, h2) == (200, 400) and img2[90, 60] == 0x30
    # PNG container is well-formed (signature, IHDR dims, IEND)
    png = encode_png_gray(img)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    import struct
    iw, ih = struct.unpack(">II", png[16:24])
    assert (iw, ih) == (100, 200) and png.endswith(b"IEND\xaeB`\x82")
    # decodes back losslessly: inflate IDAT, drop per-row filter bytes
    import zlib
    idat_start = png.index(b"IDAT") + 4
    idat_len = struct.unpack(">I", png[idat_start - 8 : idat_start - 4])[0]
    raw = zlib.decompress(png[idat_start : idat_start + idat_len])
    assert len(raw) == 200 * 101
    row0 = raw[1 : 101]
    assert bytes(img[0].tobytes()) == row0


def test_multimodal_pages_with_image(spark, pdf_corpus):
    from docling_spark.operators.extract_pdf import multimodal_pages

    mm = multimodal_pages(
        pdf_corpus.limit(5), num_partitions=4, image_scale=0.5
    )
    rows = mm.collect()
    assert rows
    for r in rows:
        assert bytes(r.page_image[:8]) == b"\x89PNG\r\n\x1a\n"
        assert r.img_width == round(r.width * 0.5)
        assert r.img_height == round(r.height * 0.5)
    # default path keeps the lean schema (no image columns)
    lean = multimodal_pages(pdf_corpus.limit(2), num_partitions=2)
    assert "page_image" not in lean.columns


# --------------------------- geometry table reconstruction (P15 slice)


def _tl_cell(text, l, t, w=40.0, h=9.0, size=9.0):
    from docling_spark.kernels.pdf_kernel import TextCell

    return TextCell(text=text, l=l, t=t, r=l + w, b=t + h, size=size)


def test_detect_tables_constructed_golden():
    """A 4x4 aligned grid between two paragraphs becomes ONE TableData
    with exact row/col counts and cell texts; the paragraphs stay out."""
    from docling_spark.kernels.pdf_layout import detect_tables

    lines = [
        _tl_cell("Intro paragraph line one two three", 72, 90, w=430),
        _tl_cell("and a second wrapped line of prose", 72, 102, w=420),
    ]
    grid_texts = []
    for ri in range(4):
        row = []
        for ci in range(4):
            txt = f"r{ri}c{ci}"
            row.append(txt)
            lines.append(_tl_cell(txt, 72 + ci * 120, 140 + ri * 14))
        grid_texts.append(row)
    lines.append(_tl_cell("Closing paragraph after the table", 72, 240, w=410))

    tables, remaining = detect_tables(lines, page_w=612.0, med_h=10.0)
    assert len(tables) == 1
    t = tables[0].table
    assert (t.num_rows, t.num_cols) == (4, 4)
    assert t.grid() == grid_texts
    # header row flagged, spans sane
    assert all(c.column_header for c in t.cells if c.start_row == 0)
    assert all(c.col_span == 1 for c in t.cells)
    # the three prose lines survive untouched
    assert len(remaining) == 3
    assert all("paragraph" in ln.text or "prose" in ln.text for ln in remaining)


def test_tile_band_draw_order():
    """A band of >= 3 narrow side-by-side tiles emits as ONE block with
    tiles in content-stream DRAW order, each tile's lines kept together
    (reference: readingorder_model keeps geometrically-tied clusters in
    cell-id order; verified on right_to_left_02 where the groundtruth
    box order 591 < 619 < 657 < 693 is neither an x- nor a y-sort)."""
    from docling_spark.kernels.pdf_layout import _tile_band_blocks

    def cell(text, l, t, index):
        c = _tl_cell(text, l, t, w=50.0, h=10.0)
        c.index = index
        return c

    # three 2-line tiles at x 0/100/200; drawn middle, right, left
    lines = [
        cell("mid1", 100, 0, 0), cell("mid2", 100, 12, 1),
        cell("right1", 200, 0, 2), cell("right2", 200, 12, 3),
        cell("left1", 0, 0, 4), cell("left2", 0, 12, 5),
        _tl_cell("a normal full-width body paragraph line", 0, 60, w=500),
    ]
    tiles, remaining = _tile_band_blocks(lines, page_w=800.0, med_h=10.0, page_no=1)
    assert len(tiles) == 1
    assert tiles[0].text == "mid1 mid2 right1 right2 left1 left2"
    assert [c.text for c in remaining] == ["a normal full-width body paragraph line"]


def test_tile_band_leaves_two_column_text_alone():
    """Two-column body text (wide segments) and 2-tile rows never trip
    the tile gate — only >= 3 NARROW aligned columns qualify."""
    from docling_spark.kernels.pdf_layout import _tile_band_blocks

    lines = []
    for i in range(6):
        lines.append(_tl_cell(f"left col line {i}", 72, 90 + i * 12, w=220))
        lines.append(_tl_cell(f"right col line {i}", 320, 90 + i * 12, w=220))
    tiles, remaining = _tile_band_blocks(lines, page_w=612.0, med_h=10.0, page_no=1)
    assert tiles == [] and len(remaining) == 12


def test_detect_tables_ignores_two_column_text():
    """Two-column body text (2 wide segments per visual row) must NOT
    be mistaken for a table."""
    from docling_spark.kernels.pdf_layout import detect_tables

    lines = []
    for i in range(12):
        lines.append(_tl_cell(f"left column line {i} with words", 72, 90 + i * 12, w=220))
        lines.append(_tl_cell(f"right column line {i} with words", 320, 90 + i * 12, w=220))
    tables, remaining = detect_tables(lines, page_w=612.0, med_h=10.0)
    assert tables == [] and len(remaining) == 24


def test_detect_tables_merges_label_rows():
    """A row label on its own visual line between two data lines (the
    arXiv HPO-table shape) merges into the adjacent grid row when the
    column sets are disjoint."""
    from docling_spark.kernels.pdf_layout import detect_tables

    lines = [
        # header
        _tl_cell("name", 72, 100), _tl_cell("alpha", 200, 100), _tl_cell("beta", 330, 100),
        # data row 1 (cols 2,3) ...
        _tl_cell("0.1", 200, 114), _tl_cell("0.2", 330, 114),
        # ... with its label (col 1) on a slightly offset line
        _tl_cell("rowA", 72, 119),
        # data rows 2 and 3, full (>= 3 core rows total)
        _tl_cell("rowB", 72, 131), _tl_cell("0.3", 200, 131), _tl_cell("0.4", 330, 131),
        _tl_cell("rowC", 72, 145), _tl_cell("0.5", 200, 145), _tl_cell("0.6", 330, 145),
    ]
    tables, _ = detect_tables(lines, page_w=612.0, med_h=10.0)
    assert len(tables) == 1
    t = tables[0].table
    assert (t.num_rows, t.num_cols) == (4, 3)
    assert t.grid()[1] == ["rowA", "0.1", "0.2"]
    assert t.grid()[2] == ["rowB", "0.3", "0.4"]
    assert t.grid()[3] == ["rowC", "0.5", "0.6"]


@needs_reference
def test_pg9_table_end_to_end():
    """The arXiv table benchmark page yields exactly one table node
    with the HPO grid's shape and no dropped cell text."""
    from pathlib import Path

    from docling_spark.kernels.pdf_kernel import parse_pdf
    from docling_spark.kernels.pdf_layout import build_doc

    pdf = Path("/root/reference/tests/data/pdf/2305.03393v1-pg9.pdf").read_bytes()
    doc, _ = build_doc(parse_pdf(pdf), name="pg9")
    tables = [n for n in doc.nodes if getattr(n, "table", None) is not None]
    assert len(tables) == 1
    t = tables[0].table
    # TableFormer-shaped grid (groundtruth pg9.md): the TEDs-spanned
    # simple/complex/all columns split back (8 cols, not 6), and each
    # OTSL/HTML sub-row pair binds into ONE logical row via its
    # row-spanning '6'/'4'/'2' labels (1 header band + 4 data rows)
    assert t.num_cols == 8
    assert t.num_rows == 5
    cell_text = " ".join(c.text for c in t.cells)
    for token in ("enc-layers", "OTSL HTML", "0.965 0.969", "2.73 5.39",
                  "time (secs)"):
        assert token in cell_text, token


def test_caption_attachment_constructed():
    """P18 slice: a 'Table N.' text block adjacent to a table attaches
    as a caption node referenced from the table
    (readingorder_model.py predict_to_captions semantics)."""
    from docling_spark.kernels.pdf_layout import Block, assemble_doc
    from docling_spark.kernels.doc_model import TableCellData, TableDataIR

    data = TableDataIR(2, 2, [
        TableCellData(text="a", start_row=0, end_row=1, start_col=0, end_col=1),
        TableCellData(text="b", start_row=0, end_row=1, start_col=1, end_col=2),
        TableCellData(text="1", start_row=1, end_row=2, start_col=0, end_col=1),
        TableCellData(text="2", start_row=1, end_row=2, start_col=1, end_col=2),
    ])
    blocks = [
        Block("text", "Intro paragraph.", 0, 1, 72, 80, 500, 92, 9.0),
        Block("text", "Table 1. A caption above the grid.", 0, 1, 72, 120, 500, 132, 9.0),
        Block("table", "a b 1 2", 0, 1, 72, 140, 500, 180, 9.0, table=data),
        Block("text", "Closing paragraph.", 0, 1, 72, 300, 500, 312, 9.0),
    ]
    doc = assemble_doc(blocks, classify=False)
    caps = [n for n in doc.nodes if n.kind == "caption"]
    tables = [n for n in doc.nodes if n.kind == "table"]
    assert len(caps) == 1 and len(tables) == 1
    assert tables[0].caption_id == caps[0].node_id
    # far-away 'Table N' text must NOT attach
    blocks_far = [
        Block("text", "Table 2. Unrelated mention far away.", 0, 1, 72, 80, 500, 92, 9.0),
        Block("text", "body", 0, 1, 72, 100, 500, 112, 9.0),
        Block("table", "a b", 0, 1, 72, 400, 500, 440, 9.0, table=data),
    ]
    doc2 = assemble_doc(blocks_far, classify=False)
    assert not [n for n in doc2.nodes if n.kind == "caption"]


@needs_reference
def test_pg9_caption_linked_to_table():
    from pathlib import Path

    from docling_spark.kernels.pdf_kernel import parse_pdf
    from docling_spark.kernels.pdf_layout import build_doc

    pdf = Path("/root/reference/tests/data/pdf/2305.03393v1-pg9.pdf").read_bytes()
    doc, _ = build_doc(parse_pdf(pdf), name="pg9")
    caps = [n for n in doc.nodes if n.kind == "caption"]
    tables = [n for n in doc.nodes if n.kind == "table"]
    assert len(caps) == 1 and caps[0].text.startswith("Table 1.")
    assert tables and tables[0].caption_id == caps[0].node_id


# ------------------------- page-header/footer furniture + pictures


def test_mark_page_furniture_rules():
    from docling_spark.kernels.pdf_layout import Block, mark_page_furniture

    H = 792.0
    blocks = [
        # standalone folio at top edge -> header
        Block("text", "9", 0, 1, 476, 85, 481, 95, 9.0),
        # roman folio at bottom -> footer
        Block("text", "iii", 0, 1, 300, 760, 312, 770, 9.0),
        # running title repeated on two pages near top -> header
        Block("text", "Annual Report 2024", 0, 1, 72, 60, 300, 72, 9.0),
        Block("text", "Annual Report 2024", 0, 2, 72, 60, 300, 72, 9.0),
        # page-number-looking text mid-page stays body
        Block("text", "42", 0, 1, 300, 400, 312, 410, 9.0),
        # long body text near top stays body (not repeated)
        Block("text", "One-off opening sentence of the document.", 0, 1, 72, 80, 480, 92, 9.0),
    ]
    mark_page_furniture(blocks, {1: H, 2: H})
    kinds = [b.kind for b in blocks]
    assert kinds == [
        "page_header", "page_footer", "page_header", "page_header",
        "text", "text",
    ]


def test_furniture_excluded_from_body_exports():
    from docling_spark.kernels.markdown import to_markdown
    from docling_spark.kernels.pdf_layout import Block, assemble_doc
    from docling_spark.kernels.textout import to_text

    blocks = [
        Block("page_header", "Running Title", 0, 1, 72, 60, 300, 72, 9.0),
        Block("text", "Body paragraph.", 0, 1, 72, 200, 480, 212, 9.0),
        Block("page_footer", "7", 0, 1, 300, 760, 312, 770, 9.0),
    ]
    doc = assemble_doc(blocks, classify=False)
    md = to_markdown(doc)
    assert "Body paragraph." in md
    assert "Running Title" not in md and "\n7" not in md
    # but the nodes exist in the furniture layer for audits
    hf = [n for n in doc.nodes if n.kind in ("page_header", "page_footer")]
    assert len(hf) == 2 and all(n.content_layer == "furniture" for n in hf)
    assert "Running Title" not in to_text(doc)


@needs_reference
def test_real_fixture_furniture_and_pictures():
    """redp5110: 30 page_footers in the reference groundtruth — the
    repeated-text + folio rules must find a large share; the picture
    fixture yields its two pictures with their two Figure captions."""
    from pathlib import Path

    from docling_spark.kernels.pdf_layout import build_doc

    redp = Path("/root/reference/tests/data/pdf/redp5110_sampled.pdf").read_bytes()
    doc, _ = build_doc(parse_pdf(redp), name="redp")
    hf = [n for n in doc.nodes if n.kind in ("page_header", "page_footer")]
    assert len(hf) >= 15

    pc = Path(
        "/root/reference/tests/data/pdf/picture_classification.pdf"
    ).read_bytes()
    doc2, _ = build_doc(parse_pdf(pc), name="pc")
    pics = [n for n in doc2.nodes if n.kind == "picture"]
    caps = [n for n in doc2.nodes if n.kind == "caption"]
    assert len(pics) == 2 and len(caps) == 2
    assert sorted(p.caption_id for p in pics) == sorted(c.node_id for c in caps)


def test_footnote_rule_constructed():
    from docling_spark.kernels.markdown import to_markdown
    from docling_spark.kernels.pdf_layout import Block, assemble_doc, mark_page_furniture

    H = 792.0
    blocks = [
        Block("text", "Body paragraph citing something.", 0, 1, 72, 300, 480, 312, 9.0),
        Block("text", "1   http://example.org/source", 0, 1, 72, 730, 300, 740, 7.0),
    ]
    mark_page_furniture(blocks, {1: H})
    assert blocks[1].kind == "footnote"
    doc = assemble_doc(blocks, classify=False)
    fn = [n for n in doc.nodes if n.kind == "footnote"]
    # footnotes stay in the BODY layer (reference keeps them in body,
    # only the label changes) so md still carries the text
    assert len(fn) == 1 and fn[0].content_layer == "body"
    assert "example.org" in to_markdown(doc)


@needs_reference
def test_bold_headings_split_and_classify():
    """A bold line at body size is a section header, split from its
    following paragraph (the arXiv '5.1 Hyper Parameter Optimization'
    shape: TeX SFBX/cmbx bold-extended faces carry the weight cue)."""
    from pathlib import Path

    from docling_spark.kernels.pdf_layout import build_doc

    pdf = Path("/root/reference/tests/data/pdf/2305.03393v1-pg9.pdf").read_bytes()
    doc, _ = build_doc(parse_pdf(pdf), name="pg9")
    heads = [n.text for n in doc.nodes if n.kind == "section_header"]
    assert heads == [
        "5.1 Hyper Parameter Optimization",
        "5.2 Quantitative Results",
    ]
    # a bold body-size heading never becomes the document title
    assert not [n for n in doc.nodes if n.kind == "title"]


@needs_reference
def test_pdf_list_items_grouped():
    """Bullet-glyph-led lines group into a list (multi_page fixture:
    the reference's groundtruth renders them as '- <glyph> text'
    list_items); bold bullet lines never classify as headings."""
    from pathlib import Path

    from docling_spark.kernels.markdown import to_markdown
    from docling_spark.kernels.pdf_layout import build_doc

    pdf = Path("/root/reference/tests/data/pdf/multi_page.pdf").read_bytes()
    doc, _ = build_doc(parse_pdf(pdf), name="mp")
    items = [n for n in doc.nodes if n.kind == "list_item"]
    assert len(items) >= 5
    assert all(not it.enumerated for it in items)
    # the bold '· IBM MT/ST...' item is a list item, not a heading
    heads = [n.text for n in doc.nodes if n.kind == "section_header"]
    assert len(heads) == 11 and not any("MT/ST" in h for h in heads)
    md = to_markdown(doc)
    assert "\n- " in md  # items render as markdown list lines


def test_page_blocks_never_lose_text():
    """No-text-loss invariant: every word on a page survives into some
    block's text or table cell, across randomized layouts (columns,
    grids, scattered labels). Table absorption, furniture marking and
    bold splitting may MOVE text, never drop it."""
    import random

    from docling_spark.kernels.pdf_kernel import PdfPage, TextCell
    from docling_spark.kernels.pdf_layout import page_blocks

    rng = random.Random(1234)
    for trial in range(25):
        page = PdfPage(1, 612.0, 792.0)
        words = []
        n = rng.randrange(5, 60)
        for k in range(n):
            word = f"w{trial}x{k}"
            words.append(word)
            layout = rng.randrange(4)
            if layout == 0:  # body line, left column
                x, y = 72 + rng.random() * 40, 90 + (k % 40) * 16
            elif layout == 1:  # right column
                x, y = 330 + rng.random() * 40, 90 + (k % 40) * 16
            elif layout == 2:  # grid-ish region
                x, y = 72 + (k % 4) * 120, 400 + (k // 4 % 10) * 14
            else:  # scattered
                x, y = 60 + rng.random() * 480, 80 + rng.random() * 640
            # BOTTOMLEFT cells like the parser emits
            page.cells.append(
                TextCell(word, x, 792 - y - 9, x + 8 * len(word), 792 - y, 9.0,
                         bold=rng.random() < 0.2)
            )
        blocks = page_blocks(page)
        got = " ".join(
            [b.text for b in blocks]
            + [c.text for b in blocks if b.table for c in b.table.cells]
        )
        missing = [w for w in words if w not in got]
        assert not missing, f"trial {trial}: lost {missing[:5]} of {n}"


def test_single_page_running_head_rule():
    """Rule 3 (r4): a lone running head + folio band at the very top of
    a page — smaller than body, separated by a clear gap — is furniture
    even with no cross-page repetition (layout model semantics; the
    2305.03393v1-pg9 fixture's 'Optimized Table Tokenization... 9')."""
    from docling_spark.kernels.pdf_layout import Block, mark_page_furniture

    H = 792.0
    blocks = [
        Block("text", "Optimized Table Tokenization", 0, 1, 134, 91, 410, 100, 9.0),
        Block("text", "9", 0, 1, 460, 91, 465, 100, 9.0),
        Block("text", "Body paragraph long enough to set the body font size " * 3,
              0, 1, 134, 116, 480, 150, 10.0),
        Block("text", "More body text to anchor the size histogram " * 3,
              0, 1, 134, 160, 480, 200, 10.0),
    ]
    mark_page_furniture(blocks, {1: H})
    assert [b.kind for b in blocks] == [
        "page_header", "page_header", "text", "text",
    ]
    # same band at BODY size stays text (a title is never furniture)
    blocks2 = [
        Block("text", "A Perfectly Normal Heading", 0, 1, 134, 91, 410, 100, 10.0),
        Block("text", "Body paragraph long enough to set the body font size " * 3,
              0, 1, 134, 116, 480, 150, 10.0),
    ]
    mark_page_furniture(blocks2, {1: H})
    assert blocks2[0].kind == "text"


def test_code_listing_classification():
    """_looks_like_code (r4): uppercase SQL listings with underscore
    identifiers become CODE (fenced, underscores unescaped — matching
    the reference's CodeFormula labels on redp5110); prose that merely
    mentions an identifier stays text."""
    from docling_spark.kernels.markdown import to_markdown
    from docling_spark.kernels.pdf_layout import (
        Block,
        _looks_like_code,
        assemble_doc,
    )

    sql = ("CREATE MASK HR_SCHEMA.MASK_TAX_ID_ON_EMPLOYEES ON "
           "HR_SCHEMA.EMPLOYEES AS EMPLOYEES FOR COLUMN TAX_ID RETURN "
           "CASE WHEN VERIFY_GROUP_FOR_USER ( SESSION_USER , 'HR' ) = 1 "
           "THEN EMPLOYEES . TAX_ID ELSE 'XXX-XX-XXXX' END ENABLE ;")
    prose = ("The other column to mask in this example is the TAX_ID "
             "information, which managers see partially masked.")
    assert _looks_like_code(sql)
    assert not _looks_like_code(prose)
    assert not _looks_like_code("SHORT SQL END")  # too little signal

    blocks = [
        Block("text", prose, 0, 1, 72, 100, 480, 112, 10.0),
        Block("text", sql, 0, 1, 72, 130, 480, 190, 10.0),
    ]
    doc = assemble_doc(blocks)
    md = to_markdown(doc)
    # fenced block carries the identifier raw; prose escapes it
    assert "```" in md and "VERIFY_GROUP_FOR_USER" in md
    assert "TAX\\_ID information" in md


def test_form_row_reorder_semantics():
    """_form_row_reorder (r4): label/value pairs on a form page are
    emitted row-major (rb-model table-aware order); an ordinary
    two-column text page keeps its column order."""
    from docling_spark.kernels.pdf_layout import Block, _form_row_reorder

    def blk(text, l, t, r, b):
        return Block("text", text, 0, 1, l, t, r, b, 10.0)

    # form: values in the left half, labels in the right half, 4 rows
    form = (
        [blk(f"value {i}", 60, 100 + 40 * i, 200, 112 + 40 * i) for i in range(4)]
        + [blk(f"label {i}", 320, 100 + 40 * i, 500, 112 + 40 * i) for i in range(4)]
    )
    out = _form_row_reorder(sorted(form, key=lambda b: (b.l > 250, b.t)))
    texts = [b.text for b in out]
    assert texts == [t for i in range(4) for t in (f"value {i}", f"label {i}")]

    # two-column page: tall paragraph columns -> pairing gate must NOT
    # trip (only one tall cross-column group)
    cols = [
        blk("left paragraph one", 60, 100, 280, 400),
        blk("left paragraph two", 60, 410, 280, 700),
        blk("right paragraph one", 320, 100, 540, 400),
        blk("right paragraph two", 320, 410, 540, 700),
    ]
    out2 = _form_row_reorder(list(cols))
    assert [b.text for b in out2] == [b.text for b in cols]


def test_merge_continuations_semantics():
    """predict_merges stand-in (r4): a paragraph split by a page or
    column break merges into one item (text concatenated with a space,
    readingorder_model.py:336-353); sentence-final or styled blocks
    never merge, and furniture between the halves does not block it."""
    from docling_spark.kernels.pdf_layout import Block, merge_continuations

    def blk(text, page, t, kind="text", bold=False, size=10.0):
        return Block(kind, text, 0, page, 72, t, 480, t + 40, size, bold=bold)

    blocks = [
        blk("This sentence continues across the", 1, 600),
        blk("9", 1, 770, kind="page_footer"),
        blk("page break without ending first.", 2, 80),
        blk("A fresh paragraph. It ends properly.", 2, 140),
        blk("next one starts lowercase but prev ended.", 2, 200),
    ]
    out = merge_continuations(blocks)
    texts = [b.text for b in out if b.kind == "text"]
    assert texts[0] == (
        "This sentence continues across the page break without ending first."
    )
    assert len(texts) == 3  # the sentence-final pair stayed split
    # column jump on one page: continuation starts ABOVE the previous
    # block (next column) and lowercase
    cols = [
        blk("ends mid-clause so the column", 1, 700),
        blk("continuation picks it up here.", 1, 100),
    ]
    assert [b.text for b in merge_continuations(cols)] == [
        "ends mid-clause so the column continuation picks it up here."
    ]


def _two_page_continuation_pdf() -> bytes:
    """Classic-xref PDF whose paragraph crosses the page break: page 1
    ends mid-clause, page 2 resumes lowercase."""
    def obj(n, body):
        return b"%d 0 obj\n%s\nendobj\n" % (n, body)

    c1 = (b"BT /F1 11 Tf 72 120 Td (The framework keeps its promise across the) Tj ET\n"
          b"BT /F1 11 Tf 72 700 Td (A heading-free opening paragraph.) Tj ET")
    c2 = b"BT /F1 11 Tf 72 700 Td (page boundary without stopping at all.) Tj ET"
    out = b"%PDF-1.4\n"
    out += obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    out += obj(2, b"<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 /MediaBox [0 0 612 792] >>")
    out += obj(3, b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R /Resources << /Font << /F1 7 0 R >> >> >>")
    out += obj(4, b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R /Resources << /Font << /F1 7 0 R >> >> >>")
    out += obj(5, b"<< /Length %d >>\nstream\n%s\nendstream" % (len(c1), c1))
    out += obj(6, b"<< /Length %d >>\nstream\n%s\nendstream" % (len(c2), c2))
    out += obj(7, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    out += b"trailer\n<< /Root 1 0 R >>\n"
    return out


def test_cross_page_merge_identical_in_both_strategies(spark):
    """A paragraph split by a page break merges in process (convert_one)
    AND through the Spark router (convert_any) — the synthetic corpus
    has no continuation candidates, so this pins it directly."""
    from pyspark.sql import Row

    from docling_spark.operators.convert import convert_any, convert_one

    pdf = _two_page_continuation_pdf()
    merged = ("The framework keeps its promise across the "
              "page boundary without stopping at all.")

    r = convert_one("http://x/cont.pdf", pdf)          # in process
    assert r["status"] == "success" and merged in r["md"]

    df = spark.createDataFrame(
        [Row(url="http://x/cont.pdf", content=pdf)]
    )
    rows = convert_any(df, content_col="content", num_partitions=2).collect()
    assert rows[0].status == "success"
    assert merged in rows[0].md
    assert rows[0].md.count("framework keeps") == 1


def test_double_draw_glyph_dedup():
    """Faux-bold double draws (same text twice at a sub-point offset,
    right_to_left_02's 'و' pairs) dedup to one glyph like pdfium's
    text page; genuinely repeated adjacent letters survive, and cell
    DRAW ORDER is preserved (row grouping depends on it)."""
    from docling_spark.kernels.pdf_layout import merge_horizontal_cells
    from docling_spark.kernels.pdf_kernel import TextCell

    def cell(text, l, r, t=100.0, b=112.0):
        # TOPLEFT cell: constructor order is (text, l, bottom, r, top)
        return TextCell(text, l, b, r, t, 12.0)

    # double draw: second paint 0.3pt off -> one glyph in the line
    doubled = [cell("x", 10, 16), cell("x", 10.3, 16.3), cell("y", 17, 23)]
    assert [c.text for c in merge_horizontal_cells(doubled)] == ["xy"]
    # legit repetition: adjacent, non-overlapping -> both kept
    repeated = [cell("l", 10, 14), cell("l", 14, 18), cell("o", 18, 24)]
    assert [c.text for c in merge_horizontal_cells(repeated)] == ["llo"]
    # draw order preserved: footer drawn first stays its own line
    pages = [
        cell("footer", 10, 60, t=700, b=712),
        cell("body", 10, 40),
        cell("text", 45, 70),
    ]
    texts = [c.text for c in merge_horizontal_cells(pages)]
    assert texts == ["footer", "body text"]


def test_form_reblock_line_granularity():
    """_form_reblock (r5): on a form page, label/value cells of one
    grid row emit row-major at LINE granularity — wrapped cell lines
    join their cell, section headers between rows stand alone — and
    the gate never trips on dense two-column text (which would shred
    paragraphs into interleaved line pairs)."""
    from docling_spark.kernels.pdf_kernel import TextCell
    from docling_spark.kernels.pdf_layout import _form_reblock

    def cell(text, l, t, r, bold=False, size=12.0, h=12.0):
        # pdf_layout works in TOP-LEFT origin (t < b)
        return TextCell(text, l, t + h, r, t, size, bold=bold)

    med_h = 12.0
    # RTL-free form (labels left, values right), 5 rows 20pt apart
    # (gap 8 = 0.67x med_h > the 0.45x separation bar), one wrapped
    # value line, one standalone header between rows 2 and 3
    lines = []
    y = 100.0
    for i in range(5):
        lines.append(cell(f"label {i}", 60, y, 200, bold=True))
        lines.append(cell(f"value {i}", 320, y, 500))
        if i == 1:
            lines.append(cell("value 1 wrapped", 320, y + 15, 460))
            y += 15
        if i == 2:
            y += 40
            lines.append(cell("Section header", 60, y, 240, bold=True))
            y += 20
        y += 20
    out = _form_reblock(lines, med_h, page_no=1)
    assert out is not None
    texts = [b.text for b in out]
    assert texts == [
        "label 0", "value 0",
        "label 1", "value 1 value 1 wrapped",
        "label 2", "value 2",
        "Section header",
        "label 3", "value 3",
        "label 4", "value 4",
    ]

    # dense two-column text: lines pair at every y but with ~0.25x
    # line-height leading -> separation gate must refuse
    dense = []
    for i in range(12):
        y = 100 + i * 15  # gap 3 = 0.25x med_h
        dense.append(cell(f"left line {i}", 60, y, 280))
        dense.append(cell(f"right line {i}", 320, y, 540))
    assert _form_reblock(dense, med_h, page_no=1) is None

    # sparse two-column text (big leading) but only 3 separated pairs:
    # below the >= 4 bar -> refuse
    few = []
    for i in range(3):
        y = 100 + i * 30
        few.append(cell(f"l{i}", 60, y, 280))
        few.append(cell(f"r{i}", 320, y, 540))
    assert _form_reblock(few, med_h, page_no=1) is None


def test_interleave_extras_keeps_the_rtl_column_order():
    """On an RTL two-column page the right column is primary: a table
    in the left column sorts after the right column's text, by the same
    column rule the page's lines use."""
    from docling_spark.kernels.pdf_layout import Block, _interleave_extras

    def block(kind, text, l, r, t):
        return Block(kind=kind, text=text, level=0, page_no=1, l=l, t=t, r=r, b=t + 40, size=10.0)

    right = block("text", "right column", 320, 580, 100)
    left = block("text", "left column", 20, 280, 100)
    table = block("table", "", 20, 280, 300)
    out = _interleave_extras([right, left], [table], [], stable=False, page_w=600, rtl=True)
    assert [b.text or b.kind for b in out] == ["right column", "left column", "table"]
