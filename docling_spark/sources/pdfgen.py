"""Deterministic synthetic PDF generator (pure stdlib).

Produces small-but-real PDF files (classic xref, Helvetica, optional
FlateDecode) for the PDF extraction path — constructed ground truth
complements the real reference fixtures (tests/test_pdf_real.py): every
page is generated from a (title, sections) spec, and the expected
block texts are known by construction.

Layout constants mirror a single-column article: 612x792 media box,
18 pt title, 14 pt section headers, 10 pt body lines on 14 pt leading.
"""

from __future__ import annotations

import zlib

PAGE_W, PAGE_H = 612, 792
TITLE_SIZE, HEAD_SIZE, BODY_SIZE = 18, 14, 10
LEADING = 14
MARGIN_X, TOP_Y = 72, 720


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _page_stream(blocks: list[tuple[str, str]]) -> bytes:
    """blocks: (kind, text) with kind in title|heading|body|gap."""
    out = ["BT", f"{LEADING} TL", f"1 0 0 1 {MARGIN_X} {TOP_Y} Tm"]
    for kind, text in blocks:
        if kind == "gap":
            out.append("T*")
            continue
        size = {"title": TITLE_SIZE, "heading": HEAD_SIZE}.get(kind, BODY_SIZE)
        out.append(f"/F1 {size} Tf")
        for line in text.split("\n"):
            out.append(f"({_esc(line)}) Tj")
            out.append("T*")
        out.append("T*")  # paragraph gap (one extra leading)
    out.append("ET")
    return "\n".join(out).encode("latin-1")


def build_pdf(pages: list[list[tuple[str, str]]], compress: bool = True) -> bytes:
    """Assemble a classic-xref PDF from per-page block lists."""
    objects: list[bytes] = []

    def add(body: bytes) -> int:
        objects.append(body)
        return len(objects)  # 1-based object number

    font = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    content_ids = []
    for page_blocks in pages:
        data = _page_stream(page_blocks)
        if compress:
            comp = zlib.compress(data)
            content_ids.append(
                add(
                    b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
                    % (len(comp), comp)
                )
            )
        else:
            content_ids.append(
                add(b"<< /Length %d >>\nstream\n%s\nendstream" % (len(data), data))
            )

    pages_id = len(objects) + len(pages) + 1
    page_ids = []
    for cid in content_ids:
        page_ids.append(
            add(
                b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R "
                b"/Resources << /Font << /F1 %d 0 R >> >> >>" % (pages_id, cid, font)
            )
        )
    kids = b" ".join(b"%d 0 R" % p for p in page_ids)
    assert add(
        b"<< /Type /Pages /Kids [%s] /Count %d /MediaBox [0 0 %d %d] >>"
        % (kids, len(page_ids), PAGE_W, PAGE_H)
    ) == pages_id
    catalog = add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_id)

    buf = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, body in enumerate(objects, start=1):
        offsets.append(len(buf))
        buf += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_pos = len(buf)
    buf += b"xref\n0 %d\n" % (len(objects) + 1)
    buf += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        buf += b"%010d 00000 n \n" % off
    buf += (
        b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, catalog, xref_pos)
    )
    return bytes(buf)


def _wrap(words: list[str], per_line: int) -> list[str]:
    return [
        " ".join(words[i : i + per_line]) for i in range(0, len(words), per_line)
    ] or [""]


def doc_spec(doc_id: int, text: str) -> tuple[list[list[tuple[str, str]]], dict]:
    """Deterministic article spec for one synthetic document.

    Returns (pages, expected): ``expected`` holds the title, the section
    header texts, and every body paragraph text as the layout kernel
    should reconstruct them (multi-line paragraphs joined with spaces).
    """
    words = text.split() or ["lorem"]
    title = " ".join(words[:3]).title() + f" {doc_id}"
    n_sections = 2 + doc_id % 3
    n_pages = 1 + doc_id % 2
    sections = []
    for s in range(n_sections):
        head = f"Section {s + 1}: " + " ".join(
            words[(s * 5) % len(words) : (s * 5) % len(words) + 2]
        )
        body_words = words[(s * 11) % len(words) :][:40] or ["filler"]
        lines = _wrap(body_words, 8)
        sections.append((head, lines))

    pages: list[list[tuple[str, str]]] = []
    per_page = max(1, (n_sections + n_pages - 1) // n_pages)
    expected_heads, expected_paras = [], []
    for p in range(n_pages):
        blocks: list[tuple[str, str]] = []
        if p == 0:
            blocks.append(("title", title))
        for head, lines in sections[p * per_page : (p + 1) * per_page]:
            blocks.append(("heading", head))
            blocks.append(("body", "\n".join(lines)))
            expected_heads.append(head)
            expected_paras.append(" ".join(lines))
        if blocks:
            pages.append(blocks)
    expected = {
        "title": title,
        "headings": expected_heads,
        "paragraphs": expected_paras,
        "n_pages": len(pages),
    }
    return pages, expected


def render_doc_pdf(doc_id: int, text: str, compress: bool = True) -> bytes:
    pages, _ = doc_spec(doc_id, text)
    return build_pdf(pages, compress=compress)


def synthesize_pdf_pages(
    spark, sf_dir: str, n_docs: int | None = None, mixed_producers: bool = False
):
    """Distributed synthetic PDF corpus: (url, warc_ts, content binary)
    derived from the driver's documents parquet, one PDF per doc.

    ``mixed_producers`` emulates a crawl's producer variety: doc_id % 3
    rotates classic-xref/latin-1, xref-stream + ObjStm + Identity-H CID,
    and xref-stream + ObjStm simple-font files."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BinaryType, LongType, StringType, StructField, StructType, TimestampType,
    )
    import datetime as dt

    from docling_spark.operators.batch import guard_zip_rereads

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    if n_docs is not None:
        docs = docs.filter(F.col("doc_id") < n_docs)

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("url", StringType()),
            StructField("warc_ts", TimestampType()),
            StructField("content", BinaryType()),
        ]
    )
    epoch = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

    def render_one(i: int, t: str) -> bytes:
        if not mixed_producers or i % 3 == 0:
            return render_doc_pdf(i, t)
        return render_doc_pdf_modern(i, t, cid=(i % 3 == 1))

    def render(batches):
        guard_zip_rereads()
        for pdf_batch in batches:
            ids = pdf_batch["doc_id"].tolist()
            texts = pdf_batch["text"].tolist()
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "url": [f"https://pdf.example.com/doc/{i}.pdf" for i in ids],
                    "warc_ts": [epoch + dt.timedelta(seconds=int(i)) for i in ids],
                    "content": [render_one(i, t) for i, t in zip(ids, texts)],
                }
            )

    return docs.mapInPandas(render, schema)


# ------------------------------------------------- modern (PDF 1.6) builder


def _cid_encode(s: str, charmap: dict[str, int]) -> bytes:
    """Text -> 2-byte CID codes: lowercase a-z keep their codepoint
    (covered by a bfrange), everything else gets a code >= 0x0100
    assigned in first-seen order (covered by bfchar entries)."""
    out = bytearray()
    for ch in s:
        if "a" <= ch <= "z":
            code = ord(ch)
        else:
            code = charmap.setdefault(ch, 0x0100 + len(charmap))
        out += code.to_bytes(2, "big")
    return bytes(out)


def _tounicode_cmap(charmap: dict[str, int]) -> bytes:
    """ToUnicode CMap with one bfrange (a-z identity) + bfchar blocks
    (max 100 entries per block per the CMap spec)."""
    lines = [
        "/CIDInit /ProcSet findresource begin",
        "12 dict begin",
        "begincmap",
        "/CMapName /Adobe-Identity-UCS def",
        "/CMapType 2 def",
        "1 begincodespacerange",
        "<0000> <FFFF>",
        "endcodespacerange",
        "1 beginbfrange",
        "<0061> <007a> <0061>",
        "endbfrange",
    ]
    items = sorted(charmap.items(), key=lambda kv: kv[1])
    for i in range(0, len(items), 100):
        block = items[i : i + 100]
        lines.append(f"{len(block)} beginbfchar")
        for ch, code in block:
            dst = "".join(f"{ord(c):04x}" for c in ch.encode("utf-16-be").decode("utf-16-be"))
            lines.append(f"<{code:04x}> <{dst}>")
        lines.append("endbfchar")
    lines += ["endcmap", "CMapName currentdict /CMap defineresource pop", "end", "end"]
    return "\n".join(lines).encode("latin-1")


def _page_stream_cid(blocks: list[tuple[str, str]], charmap: dict[str, int]) -> bytes:
    out = ["BT", f"{LEADING} TL", f"1 0 0 1 {MARGIN_X} {TOP_Y} Tm"]
    for kind, text in blocks:
        if kind == "gap":
            out.append("T*")
            continue
        size = {"title": TITLE_SIZE, "heading": HEAD_SIZE}.get(kind, BODY_SIZE)
        out.append(f"/F1 {size} Tf")
        for line in text.split("\n"):
            out.append(f"<{_cid_encode(line, charmap).hex()}> Tj")
            out.append("T*")
        out.append("T*")
    out.append("ET")
    return "\n".join(out).encode("latin-1")


def build_pdf_modern(
    pages: list[list[tuple[str, str]]], cid: bool = True
) -> bytes:
    """Assemble a post-2005-style PDF: cross-reference STREAM (/Type
    /XRef, no classic trailer), catalog/page-tree/font dicts packed in
    an /ObjStm object stream, Flate everywhere; with ``cid`` the text
    uses a Type0 font (Identity-H, 2-byte codes) whose meaning lives
    only in the embedded /ToUnicode CMap — the file shape the reference
    handles via pdfium (pypdfium2_backend.py:120-252) and that classic
    'N G obj' + latin-1 readers see as empty or garbled."""
    charmap: dict[str, int] = {}
    top: list[tuple[int, bytes]] = []  # (obj_num, full body incl. stream)
    next_num = 1

    def add_top(body: bytes) -> int:
        nonlocal next_num
        top.append((next_num, body))
        next_num += 1
        return next_num - 1

    def flate_stream(extra: bytes, data: bytes) -> bytes:
        comp = zlib.compress(data)
        head = b"<< " + extra + b" /Length %d /Filter /FlateDecode >>" % len(comp)
        return head + b"\nstream\n" + comp + b"\nendstream"

    content_ids = []
    for page_blocks in pages:
        data = (
            _page_stream_cid(page_blocks, charmap)
            if cid
            else _page_stream(page_blocks)
        )
        content_ids.append(add_top(flate_stream(b"", data)))

    tounicode_id = None
    if cid:
        cmap = _tounicode_cmap(charmap)
        tounicode_id = add_top(flate_stream(b"", cmap))

    # ---- compressed (ObjStm-resident) dicts
    compressed: list[tuple[int, bytes]] = []

    def add_compressed(body: bytes) -> int:
        nonlocal next_num
        compressed.append((next_num, body))
        next_num += 1
        return next_num - 1

    if cid:
        desc_id = add_compressed(
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Synth "
            b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> "
            b"/DW 500 /W [97 122 500] >>"
        )
        font_id = add_compressed(
            b"<< /Type /Font /Subtype /Type0 /BaseFont /Synth /Encoding /Identity-H "
            b"/DescendantFonts [%d 0 R] /ToUnicode %d 0 R >>" % (desc_id, tounicode_id)
        )
    else:
        font_id = add_compressed(
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        )

    page_ids = []
    pages_id_slot = next_num + len(pages)  # pages node comes after page dicts
    for ci in content_ids:
        page_ids.append(
            add_compressed(
                b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R "
                b"/Resources << /Font << /F1 %d 0 R >> >> >>"
                % (pages_id_slot, ci, font_id)
            )
        )
    kids = b" ".join(b"%d 0 R" % p for p in page_ids)
    pages_id = add_compressed(
        b"<< /Type /Pages /Kids [%s] /Count %d /MediaBox [0 0 %d %d] >>"
        % (kids, len(page_ids), PAGE_W, PAGE_H)
    )
    assert pages_id == pages_id_slot
    catalog_id = add_compressed(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_id)

    # ---- ObjStm container
    offsets_in_stm = []
    payload = bytearray()
    for onum, body in compressed:
        offsets_in_stm.append((onum, len(payload)))
        payload += body + b"\n"
    header = " ".join(f"{onum} {off}" for onum, off in offsets_in_stm).encode() + b"\n"
    objstm_data = header + bytes(payload)
    objstm_id = add_top(
        flate_stream(
            b"/Type /ObjStm /N %d /First %d" % (len(compressed), len(header)),
            objstm_data,
        )
    )

    xref_id = next_num  # the xref stream object itself

    # ---- serialize top-level objects, record offsets
    buf = bytearray(b"%PDF-1.6\n%\xe2\xe3\xcf\xd3\n")
    offset_of: dict[int, int] = {}
    for onum, body in top:
        offset_of[onum] = len(buf)
        buf += b"%d 0 obj\n" % onum + body + b"\nendobj\n"

    # ---- xref STREAM: W [1 4 1]; type 1 = top-level offset,
    #      type 2 = (objstm, index)
    n_objs = xref_id + 1
    rows = bytearray()
    index_in_stm = {onum: i for i, (onum, _) in enumerate(compressed)}
    xref_pos = len(buf)
    offset_of[xref_id] = xref_pos
    for onum in range(n_objs):
        if onum == 0:
            rows += b"\x00" + (0).to_bytes(4, "big") + b"\xff"
        elif onum in index_in_stm:
            rows += b"\x02" + objstm_id.to_bytes(4, "big") + bytes([index_in_stm[onum]])
        elif onum in offset_of:
            rows += b"\x01" + offset_of[onum].to_bytes(4, "big") + b"\x00"
        else:
            rows += b"\x00" + (0).to_bytes(4, "big") + b"\x00"
    comp_rows = zlib.compress(bytes(rows))
    xref_body = (
        b"<< /Type /XRef /Size %d /Root %d 0 R /W [1 4 1] /Index [0 %d] "
        b"/Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
        % (n_objs, catalog_id, n_objs, len(comp_rows), comp_rows)
    )
    buf += b"%d 0 obj\n" % xref_id + xref_body + b"\nendobj\n"
    buf += b"startxref\n%d\n%%%%EOF\n" % xref_pos
    return bytes(buf)


def render_doc_pdf_modern(doc_id: int, text: str, cid: bool = True) -> bytes:
    pages, _ = doc_spec(doc_id, text)
    return build_pdf_modern(pages, cid=cid)
