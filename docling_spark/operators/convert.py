"""Unified conversion operator: format routing + kernel dispatch (S4).

Reference: ``DocumentConverter`` holds a format -> (backend, pipeline)
map and routes each input document
(/root/reference/docling/document_converter.py:131-198, 309-345). Here
the route is a column: ``fmt`` is sniffed from leading bytes
(operators/formats.py, reference document.py:280-338) and one
``mapInPandas`` dispatches each row to the matching kernel — html, pdf,
csv, markdown. Unknown formats become status='skipped' rows, parse
errors status='failure' (errors-as-data).

One operator, one shuffle (url-hash repartition), any mix of formats:
exactly what the 10^12-doc crawl table needs, since a WARC sample is
never single-format.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from docling_spark.operators.batch import error_text, map_docs, raise_recursion_limit, url_hash
from docling_spark.operators.formats import sniff_format

CONVERT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("fmt", StringType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
        StructField("md", StringType()),
        StructField("txt", StringType()),
        StructField("n_nodes", IntegerType()),
        StructField("n_chunks", IntegerType()),
        StructField("doctags", StringType()),
        StructField("json", StringType()),
        StructField("bytes_in", LongType()),
        StructField("ocr_needed", DoubleType()),
        StructField("t_sec", DoubleType()),
    ]
)

# URL-extension hints for text-family formats the byte sniffer cannot
# tell apart (a .md file with inline HTML sniffs as html; quoted CSVs
# as text). The reference's _guess_format consults the file extension
# the same way (document.py:280-338 extension map); the hint only ever
# overrides ambiguous TEXT-FAMILY sniffs — magic-byte formats (pdf,
# zip, image, audio) are authoritative from content.
_EXT_HINTS = {
    ".md": "md",
    ".markdown": "md",
    ".csv": "csv",
    ".tsv": "csv",
    ".adoc": "asciidoc",
    ".asciidoc": "asciidoc",
    ".txt": "text",
    ".html": "html",
    ".htm": "html",
    ".xhtml": "html",
}
_TEXT_FAMILY = {"text", "html", "csv", "xml"}


def _ext_of(url: str) -> str:
    path = url.split("?", 1)[0].split("#", 1)[0]
    dot = path.rfind(".")
    slash = path.rfind("/")
    return path[dot:].lower() if dot > slash else ""


def _ended(base: dict, status: str, error: str, t0: float, **fields) -> dict:
    """A complete result row for a document that yields no Doc."""
    return {
        **base,
        **fields,
        "status": status,
        "error": error,
        "md": None,
        "txt": None,
        "n_nodes": 0,
        "t_sec": time.perf_counter() - t0,
    }


def route_to_doc(url: str, payload: bytes) -> tuple[dict, "object | None"]:
    """S4 dispatch without exports: (row, doc).

    ``doc`` is the parsed Doc IR for successful routes; for skip and
    failure outcomes ``doc`` is None and ``row`` is already a COMPLETE
    result row. Shared by convert_one (full exports) and the
    multi-format chunker (which wants the Doc, not the exports)."""
    from docling_spark.kernels.csv_kernel import parse_csv
    from docling_spark.kernels.docx_kernel import parse_docx
    from docling_spark.kernels.html_kernel import HtmlExtractor
    from docling_spark.kernels.md_kernel import parse_markdown
    from docling_spark.kernels.pdf_kernel import parse_pdf
    from docling_spark.kernels.pdf_layout import build_doc
    from docling_spark.kernels.pptx_kernel import parse_pptx
    from docling_spark.kernels.xlsx_kernel import parse_xlsx
    from docling_spark.operators.formats import office_subformat

    t0 = time.perf_counter()
    payload = payload or b""
    fmt = sniff_format(payload[:8192])
    if fmt in _TEXT_FAMILY:
        hint = _EXT_HINTS.get(_ext_of(url))
        if hint is not None and hint != "text":
            fmt = hint
    base = {
        "url": url,
        "fmt": fmt,
        "bytes_in": len(payload),
        "n_chunks": 0,
        "doctags": None,
        "json": None,
        "ocr_needed": None,
    }
    try:
        raise_recursion_limit()
        if fmt == "html":
            doc = HtmlExtractor(original_url=url).convert(payload)
        elif fmt in ("xml", "xml_jats"):
            from docling_spark.kernels.jats_kernel import parse_jats

            if fmt == "xml_jats" or b"<article" in payload[:8192]:
                base["fmt"] = "xml_jats"
                doc = parse_jats(payload, name=url)
            else:
                doc = HtmlExtractor(original_url=url).convert(payload)
        elif fmt == "xml_uspto":
            from docling_spark.kernels.uspto_kernel import parse_uspto

            doc = parse_uspto(payload, name=url)
        elif fmt == "gzip":
            # gzip container: METS/GBS book archives route through the
            # shared PDF layout path; other gzips stay skipped
            from docling_spark.kernels.mets_kernel import MetsError, parse_mets_gbs

            try:
                from docling_spark.kernels.pdf_kernel import bitmap_coverage

                base["fmt"] = "mets_gbs"
                pages = parse_mets_gbs(payload)
                doc, _scores = build_doc(pages, name=url)
                base["ocr_needed"] = max(bitmap_coverage(p) for p in pages)
            except MetsError as me:
                msg = f"gzip is not a METS/GBS archive: {me}"
                return _ended(base, "skipped", msg, t0, fmt="gzip"), None
        elif fmt == "pdf":
            from docling_spark.kernels.pdf_kernel import bitmap_coverage

            pages = parse_pdf(payload)
            doc, _scores = build_doc(pages, name=url)
            base["ocr_needed"] = max(bitmap_coverage(p) for p in pages)
        elif fmt == "image":
            # P7: image adapts into the PDF path (frames -> pages with a
            # full-page bitmap rect); P10 scores the OCR need. No OCR
            # engine exists here, so the text layer is empty by design.
            from docling_spark.kernels.image_kernel import image_to_pdf_pages
            from docling_spark.kernels.pdf_kernel import bitmap_coverage

            pages = image_to_pdf_pages(payload)
            doc, _scores = build_doc(pages, name=url)
            base["ocr_needed"] = max(bitmap_coverage(p) for p in pages)
        elif fmt == "office":
            sub = office_subformat(payload)
            base["fmt"] = sub
            if sub == "docx":
                doc = parse_docx(payload, name=url)
            elif sub == "xlsx":
                doc = parse_xlsx(payload, name=url)
            elif sub == "pptx":
                doc = parse_pptx(payload, name=url)
            else:
                msg = f"unsupported office container: {sub}"
                return _ended(base, "skipped", msg, t0), None
        elif fmt == "csv":
            doc = parse_csv(payload, name=url)
        elif fmt == "json_docling":
            # B10: lossless DoclingDocument JSON -> node pool -> re-export
            import json as _json

            from docling_spark.kernels.docjson import doc_from_dict

            doc = doc_from_dict(_json.loads(payload.decode("utf-8")))
        elif fmt == "audio":
            # B11 NoOp/audio: no ASR runtime in this sandbox, so the text
            # layer is empty by design (the reference's _NoOpBackend also
            # emits an empty doc and relies on the ASR pipeline to fill
            # it, docling/backend/noop_backend.py). Success requires the
            # container headers to actually parse — a corrupt payload is
            # a failure row, not a silent empty success.
            from docling_spark.operators.multimodal import (
                parse_mp3_header,
                parse_wav_header,
            )

            meta = parse_wav_header(payload) or parse_mp3_header(payload)
            if meta is None:
                return _ended(base, "failure", "unparseable audio container", t0), None
            from docling_spark.kernels.doc_model import Doc

            doc = Doc(url)
        elif fmt in ("text", "md", "asciidoc"):
            # plain text, markdown, or asciidoc (title/section markers)
            head = payload[:2048].decode("utf-8", errors="replace")
            if fmt == "asciidoc" or (
                fmt == "text" and (head.startswith("= ") or "\n== " in head)
            ):
                from docling_spark.kernels.asciidoc_kernel import parse_asciidoc

                base["fmt"] = "asciidoc"
                doc = parse_asciidoc(payload, name=url)
            else:
                doc = parse_markdown(payload, name=url)
        else:
            return _ended(base, "skipped", f"unsupported format: {fmt}", t0), None
        base["t_sec"] = time.perf_counter() - t0
        return base, doc
    except Exception as e:  # noqa: BLE001 — errors become data
        return _ended(base, "failure", error_text(e), t0), None


def convert_one(
    url: str,
    payload: bytes,
    want_doctags: bool = False,
    want_json: bool = False,
) -> dict:
    """Route one document through the matching kernel; never raises.

    ``want_json`` adds the lossless DoclingDocument JSON (E4,
    kernels/docjson.export_to_dict) — off by default because the node
    pool is the bulkiest export and most pipelines only read md/txt."""
    t0 = time.perf_counter()
    base, doc = route_to_doc(url, payload or b"")
    if doc is None:
        return base
    try:
        from docling_spark.kernels.chunker import hierarchical_chunks
        from docling_spark.kernels.doctags import export_to_doctags
        from docling_spark.kernels.markdown import to_markdown
        from docling_spark.kernels.textout import to_text

        chunks = hierarchical_chunks(doc)
        json_out = None
        if want_json:
            import json as _json2

            from docling_spark.kernels.docjson import export_to_dict

            json_out = _json2.dumps(
                export_to_dict(doc, filename=url, raw=payload or b""),
                ensure_ascii=False,
            )
        return {
            **base,
            "status": "success",
            "error": None,
            "md": to_markdown(doc),
            "txt": to_text(doc),
            "n_nodes": len(doc.nodes),
            "n_chunks": len(chunks),
            "doctags": export_to_doctags(doc) if want_doctags else None,
            "json": json_out,
            "t_sec": time.perf_counter() - t0,
        }
    except Exception as e:  # noqa: BLE001 — errors become data
        return _ended(base, "failure", error_text(e), t0)


def convert_any(
    df: DataFrame,
    content_col: str = "html",
    num_partitions: int | None = None,
    want_doctags: bool = False,
    want_json: bool = False,
) -> DataFrame:
    """(url, <content binary>) of ANY supported format -> results."""

    def per_doc(url, payload):
        return [convert_one(url, payload, want_doctags=want_doctags, want_json=want_json)]

    return map_docs(url_hash(df, ["url", content_col], num_partitions), per_doc, CONVERT_SCHEMA)


def conversion_rollup(results: DataFrame) -> DataFrame:
    """Per-(fmt, status) accounting — document_converter.py:376-398."""
    return (
        results.groupBy("fmt", "status")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("bytes_in").alias("total_bytes"),
            F.sum("n_nodes").cast("long").alias("total_nodes"),
        )
        .orderBy("fmt", "status")
    )
