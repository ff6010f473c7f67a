"""The one conversion operator: format routing + kernel dispatch (S4).

Reference: ``DocumentConverter`` holds a format -> (backend, pipeline)
map and routes each input document
(/root/reference/docling/document_converter.py:131-198, 309-345). Here
the route is a column: ``fmt`` is sniffed from leading bytes
(operators/formats.py, reference document.py:280-338) and one
``mapInPandas`` dispatches each row to the matching kernel — html, pdf,
csv, markdown. ``route_to_doc`` only resolves the format and calls one
parser; unknown formats become status='skipped' rows. Each document
runs under the batch driver (operators/batch.guarded), which alone
times it, raises the recursion limit and turns a parse error into a
status='failure' row (errors-as-data).

``convert_any`` is the one conversion operator and ``CONVERT_SCHEMA``
its one result row (an input over the limits gate is a ``gate_row``),
for any mix of formats (a WARC sample is never single-format). One
shuffle, the url-hash repartition, with ``warc_ts`` carried column-wise
when the input has it; with ``split_big_docs``, documents of
``big_doc_bytes`` or more are spread round-robin so one 5 MB page does
not straggle a 10k-row task (AQE handles residual skew).
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from docling_spark.operators.batch import (
    error_text,
    guarded,
    map_docs,
    partitions,
    until_error,
    url_hash,
)
from docling_spark.operators.formats import LIMIT_BYTES, limits_gate, sniff_format

BIG_DOC_BYTES = 2 << 20  # default of convert_any and --big-doc-bytes

CONVERT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        # the input's crawl time when it has that column, else null
        StructField("warc_ts", TimestampType()),
        StructField("fmt", StringType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
        StructField("md", StringType()),
        StructField("txt", StringType()),
        StructField("n_nodes", IntegerType()),
        # each text node's (node_id, label, start, end) in txt
        StructField("n_spans", IntegerType()),
        StructField(
            "spans",
            ArrayType(
                StructType(
                    [
                        StructField("node_id", IntegerType()),
                        StructField("label", StringType()),
                        StructField("start", IntegerType()),
                        StructField("end", IntegerType()),
                    ]
                )
            ),
        ),
        StructField("n_chunks", IntegerType()),
        # page-shaped formats (pdf, image, METS) only, else null
        StructField("n_pages", IntegerType()),
        StructField("parse_score", DoubleType()),
        StructField("doctags", StringType()),
        StructField("json", StringType()),
        StructField("bytes_in", LongType()),
        StructField("ocr_needed", DoubleType()),
        StructField("t_sec", DoubleType()),
    ]
)

# the exports of a row no kernel filled: a skip, or a failure before
# any export
_UNCONVERTED = {
    "md": None,
    "txt": None,
    "n_nodes": 0,
    "n_spans": 0,
    "spans": [],
    "n_chunks": 0,
    "n_pages": None,
    "parse_score": None,
    "doctags": None,
    "json": None,
    "ocr_needed": None,
}

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


def _pages_doc(row: dict, url: str, pages) -> "object":
    """Page-shaped routes (pdf, image, METS) -> Doc via the shared PDF
    layout path, the one doc-at-once assembly; records the page count,
    the doc parse score (P19) and the OCR need from bitmap coverage
    (P10)."""
    from docling_spark.kernels.pdf_kernel import bitmap_coverage
    from docling_spark.kernels.pdf_layout import build_doc, doc_score

    doc, scores = build_doc(pages, name=url)
    row["ocr_needed"] = max(bitmap_coverage(p) for p in pages)
    row["n_pages"] = len(pages)
    row["parse_score"] = doc_score(scores)
    return doc


def route_to_doc(row: dict, url: str, payload: bytes) -> "object | None":
    """S4 dispatch without exports: the parsed Doc IR, or None.

    ``fmt`` (and, for page formats, ``ocr_needed``, ``n_pages`` and
    ``parse_score``) is written into the caller's ``row`` as soon as it
    is known, so a failure row built from ``row`` keeps it. Skip
    outcomes and unparseable audio set
    ``row['status']``/``row['error']`` and return None; a PDF that
    breaks partway returns the Doc of the pages before the broken one
    and sets status 'partial_success' with the page error
    (``batch.until_error``); other parse errors propagate to the
    caller's driver. Shared by convert_one (full
    exports) and the multi-format chunker (which wants the Doc)."""
    from docling_spark.kernels.csv_kernel import parse_csv
    from docling_spark.kernels.docx_kernel import parse_docx
    from docling_spark.kernels.html_kernel import HtmlExtractor
    from docling_spark.kernels.md_kernel import parse_markdown
    from docling_spark.kernels.pdf_kernel import iter_pdf_pages
    from docling_spark.kernels.pptx_kernel import parse_pptx
    from docling_spark.kernels.xlsx_kernel import parse_xlsx
    from docling_spark.operators.formats import office_subformat

    payload = payload or b""
    fmt = sniff_format(payload[:8192])
    if fmt in _TEXT_FAMILY:
        fmt = _EXT_HINTS.get(_ext_of(url), fmt)
    row["fmt"] = fmt
    if fmt in ("html", "xml"):
        return HtmlExtractor(original_url=url).convert(payload, name=url)
    if fmt == "xml_jats":
        from docling_spark.kernels.jats_kernel import parse_jats

        return parse_jats(payload, name=url)
    if fmt == "xml_uspto":
        from docling_spark.kernels.uspto_kernel import parse_uspto

        return parse_uspto(payload, name=url)
    if fmt == "gzip":
        # gzip container: METS/GBS book archives route through the
        # shared PDF layout path; other gzips stay skipped
        from docling_spark.kernels.mets_kernel import book_pages

        row["fmt"] = "mets_gbs"
        pages, why = book_pages(payload)
        if why is not None:
            msg = f"gzip is not a METS/GBS archive: {why}"
            row.update(fmt="gzip", status="skipped", error=msg)
            return None
        return _pages_doc(row, url, pages)
    if fmt == "pdf":
        pages, e = until_error(iter_pdf_pages, payload)
        if not pages:
            raise e
        if e is not None:
            row.update(status="partial_success", error=error_text(e))
        return _pages_doc(row, url, pages)
    if fmt == "image":
        # P7: image adapts into the PDF path (frames -> pages with a
        # full-page bitmap rect); P10 scores the OCR need. No OCR
        # engine exists here, so the text layer is empty by design.
        from docling_spark.kernels.image_kernel import image_to_pdf_pages

        return _pages_doc(row, url, image_to_pdf_pages(payload))
    if fmt == "office":
        sub = row["fmt"] = office_subformat(payload)
        parse = {"docx": parse_docx, "xlsx": parse_xlsx, "pptx": parse_pptx}.get(sub)
        if parse is None:
            row.update(status="skipped", error=f"unsupported office container: {sub}")
            return None
        return parse(payload, name=url)
    if fmt == "csv":
        return parse_csv(payload, name=url)
    if fmt == "json_docling":
        # B10: lossless DoclingDocument JSON -> node pool -> re-export
        from docling_spark.kernels.docjson import doc_from_dict

        return doc_from_dict(json.loads(payload.decode("utf-8")))
    if fmt == "audio":
        # B11 NoOp/audio: no ASR runtime in this sandbox, so the text
        # layer is empty by design (the reference's _NoOpBackend also
        # emits an empty doc and relies on the ASR pipeline to fill
        # it, docling/backend/noop_backend.py). Success requires the
        # container headers to actually parse — a corrupt payload is
        # a failure row, not a silent empty success.
        from docling_spark.kernels.doc_model import Doc
        from docling_spark.operators.multimodal import (
            parse_mp3_header,
            parse_wav_header,
        )

        if (parse_wav_header(payload) or parse_mp3_header(payload)) is None:
            row.update(status="failure", error="unparseable audio container")
            return None
        return Doc(url)
    if fmt in ("text", "md", "asciidoc"):
        # plain text, markdown, or asciidoc (title/section markers)
        head = payload[:2048].decode("utf-8", errors="replace")
        if fmt == "asciidoc" or (
            fmt == "text" and (head.startswith("= ") or "\n== " in head)
        ):
            from docling_spark.kernels.asciidoc_kernel import parse_asciidoc

            row["fmt"] = "asciidoc"
            return parse_asciidoc(payload, name=url)
        return parse_markdown(payload, name=url)
    row.update(status="skipped", error=f"unsupported format: {fmt}")
    return None


def convert_one(
    url: str,
    payload: bytes,
    want_doctags: bool = False,
    want_json: bool = False,
) -> dict:
    """Route one document through the matching kernel; never raises.

    Runs under the batch driver (``batch.guarded``), which times the
    document and turns an exception into a failure row built from the
    same ``row`` the router records ``fmt`` into. ``want_json`` adds the
    lossless DoclingDocument JSON (E4, kernels/docjson.export_to_dict)
    — off by default because the node pool is the bulkiest export and
    most pipelines only read md/txt."""
    payload = payload or b""
    row = {
        "url": url,
        "warc_ts": None,  # convert_any carries the input's column, if any
        "bytes_in": len(payload),
        **_UNCONVERTED,
    }

    def kernel(url, payload):
        from docling_spark.kernels.chunker import count_hierarchical_chunks
        from docling_spark.kernels.doctags import export_to_doctags
        from docling_spark.kernels.markdown import to_markdown
        from docling_spark.kernels.textout import text_spans

        doc = route_to_doc(row, url, payload)
        if doc is None:
            return row
        json_out = None
        if want_json:
            from docling_spark.kernels.docjson import export_to_dict

            json_out = json.dumps(
                export_to_dict(doc, filename=url, raw=payload), ensure_ascii=False
            )
        txt, spans = text_spans(doc)
        return {
            # defaults: a PDF that broke partway set partial_success in row
            "status": "success",
            "error": None,
            **row,
            "md": to_markdown(doc),
            "txt": txt,
            "n_nodes": len(doc.nodes),
            "n_spans": len(spans),
            "spans": spans,
            "n_chunks": count_hierarchical_chunks(doc),
            "doctags": export_to_doctags(doc) if want_doctags else None,
            "json": json_out,
        }

    return guarded(kernel, row, url, payload)


def convert_any(
    df: DataFrame,
    content_col: str = "html",
    num_partitions: int | None = None,
    want_doctags: bool = False,
    want_json: bool = False,
    big_doc_bytes: int = BIG_DOC_BYTES,
    split_big_docs: bool = False,
    limit_bytes: int = LIMIT_BYTES,
) -> DataFrame:
    """(url, <content binary>[, warc_ts]) of ANY supported format ->
    one ``CONVERT_SCHEMA`` row per input.

    Column pruning keeps the scan narrow (only url, the payload and
    warc_ts are read); the repartition by url-hash is the single
    shuffle. The limits gate is a projection before it: a payload over
    ``limit_bytes`` crosses neither the exchange nor Arrow; the kernel
    gets its length instead (0 within the limit) and frames its
    ``gate_row``, with no exports and a null ``fmt`` and ``t_sec``."""
    carry = ("warc_ts",) if "warc_ts" in df.columns else ()
    over = F.col("gate_status") == "skipped"
    gated = limits_gate(df, content_col, limit_bytes).select(
        "url",
        F.when(~over, F.col(content_col)).alias(content_col),
        F.when(over, F.length(content_col)).otherwise(0).alias("withheld"),
        *carry,
    )
    cols = gated.columns
    error = f"payload over --limit-bytes {limit_bytes}"
    skipped = {**_UNCONVERTED, "warc_ts": None, "fmt": None, "status": "skipped", "error": error}

    def per_doc(url, payload, withheld):
        if withheld:
            return [{**skipped, "url": url, "bytes_in": int(withheld), "t_sec": None}]
        return [convert_one(url, payload, want_doctags=want_doctags, want_json=want_json)]

    def run(part):
        return map_docs(part, per_doc, CONVERT_SCHEMA, carry)

    if not split_big_docs:
        return run(url_hash(gated, cols, num_partitions))
    # route oversized docs to their own round-robin-spread tasks so
    # they cannot straggle a dense url-hash partition: the big side
    # gets num_partitions extra (mostly tiny) tasks, each owning at
    # most ceil(n_big / num_partitions) documents; a null payload is
    # small. The two branches re-scan the source; at crawl scale put a
    # size bucket in the table layout (e.g. Iceberg hidden partitioning
    # on bucket(length)) so both filters partition-prune instead.
    n = partitions(df, num_partitions)
    is_big = F.coalesce(F.length(content_col) >= big_doc_bytes, F.lit(False))
    small = url_hash(gated.filter(~is_big), cols, n)
    big = gated.filter(is_big).repartition(n)
    return run(small).unionByName(run(big))


def gate_row() -> Column:
    """True on the gate rows ``convert_any`` frames for a payload over
    its limit: skipped, with no ``fmt`` (a router skip always has its
    sniffed ``fmt``)."""
    return (F.col("status") == "skipped") & F.col("fmt").isNull()


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
