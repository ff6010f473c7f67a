"""PDF extraction as Spark operators: the paged strategy, the
confidence rollup and the multimodal page export.

Reference pipeline being re-expressed: StandardPdfPipeline
(/root/reference/docling/pipeline/standard_pdf_pipeline.py:68-92,
183-201): parse pages -> per-page preprocess/assemble -> concat pages ->
reading order -> document. Its threaded variant
(threaded_standard_pdf_pipeline.py) exists only to pipeline stages
inside one process; Spark replaces all of it with partition parallelism.

Doc-at-once extraction, which parses and assembles each document in a
single task with zero shuffle (right when documents are small, as crawl
PDFs overwhelmingly are), is the router's pdf route,
``convert.convert_any``; its rows carry ``n_pages`` and ``parse_score``.

Paged — ``parse_pdf_page_rows`` + ``assemble_from_pages``: parse emits
one row per page (url, page_no, blocks, parse_score), pages of one
2000-page document land in different tasks; the single shuffle is
``groupBy(url).agg(array_sort(collect_list(struct(page_no, blocks))))``
— the reference's page-concat boundary (standard_pdf_pipeline.py:183-201)
made into a real exchange. This is the skew escape hatch for oversized
documents: one doc is no longer one task.

The paged wire format is the ``pdf_layout.Block`` dataclass itself:
``_BLOCK_FIELDS`` is a nested Arrow struct with one field per dataclass
field (``table`` a struct of num_rows, num_cols and TableCellData
cells); pages ship ``dataclasses.asdict(block)`` and regroup into
``Block(**row)``. Both PDF paths and the multimodal export share one
page pass, ``pdf_layout.doc_blocks``, and one doc score,
``pdf_layout.doc_score``.

Confidence aggregation (P19, standard_pdf_pipeline.py:253-281) is plain
Spark SQL over the per-page scores: avg + 10th-percentile.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from docling_spark.operators.batch import map_docs, per_page, url_hash

# pdf_layout.Block as an Arrow struct, field for field in dataclass
# order: the paged strategy ships each block through the shuffle as
# dataclasses.asdict(block) and rebuilds it with Block(**row)
_BLOCK_FIELDS = [
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("level", IntegerType()),
    StructField("page_no", IntegerType()),
    StructField("l", DoubleType()),
    StructField("t", DoubleType()),
    StructField("r", DoubleType()),
    StructField("b", DoubleType()),
    StructField("size", DoubleType()),
    StructField("parse_score", DoubleType()),
    # doc_model.TableDataIR for kind == 'table', else null
    StructField(
        "table",
        StructType(
            [
                StructField("num_rows", IntegerType()),
                StructField("num_cols", IntegerType()),
                StructField(
                    "cells",
                    ArrayType(
                        StructType(
                            [
                                StructField("text", StringType()),
                                StructField("row_span", IntegerType()),
                                StructField("col_span", IntegerType()),
                                StructField("start_row", IntegerType()),
                                StructField("end_row", IntegerType()),
                                StructField("start_col", IntegerType()),
                                StructField("end_col", IntegerType()),
                                StructField("column_header", BooleanType()),
                                StructField("row_header", BooleanType()),
                            ]
                        )
                    ),
                ),
            ]
        ),
    ),
    StructField("bold", BooleanType()),
]

PDF_PAGE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
        StructField("page_no", IntegerType()),
        StructField("width", DoubleType()),
        StructField("height", DoubleType()),
        StructField("n_cells", IntegerType()),
        StructField("parse_score", DoubleType()),
        StructField("blocks", ArrayType(StructType(_BLOCK_FIELDS))),
    ]
)


# ------------------------------------------------------- paged strategy


def parse_pdf_page_rows(df: DataFrame, content_col: str = "content") -> DataFrame:
    """One output row per page, blocks already assembled per page.

    Parse failures emit a single page_no=0 failure row per doc so the
    downstream regroup still produces a status row for every url.
    """
    failure = {
        "page_no": 0,
        "width": 0.0,
        "height": 0.0,
        "n_cells": 0,
        "parse_score": None,
        "blocks": [],
    }
    per_doc = per_page(_page_rows, failure)
    return map_docs(df.select("url", content_col), per_doc, PDF_PAGE_SCHEMA)


def _page_rows(url: str, content: bytes):
    from dataclasses import asdict

    from docling_spark.kernels.pdf_kernel import iter_pdf_pages
    from docling_spark.kernels.pdf_layout import page_blocks, page_score

    for page in iter_pdf_pages(content or b""):
        yield {
            "url": url,
            "status": "success",
            "error": None,
            "page_no": page.page_no,
            "width": page.width,
            "height": page.height,
            "n_cells": len(page.cells),
            "parse_score": page_score(page),
            "blocks": [asdict(b) for b in page_blocks(page)],
        }


ASSEMBLED_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("status", StringType()),
        # the first failed page's error; null on success rows
        StructField("error", StringType()),
        # pages that parsed; null when none did
        StructField("n_pages", IntegerType()),
        StructField("md", StringType()),
        StructField("txt", StringType()),
        StructField("n_nodes", IntegerType()),
        StructField("parse_score", DoubleType()),
    ]
)


def assemble_from_pages(page_rows: DataFrame) -> DataFrame:
    """The one wide dependency of the PDF path: regroup pages per url
    (reference page-concat, standard_pdf_pipeline.py:183-201), then a
    per-doc kernel does classification + reading order + serialize."""
    grouped = page_rows.groupBy("url").agg(
        F.array_sort(
            F.collect_list(
                F.struct("page_no", "height", "blocks", "parse_score", "status", "error")
            )
        ).alias("pages"),
    )
    return map_docs(grouped, _assembled_row, ASSEMBLED_SCHEMA)


def _assemble(url: str, pages) -> dict:
    from docling_spark.kernels.doc_model import TableCellData, TableDataIR
    from docling_spark.kernels.markdown import to_markdown
    from docling_spark.kernels.pdf_layout import Block, assemble_pages, doc_score
    from docling_spark.kernels.textout import to_text

    def table(t):
        if t is None:
            return None
        # int(): Arrow hands a struct's int fields to pandas as floats
        # when the struct column holds nulls (every non-table block)
        cells = [TableCellData(**c) for c in t["cells"]]
        return TableDataIR(int(t["num_rows"]), int(t["num_cols"]), cells)

    # pages arrive sorted by page_no, so this is the first failed page
    error = next((p["error"] for p in pages if p["status"] == "failure"), None)
    parsed = [p for p in pages if p["status"] != "failure"]
    if not parsed:
        return {"status": "failure", "error": error, "n_pages": None, "md": None,
                "txt": None, "n_nodes": 0, "parse_score": None}
    blocks = [
        Block(**{**b, "table": table(b["table"])}) for p in parsed for b in p["blocks"]
    ]
    doc = assemble_pages(blocks, {p["page_no"]: p["height"] for p in parsed}, name=url)
    return {
        "status": "success" if error is None else "partial_success",
        "error": error,
        "n_pages": len(parsed),
        "md": to_markdown(doc),
        "txt": to_text(doc),
        "n_nodes": len(doc.nodes),
        "parse_score": doc_score([p["parse_score"] for p in parsed]),
    }


def _assembled_row(url, pages) -> list[dict]:
    # not guarded: page failures already arrive as rows, so an exception
    # here is a bug in the assembly kernel and fails the task
    return [{**_assemble(url, pages), "url": url}]


def extract_pdfs_paged(df: DataFrame, content_col: str = "content") -> DataFrame:
    return assemble_from_pages(parse_pdf_page_rows(df, content_col))


# ------------------------------------------------------- P19 rollup


def confidence_rollup(page_rows: DataFrame) -> DataFrame:
    """Per-doc confidence from page scores — pure Spark SQL
    (standard_pdf_pipeline.py:253-281)."""
    return (
        page_rows.filter(F.col("status") == "success")
        .groupBy("url")
        .agg(
            F.count("*").alias("n_pages"),
            F.round(F.avg("parse_score"), 6).alias("mean_parse_score"),
            F.round(F.expr("percentile(parse_score, 0.1d)"), 6).alias(
                "low_parse_score"
            ),
        )
    )


# ------------------------------------------------- S8: multimodal pages

MULTIMODAL_PAGE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
        StructField("page_no", IntegerType()),
        StructField("width", DoubleType()),
        StructField("height", DoubleType()),
        StructField("text", StringType()),
        StructField("md", StringType()),
        StructField("doctags", StringType()),
        StructField(
            "cells",
            ArrayType(
                StructType(
                    [
                        StructField("text", StringType()),
                        StructField("l", DoubleType()),
                        StructField("t", DoubleType()),
                        StructField("r", DoubleType()),
                        StructField("b", DoubleType()),
                        StructField("ocr", StringType()),
                        StructField("ocr_confidence", DoubleType()),
                    ]
                )
            ),
        ),
        StructField(
            "segments",
            ArrayType(
                StructType(
                    [
                        StructField("index_in_doc", IntegerType()),
                        StructField("label", StringType()),
                        StructField("text", StringType()),
                        StructField("l", DoubleType()),
                        StructField("t", DoubleType()),
                        StructField("r", DoubleType()),
                        StructField("b", DoubleType()),
                    ]
                )
            ),
        ),
    ]
)


MULTIMODAL_IMAGE_FIELDS = StructType(
    [
        StructField("page_image", BinaryType()),
        StructField("img_width", IntegerType()),
        StructField("img_height", IntegerType()),
    ]
)


def _multimodal_rows_for_doc(
    url: str, content: bytes, image_scale: float | None = None
) -> list[dict]:
    """Per-page (text, md, doctags, cells, segments) tuples — S8,
    reference utils/export.py:13-146 generate_multimodal_pages: cells
    and segment bboxes TOPLEFT-normalized to [0,1], per-page markdown
    from that page's slice of the document items, content_text =
    space-joined item texts."""
    from docling_spark.kernels.doctags import export_to_doctags
    from docling_spark.kernels.markdown import to_markdown
    from docling_spark.kernels.pdf_kernel import parse_pdf
    from docling_spark.kernels.pdf_layout import (
        assemble_doc,
        classify_blocks,
        doc_blocks,
        mark_page_furniture,
    )

    pages = parse_pdf(content or b"")
    all_blocks, page_heights = doc_blocks(pages)
    # the doc path's order and furniture semantics: running heads and
    # folios leave the body layer before doc-wide classification (heading
    # ranks need all pages) could promote them to headings
    mark_page_furniture(all_blocks, page_heights)
    classify_blocks(all_blocks)
    by_page = defaultdict(list)
    for ix, b in enumerate(all_blocks):
        by_page[b.page_no].append((ix, b))

    rows = []
    for page in sorted(pages, key=lambda p: p.page_no):
        w, h = page.width or 1.0, page.height or 1.0
        page_items = by_page[page.page_no]
        # per-page doc slice -> md/doctags (export.py main_text_start/stop);
        # classify=False: ranks were assigned doc-wide above — a
        # page-local re-run would promote the page's largest heading to
        # level 1 and disagree with the doc-level export. E3 provenance:
        # one node per block in order, node_id i = block i's bbox.
        page_doc = assemble_doc([b for _, b in page_items], name=url, classify=False)
        bboxes = {
            i: (b.l, b.t, b.r, b.b) for i, (_, b) in enumerate(page_items)
        }
        segments = [
            {
                "index_in_doc": ix,
                "label": b.kind,
                "text": b.text,
                "l": b.l / w,
                "t": b.t / h,
                "r": b.r / w,
                "b": b.b / h,
            }
            for ix, b in page_items
        ]
        cells = [
            {
                "text": c.text,
                "l": c.l / w,
                "t": c.t / h,
                "r": c.r / w,
                "b": c.b / h,
                "ocr": "false",
                "ocr_confidence": 1.0,
            }
            for c in page.cells_top_left()
        ]
        rows.append(
            {
                "url": url,
                "status": "success",
                "error": None,
                "page_no": page.page_no,
                "width": w,
                "height": h,
                "text": " ".join(b.text for _, b in page_items if b.text),
                "md": to_markdown(page_doc),
                "doctags": export_to_doctags(
                    page_doc, bboxes=bboxes, page_w=w, page_h=h
                ),
                "cells": cells,
                "segments": segments,
            }
        )
        if image_scale is not None:
            # P5: deterministic geometry raster (pdf_kernel.rasterize_page),
            # the reference attaches page.image here (export.py:107)
            from docling_spark.kernels.pdf_kernel import (
                encode_png_gray,
                rasterize_page,
            )

            iw, ih, img = rasterize_page(page, scale=image_scale)
            rows[-1]["page_image"] = encode_png_gray(img)
            rows[-1]["img_width"] = iw
            rows[-1]["img_height"] = ih
    return rows


def multimodal_pages(
    df: DataFrame,
    content_col: str = "content",
    num_partitions: int | None = None,
    image_scale: float | None = None,
) -> DataFrame:
    """(url, content) PDF corpus -> one multimodal training row per
    page. Same single-exchange shape as the router's doc-at-once
    route (``convert.convert_any``). With
    ``image_scale`` set, each row also carries the P5 geometry raster
    as PNG bytes (page_image, img_width, img_height) — the reference's
    page.image tuple member (utils/export.py:107). Off by default:
    image payloads multiply the shuffle/write volume, so only datasets
    that train on pixels should pay for them."""
    schema = MULTIMODAL_PAGE_SCHEMA
    if image_scale is not None:
        schema = StructType(schema.fields + MULTIMODAL_IMAGE_FIELDS.fields)
    # one failure row per doc keeps drops visible to lineage/audit;
    # the image fields fall away when the schema has none
    failure = {
        "page_no": 0,
        "width": 0.0,
        "height": 0.0,
        "text": None,
        "md": None,
        "doctags": None,
        "cells": [],
        "segments": [],
        "page_image": None,
        "img_width": 0,
        "img_height": 0,
    }

    def kernel(url, content):
        return _multimodal_rows_for_doc(url, content, image_scale=image_scale)

    sel = url_hash(df, ["url", content_col], num_partitions)
    return map_docs(sel, per_page(kernel, failure), schema)
