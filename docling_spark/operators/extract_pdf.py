"""PDF extraction as Spark operators: per-page parse rows, the
confidence rollup and the multimodal page export.

Reference pipeline being re-expressed: StandardPdfPipeline
(/root/reference/docling/pipeline/standard_pdf_pipeline.py:68-92,
183-201): parse pages -> per-page preprocess/assemble -> concat pages ->
reading order -> document. Its threaded variant
(threaded_standard_pdf_pipeline.py) exists only to pipeline stages
inside one process; Spark replaces all of it with partition parallelism.

A PDF document is assembled in one place: the router's pdf route,
``convert.convert_any``, which parses and assembles each document in a
single task (``pdf_layout.build_doc``) and carries ``n_pages`` and
``parse_score`` on its rows. No path spreads the pages of one oversized
PDF over several tasks.

``parse_pdf_page_rows`` emits one row per page (url, page_no, size,
cell count, parse_score), the input of the confidence rollup.
``multimodal_pages`` emits one training row per page, sharing the
router's page pass (``pdf_layout.doc_blocks``). All of them follow one
rule for a PDF that breaks partway (``batch.until_error``): the pages
parsed before the broken one are kept, and the page error ends the
document.

Confidence aggregation (P19, standard_pdf_pipeline.py:253-281) is plain
Spark SQL over the per-page scores: avg + 10th-percentile.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from docling_spark.operators.batch import map_docs, per_page, until_error, url_hash

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
    ]
)


# ------------------------------------------------------- page rows


def parse_pdf_page_rows(df: DataFrame) -> DataFrame:
    """One output row per page: its size, text-cell count and parse score.

    A parse failure emits a single page_no=0 failure row per doc, after
    the rows of the pages parsed before it, so every url keeps a status
    row."""
    failure = {
        "page_no": 0,
        "width": 0.0,
        "height": 0.0,
        "n_cells": 0,
        "parse_score": None,
    }
    per_doc = per_page(_page_rows, failure)
    return map_docs(df.select("url", "content"), per_doc, PDF_PAGE_SCHEMA)


def _page_rows(url: str, content: bytes):
    from docling_spark.kernels.pdf_kernel import iter_pdf_pages
    from docling_spark.kernels.pdf_layout import page_score

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
        }


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


def _multimodal_rows_for_doc(url: str, content: bytes, image_scale: float | None = None):
    """Per-page (text, md, doctags, cells, segments) tuples — S8,
    reference utils/export.py:13-146 generate_multimodal_pages: cells
    and segment bboxes TOPLEFT-normalized to [0,1], per-page markdown
    from that page's slice of the document items, content_text =
    space-joined item texts.

    A PDF that breaks partway yields the rows of the pages before the
    broken one, then raises the page error (``batch.until_error``), so
    ``per_page`` adds the document's failure row."""
    from docling_spark.kernels.doctags import export_to_doctags
    from docling_spark.kernels.markdown import to_markdown
    from docling_spark.kernels.pdf_kernel import iter_pdf_pages
    from docling_spark.kernels.pdf_layout import (
        assemble_doc,
        classify_blocks,
        doc_blocks,
        mark_page_furniture,
    )

    pages, error = until_error(iter_pdf_pages, content or b"")
    if not pages:
        raise error
    all_blocks, page_heights = doc_blocks(pages)
    # the doc path's order and furniture semantics: running heads and
    # folios leave the body layer before doc-wide classification (heading
    # ranks need all pages) could promote them to headings
    mark_page_furniture(all_blocks, page_heights)
    classify_blocks(all_blocks)
    by_page = defaultdict(list)
    for ix, b in enumerate(all_blocks):
        by_page[b.page_no].append((ix, b))

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
        row = {
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
        if image_scale is not None:
            # P5: deterministic geometry raster (pdf_kernel.rasterize_page),
            # the reference attaches page.image here (export.py:107)
            from docling_spark.kernels.pdf_kernel import (
                encode_png_gray,
                rasterize_page,
            )

            iw, ih, img = rasterize_page(page, scale=image_scale)
            row.update(page_image=encode_png_gray(img), img_width=iw, img_height=ih)
        yield row
    if error is not None:
        raise error


def multimodal_pages(
    df: DataFrame,
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

    sel = url_hash(df, ["url", "content"], num_partitions)
    return map_docs(sel, per_page(kernel, failure), schema)
