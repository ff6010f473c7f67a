"""The flagship Spark operator: pages -> extracted documents.

Replaces the reference's whole driver stack (DocumentConverter._convert
+ chunkify + ThreadPoolExecutor, /root/reference/docling/document_converter.py:309-345,
and the threaded PDF stage pipeline, threaded_standard_pdf_pipeline.py)
with Spark partition parallelism: one Arrow-batched ``mapInPandas``
running the pure extraction kernel per document.

Scale design (the part docling does not have): url-hash partitioning,
errors as data and metrics as data come from the shared batch driver
(docling_spark.operators.batch); on top of it:

* **skew** — oversized documents (html length above a threshold) are
  optionally split off and processed at higher parallelism so one 5 MB
  page does not straggle a 10k-row task (AQE handles residual skew);
* **lineage / resume** — see docling_spark.operators.lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
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

from docling_spark.operators.batch import guarded, map_docs, partitions, url_hash

RESULT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
        StructField("md", StringType()),
        StructField("txt", StringType()),
        StructField("n_nodes", IntegerType()),
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
        StructField("bytes_in", LongType()),
        StructField("t_sec", DoubleType()),
    ]
)

_FAILURE = {"md": None, "txt": None, "n_nodes": 0, "n_spans": 0, "spans": []}


def _extract_kernel(url, html: bytes) -> dict:
    # lazy imports keep executor-side pickling cheap
    from docling_spark.kernels.html_kernel import HtmlExtractor
    from docling_spark.kernels.markdown import to_markdown
    from docling_spark.kernels.textout import text_spans

    doc = HtmlExtractor(original_url=url).convert(html or b"")
    md = to_markdown(doc)
    txt, spans = text_spans(doc)
    return {
        "status": "success",
        "error": None,
        "md": md,
        "txt": txt,
        "n_nodes": len(doc.nodes),
        "n_spans": len(spans),
        "spans": spans,
        "bytes_in": len(html) if html is not None else 0,
    }


def extract_one(url, html: bytes) -> dict:
    """Convert one document; never raises."""
    return guarded(_extract_kernel, _FAILURE, url, html)


def _extract_row(url, html) -> list[dict]:
    return [{**extract_one(url, html), "url": url}]


def extract_pages(
    df: DataFrame,
    num_partitions: int | None = None,
    big_doc_bytes: int = 2 << 20,
    split_big_docs: bool = False,
) -> DataFrame:
    """pages(url, warc_ts, html, ...) -> extraction results.

    Column pruning keeps the scan narrow (only url/warc_ts/html are
    read); the repartition by url-hash is the single shuffle.
    """
    cols = ["url", "warc_ts", "html"]
    carry = ("warc_ts",)
    if not split_big_docs:
        return map_docs(url_hash(df, cols, num_partitions), _extract_row, RESULT_SCHEMA, carry)
    # route oversized docs to their own round-robin-spread tasks so
    # they cannot straggle a dense url-hash partition: the big side
    # gets num_partitions extra (mostly tiny) tasks, each owning at
    # most ceil(n_big / num_partitions) documents. The two branches
    # re-scan the source; at crawl scale put a size bucket in the
    # table layout (e.g. Iceberg hidden partitioning on
    # bucket(length)) so both filters partition-prune instead.
    n = partitions(df, num_partitions)
    is_big = F.length("html") >= big_doc_bytes
    small = url_hash(df.filter(~is_big), cols, n)
    big = df.filter(is_big).select(*cols).repartition(n)
    return map_docs(small, _extract_row, RESULT_SCHEMA, carry).unionByName(
        map_docs(big, _extract_row, RESULT_SCHEMA, carry)
    )


def metrics_table(results: DataFrame) -> DataFrame:
    """Per-partition metrics rows (FIXTURES.md §5 metrics schema)."""
    return results.select(
        "url",
        F.lit("extract").alias("stage"),
        F.col("t_sec"),
        F.col("n_nodes"),
        F.col("bytes_in"),
        F.current_timestamp().alias("ts"),
    )
