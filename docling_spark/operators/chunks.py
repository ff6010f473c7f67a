"""Chunking as a Spark operator (E6): pages -> one row per chunk.

Reference: HierarchicalChunker / HybridChunker iterate one document at
a time (docling_core via /root/reference/docling/chunking/__init__.py);
here the chunker runs inside the extraction ``mapInPandas`` and the
flattening to chunk rows happens in the same pass — no second shuffle,
no intermediate doc materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from docling_spark.operators.batch import map_docs, per_page, url_hash

CHUNK_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
        StructField("chunk_id", IntegerType()),
        StructField("kind", StringType()),
        StructField("headings", ArrayType(StringType())),
        StructField("text", StringType()),
        StructField("context_text", StringType()),
        StructField("n_tokens", IntegerType()),
    ]
)

# a skipped or failed document keeps one status row with no chunk
_NO_CHUNK = dict.fromkeys(("chunk_id", "kind", "headings", "text", "context_text", "n_tokens"))


def chunk_pages(
    df: DataFrame,
    mode: str = "hybrid",
    max_tokens: int = 128,
    num_partitions: int | None = None,
) -> DataFrame:
    """(url, html) -> chunk rows; mode in {'hierarchical', 'hybrid'}.

    Each payload goes through the format router
    (operators/convert.route_to_doc), so one chunking job covers a mixed
    html/pdf/office/xml crawl, the shape an embedding/training pipeline
    actually feeds. Chunk rows carry status='success', or the router's
    'partial_success' and page error for a PDF that breaks partway; a
    document the router skips or that fails to parse yields one row
    with a null chunk_id and the router's or driver's status and
    error."""

    def kernel(url, payload):
        from docling_spark.kernels.chunker import (
            contextualize,
            hierarchical_chunks,
            hybrid_chunks,
        )
        from docling_spark.operators.convert import route_to_doc

        row = {}
        doc = route_to_doc(row, url, payload)
        if doc is None:
            return [{**_NO_CHUNK, "url": url, "status": row["status"], "error": row["error"]}]
        if mode == "hybrid":
            chunks = hybrid_chunks(doc, max_tokens=max_tokens)
        else:
            chunks = hierarchical_chunks(doc)
        return [
            {
                "url": url,
                "status": row.get("status", "success"),
                "error": row.get("error"),
                "chunk_id": i,
                "kind": ch.kind,
                "headings": ch.headings,
                "text": ch.text,
                "context_text": contextualize(ch),
                "n_tokens": len(ch.text.split()),
            }
            for i, ch in enumerate(chunks)
        ]

    sel = url_hash(df, ["url", "html"], num_partitions)
    return map_docs(sel, per_page(kernel, _NO_CHUNK), CHUNK_SCHEMA)


def chunk_stats(chunks: DataFrame) -> DataFrame:
    """Distribution rollup — plain Spark SQL over the success rows."""
    return (
        chunks.filter(F.col("status") == "success")
        .groupBy("kind")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("kind")
    )
