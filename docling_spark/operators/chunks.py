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

from docling_spark.operators.batch import map_docs, url_hash

CHUNK_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("chunk_id", IntegerType()),
        StructField("kind", StringType()),
        StructField("headings", ArrayType(StringType())),
        StructField("text", StringType()),
        StructField("context_text", StringType()),
        StructField("n_tokens", IntegerType()),
    ]
)


def chunk_pages(
    df: DataFrame,
    content_col: str = "html",
    mode: str = "hybrid",
    max_tokens: int = 128,
    num_partitions: int | None = None,
    router: bool = False,
) -> DataFrame:
    """(url, <payload>) -> chunk rows; mode in {'hierarchical', 'hybrid'}.

    ``router=True`` dispatches each payload through the full S4 format
    router (operators/convert.route_to_doc) instead of assuming HTML —
    one chunking job over a mixed html/pdf/office/xml crawl, the shape
    an embedding/training pipeline actually feeds."""

    def per_doc(url, payload):
        from docling_spark.kernels.chunker import (
            contextualize,
            hierarchical_chunks,
            hybrid_chunks,
        )
        from docling_spark.kernels.html_kernel import HtmlExtractor
        from docling_spark.operators.convert import route_to_doc

        try:
            raw = payload or b""
            if router:
                doc = route_to_doc({}, url, raw)
            else:
                doc = HtmlExtractor(original_url=url).convert(raw)
            if doc is None:
                return []
            if mode == "hybrid":
                chunks = hybrid_chunks(doc, max_tokens=max_tokens)
            else:
                chunks = hierarchical_chunks(doc)
        except Exception:  # noqa: BLE001 — bad doc -> no chunks
            return []
        return [
            {
                "url": url,
                "chunk_id": i,
                "kind": ch.kind,
                "headings": ch.headings,
                "text": ch.text,
                "context_text": contextualize(ch),
                "n_tokens": len(ch.text.split()),
            }
            for i, ch in enumerate(chunks)
        ]

    return map_docs(url_hash(df, ["url", content_col], num_partitions), per_doc, CHUNK_SCHEMA)


def chunk_stats(chunks: DataFrame) -> DataFrame:
    """Distribution rollup — plain Spark SQL over chunk rows."""
    return (
        chunks.groupBy("kind")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("kind")
    )
