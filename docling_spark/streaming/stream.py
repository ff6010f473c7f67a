"""Structured Streaming front-end for the extraction engine.

The reference is strictly batch (an iterator pipeline,
/root/reference/docling/document_converter.py:309-345); the north rule
is batch + resumable. This module adds the Spark-native incremental
mode on top of the SAME kernels: a file-source stream over the pages
table, `mapInPandas` extraction (stateless, so it runs unchanged on a
streaming DataFrame), and a parquet sink with checkpointed progress —
Structured Streaming's checkpoint IS the lineage/resume story at the
micro-batch granularity (new WARC drops land as new files and only new
files are processed).

``Trigger.AvailableNow`` drains everything currently available and
stops — the idiomatic "incremental batch" for a crawl pipeline cron.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def read_pages_stream(spark: SparkSession, input_dir: str):
    return spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)


def drain(df, out: str, ckpt: str, timeout_sec: int = 300) -> bool:
    """Append the streaming frame ``df`` to a parquet sink: drain every
    currently available input, checkpointed, then stop. A re-run with the
    same checkpoint processes only files added since (streaming resume).
    Per-document operators run unchanged on a streaming frame (url-hash
    repartition is a stateless shuffle), so a drain-and-stop extraction
    is ``drain(convert_any(read_pages_stream(spark, d)), out, ckpt)``,
    a windowed rollup ``drain(windowed_event_rollup(events), out, ckpt)``
    and a cross-batch dedup ``drain(dedup_stream(pages), out, ckpt)``."""
    query = (
        df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    return query.awaitTermination(timeout_sec)


# ------------------------------------------- windowed event-time rollup

def windowed_event_rollup(events, window: str = "1 hour", watermark: str = "30 minutes"):
    """Event-time tumbling-window aggregation with late-data handling.

    Works on BOTH batch and streaming DataFrames (same plan): group by
    window(ts) x event_type, count + sum(value). On a stream the
    watermark bounds state: events later than ``watermark`` behind the
    max seen event time are dropped and their windows finalized — the
    idiomatic Structured Streaming shape for crawl-rate/metrics rollups.
    """
    from pyspark.sql import functions as F

    w = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        w.groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ----------------------------- stateful cross-batch dedup (GroupState)


def dedup_stream(pages_stream, text_col: str = "text"):
    """Custom stateful streaming operator: emit each content fingerprint
    the FIRST time it is seen across ALL micro-batches
    (``applyInPandasWithState`` keyed by md5(text); state = seen flag).

    A crawl re-visits urls and mirrors endlessly — batch dedup only sees
    one drop at a time, so the 'have I ever emitted this content'
    predicate is streaming state by nature. State is one boolean per
    distinct fingerprint, hash-partitioned by the groupBy — the same
    shuffle shape as batch exact dedup, held by the state store instead
    of a shuffle file.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = pages_stream.withColumn("fp_md5", F.md5(F.col(text_col)))
    out_schema = (
        "url string, warc_ts timestamp, fp_md5 string, is_first boolean"
    )

    def emit_first(key, pdfs, state):
        import pandas as pd

        seen = state.exists
        rows = []
        for pdf in pdfs:
            for _, row in pdf.iterrows():
                rows.append(
                    {
                        "url": row["url"],
                        "warc_ts": row["warc_ts"],
                        "fp_md5": key[0],
                        "is_first": not seen,
                    }
                )
                seen = True
        if not state.exists:
            state.update((True,))
        yield pd.DataFrame(rows)

    return keyed.groupBy("fp_md5").applyInPandasWithState(
        emit_first,
        outputStructType=out_schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
