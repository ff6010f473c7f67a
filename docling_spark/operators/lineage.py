"""Checkpointed lineage + resume (north rule requirement).

The reference has no resume story (ConversionStatus lives only for the
run, /root/reference/docling/datamodel/base_models.py:48-54). At 10^12
documents a job WILL be preempted, so:

* every completed batch appends ``(url, partition_id, attempt, status,
  batch_ts)`` rows to a lineage table (parquet/Iceberg append — atomic
  at the file/snapshot level);
* on restart, the input is filtered with a broadcast-friendly
  ``left_anti`` join against the successful lineage urls;
* re-processing after a partial write is idempotent because results are
  keyed by url (MERGE/overwrite-by-url downstream).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

LINEAGE_COLS = ("url", "partition_id", "attempt", "status", "batch_ts")


def lineage_rows(results: DataFrame, attempt: int = 0) -> DataFrame:
    return results.select(
        "url",
        F.spark_partition_id().alias("partition_id"),
        F.lit(attempt).alias("attempt"),
        "status",
        F.current_timestamp().alias("batch_ts"),
    )


def write_lineage(results: DataFrame, path: str, attempt: int = 0) -> None:
    lineage_rows(results, attempt).write.mode("append").parquet(path)


def drop_recorded(df: DataFrame, spark: SparkSession, lineage_path: str, status: str) -> DataFrame:
    """Rows of ``df`` whose url lineage does not yet record with
    ``status`` (a ``left_anti`` join on url); all of ``df`` when no
    lineage exists yet."""
    try:
        recorded = (
            spark.read.parquet(lineage_path)
            .filter(F.col("status") == status)
            .select("url")
            .distinct()
        )
    except AnalysisException:  # no lineage yet
        return df
    return df.join(recorded, "url", "left_anti")


def resume_filter(pages: DataFrame, spark: SparkSession, lineage_path: str) -> DataFrame:
    """Drop pages already extracted successfully in a previous attempt.

    Only ``success`` is terminal: skipped pages are re-GATED on every
    attempt (a length comparison — cheap) because the gate parameters
    may change between attempts (e.g. a raised --limit-bytes must
    un-skip previously oversized docs). Duplicate skip rows in lineage
    are suppressed at append time (extract_job drops the new skips
    lineage already records).
    """
    return drop_recorded(pages, spark, lineage_path, "success")
