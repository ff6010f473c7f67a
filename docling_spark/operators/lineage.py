"""Checkpointed lineage + resume (north rule requirement).

The reference has no resume story (ConversionStatus lives only for the
run, /root/reference/docling/datamodel/base_models.py:48-54). At 10^12
documents a job WILL be preempted, so:

* every run appends ``(url, partition_id, attempt, status, batch_ts)``
  rows for its results to a lineage table (parquet/Iceberg append —
  atomic at the file/snapshot level). A skipped url is recorded once,
  whether the limits gate or the router skipped it: a skip lineage
  already records is not appended again;
* on restart, the input is filtered with a broadcast-friendly
  ``left_anti`` join against the successful lineage urls;
* re-processing after a partial write is idempotent because results are
  keyed by url (MERGE/overwrite-by-url downstream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def _recorded(spark: SparkSession, path: str, status: str) -> DataFrame | None:
    """(url, status) of the lineage rows with ``status``; None while no
    lineage exists. A missing path is probed, not read: a failed read
    costs ~65 ms and, after an ``Observation``, logs a listener ERROR."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        return None
    lineage = spark.read.schema("url string, status string").parquet(path)
    return lineage.filter(F.col("status") == status)


def write_lineage(results: DataFrame, path: str, attempt: int = 0) -> None:
    """Append one lineage row per result row, leaving out the skips
    lineage already records (one ``left_anti`` join on url and status),
    so repeated attempts do not grow the table."""
    rows = results.select(
        "url",
        F.spark_partition_id().alias("partition_id"),
        F.lit(attempt).alias("attempt"),
        "status",
        F.current_timestamp().alias("batch_ts"),
    )
    skips = _recorded(results.sparkSession, path, "skipped")
    if skips is not None:
        rows = rows.join(skips, ["url", "status"], "left_anti").select(rows.columns)
    rows.write.mode("append").parquet(path)


def resume_filter(pages: DataFrame, spark: SparkSession, lineage_path: str) -> DataFrame:
    """Drop pages already extracted successfully in a previous attempt.

    Only ``success`` is terminal: skipped pages are re-GATED on every
    attempt (a length comparison — cheap) because the gate parameters
    may change between attempts (e.g. a raised --limit-bytes must
    un-skip previously oversized docs); ``write_lineage`` keeps their
    repeated skips out of the table.
    """
    done = _recorded(spark, lineage_path, "success")
    return pages if done is None else pages.join(done.select("url"), "url", "left_anti")
