"""Per-document metrics rows, and the operator's former names.

Extraction itself is the format router, ``convert.convert_any`` (one
kernel, one result schema, ``convert.CONVERT_SCHEMA``): HTML pages are
one of the formats it routes. This module keeps the metrics projection
of its results (FIXTURES.md §5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from docling_spark.operators.convert import convert_any, convert_one

# Former names of the router's operator and kernel, kept only because
# the benchmark harness (perfbench/run.py, perfbench/check.py) imports
# them; code in the package, jobs and tests calls the convert names.
extract_pages = convert_any
extract_one = convert_one


def metrics_table(results: DataFrame) -> DataFrame:
    """Per-document metrics rows (FIXTURES.md §5 metrics schema)."""
    return results.select(
        "url",
        F.lit("extract").alias("stage"),
        F.col("t_sec"),
        F.col("n_nodes"),
        F.col("bytes_in"),
        F.current_timestamp().alias("ts"),
    )
