"""Production extraction job — the spark-submit entry point.

North-rule surface (BASELINE.json): partition-parallel DataFrame job
over a Common-Crawl-style pages table, launched as::

    python jobs/package_pyfiles.py                       # -> dist/docling_spark.zip
    spark-submit --py-files dist/docling_spark.zip \
        jobs/extract_job.py \
        --input  /data/pages            # parquet dir or iceberg table \
        --output /data/extracted \
        --lineage /data/lineage \
        --metrics /data/metrics \
        --partitions 2048 --attempt 1 --resume

Replaces the reference's CLI driver (/root/reference/docling/cli/main.py:286+
``docling <source> --output ...``) and its in-process batching/thread model
(/root/reference/docling/document_converter.py:309-345) with:

* one operator for any mix of formats, the format router
  (operators/convert.convert_any), writing one result schema;
* one explicit url-hash repartition (the only shuffle in the hot path);
* errors-as-data rows (reference raises_on_error=False semantics,
  document_converter.py:264-279): every input ends as one results row
  per attempt, an input over --limit-bytes as a skipped row;
* per-partition lineage append -> idempotent resume via left_anti join;
* per-doc metrics rows -> metrics table (reference: utils/profiling.py).

A run is three Spark actions, its three writes; the counts it prints
are observed on the results write.

At 10^12-document scale the same job runs unchanged: --input becomes an
Iceberg table, --partitions scales with cluster cores, and a preempted
run restarts with --resume --attempt N+1.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

# spark-submit --py-files ships docling_spark.zip; when run from the repo
# (tests, local dev) fall back to the source tree.
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def build_parser() -> argparse.ArgumentParser:
    from docling_spark.operators.convert import BIG_DOC_BYTES
    from docling_spark.operators.formats import LIMIT_BYTES

    p = argparse.ArgumentParser(description="docling-spark extraction job")
    p.add_argument("--input", required=True, help="pages parquet dir or iceberg table")
    p.add_argument("--output", required=True, help="results parquet dir")
    p.add_argument("--lineage", required=True, help="lineage table dir (append)")
    p.add_argument("--metrics", default=None, help="metrics table dir (append)")
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--attempt", type=int, default=0)
    p.add_argument("--resume", action="store_true",
                   help="left_anti-filter urls already successful in lineage")
    p.add_argument("--format", default="parquet", choices=("parquet", "iceberg"))
    p.add_argument("--limit-bytes", type=int, default=LIMIT_BYTES,
                   help="max payload size; larger rows become status='skipped'")
    p.add_argument("--split-big-docs", action="store_true",
                   help="route oversized documents (>= --big-doc-bytes) "
                        "to their own round-robin-spread tasks so a "
                        "dense url-hash partition never straggles on a "
                        "handful of huge pages (north-rule: salted "
                        "handling of oversized documents)")
    p.add_argument("--big-doc-bytes", type=int, default=BIG_DOC_BYTES,
                   help="threshold for --split-big-docs (default %(default)s)")
    p.add_argument("--router", action="store_true",
                   help="accepted and ignored: every input is routed by "
                        "its format (operators/convert.py)")
    return p


def run(spark, args) -> dict:
    from pyspark.sql import Observation, functions as F

    from docling_spark.operators.convert import convert_any, gate_row
    from docling_spark.operators.extract import metrics_table
    from docling_spark.operators.lineage import resume_filter, write_lineage

    if args.format == "iceberg":
        pages = spark.read.format("iceberg").load(args.input)
    else:
        pages = spark.read.parquet(args.input)

    # resume BEFORE the gate: successfully-extracted urls never re-gate
    # or re-extract. Previously-SKIPPED urls flow through on purpose:
    # the gate is re-evaluated each attempt so changed parameters
    # (e.g. a raised --limit-bytes) can un-skip them; lineage records
    # a skipped url once (write_lineage).
    if args.resume:
        pages = resume_filter(pages, spark, args.lineage)

    # convert_any holds the limits gate (reference: DocumentLimits,
    # datamodel/document.py:116-181): an input over --limit-bytes is a gate row
    t0 = time.perf_counter()
    results = convert_any(
        pages,
        num_partitions=args.partitions,
        split_big_docs=args.split_big_docs,
        big_doc_bytes=args.big_doc_bytes,
        limit_bytes=args.limit_bytes,
    )

    # one materialization, three writes: results, lineage, metrics.
    # persist() avoids re-running the extraction kernel per sink. The
    # results WRITE is the first action, so the expensive pass is also
    # the durable one, and the run's counts are observed on that same
    # write: no action is spent on counting.
    results.persist()
    counts = Observation("counts")
    results.observe(
        counts,
        F.count(F.lit(1)).alias("rows"),
        F.count_if(gate_row()).alias("gated"),
        F.count_if(F.col("status") == "failure").alias("failed"),
    ).write.mode("append").parquet(args.output)
    t_extract = time.perf_counter() - t0

    write_lineage(results, args.lineage, attempt=args.attempt)
    if args.metrics:
        metrics_table(results.filter(~gate_row())).write.mode("append").parquet(args.metrics)
    results.unpersist()

    n = counts.get
    n_out = n["rows"] - n["gated"]  # the rows the router produced
    return {
        "n_extracted": n_out,
        "n_failed": n["failed"],
        "n_skipped": n["gated"],
        "t_extract_sec": round(t_extract, 3),
        "docs_per_sec": round(n_out / t_extract, 1) if t_extract > 0 else None,
        "attempt": args.attempt,
    }


def main() -> None:
    from pyspark.sql import SparkSession

    args = build_parser().parse_args()
    spark = (
        SparkSession.builder.appName("docling-spark-extract")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    stats = run(spark, args)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
