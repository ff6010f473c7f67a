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

* one explicit url-hash repartition (the only shuffle in the hot path);
* errors-as-data rows (reference raises_on_error=False semantics,
  document_converter.py:264-279);
* per-partition lineage append -> idempotent resume via left_anti join;
* per-doc metrics rows -> metrics table (reference: utils/profiling.py).

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
    p.add_argument("--limit-bytes", type=int, default=64 << 20,
                   help="max html size; larger rows become status='skipped'")
    p.add_argument("--split-big-docs", action="store_true",
                   help="route oversized documents (>= --big-doc-bytes) "
                        "to their own round-robin-spread tasks so a "
                        "dense url-hash partition never straggles on a "
                        "handful of huge pages (north-rule: salted "
                        "handling of oversized documents)")
    p.add_argument("--big-doc-bytes", type=int, default=2 << 20,
                   help="threshold for --split-big-docs (default 2 MiB)")
    p.add_argument("--router", action="store_true",
                   help="run the unified multi-format router (S4, "
                        "operators/convert.py) instead of the HTML-only "
                        "extractor: a mixed html/pdf/office/xml crawl "
                        "converts in one job, same lineage/resume/metrics")
    return p


def run(spark, args) -> dict:
    from pyspark.sql import functions as F

    from docling_spark.operators.extract import extract_pages, metrics_table
    from docling_spark.operators.formats import limits_gate
    from docling_spark.operators.lineage import (
        drop_recorded,
        lineage_rows,
        resume_filter,
        write_lineage,
    )

    if args.format == "iceberg":
        pages = spark.read.format("iceberg").load(args.input)
    else:
        pages = spark.read.parquet(args.input)

    # resume BEFORE the gate: successfully-extracted urls never re-gate
    # or re-extract. Previously-SKIPPED urls flow through on purpose:
    # the gate is re-evaluated each attempt so changed parameters
    # (e.g. a raised --limit-bytes) can un-skip them; duplicate skip
    # lineage rows are suppressed at append time below.
    if args.resume:
        pages = resume_filter(pages, spark, args.lineage)

    # limits gate (reference: DocumentLimits, datamodel/document.py:116-181)
    gated = limits_gate(pages, max_bytes=args.limit_bytes)
    skipped = gated.filter(F.col("gate_status") == "skipped")
    pages_ok = gated.filter(F.col("gate_status") == "accepted").drop("gate_status")

    t0 = time.perf_counter()
    if args.router:
        from docling_spark.operators.convert import convert_any

        results = convert_any(pages_ok, num_partitions=args.partitions)
    else:
        results = extract_pages(
            pages_ok,
            num_partitions=args.partitions,
            split_big_docs=args.split_big_docs,
            big_doc_bytes=args.big_doc_bytes,
        )

    # one materialization, three outputs: results, lineage, metrics.
    # persist() avoids re-running the extraction kernel per sink. The
    # WRITE is the first action: under MEMORY_AND_DISK pressure at
    # 10^12 scale a leading count() would evict blocks whose first
    # materialization was then discarded; writing first makes the
    # expensive pass also the durable one, and the counts after it read
    # from cache (or, worst case, recompute — never the reverse).
    results.persist()
    results.write.mode("append").parquet(args.output)
    n_out = results.count()
    t_extract = time.perf_counter() - t0

    write_lineage(results, args.lineage, attempt=args.attempt)
    if args.metrics:
        # convert rows carry the same url/status/t_sec/n_nodes/bytes_in
        # metric columns as extract rows, so one metrics schema serves
        # both modes
        metrics_table(results).write.mode("append").parquet(args.metrics)

    # skipped rows are lineage-recorded once: new skips anti-join the
    # already-recorded ones so repeated attempts do not grow the table
    n_skipped = skipped.count()
    if n_skipped:
        skipped_lineage = lineage_rows(
            skipped.select("url", F.lit("skipped").alias("status")), args.attempt
        )
        drop_recorded(skipped_lineage, spark, args.lineage, "skipped").write.mode(
            "append"
        ).parquet(args.lineage)

    n_fail = results.filter(F.col("status") == "failure").count()
    results.unpersist()
    return {
        "n_extracted": n_out,
        "n_failed": n_fail,
        "n_skipped": n_skipped,
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
