"""North-rule launch surface: the job must run via spark-submit
--py-files (BASELINE.json north_rule), write results + lineage +
metrics tables, and resume idempotently from lineage.

Reference contrast: docling's CLI (/root/reference/docling/cli/main.py)
is a single-process driver with no resume; ConversionStatus lives only
for the run (datamodel/base_models.py:48-54).
"""

import json
import os
import subprocess
import sys
from collections import Counter
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _spark_submit() -> str:
    import pyspark

    return os.path.join(pyspark.__path__[0], "bin", "spark-submit")


def _run_job(zip_path, input_dir, out, lineage, metrics=None, resume=False,
             attempt=0, router=False, split_big=None):
    cmd = [
        _spark_submit(),
        "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.ui.enabled=false",
        "--py-files", str(zip_path),
        str(REPO / "jobs" / "extract_job.py"),
        "--input", str(input_dir),
        "--output", str(out),
        "--lineage", str(lineage),
        "--partitions", "8",
        "--attempt", str(attempt),
    ]
    if metrics:
        cmd += ["--metrics", str(metrics)]
    if resume:
        cmd += ["--resume"]
    if router:
        cmd += ["--router"]
    if split_big is not None:
        cmd += ["--split-big-docs", "--big-doc-bytes", str(split_big)]
    proc = subprocess.run(
        cmd, capture_output=True, text=True, timeout=600, cwd=str(REPO)
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    # a missing lineage path is probed, never read: after the observed
    # results write, a failed read is logged as a listener ERROR
    for noise in ("Listener threw an exception", "PATH_NOT_FOUND"):
        assert noise not in proc.stderr, proc.stderr[-4000:]
    stats_line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(stats_line)


STATUSES = ("success", "partial_success", "failure", "skipped")


def _rows(spark, path) -> Counter:
    """(url, status) -> rows in a parquet table; empty when it does not
    exist yet."""
    if not Path(path).exists():
        return Counter()
    return Counter((r.url, r.status) for r in spark.read.parquet(str(path)).collect())


def _reconciled(spark, input_dir, out, lineage, resume, run_attempt) -> dict:
    """Run one attempt and check its accounting against the tables:
    rows_in == resumed + success + partial_success + failure + skipped,
    with ``rows_in`` counted from the input and ``resumed`` from the
    success urls lineage held before a ``--resume`` attempt. Every url
    that reaches the gate ends as exactly one new results row."""
    urls = [r.url for r in spark.read.parquet(str(input_dir)).select("url").collect()]
    done = {u for u, status in _rows(spark, lineage) if status == "success"}
    resumed = done if resume else set()
    before = _rows(spark, out)
    stats = run_attempt()
    new = _rows(spark, out) - before
    by_status = Counter(status for _, status in new.elements())
    assert set(by_status) <= set(STATUSES), by_status
    assert len(urls) == len(resumed) + sum(by_status[s] for s in STATUSES)
    assert sorted(u for u, _ in new.elements()) == sorted(u for u in urls if u not in resumed)
    return stats


@pytest.fixture(scope="module")
def pages_input(spark, tmp_path_factory):
    from docling_spark.sources.pages import synthesize_pages

    path = tmp_path_factory.mktemp("pages") / "pages"
    synthesize_pages(spark, "/root/testdata/sf0.001", n_pages=48).write.mode(
        "overwrite"
    ).parquet(str(path))
    return path


def test_spark_submit_pyfiles_and_resume(spark, pages_input, tmp_path):
    zip_path = tmp_path / "docling_spark.zip"
    subprocess.run(
        [sys.executable, str(REPO / "jobs" / "package_pyfiles.py"), str(zip_path)],
        check=True,
    )
    out, lineage, metrics = tmp_path / "out", tmp_path / "lineage", tmp_path / "metrics"

    stats = _reconciled(
        spark, pages_input, out, lineage, False,
        lambda: _run_job(zip_path, pages_input, out, lineage, metrics=metrics),
    )
    assert stats["n_extracted"] == 48
    assert stats["n_failed"] == 0

    res = spark.read.parquet(str(out))
    assert res.count() == 48
    assert res.filter(res.status == "success").count() == 48
    lin = spark.read.parquet(str(lineage))
    assert lin.select("url").distinct().count() == 48
    met = spark.read.parquet(str(metrics))
    assert met.count() == 48
    assert set(met.columns) >= {"url", "stage", "t_sec", "bytes_in"}

    # resume: second attempt must process zero documents
    stats2 = _reconciled(
        spark, pages_input, out, lineage, True,
        lambda: _run_job(zip_path, pages_input, out, lineage, resume=True, attempt=1),
    )
    assert stats2["n_extracted"] == 0
    # results table unchanged (append of empty frame)
    assert spark.read.parquet(str(out)).count() == 48


def test_spark_submit_routes_mixed_formats(spark, tmp_path):
    """The job routes every input by its format through the SAME
    spark-submit surface: a mixed html/pdf crawl converts with
    per-format rows, lineage recorded, resume processes zero docs. The
    retired --router flag is still accepted and changes nothing."""
    from pyspark.sql import functions as F

    from docling_spark.sources.pages import synthesize_pages
    from docling_spark.sources.pdfgen import synthesize_pdf_pages

    zip_path = tmp_path / "docling_spark.zip"
    subprocess.run(
        [sys.executable, str(REPO / "jobs" / "package_pyfiles.py"), str(zip_path)],
        check=True,
    )
    in_dir = tmp_path / "pages"
    html = synthesize_pages(spark, "/root/testdata/sf0.001", n_pages=20)
    pdfs = synthesize_pdf_pages(spark, "/root/testdata/sf0.001", n_docs=10).select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.col("content").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )
    html.unionByName(pdfs).write.mode("overwrite").parquet(str(in_dir))

    out, lineage = tmp_path / "out", tmp_path / "lineage"
    stats = _run_job(zip_path, in_dir, out, lineage)
    assert stats["n_extracted"] == 30 and stats["n_failed"] == 0

    res = spark.read.parquet(str(out))
    fmts = {r["fmt"]: r["n"] for r in
            res.groupBy("fmt").agg(F.count("*").alias("n")).collect()}
    assert fmts.get("html") == 20 and fmts.get("pdf") == 10

    stats2 = _run_job(zip_path, in_dir, out, lineage, router=True,
                      resume=True, attempt=1)
    assert stats2["n_extracted"] == 0


def test_spark_submit_split_big_docs(spark, pages_input, tmp_path):
    """north-rule "salted handling of ... oversized documents" through
    the production launch surface: --split-big-docs routes the planted
    ~1 MB rows (sources/pages.py %997 skew tail) to their own
    round-robin tasks, and the results are byte-identical to a run
    without the flag."""
    zip_path = tmp_path / "docling_spark.zip"
    subprocess.run(
        [sys.executable, str(REPO / "jobs" / "package_pyfiles.py"), str(zip_path)],
        check=True,
    )
    out_a, lin_a = tmp_path / "out_a", tmp_path / "lin_a"
    out_b, lin_b = tmp_path / "out_b", tmp_path / "lin_b"

    stats_a = _run_job(zip_path, pages_input, out_a, lin_a)
    stats_b = _run_job(zip_path, pages_input, out_b, lin_b,
                       split_big=64 << 10)
    assert stats_a["n_extracted"] == stats_b["n_extracted"] == 48
    assert stats_b["n_failed"] == 0

    cols = ["url", "status", "md", "n_spans", "bytes_in"]
    a = sorted(map(tuple, spark.read.parquet(str(out_a)).select(*cols).collect()))
    b = sorted(map(tuple, spark.read.parquet(str(out_b)).select(*cols).collect()))
    assert a == b
    # the corpus really exercised the big branch: planted ~1 MB row +
    # the 20% ~80 KB band both clear the 64 KiB threshold
    n_big = sum(1 for r in b if r[4] >= (64 << 10))
    assert n_big >= 2


def test_skipped_urls_recorded_once_and_unskipped_by_a_raised_limit(spark, tmp_path):
    """In-process ``extract_job.run`` over three resumed attempts: an
    oversized url ends as a skipped results row, and no metrics row, on
    every attempt that gates it, is lineage-recorded as ``skipped`` exactly once across
    repeated attempts, and a raised --limit-bytes extracts it."""
    from pyspark.sql import functions as F

    from docling_spark.sources.pages import page_url, render_page
    from jobs import extract_job

    limit = 20_000
    pages = [(page_url(i), render_page(i, "word " * (40 + 30 * i), "en")) for i in range(1, 9)]
    big = {u for u, b in pages if len(b) > limit}
    assert 0 < len(big) < len(pages)
    in_dir, out, lineage, metrics = (
        str(tmp_path / d) for d in ("pages", "out", "lineage", "metrics")
    )
    crawled = F.timestamp_seconds(F.lit(1_700_000_000))
    spark.createDataFrame(pages, "url string, html binary").withColumn(
        "warc_ts", crawled
    ).write.parquet(in_dir)
    (warc_ts,) = spark.range(1).select(crawled).first()

    def attempt(n, limit_bytes):
        args = extract_job.build_parser().parse_args(
            ["--input", in_dir, "--output", out, "--lineage", lineage, "--partitions", "4",
             "--metrics", metrics, "--attempt", str(n), "--resume",
             "--limit-bytes", str(limit_bytes)]
        )
        return _reconciled(spark, in_dir, out, lineage, True, lambda: extract_job.run(spark, args))

    first, second = attempt(0, limit), attempt(1, limit)
    assert first["n_skipped"] == second["n_skipped"] == len(big)
    assert (first["n_extracted"], second["n_extracted"]) == (len(pages) - len(big), 0)
    skips = spark.read.parquet(lineage).filter(F.col("status") == "skipped")
    assert sorted(r.url for r in skips.collect()) == sorted(big)

    # the gate's rows: never sniffed, so no fmt; the error names the option
    gate_rows = spark.read.parquet(out).filter(F.col("url").isin(list(big))).collect()
    assert len(gate_rows) == 2 * len(big)
    payloads = dict(pages)
    for r in gate_rows:
        assert (r.status, r.fmt, r.md, r.warc_ts) == ("skipped", None, None, warc_ts)
        assert "--limit-bytes" in r.error
        assert r.bytes_in == len(payloads[r.url])
    # nothing was extracted from them, so they have no metrics rows
    met = [r.url for r in spark.read.parquet(metrics).collect()]
    assert sorted(met) == sorted(u for u, _ in pages if u not in big)

    stats = attempt(2, 1 << 20)
    assert stats["n_extracted"] == len(big) and stats["n_skipped"] == 0
    third = spark.read.parquet(out).filter(F.col("status") == "success")
    assert {r.url for r in third.collect()} == {u for u, _ in pages}


def test_non_html_bytes_end_as_typed_rows(spark, tmp_path):
    """Bytes that are not HTML go through the job's default operator and
    end as a row typed by their format, never as a success row carrying
    the raw bytes as markdown."""
    from pyspark.sql import functions as F

    from jobs import extract_job
    from tests.test_operator_pin import HOSTILE

    hostile = dict(HOSTILE)
    picked = [(u, hostile[u]) for u in (
        "https://hostile.example.com/random", "https://hostile.example.com/broken.pdf"
    )]
    in_dir, out, lineage, metrics = (
        str(tmp_path / d) for d in ("pages", "out", "lineage", "metrics")
    )
    spark.createDataFrame(picked, "url string, html binary").withColumn(
        "warc_ts", F.lit(None).cast("timestamp")
    ).write.parquet(in_dir)
    args = extract_job.build_parser().parse_args(
        ["--input", in_dir, "--output", out, "--lineage", lineage, "--partitions", "2"]
    )
    extract_job.run(spark, args)
    rows = {r.url: r for r in spark.read.parquet(out).collect()}
    random_row = rows["https://hostile.example.com/random"]
    broken_row = rows["https://hostile.example.com/broken.pdf"]
    assert (random_row.fmt, random_row.status) == ("binary", "skipped")
    assert (broken_row.fmt, broken_row.status) == ("pdf", "failure")
    assert random_row.md is None and broken_row.md is None
