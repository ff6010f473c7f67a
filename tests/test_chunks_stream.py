"""Chunkers (E6) and the Structured Streaming front-end."""

import pytest
from pyspark.sql import functions as F

from docling_spark.kernels.chunker import (
    contextualize,
    hierarchical_chunks,
    hybrid_chunks,
)
from docling_spark.kernels.html_kernel import HtmlExtractor

HTML = (
    b"<html><body><h1>Doc Title</h1><p>intro paragraph here</p>"
    b"<h2>Methods</h2><p>method text one</p><p>method text two</p>"
    b"<ul><li>alpha</li><li>beta</li></ul>"
    b"<table><tr><th>a</th><th>b</th></tr><tr><td>1</td><td>2</td></tr></table>"
    b"<pre>code line</pre></body></html>"
)


def test_hierarchical_chunks_shape():
    doc = HtmlExtractor().convert(HTML)
    chunks = hierarchical_chunks(doc)
    kinds = [c.kind for c in chunks]
    assert kinds.count("list") == 1
    assert kinds.count("table") == 1
    assert kinds.count("code") == 1
    list_chunk = next(c for c in chunks if c.kind == "list")
    assert list_chunk.text == "alpha\nbeta"
    assert list_chunk.n_items == 2
    # heading path metadata: chunks under Methods carry [title, Methods]
    method_chunk = next(c for c in chunks if c.text.startswith("method text one"))
    assert method_chunk.headings == ["Doc Title", "Methods"]
    assert contextualize(method_chunk).startswith("Doc Title\nMethods\n")


def test_hierarchical_chunks_nested_list_items():
    # nested list groups live under LIST_ITEM nodes; their items must
    # land in the list chunk, not be silently dropped
    doc = HtmlExtractor().convert(
        b"<html><body><ul><li>outer1<ul><li>inner1</li><li>inner2</li></ul>"
        b"</li><li>outer2</li></ul></body></html>"
    )
    chunks = hierarchical_chunks(doc)
    lists = [c for c in chunks if c.kind == "list"]
    assert len(lists) == 1
    all_text = lists[0].text
    for item in ("outer1", "inner1", "inner2", "outer2"):
        assert item in all_text, f"{item} missing from list chunk"
    assert lists[0].n_items == 4


def test_hybrid_chunks_split_and_merge():
    long_para = " ".join(f"w{i}" for i in range(300))
    doc = HtmlExtractor().convert(
        f"<html><body><h1>T</h1><p>{long_para}</p><p>tiny one</p><p>tiny two</p></body></html>".encode()
    )
    chunks = hybrid_chunks(doc, max_tokens=64)
    # oversized paragraph split into <= budget windows
    assert all(len(c.text.split()) <= 64 for c in chunks)
    big_parts = [c for c in chunks if c.text.startswith("w")]
    assert len(big_parts) >= 5
    # undersized peers with the same heading path merged
    merged = [c for c in chunks if "tiny one" in c.text]
    assert merged and "tiny two" in merged[0].text


def test_chunk_pages_spark(spark):
    from docling_spark.operators.chunks import chunk_pages, chunk_stats
    from docling_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, "/root/testdata/sf0.001", n_pages=60)
    ch = chunk_pages(pages, num_partitions=8).cache()
    # context-aware budget: contextualized tokens (headings + body) stay
    # within max_tokens, except when the heading path alone eats the
    # budget and the splitter falls back to its 8-token floor.
    over_budget = ch.filter(
        (F.size(F.split(F.col("context_text"), r"\s+")) > 128)
        & (F.col("n_tokens") > 8)
    ).count()
    assert over_budget == 0
    n = ch.count()
    assert n > 60  # multiple chunks per page
    stats = {r["kind"]: r["n_chunks"] for r in chunk_stats(ch).collect()}
    assert stats.get("text", 0) > 0
    assert ch.select("url").distinct().count() == 60


def test_streaming_available_now_and_incremental(spark, tmp_path):
    """Streaming = same kernel + checkpointed incremental resume: first
    drain processes the initial files; a second drain after new files
    arrive processes ONLY the new ones."""
    from docling_spark.operators.convert import convert_any
    from docling_spark.sources.pages import synthesize_pages
    from docling_spark.streaming.stream import drain, read_pages_stream

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    synthesize_pages(spark, "/root/testdata/sf0.001", n_pages=30).coalesce(
        2
    ).write.mode("append").parquet(in_dir)
    assert drain(convert_any(read_pages_stream(spark, in_dir), num_partitions=4), out_dir, ckpt)
    first = spark.read.parquet(out_dir)
    assert first.count() == 30
    assert first.filter(first.status == "success").count() == 30

    # new "crawl drop": 20 more pages land as new files
    more = synthesize_pages(spark, "/root/testdata/sf0.001", n_pages=50).filter(
        "url is not null"
    )
    more.exceptAll(
        synthesize_pages(spark, "/root/testdata/sf0.001", n_pages=30)
    ).coalesce(1).write.mode("append").parquet(in_dir)
    assert drain(convert_any(read_pages_stream(spark, in_dir), num_partitions=4), out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == 50


def test_windowed_event_rollup_streaming_matches_batch(spark, tmp_path):
    """Watermarked tumbling-window aggregation: the streaming run over
    the events files (append mode, windows finalized by the watermark)
    must agree with the batch plan on every finalized window."""
    from docling_spark.streaming.stream import drain, windowed_event_rollup

    in_dir = str(tmp_path / "ev_in")
    out_dir = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ckpt")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.write.parquet(in_dir)

    events = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(in_dir)
    assert drain(windowed_event_rollup(events), out_dir, ckpt)
    streamed = {
        (r.win_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        (r.win_start, r.event_type): (r.n_events, r.sum_value)
        for r in windowed_event_rollup(ev, window="1 hour").collect()
    }
    # streaming append-mode emits only watermark-finalized windows: a
    # subset of batch, identical values where emitted, and non-trivial
    assert streamed, "no finalized windows emitted"
    for key, val in streamed.items():
        assert batch[key] == val, key
    assert len(streamed) >= len(batch) - 8  # only the tail can be open


def test_streaming_convert_mixed_formats(spark, tmp_path):
    """The unified router under Structured Streaming: a crawl drop of
    mixed html/csv/pdf bytes converts with the same per-format rows as
    the batch path, and a second drain is incremental."""
    from docling_spark.operators.convert import convert_any
    from docling_spark.sources.pages import synthesize_pages
    from docling_spark.sources.pdfgen import synthesize_pdf_pages
    from docling_spark.streaming.stream import drain, read_pages_stream
    from pyspark.sql import functions as F

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    html = synthesize_pages(spark, "/root/testdata/sf0.001", n_pages=12).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    pdfs = (
        synthesize_pdf_pages(spark, "/root/testdata/sf0.001", n_docs=6)
        .select(
            "url",
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.col("content").alias("html"),
            F.lit(None).cast("string").alias("text"),
            F.lit("en").alias("lang"),
        )
    )
    html.unionByName(pdfs).coalesce(2).write.mode("append").parquet(in_dir)
    assert drain(convert_any(read_pages_stream(spark, in_dir), num_partitions=4), out_dir, ckpt)
    out = spark.read.parquet(out_dir)
    by_fmt = {r["fmt"]: r["n"] for r in out.groupBy("fmt").agg(F.count("*").alias("n")).collect()}
    assert by_fmt.get("html") == 12 and by_fmt.get("pdf") == 6
    assert out.filter("status = 'success'").count() == 18

    # incremental: one more file, only it converts
    more = synthesize_pages(spark, "/root/testdata/sf0.001", n_pages=20).select(
        "url", "warc_ts", "html", "text", "lang"
    ).limit(20).exceptAll(html)
    more.coalesce(1).write.mode("append").parquet(in_dir)
    assert drain(convert_any(read_pages_stream(spark, in_dir), num_partitions=4), out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == 26


def test_chunk_pages_router_mixed_formats(spark):
    """chunk_pages chunks a MIXED crawl (html + pdf) in one pass: every
    doc yields chunks, budgets hold, and pdf chunks carry pdf headings."""
    from pyspark.sql import functions as F

    from docling_spark.operators.chunks import chunk_pages
    from docling_spark.sources.pages import synthesize_pages
    from docling_spark.sources.pdfgen import synthesize_pdf_pages

    html = synthesize_pages(spark, "/root/testdata/sf0.001", n_pages=8).select(
        "url", "html"
    )
    pdfs = synthesize_pdf_pages(spark, "/root/testdata/sf0.001", n_docs=4).select(
        "url", F.col("content").alias("html")
    )
    ch = chunk_pages(html.unionByName(pdfs), max_tokens=64).cache()
    assert ch.select("url").distinct().count() == 12
    assert ch.agg(F.max("n_tokens")).collect()[0][0] <= 64
    pdf_chunks = ch.filter(F.col("url").contains("pdf.example.com"))
    assert pdf_chunks.count() > 0
    assert pdf_chunks.filter(F.size("headings") > 0).count() > 0


def test_chunk_pages_keeps_a_status_row_for_bad_inputs(spark):
    """Every input ends as a row with a status: inputs the router skips
    or that fail to parse keep one chunk-less row with the router's or
    the driver's error; parseable pages chunk as usual."""
    from collections import defaultdict

    from docling_spark.operators.chunks import chunk_pages
    from tests.test_operator_pin import HOSTILE

    docs = [("https://www.example.com/doc.html", HTML), *HOSTILE]
    df = spark.createDataFrame(docs, "url string, html binary")
    by_url = defaultdict(list)
    for r in chunk_pages(df, max_tokens=64, num_partitions=2).collect():
        by_url[r.url].append(r)
    assert set(by_url) == {url for url, _ in docs}

    hostile = "https://hostile.example.com/{}".format
    for name, fmt in (("empty", "empty"), ("random", "binary")):
        (row,) = by_url[hostile(name)]
        assert (row.status, row.chunk_id) == ("skipped", None)
        assert row.error == f"unsupported format: {fmt}"
    (row,) = by_url[hostile("broken.pdf")]
    assert (row.status, row.chunk_id, row.text) == ("failure", None, None)
    assert row.error.startswith("PdfError: ")

    for url in ("https://www.example.com/doc.html", hostile("deep"), hostile("colspan")):
        rows = sorted(by_url[url], key=lambda r: r.chunk_id)
        assert {(r.status, r.error) for r in rows} == {("success", None)}
        assert [r.chunk_id for r in rows] == list(range(len(rows)))
    assert any("deep" in r.text for r in by_url[hostile("deep")])
