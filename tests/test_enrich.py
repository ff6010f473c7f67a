"""V6 enrichment driver: explode -> filter processable -> batch model
-> re-join (reference base_pipeline.py:70-92, base_model.py:125-186)."""

from pyspark.sql import functions as F

from docling_spark.operators import convert, enrich
from docling_spark.operators.enrich import classify_code_language


def test_classify_code_language_heuristic():
    assert classify_code_language("def f(x):\n    return x") == "python"
    assert classify_code_language("const x = () => 1;") == "javascript"
    assert classify_code_language("public static void main") == "java"
    assert classify_code_language("SELECT a FROM t GROUP BY a") == "sql"
    assert classify_code_language("#!/bin/sh\necho hi") == "shell"
    assert classify_code_language("#include <stdio.h>") == "c"
    assert classify_code_language("lorem ipsum") == "unknown"
    # deterministic: first rule wins on mixed content
    assert classify_code_language("import os  # select from") == "python"


def _results(spark):
    rows = [
        (
            "u1",
            b"<html><body><h1>T</h1><pre>def f():\n    import os</pre>"
            b"<p>prose</p><pre>SELECT a FROM t</pre></body></html>",
        ),
        ("u2", b"<html><body><p>no code here at all</p></body></html>"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary").withColumn(
        "warc_ts", F.current_timestamp()
    )
    return convert.convert_any(pages)


def test_enrich_spans_driver_and_writeback(spark):
    res = _results(spark)
    rel = enrich.enrich_code_language(res)
    got = {(r.url, r.node_id): r.enrichment for r in rel.collect()}
    # only code spans cross into the model; two code nodes on u1
    assert len(got) == 2
    assert sorted(got.values()) == ["python", "sql"]
    assert all(u == "u1" for (u, _) in got)

    # write-back keeps every doc, empty array where nothing processable
    out = enrich.attach_enrichments(res, rel)
    per_url = {r.url: r.enrichments for r in out.collect()}
    assert [e.enrichment for e in per_url["u1"]] == ["python", "sql"]
    assert per_url["u2"] == []
    # node ids point at real code spans of the doc
    span_ids = {
        s.node_id
        for r in res.filter(F.col("url") == "u1").collect()
        for s in r.spans
        if s.label == "code"
    }
    assert {e.node_id for e in per_url["u1"]} == span_ids


def test_enrich_plan_prunes_before_python(spark):
    """Only (url, txt, spans) reach the Python stage and the span
    filter sits below the explode — non-processable spans never cross
    Arrow."""
    res = _results(spark)
    plan = (
        enrich.enrich_code_language(res)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # the label filter runs inside the generator, below the explode
    assert "explode(filter(spans" in plan
    # column pruning: a 3-column Project sits between the extract UDF
    # and the span stage — md/status/etc never reach it
    lines = plan.splitlines()
    (proj_ix,) = [
        i
        for i, ln in enumerate(lines)
        if "Project" in ln and "txt#" in ln and "spans#" in ln
        and "snippet" not in ln
    ]
    assert "md" not in lines[proj_ix]
