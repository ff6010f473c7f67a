"""V6 enrichment driver: explode -> filter processable -> batch model.

The reference drives enrichment models (code/formula tagger, picture
classifier) by iterating every document item, keeping the processable
ones, and feeding them to the model in batches of
``elements_batch_size`` (/root/reference/docling/pipeline/
base_pipeline.py:70-92, /root/reference/docling/models/
base_model.py:125-186). The Spark shape of the same driver:

    results(url, txt, spans[node_id,label,start,end])
      -> posexplode(spans)                       (narrow)
      -> filter(label in processable)            (narrow, Catalyst
                                                  prunes md/txt early)
      -> mapInPandas(model)                      (Arrow batch = the
                                                  reference's element
                                                  batch)
      -> (url, node_id, label, enrichment)       (one row per span)

Only processable spans ever reach Python: on a crawl corpus code
blocks are a few percent of spans, so the model stage reads a few
percent of the data — the same economy the reference gets from
``is_processable`` gating (code_formula_model.py:131-155).

The concrete model here is a deterministic keyword heuristic standing
in for the CodeFormula language tagger (the reference parses the
model-emitted ``<_language_>`` tag, code_formula_model.py:156-205; no
torch in this sandbox). Swap ``classify_code_language`` for a real
per-executor model without touching the driver.
"""

from __future__ import annotations

import re
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from docling_spark.operators.batch import guard_zip_rereads

# ordered rules: first hit wins (deterministic; mirrors the reference's
# single-label tag). Keyword sets are disjoint enough for crawl code.
_LANG_RULES: list[tuple[str, tuple[str, ...]]] = [
    ("python", ("def ", "import ", "lambda ", "print(", "elif ")),
    ("javascript", ("function ", "const ", "=> ", "console.log", "var ")),
    ("java", ("public class", "public static", "System.out", "void ")),
    ("sql", ("select ", "insert into", "group by", "from ", "where ")),
    ("shell", ("#!/bin", "echo ", "grep ", "| ", "$(")),
    ("c", ("#include", "printf(", "int main", "->", "sizeof")),
]


def classify_code_language(code: str) -> str:
    low = code.lower()
    for lang, needles in _LANG_RULES:
        if any(n.lower() in low for n in needles):
            return lang
    return "unknown"


# the reference model emits "<_lang_>cleaned code"; this regex is the
# reference's own (code_formula_model.py:178, flags=DOTALL), pinned
# live against the executed reference source in
# tests/test_enrich_live_golden.py
_LANG_TAG_RE = re.compile(r"^<_([^_>]+)_>\s*(.*)", re.DOTALL)


def extract_code_language(input_string: str) -> tuple[str, str | None]:
    """(remainder, language) from a model output that may start with
    ``<_language_>`` — exact semantics of the reference's
    CodeFormulaModel._extract_code_language
    (code_formula_model.py:156-185)."""
    m = _LANG_TAG_RE.match(input_string)
    if m:
        return str(m.group(2)), str(m.group(1))
    return input_string, None


ENRICHMENT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("node_id", IntegerType()),
        StructField("label", StringType()),
        StructField("enrichment", StringType()),
    ]
)


def processable_spans(
    results: DataFrame, labels: tuple[str, ...]
) -> DataFrame:
    """(url, node_id, label, snippet) for spans whose label is
    processable. The filter runs before the explode output ever grows:
    Catalyst pushes the array filter into the generator, and only the
    (url, txt, spans) columns are read."""
    spans = results.select(
        "url",
        "txt",
        F.explode(
            F.filter("spans", lambda s: s["label"].isin(*labels))
        ).alias("s"),
    )
    return spans.select(
        "url",
        F.col("s.node_id").alias("node_id"),
        F.col("s.label").alias("label"),
        F.expr("substring(txt, s.start + 1, s.end - s.start)").alias(
            "snippet"
        ),
    )


def enrich_spans(
    results: DataFrame,
    labels: tuple[str, ...],
    model_fn: Callable[[pd.Series], pd.Series],
) -> DataFrame:
    """Generic V6 driver -> (url, node_id, label, enrichment) relation.

    ``model_fn`` maps a pandas Series of snippets to a Series of
    enrichment strings; it runs once per Arrow batch (the element
    batch), so per-executor model state amortizes exactly like the
    reference's pipeline cache (S6)."""
    spans = processable_spans(results, labels)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        guard_zip_rereads()
        for pdf in batches:
            out = pdf[["url", "node_id", "label"]].copy()
            out["enrichment"] = model_fn(pdf["snippet"]).astype(str)
            yield out

    return spans.mapInPandas(run, schema=ENRICHMENT_SCHEMA)


def enrich_code_language(results: DataFrame) -> DataFrame:
    """The shipped concrete enrichment: tag every code span with its
    heuristic language (stands in for V4's CodeFormula tagger).

    The stand-in predictor emits the reference model's wire format —
    a ``<_language_>`` prefix ahead of the code — and the pipeline
    parses it back with the reference's own regex semantics
    (extract_code_language), so swapping in the real model is a
    one-line change and the parse stage carries live-golden coverage
    (tests/test_enrich_live_golden.py)."""

    def model_fn(snippets: pd.Series) -> pd.Series:
        tagged = snippets.map(
            lambda code: f"<_{classify_code_language(code)}_> {code}"
        )
        return tagged.map(lambda out: extract_code_language(out)[1] or "unknown")

    return enrich_spans(results, labels=("code",), model_fn=model_fn)
