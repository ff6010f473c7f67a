"""Text-analysis operators over a documents/text corpus.

All hot-path logic is JVM-side (built-in ``pyspark.sql.functions``):
no Python UDFs, whole-stage-codegen friendly, and every operator has an
exact ANSI-SQL twin (see __spark_entry__.oracle_sql) so the DuckDB
oracle can verify values, not just row counts.

Operator families (webtext training-data pipeline):
* token counting (whitespace tokenizer + BPE-ish word/punct regex);
* quality scoring (length, punctuation ratio, stopword ratio,
  mean token length);
* language ID (marker-token heuristic over common stopwords);
* document fingerprinting (md5 full-text + length bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# marker stopwords per language for the n-gram/stopword language-ID
# heuristic (pure arithmetic => SQL-expressible in both engines)
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "les"),
    "es": ("el", "y", "los"),
}

# BPE-ish token pattern: word pieces or single punctuation marks
# (Spark SQL string literals eat single backslashes, hence the doubling
# inside expr() strings)
BPE_RE_SQL = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]"


def with_tokens(df: DataFrame) -> DataFrame:
    t = F.trim(F.col("text"))
    return df.withColumn(
        "n_tokens_ws",
        F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, "\\s+"))),
    ).withColumn(
        "n_tokens_bpe",
        F.size(F.expr(f"regexp_extract_all(trim(text), '{BPE_RE_SQL}', 0)")),
    )


def token_stats(df: DataFrame) -> DataFrame:
    """Per-language token statistics (oracle-checked)."""
    return (
        with_tokens(df)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens_ws").alias("sum_tokens_ws"),
            F.sum("n_tokens_bpe").alias("sum_tokens_bpe"),
            F.round(F.avg("n_tokens_ws"), 4).alias("avg_tokens_ws"),
        )
        .orderBy("lang")
    )


def quality_scores(df: DataFrame) -> DataFrame:
    """Per-document quality features + a composite keep/drop score
    (Gopher/C4-style cheap filters, all codegen'd)."""
    t = F.col("text")
    n_chars = F.length(t)
    n_ws_tokens = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(t), "\\s+"))
    )
    n_punct = F.length(t) - F.length(F.regexp_replace(t, "[^a-zA-Z0-9\\s]", ""))
    n_stop = F.size(
        F.expr("regexp_extract_all(text, '\\\\b(the|and|of|a|to|in)\\\\b', 0)")
    )
    out = (
        df.withColumn("n_chars_c", n_chars)
        .withColumn("n_tokens", n_ws_tokens)
        .withColumn(
            "punct_ratio",
            F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6),
        )
        .withColumn(
            "stopword_ratio",
            F.round(n_stop / F.greatest(n_ws_tokens, F.lit(1)), 6),
        )
        .withColumn(
            "mean_token_len",
            F.round(
                F.length(F.regexp_replace(t, "\\s+", ""))
                / F.greatest(n_ws_tokens, F.lit(1)),
                6,
            ),
        )
    )
    keep = (
        (F.col("n_tokens") >= 10)
        & (F.col("mean_token_len") >= 2)
        & (F.col("mean_token_len") <= 12)
        & (F.col("punct_ratio") <= 0.2)
    )
    return out.withColumn("keep", keep)


def quality_rollup(df: DataFrame) -> DataFrame:
    q = quality_scores(df)
    return (
        q.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("int")).alias("n_keep"),
            F.round(F.avg("punct_ratio"), 6).alias("avg_punct_ratio"),
            F.round(F.avg("stopword_ratio"), 6).alias("avg_stopword_ratio"),
        )
        .orderBy("lang")
    )


def language_id(df: DataFrame) -> DataFrame:
    """Heuristic language ID: argmax of marker-stopword hit counts, with
    a deterministic precedence order on ties ('en' > 'de' > 'fr' > 'es',
    'unk' when no marker hits)."""
    scores = {
        lang: F.size(
            F.expr(
                "regexp_extract_all(lower(text), "
                f"'\\\\b({'|'.join(markers)})\\\\b', 0)"
            )
        )
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.when(best == 0, F.lit("unk"))
    for lang in ("en", "de", "fr", "es"):
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return df.withColumn("pred_lang", pred)


def language_id_rollup(df: DataFrame) -> DataFrame:
    return (
        language_id(df)
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


def fingerprints(df: DataFrame) -> DataFrame:
    """Document fingerprints: md5 of the full text (exact-dup key) plus
    a coarse length bucket for blocking."""
    return df.select(
        "doc_id",
        F.md5(F.col("text")).alias("fp_md5"),
        F.floor(F.length("text") / 64).cast("long").alias("len_bucket"),
    )
