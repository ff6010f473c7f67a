"""The one batch driver under every per-document operator.

The paper maps each docling stage to one Spark primitive: an
Arrow-batched ``mapInPandas`` over url-hash partitions, with errors kept
as rows. This module is that primitive, written once; operators only
choose a kernel, a failure-row template and an output schema.

* **partitioning** — ``url_hash`` spreads hot hosts and decorrelates
  neighboring crawl records with ``repartition(P, xxhash64(key))``; P
  defaults to ``spark.sql.shuffle.partitions``;
* **errors as data** — per-document failures (recursion bombs, garbage
  bytes) become ``status='failure'`` rows with the error message, never
  task failures (reference semantics: raises_on_error=False,
  document_converter.py:264-279);
* **metrics as data** — per-doc wall time and byte counts are ordinary
  columns, aggregated into a metrics table downstream
  (reference: utils/profiling.py TimeRecorder).
"""

from __future__ import annotations

import sys
import time

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

# DOM and layout kernels recurse once per nesting level: a 3000-deep
# crawl page must end as a row, not as a RecursionError
KERNEL_RECURSION_LIMIT = 20000


def raise_recursion_limit() -> None:
    if sys.getrecursionlimit() < KERNEL_RECURSION_LIMIT:
        sys.setrecursionlimit(KERNEL_RECURSION_LIMIT)


def error_text(e: BaseException) -> str:
    return f"{type(e).__name__}: {e}"[:500]


def _failure_row(failure: dict, e: BaseException, payload) -> dict:
    return {
        **failure,
        "status": "failure",
        "error": error_text(e),
        "bytes_in": len(payload) if payload is not None else 0,
    }


def guarded(kernel, failure: dict, url, payload):
    """``kernel(url, payload)`` for one document; never raises.

    A dict result gets ``t_sec``; a list result (one row per page) is
    returned as is. On an exception the result is the operator's
    ``failure`` template with status, error, bytes_in and t_sec set."""
    raise_recursion_limit()
    t0 = time.perf_counter()
    try:
        out = kernel(url, payload)
    except Exception as e:  # noqa: BLE001 — errors become data
        out = _failure_row(failure, e, payload)
    if isinstance(out, dict):
        out["t_sec"] = time.perf_counter() - t0
    return out


def until_error(produce, *args) -> tuple[list, Exception | None]:
    """The items ``produce(*args)`` yields before it raises, and what it
    raised (None when it runs out).

    The one rule for a document that breaks partway: what came before
    the failure stands. A PDF keeps the pages parsed before the broken
    one, and a row kernel keeps the rows it yielded."""
    kept = []
    try:
        for item in produce(*args):
            kept.append(item)
    except Exception as e:  # noqa: BLE001 — the items before it stand
        return kept, e
    return kept, None


def per_page(kernel, failure: dict):
    """per_doc for kernels that emit many rows per document (pages,
    chunks). Rows a generator kernel yields before an exception are kept
    (``until_error``) and the failure adds one row, so every url keeps a
    status row and a PDF that breaks on a later page assembles to
    partial_success."""

    def per_doc(url, payload):
        raise_recursion_limit()
        rows, e = until_error(kernel, url, payload)
        if e is None:
            return rows
        return [*rows, {**_failure_row(failure, e, payload), "url": url}]

    return per_doc


def partitions(df: DataFrame, n: int | None = None) -> int:
    """``n``, defaulting to the session's ``spark.sql.shuffle.partitions``."""
    if n is None:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return n


def url_hash(df: DataFrame, cols: list[str], n: int | None = None) -> DataFrame:
    """Select ``cols`` and hash-partition on the first (the document
    key: url, or media_id for media) into ``n`` partitions."""
    return df.select(*cols).repartition(partitions(df, n), F.xxhash64(cols[0]))


def map_docs(
    df: DataFrame, per_doc, schema: StructType, carry: tuple[str, ...] = ()
) -> DataFrame:
    """The Arrow batch loop: every input row becomes
    ``per_doc(*row) -> list[dict]``, framed in ``schema`` order.

    Columns named in ``carry`` pass through column-wise instead of being
    boxed per row: ``per_doc`` does not see them, and must then return
    exactly one row per input row."""
    cols = [c for c in df.columns if c not in carry]
    names = schema.fieldNames()

    def run(batches):
        import pandas as pd

        raise_recursion_limit()
        for pdf in batches:
            rows = []
            for row in zip(*(pdf[c] for c in cols)):
                rows.extend(per_doc(*row))
            out = pd.DataFrame(rows, columns=names)
            for c in carry:
                out[c] = pdf[c].values
            yield out

    return df.mapInPandas(run, schema)
