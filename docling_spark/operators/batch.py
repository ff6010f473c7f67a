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
  (reference: utils/profiling.py TimeRecorder);
* **per-task overhead** — ``guard_zip_rereads`` keeps the worker from
  re-reading every zip on its ``sys.path`` at the start of each task.
"""

from __future__ import annotations

import functools
import os
import sys
import time
import zipimport

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

# DOM and layout kernels recurse once per nesting level: a 3000-deep
# crawl page must end as a row, not as a RecursionError
KERNEL_RECURSION_LIMIT = 20000


def raise_recursion_limit() -> None:
    if sys.getrecursionlimit() < KERNEL_RECURSION_LIMIT:
        sys.setrecursionlimit(KERNEL_RECURSION_LIMIT)


def _zip_stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _stamp_read(importer, stamp) -> None:
    # a failed read left no directory: read it again next time
    read = importer.archive in zipimport._zip_directory_cache
    importer._read_stamp = stamp if read else None


def guard_zip_rereads() -> None:
    """Re-read a zip archive on ``sys.path`` only when it changed on disk.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task. On CPython 3.11 each ``zipimporter`` then re-parses
    its archive's whole directory in pure Python. A reused worker holds
    16 of them (pyspark.zip under 12 package paths, py4j and the
    spark-core jar twice each): 0.1-0.3 s per task on 4 cores, outside
    the UDF. Later CPython releases make this invalidation lazy.

    The wrapped ``invalidate_caches`` re-reads an archive only when its
    ``(st_mtime_ns, st_size)`` differs from the stamp taken at that
    importer's last read, or when it cannot be stat'ed. A new archive or
    directory on the path still gets a new importer, so a file added
    with ``addPyFile`` imports as before. The importers already cached
    are stamped at install: this task's setup has just read them. The
    first task of a worker still pays once. Installed once per process;
    a second call does nothing."""
    cls = zipimport.zipimporter
    if hasattr(cls.invalidate_caches, "__wrapped__"):
        return
    reread = cls.invalidate_caches

    @functools.wraps(reread)
    def invalidate_caches(self):
        stamp = _zip_stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            _stamp_read(self, stamp)

    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            _stamp_read(finder, _zip_stamp(finder.archive))
    cls.invalidate_caches = invalidate_caches


def error_text(e: BaseException) -> str:
    return f"{type(e).__name__}: {e}"[:500]


def _failure_row(failure: dict, e: BaseException, payload) -> dict:
    return {
        **failure,
        "status": "failure",
        "error": error_text(e),
        "bytes_in": len(payload) if payload is not None else 0,
    }


def guarded(kernel, failure: dict, url, payload) -> dict:
    """``kernel(url, payload)`` for one document, a dict row; never
    raises. The row gets ``t_sec``. On an exception the row is the
    operator's ``failure`` template with status, error, bytes_in and
    t_sec set."""
    raise_recursion_limit()
    t0 = time.perf_counter()
    try:
        out = kernel(url, payload)
    except Exception as e:  # noqa: BLE001 — errors become data
        out = _failure_row(failure, e, payload)
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
    status row and a PDF that breaks on a later page keeps the rows of
    the pages before it."""

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
        guard_zip_rereads()
        for pdf in batches:
            rows = []
            for row in zip(*(pdf[c] for c in cols)):
                rows.extend(per_doc(*row))
            out = pd.DataFrame(rows, columns=names)
            for c in carry:
                out[c] = pdf[c].values
            yield out

    return df.mapInPandas(run, schema)
