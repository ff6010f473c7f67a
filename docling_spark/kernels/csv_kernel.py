"""CSV backend kernel (B2): csv bytes -> one-table Doc.

Behavioral port of /root/reference/docling/backend/csv_backend.py:52-125:
dialect sniffed from the first line over delimiters ``,;\\t|:``; strict
csv parse; num_cols = max row length; every cell is a 1x1 TableCell;
first row cells are column headers.
"""

from __future__ import annotations

import csv
import io

from .doc_model import Doc, TableDataIR


class CsvError(Exception):
    pass


_DELIMS = ",;\t|:"


def parse_csv(data: bytes, name: str = "doc") -> Doc:
    try:
        text = data.decode("utf-8-sig")
    except UnicodeDecodeError as e:
        raise CsvError(f"not utf-8: {e}") from e
    if not text.strip():
        raise CsvError("empty csv")
    head = text.splitlines()[0] if text.splitlines() else ""
    try:
        dialect = csv.Sniffer().sniff(head, _DELIMS)
    except csv.Error as e:
        raise CsvError(f"cannot sniff dialect: {e}") from e
    if dialect.delimiter not in set(_DELIMS):
        raise CsvError(f"unknown delimiter {dialect.delimiter!r}")
    try:
        rows = list(csv.reader(io.StringIO(text), dialect=dialect, strict=True))
    except csv.Error as e:
        raise CsvError(f"parse error: {e}") from e

    doc = Doc(name)
    if rows:
        doc.add_table(TableDataIR.from_rows(rows))
    return doc
