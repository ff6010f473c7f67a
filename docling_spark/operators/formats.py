"""Format detection + limits gate (sources layer, S2/S3 in SURVEY.md §2.1).

Behavioral port of the reference's ``_guess_format`` content sniffers
(/root/reference/docling/datamodel/document.py:280-466): magic bytes,
HTML/XML prefix regexes on the first 8 KB, doctype disambiguation, CSV
shape heuristic. Vectorized: one pandas UDF over Arrow batches, pure
function of the leading bytes.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType

from docling_spark.operators.batch import guard_zip_rereads

_HTML_RE = re.compile(
    rb"(?i)<\s*(!doctype\s+html|html|head|body|div|p|table|h1)\b"
)
_XML_RE = re.compile(rb"^\s*(<\?xml|<[a-zA-Z][\w:-]*[\s>])")
_PDF_MAGIC = b"%PDF-"
_MAGICS = {
    b"\x89PNG": "image",
    b"\xff\xd8\xff": "image",
    b"GIF8": "image",
    b"II*\x00": "image",  # TIFF little-endian
    b"MM\x00*": "image",  # TIFF big-endian
    b"PK\x03\x04": "office",  # docx/xlsx/pptx zip container
    b"\x1f\x8b": "gzip",
}


def _is_uspto(probe_lower: bytes) -> bool:
    """USPTO doctype keys across the four DTD generations
    (reference dispatch: uspto_backend.py:87-104). Deliberately no
    bare b"uspto" substring fallback: an HTML/JATS page merely
    *mentioning* USPTO must not be routed to the patent parser (which
    would turn an extractable page into a failure row)."""
    return (
        b"us-patent-application" in probe_lower
        or b"us-patent-grant" in probe_lower
        or b"us-grant-025" in probe_lower
        or (b"patent-application-publication" in probe_lower and b"pap-v1" in probe_lower)
    )


def sniff_format(head: bytes) -> str:
    """Classify a byte prefix (first 8 KB) into an input format."""
    if not head:
        return "empty"
    if head.startswith(_PDF_MAGIC):
        return "pdf"
    if head.startswith(b"PATN\n") or head.startswith(b"PATN\r\n"):
        return "xml_uspto"  # APS key/value grants (1976-2001)
    if head[:4] == b"RIFF" and head[8:12] == b"WEBP":
        return "image"
    if head[:4] == b"RIFF" and head[8:12] == b"WAVE":
        return "audio"
    if head.startswith(b"ID3") or (
        len(head) >= 3
        and head[0] == 0xFF
        and (head[1] & 0xE0) == 0xE0
        and not head.startswith(b"\xff\xfe")  # not a UTF-16LE BOM
        and (head[2] >> 4) not in (0x0, 0xF)  # plausible MPEG bitrate index
    ):
        return "audio"  # MP3: ID3v2 tag or MPEG frame sync (11 set bits)
    for magic, fmt in _MAGICS.items():
        if head.startswith(magic):
            return fmt
    probe = head[:8192]
    # an XML prolog wins over the HTML tag probe: JATS/USPTO documents
    # contain <body>/<p> tags that would otherwise sniff as HTML
    # (reference disambiguation: document.py:340-374)
    ls = probe.lstrip()
    if ls.startswith(b"<!DOCTYPE") and not ls[:64].lower().startswith(b"<!doctype html"):
        # non-HTML doctype: reference keys JATS/USPTO off the DTD name
        # (document.py:340-374)
        if b"JATS" in probe or b"NLM//DTD" in probe:
            return "xml_jats"
        if _is_uspto(probe.lower()):
            return "xml_uspto"
    if ls.startswith(b"<?xml"):
        if _is_uspto(probe.lower()):
            return "xml_uspto"
        if b"jats" in probe.lower() or b"<article" in probe.lower():
            return "xml_jats"
        if _HTML_RE.search(probe):
            return "html"
        return "xml"
    if _HTML_RE.search(probe):
        return "html"
    if _XML_RE.match(probe):
        if _is_uspto(probe.lower()):
            return "xml_uspto"
        if b"jats" in probe.lower() or b"<article" in probe.lower():
            return "xml_jats"
        return "xml"
    if ls.startswith(b"{") and b'"schema_name"' in probe and b"DoclingDocument" in probe:
        return "json_docling"
    # CSV shape heuristic (reference: csv.Sniffer, document.py:439-466):
    # >= 2 lines whose QUOTE-AWARE parse yields a consistent field count
    # — raw delimiter counting breaks on quoted cells ("Lozano, Dr")
    try:
        text = probe.decode("utf-8", errors="strict")
    except UnicodeDecodeError:
        return "binary"
    lines = [ln for ln in text.splitlines() if ln.strip()][:10]
    if len(lines) >= 2:
        import csv as _csv
        import io as _io

        # drop a possibly-truncated last line (probe is an 8 KB prefix)
        sample = lines[:-1] if len(lines) > 2 else lines
        for delim in (",", ";", "\t", "|"):
            try:
                parsed = list(_csv.reader(_io.StringIO("\n".join(sample)), delimiter=delim))
            except _csv.Error:
                continue
            counts = {len(r) for r in parsed}
            if len(counts) == 1 and counts.pop() >= 2:
                return "csv"
    return "text"


def office_subformat(payload: bytes) -> str:
    """docx/xlsx/pptx from the OOXML container's member names
    (reference: format routing document_converter.py:131-198 keyed on
    python-docx/pptx/openpyxl open success; here the zip directory is
    authoritative and needs no parse)."""
    import io
    import zipfile

    try:
        names = zipfile.ZipFile(io.BytesIO(payload)).namelist()
    except zipfile.BadZipFile:
        return "zip"
    if any(n.startswith("word/") for n in names):
        return "docx"
    if any(n.startswith("xl/") for n in names):
        return "xlsx"
    if any(n.startswith("ppt/") for n in names):
        return "pptx"
    return "zip"


def with_format(df: DataFrame) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(StringType())
    def detect(payloads):
        guard_zip_rereads()
        return payloads.map(lambda b: sniff_format(bytes(b) if b is not None else b""))

    # Truncate to the 8 KB sniff window JVM-side (F.substring on binary)
    # so only the prefix crosses Arrow into Python — on multi-MB PDFs
    # this is a multiple-x saving on the serialization for this stage.
    return df.withColumn("fmt", detect(F.substring(F.col("html"), 1, 8192)))


def format_rollup(df: DataFrame) -> DataFrame:
    return (
        with_format(df)
        .groupBy("fmt")
        .agg(F.count("*").alias("n_docs"), F.sum(F.length("html")).alias("total_bytes"))
        .orderBy("fmt")
    )


LIMIT_BYTES = 64 << 20  # default of limits_gate, convert_any and --limit-bytes


def limits_gate(
    df: DataFrame, binary_col: str = "html", max_bytes: int = LIMIT_BYTES
) -> DataFrame:
    """S3 limits gate: oversized rows become status='skipped' rows, not
    dropped (reference: document.py:116-181, errors-as-data)."""
    return df.withColumn(
        "gate_status",
        F.when(F.length(binary_col) > max_bytes, F.lit("skipped")).otherwise(
            F.lit("accepted")
        ),
    )
