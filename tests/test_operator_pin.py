"""Behaviour pin: the output of every per-document operator, hashed.

Each case runs one operator call over deterministic, in-repo inputs
(``sources.pages.render_page``, ``sources.pdfgen`` PDFs, synthetic
media, and hostile bytes written here), serializes every output row as
sorted-key JSON, sorts the rows and compares the sha256 of the result
with ``operator_pin.json``. Wall-clock columns (``t_sec``, ``ts``) are
left out; everything else, including error texts, is pinned.

A deliberate output change regenerates the manifest with

    OPERATOR_PIN_UPDATE=1 python -m pytest tests/test_operator_pin.py

and names the reason in the same change.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from docling_spark.operators import chunks, convert, extract_pdf, multimodal
from docling_spark.streaming import stream

MANIFEST = Path(__file__).with_name("operator_pin.json")
UNPINNED = ("t_sec", "ts")

_VOCAB = (
    "spark arrow partition kernel table figure heading section caption "
    "parquet shuffle exchange crawl lineage router chunk token layout page "
    "reading order markdown doctags stream batch worker driver executor"
).split()


def _text(i: int) -> str:
    return " ".join(_VOCAB[(i * 7 + k * 3) % len(_VOCAB)] for k in range(40 + 5 * i))


HOSTILE = [
    ("https://hostile.example.com/empty", b""),
    ("https://hostile.example.com/broken.pdf", b"%PDF-broken"),
    ("https://hostile.example.com/random", random.Random(0).randbytes(4096)),
    ("https://hostile.example.com/deep", b"<div>" * 3000 + b"deep" + b"</div>" * 3000),
    (
        "https://hostile.example.com/colspan",
        b"<table><tr><td colspan=99999>wide</td><td>b</td></tr>"
        b"<tr><td>1</td><td>2</td></tr></table>",
    ),
]


def _html_pages() -> list[tuple[str, bytes]]:
    from docling_spark.sources.pages import page_url, render_page

    return [(page_url(i), render_page(i, _text(i), "en")) for i in range(1, 13)]


def _pdfs() -> list[tuple[str, bytes]]:
    from docling_spark.sources.pdfgen import render_doc_pdf, render_doc_pdf_modern

    url = "https://pdf.example.com/{}/{}.pdf".format
    docs = [(url("classic", i), render_doc_pdf(i, _text(i))) for i in range(1, 4)]
    docs.append((url("plain", 4), render_doc_pdf(4, _text(4), compress=False)))
    docs += [
        (url("modern", i), render_doc_pdf_modern(i, _text(i), cid=i % 2 == 1))
        for i in range(5, 8)
    ]
    return docs


def _pdf_broken_later() -> tuple[str, bytes]:
    """A three-page PDF whose second page object carries a MediaBox that
    is not numeric: the paged strategy keeps page 1 and assembles to
    partial_success with the page error, doc-at-once routes fail."""
    from docling_spark.sources.pdfgen import build_pdf

    pdf = build_pdf([[("title", f"Part {n}"), ("body", _text(n))] for n in (1, 2, 3)])
    broken = pdf.replace(b"/Contents 3 0 R", b"/MediaBox [0 0 /Bad 792] /Contents 3 0 R")
    assert broken != pdf
    return "https://pdf.example.com/broken/later.pdf", broken


def _text_docs() -> list[tuple[str, bytes]]:
    return [
        ("https://text.example.com/notes.md", b"# Notes\n\n- one\n- two\n\nSome *text* here.\n"),
        ("https://text.example.com/data.csv", b"name,value\nalpha,1\nbeta,2\n"),
        ("https://text.example.com/guide.adoc", b"= Guide\n\n== Part\n\nBody text.\n"),
    ]


def _images() -> list[tuple[str, bytes]]:
    """Every codec the image route decodes without a system library,
    plus hostile image headers. WebP is left out: building it needs
    libwebp, so its rows would depend on the host."""
    import numpy as np

    from docling_spark.kernels.jpeg import encode_jpeg
    from docling_spark.kernels.pdf_kernel import encode_png_gray
    from docling_spark.kernels.raster import encode_gif_gray
    from docling_spark.kernels.tiff import encode_tiff

    w, h = 24, 16
    gray = bytes((x * 11 + y * 7) % 256 for y in range(h) for x in range(w))
    rgb = bytes((x * 9 + c * 80 + y * 5) % 256 for y in range(h) for x in range(w) for c in range(3))
    tiff_pages = [(w, h, 1, gray), (h, w, 3, rgb[: w * h * 3])]
    url = "https://img.example.com/{}".format
    return [
        (url("gray.png"), encode_png_gray(np.frombuffer(gray, np.uint8).reshape(h, w))),
        (url("gray.gif"), encode_gif_gray(w, h, gray)),
        (url("gray.jpg"), encode_jpeg(w, h, 1, gray)),
        (url("color.jpg"), encode_jpeg(w, h, 3, rgb)),
        (url("lzw.tif"), encode_tiff(tiff_pages, compression=5)),
        (url("packbits.tif"), encode_tiff(tiff_pages, compression=32773)),
        (url("truncated.png"), encode_png_gray(np.zeros((h, w), np.uint8))[:40]),
        (url("bare.gif"), b"GIF8"),
        (url("bare.tif"), b"II*\x00"),
    ]


_PAGE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("html", BinaryType()),
    ]
)


def _frame(spark, rows, col="html"):
    df = spark.createDataFrame(rows, _PAGE_SCHEMA).withColumnRenamed("html", col)
    # a fixed event time per url keeps warc_ts deterministic
    return df.withColumn("warc_ts", F.timestamp_seconds(F.abs(F.xxhash64("url")) % 10**9))


@pytest.fixture(scope="module")
def inputs(spark):
    html = _html_pages() + HOSTILE
    mixed = _html_pages() + _pdfs() + _text_docs() + HOSTILE
    pdfs = _pdfs() + [_pdf_broken_later()] + HOSTILE[:3]
    return {
        "html": _frame(spark, html),
        "mixed": _frame(spark, mixed),
        "pdf": _frame(spark, pdfs, "content"),
        "images": _frame(spark, _images()),
    }


def _jsonable(v):
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dt.datetime):
        return v.timestamp()
    raise TypeError(type(v).__name__)


def _digest(df) -> dict:
    rows = []
    for r in df.collect():
        d = r.asDict(recursive=True)
        for k in UNPINNED:
            d.pop(k, None)
        rows.append(json.dumps(d, sort_keys=True, default=_jsonable))
    rows.sort()
    return {"rows": len(rows), "sha256": hashlib.sha256("\n".join(rows).encode()).hexdigest()}


def _stream(spark, tmp_path, frame, operator):
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    frame.select(
        "url",
        "warc_ts",
        "html",
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    ).coalesce(2).write.parquet(in_dir)
    pages = stream.read_pages_stream(spark, in_dir)
    assert stream.drain(operator(pages, num_partitions=4), out_dir, ckpt)
    return spark.read.parquet(out_dir)


# the extract_* cases keep the names of the HTML-only operator the
# router replaced; they pin convert_any over the HTML frame
CASES = {
    "extract_pages": lambda s, i, t: convert.convert_any(i["html"], num_partitions=4),
    "extract_pages_split": lambda s, i, t: convert.convert_any(
        i["html"], num_partitions=4, split_big_docs=True, big_doc_bytes=30 << 10
    ),
    "convert_any": lambda s, i, t: convert.convert_any(i["mixed"], num_partitions=4),
    "convert_any_images": lambda s, i, t: convert.convert_any(i["images"], num_partitions=4),
    "convert_any_doctags_json": lambda s, i, t: convert.convert_any(
        i["mixed"], num_partitions=4, want_doctags=True, want_json=True
    ),
    "parse_pdf_page_rows": lambda s, i, t: extract_pdf.parse_pdf_page_rows(i["pdf"]),
    "extract_pdfs_paged": lambda s, i, t: extract_pdf.extract_pdfs_paged(i["pdf"]),
    "multimodal_pages": lambda s, i, t: extract_pdf.multimodal_pages(i["pdf"], num_partitions=4),
    "multimodal_pages_image": lambda s, i, t: extract_pdf.multimodal_pages(
        i["pdf"], num_partitions=4, image_scale=0.5
    ),
    "chunk_pages_hybrid": lambda s, i, t: chunks.chunk_pages(i["html"], num_partitions=4),
    "chunk_pages_hierarchical": lambda s, i, t: chunks.chunk_pages(
        i["html"], mode="hierarchical", num_partitions=4
    ),
    "chunk_pages_router": lambda s, i, t: chunks.chunk_pages(
        i["mixed"], max_tokens=64, num_partitions=4
    ),
    "stream_extract": lambda s, i, t: _stream(s, t, i["html"], convert.convert_any),
    "stream_convert": lambda s, i, t: _stream(s, t, i["mixed"], convert.convert_any),
    "media_features": lambda s, i, t: multimodal.extract_media_features(
        multimodal.synth_media(s, 64)
    ),
    "audio_metadata": lambda s, i, t: multimodal.extract_audio_metadata(
        multimodal.synth_media(s, 64)
    ),
}


@pytest.mark.parametrize("case", list(CASES))
def test_operator_output_pinned(spark, inputs, tmp_path, case):
    got = _digest(CASES[case](spark, inputs, tmp_path))
    manifest = json.loads(MANIFEST.read_text()) if MANIFEST.exists() else {}
    if os.environ.get("OPERATOR_PIN_UPDATE") == "1":
        manifest[case] = got
        MANIFEST.write_text(json.dumps(manifest, indent=1, sort_keys=True) + "\n")
    assert case in manifest, f"no pinned digest for {case}"
    assert got == manifest[case]
