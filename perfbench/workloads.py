"""Seeded input generators for the three benchmark workloads.

Every input is a pure function of ``(workload, seed)``: the seed picks
the page-id offset and permutes the word stream the texts are drawn
from, while the size mix, the format mix and the document count stay
the same for every seed, so two seeds cost the same work.

Texts come from a fixed in-file vocabulary instead of a data directory,
so the benchmark reads nothing outside its checkout. Pages, PDFs and
images are rendered by the program's own generators and encoders:
``sources.pages``, ``sources.pdfgen``, ``kernels.raster.encode_gif_gray``
and ``kernels.pdf_kernel.encode_png_gray``.
"""

from __future__ import annotations

import datetime as dt
import random
import struct
from dataclasses import dataclass

VOCAB = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark dup group query row data slow filter customer line "
    "value agg column a big vector crawl page token parse tree node span "
    "text markdown header cell list item figure caption index shard"
).split()

# one straggler page (~1 MB, rendered by sources.pages for ids % 997 == 0).
# Its id, and so its url and hash partition, is the same for every seed:
# the partition it lands in sets the wall time of the whole call.
BIG_PAGE_EVERY = 997
BIG_PAGE_ID = 10 * BIG_PAGE_EVERY


@dataclass(frozen=True)
class Doc:
    url: str
    warc_ts: dt.datetime
    payload: bytes
    kind: str  # generator kind: html, tiny, pdf, md, csv, ...
    hostile: bool = False


class TextStream:
    """Deterministic word stream: the seed permutes the vocabulary and
    drives the word draws."""

    def __init__(self, seed: int):
        self._rng = random.Random(seed)
        self._words = list(VOCAB)
        self._rng.shuffle(self._words)

    def text(self, lo: int, hi: int) -> str:
        n = self._rng.randint(lo, hi)
        return " ".join(self._rng.choice(self._words) for _ in range(n))


def _offset(seed: int) -> int:
    # multiples of 10 keep the page-id % 10 size and host mix exact;
    # ids start above BIG_PAGE_ID
    return 10_000 + (seed % 100_000) * 1_000


def crawl_html(seed: int, n_pages: int) -> list[Doc]:
    """``n_pages`` crawl pages of the 8/30/80 KB mix (page_id % 10), 30%
    on the hot host, plus exactly one ~1 MB straggler page."""
    from docling_spark.sources.pages import page_ts, page_url, render_page

    words = TextStream(seed)
    start = _offset(seed)
    ids = []
    pid = start
    while len(ids) < n_pages:
        if pid % BIG_PAGE_EVERY:
            ids.append(pid)
        pid += 1
    big = BIG_PAGE_ID
    docs = [
        Doc(page_url(i), page_ts(i), render_page(i, words.text(20, 80), "en"), "html")
        for i in ids
    ]
    docs.append(Doc(page_url(big), page_ts(big), render_page(big, words.text(20, 80), "en"), "big"))
    return docs


def tiny_pages(seed: int, n_pages: int) -> list[Doc]:
    """Pages under 1 KB: one heading plus one paragraph."""
    from docling_spark.sources.pages import page_ts, page_url

    words = TextStream(seed)
    start = _offset(seed)
    docs = []
    for i in range(start, start + n_pages):
        title = words.text(2, 5).title()
        html = (
            f"<html><head><title>{title}</title></head><body>"
            f"<h1>{title}</h1><p>{words.text(20, 60)}</p></body></html>"
        ).encode()
        docs.append(Doc(page_url(i), page_ts(i), html, "tiny"))
    return docs


# ------------------------------------------------------------ mixed formats

# one block of 50 inputs; the block repeats to the requested size
MIXED_BLOCK = (
    ["pdf"] * 25 + ["html"] * 5 + ["md"] * 5 + ["csv"] * 4 + ["asciidoc"] * 4
    + ["png"] * 2 + ["gif"] * 2 + ["wav"] * 2 + ["hostile"]
)
HOSTILE_KINDS = ("empty", "random_bytes", "truncated_pdf", "deep_nesting", "colspan")


def _markdown(title: str, w: TextStream) -> bytes:
    rows = "\n".join(f"| {w.text(1, 2)} | {w.text(1, 1)} |" for _ in range(3))
    return (
        f"# {title}\n\n{w.text(20, 60)}\n\n## {w.text(2, 3).title()}\n\n"
        f"- {w.text(2, 5)}\n- {w.text(2, 5)}\n  - {w.text(2, 4)}\n\n"
        f"| name | value |\n|---|---|\n{rows}\n\n{w.text(10, 40)}\n"
    ).encode()


def _csv(w: TextStream, rng: random.Random) -> bytes:
    lines = ["name,count,amount"]
    for _ in range(rng.randint(4, 12)):
        lines.append(f"{w.text(1, 1)},{rng.randint(0, 999)},{rng.randint(0, 99999) / 100}")
    return ("\n".join(lines) + "\n").encode()


def _asciidoc(title: str, w: TextStream) -> bytes:
    return (
        f"= {title}\n\n{w.text(20, 50)}\n\n== {w.text(2, 3).title()}\n\n"
        f"{w.text(10, 40)}\n\n* {w.text(2, 5)}\n* {w.text(2, 5)}\n\n"
        f"== {w.text(2, 3).title()}\n\n{w.text(10, 30)}\n"
    ).encode()


def _gray_plane(rng: random.Random, w: int, h: int) -> bytes:
    shade = rng.randint(0, 255)
    return bytes((shade + x * 3 + y * 5) & 0xFF for y in range(h) for x in range(w))


def _png(rng: random.Random) -> bytes:
    import numpy as np

    from docling_spark.kernels.pdf_kernel import encode_png_gray

    w, h = rng.randint(16, 48), rng.randint(16, 48)
    img = np.frombuffer(_gray_plane(rng, w, h), dtype=np.uint8).reshape(h, w)
    return encode_png_gray(img)


def _gif(rng: random.Random) -> bytes:
    from docling_spark.kernels.raster import encode_gif_gray

    w, h = rng.randint(16, 48), rng.randint(16, 48)
    return encode_gif_gray(w, h, _gray_plane(rng, w, h))


def _wav(rng: random.Random) -> bytes:
    rate, n = 8000, rng.randint(400, 1600)
    data = bytes(rng.getrandbits(8) for _ in range(2 * n))
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, 2 * rate, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def _hostile(kind: str, pid: int, w: TextStream, rng: random.Random) -> tuple[str, bytes]:
    from docling_spark.sources.pdfgen import render_doc_pdf

    if kind == "empty":
        return "bin", b""
    if kind == "random_bytes":
        return "bin", bytes(rng.getrandbits(8) for _ in range(2048))
    if kind == "truncated_pdf":
        pdf = render_doc_pdf(pid, w.text(40, 80))
        return "pdf", pdf[: len(pdf) // 2]
    if kind == "deep_nesting":
        return "html", ("<div>" * 3000 + w.text(5, 10) + "</div>" * 3000).encode()
    return "html", (
        f'<html><body><table><tr><td colspan="99999">{w.text(2, 4)}</td></tr>'
        f"<tr><td>{w.text(1, 2)}</td></tr></table></body></html>"
    ).encode()


def mixed_formats(seed: int, n_docs: int) -> list[Doc]:
    """A router crawl led by PDFs (classic, xref-stream/ObjStm simple
    font, and CID producers), then HTML, markdown, csv, asciidoc, small
    PNG/GIF/WAV and 2% hostile inputs flagged ``hostile=True``."""
    from docling_spark.sources.pages import page_ts
    from docling_spark.sources.pages import render_page
    from docling_spark.sources.pdfgen import render_doc_pdf, render_doc_pdf_modern

    words = TextStream(seed)
    rng = random.Random(seed ^ 0x5EED)
    start = _offset(seed)
    docs = []
    n_hostile = 0
    for k in range(n_docs):
        pid = start + k
        kind = MIXED_BLOCK[k % len(MIXED_BLOCK)]
        host = f"https://mixed{pid % 7}.example.com/doc/{pid}"
        hostile = kind == "hostile"
        if kind == "pdf":
            text = words.text(40, 120)
            producer = pid % 3
            if producer == 0:
                payload = render_doc_pdf(pid, text)
            else:
                payload = render_doc_pdf_modern(pid, text, cid=producer == 1)
            ext = "pdf"
        elif kind == "html":
            # the 8 KB class of the crawl page mix (page_id % 10 < 5)
            html_id = pid - pid % 10 + pid % 5
            payload, ext = render_page(html_id, words.text(20, 60), "en"), "html"
        elif kind == "md":
            payload, ext = _markdown(words.text(2, 5).title(), words), "md"
        elif kind == "csv":
            payload, ext = _csv(words, rng), "csv"
        elif kind == "asciidoc":
            payload, ext = _asciidoc(words.text(2, 5).title(), words), "adoc"
        elif kind == "png":
            payload, ext = _png(rng), "png"
        elif kind == "gif":
            payload, ext = _gif(rng), "gif"
        elif kind == "wav":
            payload, ext = _wav(rng), "wav"
        else:
            kind = HOSTILE_KINDS[n_hostile % len(HOSTILE_KINDS)]
            # hostile inputs dominate their task's time, so their urls,
            # and with them the hash partitions they land in, do not
            # change with the seed
            host = f"https://hostile.example.com/doc/{n_hostile}"
            n_hostile += 1
            ext, payload = _hostile(kind, pid, words, rng)
        docs.append(Doc(f"{host}.{ext}", page_ts(pid), payload, kind, hostile))
    return docs


GENERATORS = {
    "crawl_html": crawl_html,
    "tiny_pages": tiny_pages,
    "mixed_formats": mixed_formats,
}
