"""Deterministic synthetic Common-Crawl-style pages table.

Schema per BASELINE.json input_hint: ``(url string, warc_ts timestamp,
html binary, text string, lang string)``. Content derives from the
driver's ``documents`` parquet (TESTDATA.md) wrapped into HTML templates
that exercise every operator family of the extraction kernel
(headings, lists, span'd tables, formatting, code, figures, furniture —
modeled on /root/reference/tests/data/html/*, see FIXTURES.md §1).

Everything is a pure function of (page_id, doc text) — no RNG state —
so any scale factor regenerates identically, and the expected markdown
for a page is computable on the driver for spot-checks.

Skew features (FIXTURES.md §1):
* one hot host holds ~30% of urls (Zipf-ish head);
* every 997th page is oversized (~1 MB) by section repetition.
"""

from __future__ import annotations

import datetime as _dt

_EPOCH = _dt.datetime(2025, 1, 1, tzinfo=_dt.timezone.utc)

_N_TEMPLATES = 8


def page_url(page_id: int) -> str:
    # ~30% of pages on one hot host; the rest spread over 97 hosts
    if page_id % 10 < 3:
        host = "hot.example.com"
    else:
        host = f"host{page_id % 97}.example.com"
    return f"https://{host}/doc/{page_id}"


def page_ts(page_id: int) -> _dt.datetime:
    return _EPOCH + _dt.timedelta(seconds=page_id)


def _words(text: str) -> list[str]:
    w = text.split()
    return w if w else ["lorem"]


def _size_target(page_id: int) -> int:
    """Deterministic crawl-like page size mix: half ~8 KB, 30% ~30 KB,
    20% ~80 KB (plus the separate %997 ~1 MB oversized tail). Keeps the
    per-page kernel cost realistic — a corpus of 2 KB toy pages makes
    fixed per-row overhead dominate and misstates scaling."""
    c = page_id % 10
    if c < 5:
        return 8 << 10
    if c < 8:
        return 30 << 10
    return 80 << 10


def render_section(page_id: int, si: int, text: str) -> str:
    """One deterministic content section (template = (page_id+si) mod 8)."""
    w = _words(text)
    t = (page_id + si) % _N_TEMPLATES
    base = (si * 7) % max(1, len(w) - 1)
    para1 = " ".join(w[base : base + 40])
    para2 = " ".join(w[base + 13 : base + 53]) or para1
    head = f"Part {si}: " + " ".join(w[base : base + 3]).title()
    if t == 0:
        return (
            f"<h2>{head}</h2><p>{para1}</p>"
            f"<h4>Deep {si % 3}</h4><p>{para2}</p>"
            f"<h3>Back {si % 7}</h3><p>{para1}</p>"
        )
    if t == 1:
        items = "".join(f"<li>{x} item {i}</li>" for i, x in enumerate(w[base : base + 5]))
        nested = "".join(f"<li>{x} nested</li>" for x in w[base + 5 : base + 8])
        return (
            f"<h2>{head}</h2>"
            f"<ul><li>{w[base % len(w)]} head<ul>{nested}</ul></li>{items}</ul>"
            f"<ol start=\"{(page_id + si) % 50}\">{items}</ol>"
        )
    if t == 2:
        rows = "".join(
            f"<tr><td>{w[(base + i) % len(w)]}</td><td>{(page_id + i) % 1000}</td>"
            f"<td>${(page_id * (i + si)) % 500}</td></tr>"
            for i in range(1, 6)
        )
        return (
            f"<h2>{head}</h2>"
            f"<table><tr><th>Name</th><th colspan=\"2\">Metrics</th></tr>"
            f"<tr><td rowspan=\"2\">{w[base % len(w)]}</td><td>1</td><td>2</td></tr>"
            f"<tr><td>3</td><td>4</td></tr>{rows}</table>"
        )
    if t == 3:
        return (
            f"<h2>{head}</h2>"
            f"<p>Plain then <b>{w[base % len(w)]} bold</b> and "
            f"<i>{w[(base + 1) % len(w)]} italic</i> "
            f"with <s>struck</s> and H<sub>2</sub>O plus x<sup>2</sup>.</p>"
            f"<p><strong><em>{para1[:80]}</em></strong> {para2}</p>"
        )
    if t == 4:
        return (
            f"<h2>{head}</h2>"
            f"<p>Install <code>pkg-{(page_id + si) % 100}</code> then run:</p>"
            f"<pre><code>spark-submit --py-files engine.zip job.py --id {page_id}\n"
            f"echo {w[base % len(w)]} {si}\n</code></pre><p>{para2}</p>"
        )
    if t == 5:
        return (
            f"<h2>{head}</h2>"
            f"<p>See <a href=\"/doc/{page_id - 1}\">previous</a> and "
            f"<a href=\"https://ref.example.org/x?q={page_id}&s={si}\">reference</a>. {para1}</p>"
            f"<figure><img src=\"img{page_id}_{si}.png\" alt=\"Figure {si}\"/>"
            f"<figcaption>Caption: {' '.join(w[base : base + 6])}</figcaption></figure>"
        )
    if t == 6:
        return (
            f"<h2>{head}</h2><p>{para1}</p>"
            f"<div hidden>secret {page_id}-{si}</div>"
            f"<p>{para2}</p>"
        )
    return (
        f"<div>{para1}</div><div>Second div {page_id}-{si}.</div>"
        f"<div>Line one<br/>line two.</div><p>{para2[:120]}</p>"
    )


def render_page(page_id: int, text: str, lang: str) -> bytes:
    """Render one deterministic HTML page (template = page_id mod 8)."""
    w = _words(text)
    t = page_id % _N_TEMPLATES
    title = " ".join(w[:4]).title()
    para1 = " ".join(w[: min(30, len(w))])
    para2 = " ".join(w[min(10, len(w)) :])

    if t == 0:  # headings with skipped levels (unit_test_01-style)
        body = (
            f"<h1>{title}</h1><p>{para1}</p>"
            f"<h2>Section {page_id % 5}</h2><p>{para2}</p>"
            f"<h4>Deep {page_id % 3}</h4><p>{para1}</p>"
            f"<h3>Back {page_id % 7}</h3><p>{para2}</p>"
        )
    elif t == 1:  # nested + ordered lists with start attr
        items = "".join(f"<li>{x} item {i}</li>" for i, x in enumerate(w[:5]))
        nested = "".join(f"<li>{x} nested</li>" for x in w[5:8])
        body = (
            f"<h1>{title}</h1>"
            f"<ul><li>{w[0]} head<ul>{nested}</ul></li>{items}</ul>"
            f"<ol start=\"{page_id % 50}\">{items}</ol>"
        )
    elif t == 2:  # table with rowspan/colspan + th header
        rows = "".join(
            f"<tr><td>{w[i % len(w)]}</td><td>{(page_id + i) % 1000}</td>"
            f"<td>${(page_id * i) % 500}</td></tr>"
            for i in range(1, 6)
        )
        body = (
            f"<h1>{title}</h1>"
            f"<table><tr><th>Name</th><th colspan=\"2\">Metrics</th></tr>"
            f"<tr><td rowspan=\"2\">{w[0]}</td><td>1</td><td>2</td></tr>"
            f"<tr><td>3</td><td>4</td></tr>{rows}</table>"
        )
    elif t == 3:  # inline formatting mix
        body = (
            f"<h1>{title}</h1>"
            f"<p>Plain then <b>{w[0]} bold</b> and <i>{w[1 % len(w)]} italic</i> "
            f"with <s>struck</s> and H<sub>2</sub>O plus x<sup>2</sup>.</p>"
            f"<p><strong><em>{para1[:60]}</em></strong></p>"
        )
    elif t == 4:  # pre/code blocks + inline code
        body = (
            f"<h1>{title}</h1>"
            f"<p>Install <code>pkg-{page_id % 100}</code> then run:</p>"
            f"<pre><code>spark-submit --py-files engine.zip job.py --id {page_id}\n"
            f"echo {w[0]}\n</code></pre>"
        )
    elif t == 5:  # figures, linked images, hyperlinks incl. relative
        body = (
            f"<h1>{title}</h1>"
            f"<p>See <a href=\"/doc/{page_id - 1}\">previous</a> and "
            f"<a href=\"https://ref.example.org/x?q={page_id}\">reference</a>.</p>"
            f"<figure><img src=\"img{page_id}.png\" alt=\"Figure {page_id}\"/>"
            f"<figcaption>Caption: {' '.join(w[:6])}</figcaption></figure>"
            f"<a href=\"https://www.example.com\"><img src=\"l.png\" alt=\"L\"/></a>"
        )
    elif t == 6:  # furniture-heavy: title/script/style/hidden/footer
        body = (
            f"<p>Nav boilerplate before any heading.</p>"
            f"<h1>{title}</h1><p>{para1}</p>"
            f"<div hidden>secret {page_id}</div>"
        )
    else:  # div/br soup, no headings (body layer by default)
        body = (
            f"<div>{para1}</div><div>Second div {page_id}.</div>"
            f"<div>Line one<br/>line two.</div><p>{para2[:80]}</p>"
        )

    # pad to a realistic crawl-page size with deterministic sections
    target = _size_target(page_id)
    sections: list[str] = []
    total = len(body)
    si = 1
    while total < target:
        s = render_section(page_id, si, text)
        sections.append(s)
        total += len(s)
        si += 1
    if t == 6:
        html = (
            f"<html><head><title>Site {page_id % 13}</title>"
            f"<style>p {{color: red}}</style>"
            f"<script>var x = {page_id};</script></head>"
            f"<body>{body}{''.join(sections)}"
            f"<footer><p>Footer fineprint {page_id}</p></footer></body></html>"
        )
    else:
        html = f"<html><body>{body}{''.join(sections)}</body></html>"
    if page_id % 997 == 0:  # oversized-document skew rows (~1 MB)
        section = f"<h2>Bulk {page_id}</h2><p>{para1} {para2}</p>"
        reps = max(1, (1 << 20) // max(1, len(section)))
        html = f"<html><body><h1>{title}</h1>{section * reps}</body></html>"
    return html.encode()


def synthesize_pages(spark, sf_dir: str, n_pages: int | None = None):
    """Build the pages DataFrame distributed: ``spark.range`` over page
    ids joined to the documents table by ``doc_id = page_id % n_docs``,
    HTML rendered in an Arrow-batched ``mapInPandas`` (no driver-side
    loop, no collect — scales to any n_pages)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BinaryType, LongType, StringType, StructField, StructType, TimestampType,
    )

    from docling_spark.operators.batch import guard_zip_rereads

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    n_docs = docs.count()
    if n_pages is None:
        n_pages = n_docs

    ids = spark.range(0, n_pages).withColumnRenamed("id", "page_id")
    # small dim side: broadcast join, no shuffle of the big side
    joined = ids.join(
        F.broadcast(docs), ids.page_id % n_docs == docs.doc_id, "inner"
    ).select("page_id", "text", "lang")

    out_schema = StructType(
        [
            StructField("page_id", LongType()),
            StructField("url", StringType()),
            StructField("warc_ts", TimestampType()),
            StructField("html", BinaryType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
        ]
    )

    def render_batches(batches):
        guard_zip_rereads()
        for pdf in batches:
            ids_ = pdf["page_id"].tolist()
            texts = pdf["text"].tolist()
            langs = pdf["lang"].tolist()
            yield pd.DataFrame(
                {
                    "page_id": ids_,
                    "url": [page_url(i) for i in ids_],
                    "warc_ts": [page_ts(i) for i in ids_],
                    "html": [render_page(i, t, g) for i, t, g in zip(ids_, texts, langs)],
                    "text": texts,
                    "lang": langs,
                }
            )

    return joined.mapInPandas(render_batches, out_schema).drop("page_id")
