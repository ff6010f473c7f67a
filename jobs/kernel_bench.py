"""Single-thread HTML kernel bench: ``convert_one`` in-process.

Runs ``operators.convert.convert_one`` on the 300 seed-0 crawl_html
pages (``perfbench.workloads.crawl_html(0, 300)`` without its 1 MB
straggler) on one thread, no Spark. One warm pass, then ``reps`` timed
passes; each pass also splits the page cost into phases by wrapping the
kernel functions ``convert_one`` calls:

* ``parse``: ``html_kernel.parse_html``
* ``walk``: ``HtmlExtractor.convert`` minus its parse
* ``markdown``: ``markdown.to_markdown``
* ``text_spans``: ``textout.text_spans``
* ``chunks``: the chunk count behind ``n_chunks``
  (``chunker.count_hierarchical_chunks``, or ``hierarchical_chunks``
  in a tree that builds the chunks to count them)

Prints one JSON line: docs/s and ms/doc per phase, the median over the
timed passes, plus every pass's docs/s. The wrappers add a few
microseconds per page to a ~10-20 ms page.

A/B protocol: check out the parent commit in a second directory, copy
this file into its ``jobs/``, and run the two alternately, one at a
time:

    python3 jobs/kernel_bench.py [reps]    # default 3
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

N_PAGES = 300


def _timed(owner, attr: str, acc: dict, key: str):
    fn = getattr(owner, attr)

    def wrapper(*args, **kwargs):
        t = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            acc[key] += time.perf_counter() - t

    setattr(owner, attr, wrapper)
    return owner, attr, fn


def run_pass(docs, acc: dict) -> float:
    from docling_spark.operators.convert import convert_one

    for k in acc:
        acc[k] = 0.0
    t0 = time.perf_counter()
    for d in docs:
        row = convert_one(d.url, d.payload)
        if row["status"] != "success":
            raise RuntimeError(f"{d.url}: {row['status']} {row['error']}")
    return time.perf_counter() - t0


def main(reps: int = 3) -> dict:
    from docling_spark.kernels import chunker, html_kernel, markdown, textout
    from perfbench.workloads import crawl_html

    if sys.getrecursionlimit() < 20000:
        sys.setrecursionlimit(20000)
    docs = [d for d in crawl_html(0, N_PAGES) if d.kind == "html"]
    count_attr = (
        "count_hierarchical_chunks"
        if hasattr(chunker, "count_hierarchical_chunks")
        else "hierarchical_chunks"
    )
    acc = dict.fromkeys(("parse", "convert", "markdown", "text_spans", "chunks"), 0.0)
    saved = [
        _timed(html_kernel, "parse_html", acc, "parse"),
        _timed(html_kernel.HtmlExtractor, "convert", acc, "convert"),
        _timed(markdown, "to_markdown", acc, "markdown"),
        _timed(textout, "text_spans", acc, "text_spans"),
        _timed(chunker, count_attr, acc, "chunks"),
    ]
    try:
        run_pass(docs, acc)  # warm
        walls, phases = [], []
        for _ in range(reps):
            walls.append(run_pass(docs, acc))
            p = dict(acc)
            p["walk"] = p.pop("convert") - p["parse"]
            phases.append(p)
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)

    n = len(docs)
    ms = lambda s: round(s / n * 1e3, 3)  # noqa: E731
    wall = statistics.median(walls)
    out = {
        "pages": n,
        "reps": reps,
        "docs_per_s": round(n / wall, 2),
        "ms_per_doc": ms(wall),
        "docs_per_s_runs": [round(n / w, 2) for w in walls],
    }
    for key in ("parse", "walk", "markdown", "text_spans", "chunks"):
        out[f"{key}_ms_per_doc"] = ms(statistics.median(p[key] for p in phases))
    return out


if __name__ == "__main__":
    print(json.dumps(main(int(sys.argv[1]) if len(sys.argv) > 1 else 3)))
