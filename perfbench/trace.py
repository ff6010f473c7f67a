"""Layer ledger for the traced run, recorded from outside the program.

* ``Spans`` keeps (name, start, end, parent) records in memory around
  calls into the program's public functions; they are written to the
  sidecar file when the run ends.
* ``kernel_timings`` times the kernels in-process on the driver over a
  fixed sample of documents.
* ``read_event_log`` and ``stage_layers`` read ``SparkListenerTaskEnd``
  events from the traced session's event log: task run time, CPU, GC,
  shuffle bytes and fetch wait, and the Python data sent/returned SQL
  metrics of the ``mapInPandas`` stage.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import sys
import time
from pathlib import Path


class Spans:
    def __init__(self):
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.records),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[object, str, str]]):
        """Wrap ``owner.attr`` in a span named ``name`` for each target
        while the block runs; the originals come back afterwards."""
        saved = []

        def wrapper(fn, name):
            def traced(*args, **kwargs):
                with self.span(name, **_span_attrs(args)):
                    return fn(*args, **kwargs)
            return traced

        try:
            for owner, attr, name in targets:
                fn = getattr(owner, attr)
                saved.append((owner, attr, fn))
                setattr(owner, attr, wrapper(fn, name))
            yield self
        finally:
            for owner, attr, fn in reversed(saved):
                setattr(owner, attr, fn)

    def durations(self, name: str, within: dict | None = None) -> list[float]:
        """Durations of spans named ``name``, optionally only those
        nested (at any depth) under span ``within``."""
        out = []
        for rec in self.records:
            if rec["name"] == name and (within is None or self._under(rec, within["id"])):
                out.append(rec["end"] - rec["start"])
        return out

    def _under(self, rec: dict, ancestor: int) -> bool:
        parent = rec["parent"]
        while parent is not None:
            if parent == ancestor:
                return True
            parent = self.records[parent]["parent"]
        return False


def _span_attrs(args) -> dict:
    # DataFrameWriter.parquet(self, path): keep the path to tell sinks apart
    if len(args) >= 2 and isinstance(args[1], str):
        return {"path": args[1]}
    return {}


# --------------------------------------------------------------- kernels


def _per_doc(spans: Spans, name: str, passes: list[dict], n: int, scale: float) -> float:
    """Median over passes of the summed span time per document."""
    return statistics.median(sum(spans.durations(name, p)) / n * scale for p in passes)


def kernel_timings(html_docs, pdf_docs, all_docs, spans: Spans, passes: int = 3) -> dict:
    """Per-document kernel times over fixed samples, one warm pass then
    ``passes`` timed passes; each metric is the median over passes."""
    from docling_spark.kernels import html_kernel
    from docling_spark.kernels.chunker import hierarchical_chunks
    from docling_spark.kernels.markdown import to_markdown
    from docling_spark.kernels.pdf_kernel import parse_pdf
    from docling_spark.kernels.pdf_layout import build_doc
    from docling_spark.kernels.textout import text_spans, to_text
    from docling_spark.operators.formats import sniff_format

    if sys.getrecursionlimit() < 20000:
        sys.setrecursionlimit(20000)

    def html_pass():
        for d in html_docs:
            with spans.span("html.convert"):
                doc = html_kernel.HtmlExtractor(original_url=d.url).convert(d.payload)
            with spans.span("markdown.to_markdown"):
                to_markdown(doc)
            with spans.span("textout.to_text"):
                to_text(doc)
            with spans.span("textout.text_spans"):
                text_spans(doc)

    def pdf_pass():
        for d in pdf_docs:
            with spans.span("pdf.parse"):
                pages = parse_pdf(d.payload)
            with spans.span("pdf_layout.build"):
                doc, _ = build_doc(pages, name=d.url)
            with spans.span("chunker.hierarchical_chunks"):
                hierarchical_chunks(doc)

    def sniff_pass():
        for d in all_docs:
            with spans.span("formats.sniff"):
                sniff_format(d.payload[:8192])

    timed = {"html": [], "pdf": [], "sniff": []}
    with spans.patched([(html_kernel, "parse_html", "dom.parse_html")]):
        for i in range(passes + 1):
            for key, fn in (("html", html_pass), ("pdf", pdf_pass), ("sniff", sniff_pass)):
                with spans.span(f"kernels.{key}_pass", warm=i == 0) as rec:
                    fn()
                if i:
                    timed[key].append(rec)
    nh, npdf, na = len(html_docs), len(pdf_docs), len(all_docs)
    return {
        "dom.parse_ms_per_doc": _per_doc(spans, "dom.parse_html", timed["html"], nh, 1e3),
        "html.convert_self_ms_per_doc": statistics.median(
            (sum(spans.durations("html.convert", p)) - sum(spans.durations("dom.parse_html", p)))
            / nh * 1e3
            for p in timed["html"]
        ),
        "markdown.ms_per_doc": _per_doc(spans, "markdown.to_markdown", timed["html"], nh, 1e3),
        "textout.text_ms_per_doc": _per_doc(spans, "textout.to_text", timed["html"], nh, 1e3),
        "textout.spans_ms_per_doc": _per_doc(spans, "textout.text_spans", timed["html"], nh, 1e3),
        "pdf.parse_ms_per_doc": _per_doc(spans, "pdf.parse", timed["pdf"], npdf, 1e3),
        "pdf_layout.build_ms_per_doc": _per_doc(spans, "pdf_layout.build", timed["pdf"], npdf, 1e3),
        "chunker.ms_per_doc": _per_doc(spans, "chunker.hierarchical_chunks", timed["pdf"], npdf, 1e3),
        "formats.sniff_us_per_doc": _per_doc(spans, "formats.sniff", timed["sniff"], na, 1e6),
    }


# ------------------------------------------------------------- event log

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def read_event_log(log_dir: Path) -> tuple[dict[int, str], dict[int, list[dict]]]:
    """(stage id -> job description, stage id -> task-end events)."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    stage_desc: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description", "")
                for sid in ev.get("Stage IDs", ()):
                    stage_desc[sid] = desc
            elif kind == "SparkListenerTaskEnd":
                tasks.setdefault(ev["Stage ID"], []).append(ev)
    return stage_desc, tasks


def _accum(task: dict, name: str) -> int:
    return sum(
        int(a.get("Update", 0))
        for a in task["Task Info"].get("Accumulables", ())
        if a.get("Name") == name
    )


def _ratio_max_median(values: list[float]) -> float:
    med = statistics.median(values)
    return max(values) / med if med > 0 else float("nan")


def stage_layers(stage_desc: dict[int, str], tasks: dict[int, list[dict]], desc: str) -> dict:
    """Exchange, Arrow and GC figures of one traced job run, found by
    its job description: the map side is the stage that wrote the most
    shuffle bytes, the ``mapInPandas`` side the shuffle-reading stage
    with the most task run time."""
    stages = [s for s, d in stage_desc.items() if d == desc and s in tasks]
    if not stages:
        raise RuntimeError(f"no completed stages for job description {desc!r}")

    def metrics(t):
        return t.get("Task Metrics") or {}

    def shuffle_written(s):
        return sum(metrics(t).get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) for t in tasks[s])

    def records_read(t):
        return metrics(t).get("Shuffle Read Metrics", {}).get("Total Records Read", 0)

    def run_time(s):
        return sum(metrics(t).get("Executor Run Time", 0) for t in tasks[s])

    map_stage = max(stages, key=shuffle_written)
    readers = [s for s in stages if any(records_read(t) for t in tasks[s])]
    if not readers:
        raise RuntimeError(f"no shuffle-reading stage for {desc!r}")
    py_stage = max(readers, key=run_time)
    py_tasks = [t for t in tasks[py_stage] if metrics(t)]
    return {
        "shuffle_write_bytes": shuffle_written(map_stage),
        "fetch_wait_ms": sum(
            metrics(t).get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0) for t in py_tasks
        ),
        "rows_skew": _ratio_max_median([records_read(t) for t in py_tasks]),
        "task_skew": _ratio_max_median([metrics(t).get("Executor Run Time", 0) for t in py_tasks]),
        "task_run_s": run_time(py_stage) / 1e3,
        "task_cpu_s": sum(metrics(t).get("Executor CPU Time", 0) for t in py_tasks) / 1e9,
        "task_gc_ms": sum(metrics(t).get("JVM GC Time", 0) for t in py_tasks),
        "bytes_to_python": sum(_accum(t, PY_SENT) for t in py_tasks),
        "bytes_from_python": sum(_accum(t, PY_RETURNED) for t in py_tasks),
        "n_tasks": len(py_tasks),
    }
