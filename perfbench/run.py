"""docling-spark benchmark: the production extract job on seeded crawls.

Run from the checkout root::

    python3 perfbench/run.py --workload crawl_html --seed 0 --seconds 12 --trace 0

``--trace 0`` sets up a ``local[N]`` session three times (N = the cores
this process may use). After each set-up it calls
``jobs/extract_job.run`` on the workload's inputs, each call writing
results, lineage and metrics to a fresh directory. The number of timed
calls is ``--seconds`` over the workload's nominal call time, at least
3, shared out over the three sessions. Every call passes the output
checks in ``check.py``. The last line of stdout is one compact JSON
record with the end-to-end metrics; per-run detail goes to a sidecar
file under ``.perfbench_run/``.

``--trace 1`` instead reports the per-layer ledger (``trace.py``): it
times untraced calls, then the same calls in a session with the Spark
event log on and spans around the program's public functions, then
layer-isolating Spark jobs and in-process kernel timings.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
RUN_DIR = ROOT / ".perfbench_run"
DEFAULT_SEED = 0
SETUPS = 3
MIN_RUNS = 3
# documents per job call
SIZES = {"crawl_html": 200, "tiny_pages": 20_000, "mixed_formats": 1_200}
# seconds per timed call on a shared 4-core host; the number of timed
# calls is --seconds / this, so that every run makes the same number of
# calls (a count that followed the clock would flip between runs)
NOMINAL_CALL_S = {"crawl_html": 3.5, "tiny_pages": 3.0, "mixed_formats": 4.0}
ROUTER = {"mixed_formats"}
# kernel timing samples (documents)
HTML_SAMPLE, PDF_SAMPLE = 24, 24

END_TO_END_UNITS = {"docs_per_s": "1/s", "cpu_s_per_kdoc": "s", "peak_rss_mb": "MB", "setup_s": "s"}
PER_LAYER_UNITS = {
    "dom.parse_ms_per_doc": "ms",
    "html.convert_self_ms_per_doc": "ms",
    "markdown.ms_per_doc": "ms",
    "textout.text_ms_per_doc": "ms",
    "textout.spans_ms_per_doc": "ms",
    "pdf.parse_ms_per_doc": "ms",
    "pdf_layout.build_ms_per_doc": "ms",
    "chunker.ms_per_doc": "ms",
    "formats.sniff_us_per_doc": "us",
    "formats.gate_s": "s",
    "exchange.s": "s",
    "exchange.shuffle_write_bytes": "B",
    "exchange.rows_skew": "ratio",
    "exchange.task_skew": "ratio",
    "arrow.handoff_s": "s",
    "arrow.bytes_to_python": "B",
    "arrow.bytes_from_python": "B",
    "extract.kernel_cpu_s": "s",
    "extract.overhead_frac": "frac",
    "doc.t_sec_p50_ms": "ms",
    "doc.t_sec_p99_ms": "ms",
    "sink.results_write_s": "s",
    "lineage.write_s": "s",
    "metrics.write_s": "s",
    "jvm.gc_ms": "ms",
    "trace.unattributed_frac": "frac",
    "trace.overhead_frac": "frac",
}


class SetupError(Exception):
    """The checkout cannot run the benchmark (missing program or Spark)."""


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_program():
    """Import the program from the checkout, or raise SetupError."""
    for path in (ROOT / "docling_spark", ROOT / "jobs" / "extract_job.py"):
        if not path.exists():
            raise SetupError(f"missing {path.relative_to(ROOT)}: not a docling-spark checkout")
    try:
        import pyspark  # noqa: F401

        from jobs import extract_job
    except ImportError as e:
        raise SetupError(f"cannot import the program: {e}") from e
    return extract_job


# ------------------------------------------------------------------ inputs


def write_inputs(docs, path: Path, n_files: int) -> None:
    """The pages table as ``n_files`` parquet files (url, warc_ts, html)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir(parents=True)
    schema = pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
    ])
    for i in range(n_files):
        part = docs[i::n_files]
        table = pa.table(
            [[d.url for d in part], [d.warc_ts for d in part], [d.payload for d in part]],
            schema=schema,
        )
        pq.write_table(table, path / f"part-{i:05d}.parquet")


def fresh_dir(name: str) -> Path:
    path = RUN_DIR / "work" / name
    shutil.rmtree(path, ignore_errors=True)
    return path


# -------------------------------------------------------------------- jobs


class Job:
    """One workload bound to a session: calls ``extract_job.run``."""

    def __init__(self, extract_job, spark, router: bool, name: str):
        self.extract_job = extract_job
        self.name = name
        self.spark = spark
        self.router = router
        self.n_calls = 0

    def call(self, input_path: Path) -> tuple[dict, Path]:
        self.n_calls += 1
        out = fresh_dir(f"{self.name}-{self.n_calls:03d}")
        argv = [
            "--input", str(input_path),
            "--output", str(out / "results"),
            "--lineage", str(out / "lineage"),
            "--metrics", str(out / "metrics"),
        ] + (["--router"] if self.router else [])
        stats = self.extract_job.run(self.spark, self.extract_job.build_parser().parse_args(argv))
        return stats, out


def calls_for(workload: str, seconds: float) -> int:
    return max(MIN_RUNS, round(seconds / NOMINAL_CALL_S[workload]))


def timed_calls(job: Job, input_path: Path, calls: int, sampler, describe=None) -> list[dict]:
    """Call the job ``calls`` times; per call: wall, rows, process-tree
    CPU and peak RSS."""
    from perfbench.proctree import cpu_seconds

    me = os.getpid()
    runs: list[dict] = []
    for i in range(calls):
        if describe is not None:
            job.spark.sparkContext.setJobDescription(describe(i))
        sampler.reset()
        cpu0 = cpu_seconds(me)
        t0 = time.perf_counter()
        stats, out = job.call(input_path)
        wall = time.perf_counter() - t0
        cpu = cpu_seconds(me) - cpu0
        runs.append({
            "wall_s": wall,
            "rows": stats["n_extracted"],
            "cpu_s": cpu,
            "peak_rss_b": sampler.peak(),
            "out": str(out),
            "stats": stats,
        })
    job.spark.sparkContext.setJobDescription(None)
    return runs


def check_runs(spark, runs: list[dict], docs, workload: str, seed: int, router: bool) -> dict:
    """Output checks of every timed call; returns the check report."""
    from perfbench import check

    digests, failures = [], []
    for r in runs:
        digest, statuses = check.output_digest(spark, r["out"] + "/results", router)
        digests.append(digest)
        failures.append(check.count_failures(docs, statuses))
    mismatches = check.rerun_mismatches(spark, runs[0]["out"] + "/results", docs, router)
    expected = check.expected_digest(workload) if seed == DEFAULT_SEED else None
    problems = []
    if len(set(digests)) != 1:
        problems.append("digest differs between calls")
    if expected is not None and digests[0] != expected:
        problems.append(f"digest {digests[0]} != expected {expected}")
    if mismatches:
        problems.append(f"sample re-run differs: {mismatches[:3]}")
    for f in failures:
        if f["not_one_row"] or f["unexpected_urls"]:
            problems.append(f"inputs not ending as one row: {f}")
            break
    return {
        "digest": digests[0],
        "expected_digest": expected,
        "failures": failures,
        "sample_mismatches": mismatches,
        "problems": problems,
    }


# ----------------------------------------------------------------- metrics


def summary(values: list[float]) -> dict:
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3
    return {"median": statistics.median(values), "q1": q[0], "q3": q[2], "n": len(values)}


def compact(value: float) -> float | int:
    """Six significant digits keep the record line short."""
    if isinstance(value, int):
        return value
    return float(f"{value:.6g}")


def record(correct: bool, attempted: int, failed: int, metrics: dict[str, float], units: dict) -> str:
    """The final stdout line: one compact JSON object."""
    body = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": compact(metrics[k]), "unit": units[k]} for k in units},
    }
    return json.dumps(body, separators=(",", ":"), allow_nan=False)


def end_to_end(runs: list[dict], setup_times: list[float]) -> tuple[dict, dict]:
    per_run = {
        "docs_per_s": [r["rows"] / r["wall_s"] for r in runs],
        "cpu_s_per_kdoc": [r["cpu_s"] / r["rows"] * 1000 for r in runs],
        "peak_rss_mb": [r["peak_rss_b"] / 2**20 for r in runs],
        "setup_s": setup_times,
    }
    stats = {k: summary(v) for k, v in per_run.items()}
    return {k: s["median"] for k, s in stats.items()}, stats


# ------------------------------------------------------------------- phases


def set_up(args, extract_job, settings_for, t_origin: float, name: str = "job"):
    """Start a session, generate the inputs from the seed, write them
    and run one warm call on their first quarter. Returns (job, docs,
    input path, seconds since ``t_origin``)."""
    from perfbench import session, workloads

    spark = session.start(settings_for())
    docs = workloads.GENERATORS[args.workload](args.seed, SIZES[args.workload])
    cores = spark.sparkContext.defaultParallelism
    input_path = fresh_dir("input")
    write_inputs(docs, input_path, cores)
    warm_path = fresh_dir("warm-input")
    write_inputs(docs[: len(docs) // 4], warm_path, cores)
    job = Job(extract_job, spark, args.workload in ROUTER, name)
    job.call(warm_path)
    return job, docs, input_path, time.perf_counter() - t_origin


def untraced(args, extract_job, settings_for, sampler) -> tuple[dict, str]:
    """Three set-ups, each followed by its share of the timed calls:
    spreading the calls over the whole run makes one burst of load from
    other tenants of the host slow fewer of them."""
    calls = calls_for(args.workload, args.seconds)
    setup_times, runs = [], []
    t_origin = T_START
    for i in range(SETUPS):
        if i:
            t_origin = time.perf_counter()
            job.spark.stop()
        job, docs, input_path, dt = set_up(args, extract_job, settings_for, t_origin, f"setup{i}")
        setup_times.append(dt)
        share = calls // SETUPS + (i < calls % SETUPS)
        runs += timed_calls(job, input_path, share, sampler)
    report = check_runs(job.spark, runs, docs, args.workload, args.seed, job.router)
    values, stats = end_to_end(runs, setup_times)
    side = {"runs": runs, "setup_s": setup_times, "check": report, "stats": stats}
    return side, record(*outcome([report], docs, len(runs)), values, END_TO_END_UNITS)


def outcome(reports: list[dict], docs, n_calls: int) -> tuple[bool, int, int]:
    """(correct, attempted, failed) over the timed calls; a call that
    fails an output check counts every one of its documents as failed."""
    correct = not any(r["problems"] for r in reports)
    attempted = len(docs) * n_calls
    if not correct:
        return False, attempted, attempted
    return True, attempted, sum(f["failed_clean"] for r in reports for f in r["failures"])


def traced(args, extract_job, settings_for, sampler, spans) -> tuple[dict, str]:
    """Untraced calls, then traced calls plus layer jobs in a session
    with the event log on; returns (sidecar detail, record line)."""
    from docling_spark.operators import convert, extract, formats, lineage
    from pyspark.sql import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from perfbench import session, trace, workloads

    calls = calls_for(args.workload, args.seconds / 2)
    job, docs, input_path, _ = set_up(args, extract_job, settings_for, T_START, "plain")
    plain = timed_calls(job, input_path, calls, sampler)
    plain_report = check_runs(job.spark, plain, docs, args.workload, args.seed, job.router)
    job.spark.stop()

    log_dir = fresh_dir("eventlog")
    log_dir.mkdir(parents=True)
    job, docs, input_path, _ = set_up(
        args, extract_job, lambda: settings_for(log_dir), time.perf_counter(), "traced"
    )
    spark = job.spark
    gc_beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    def gc_ms():
        return sum(b.getCollectionTime() for b in gc_beans)

    targets = [
        (extract_job, "run", "extract_job.run"),
        (formats, "limits_gate", "formats.limits_gate"),
        (extract, "extract_pages", "extract.extract_pages"),
        (convert, "convert_any", "convert.convert_any"),
        (extract, "metrics_table", "extract.metrics_table"),
        (lineage, "write_lineage", "lineage.write_lineage"),
        (DataFrameWriter, "parquet", "sink.write_parquet"),
        (DataFrame, "count", "dataframe.count"),
    ]
    with spans.patched(targets):
        gc0 = gc_ms()
        runs = timed_calls(job, input_path, calls, sampler, describe=lambda i: f"extract-{i}")
        gc_per_call = (gc_ms() - gc0) / len(runs)

    report = check_runs(spark, runs, docs, args.workload, args.seed, job.router)
    layer = _layer_jobs(spark, input_path, runs[-1]["out"], job.router, spans)
    t_sec = _t_sec_stats(spark, runs)
    cores = spark.sparkContext.defaultParallelism

    html_docs = [d for d in docs if d.kind in ("html", "tiny")][:HTML_SAMPLE]
    pdf_docs = [d for d in docs if d.kind == "pdf"]
    if not pdf_docs:  # HTML workloads: the PDF kernels run on the mixed crawl's PDFs
        pdf_docs = [d for d in workloads.mixed_formats(args.seed, 2 * PDF_SAMPLE) if d.kind == "pdf"]
    kernels = trace.kernel_timings(html_docs, pdf_docs[:PDF_SAMPLE], docs, spans)

    session.shutdown()
    stage_desc, tasks = trace.read_event_log(log_dir)
    per_call = [trace.stage_layers(stage_desc, tasks, f"extract-{i}") for i in range(len(runs))]

    def med(key):
        return statistics.median(c[key] for c in per_call)

    wall = statistics.median(spans.durations("extract_job.run"))
    lineage_s = statistics.median(spans.durations("lineage.write_lineage"))
    metrics_s = statistics.median(
        r["end"] - r["start"] for r in spans.records
        if r["name"] == "sink.write_parquet" and r.get("path", "").endswith("/metrics")
    )
    kernel_cpu_s = statistics.median(t["sum"] for t in t_sec)
    metrics = {
        **kernels,
        "formats.gate_s": layer["gate_s"],
        "exchange.s": layer["exchange_s"],
        "exchange.shuffle_write_bytes": int(med("shuffle_write_bytes")),
        "exchange.rows_skew": med("rows_skew"),
        "exchange.task_skew": med("task_skew"),
        "arrow.handoff_s": layer["identity_s"] - layer["exchange_s"],
        "arrow.bytes_to_python": int(med("bytes_to_python")),
        "arrow.bytes_from_python": int(med("bytes_from_python")),
        "extract.kernel_cpu_s": kernel_cpu_s,
        "extract.overhead_frac": 1 - kernel_cpu_s / med("task_run_s"),
        "doc.t_sec_p50_ms": statistics.median(t["p50"] for t in t_sec) * 1e3,
        "doc.t_sec_p99_ms": statistics.median(t["p99"] for t in t_sec) * 1e3,
        "sink.results_write_s": layer["results_write_s"],
        "lineage.write_s": lineage_s,
        "metrics.write_s": metrics_s,
        "jvm.gc_ms": gc_per_call,
    }
    # the layers on one call's blocking path, as wall time: scan +
    # exchange + Arrow hand-off (the identity job), the kernels spread
    # over the cores, and the three sinks
    attributed = (
        layer["identity_s"] + kernel_cpu_s / cores
        + layer["results_write_s"] + lineage_s + metrics_s
    )
    metrics["trace.unattributed_frac"] = 1 - attributed / wall
    dps_plain = statistics.median(r["rows"] / r["wall_s"] for r in plain)
    dps_traced = statistics.median(r["rows"] / r["wall_s"] for r in runs)
    metrics["trace.overhead_frac"] = 1 - dps_traced / dps_plain

    side = {
        "untraced_runs": plain,
        "traced_runs": runs,
        "check": [plain_report, report],
        "layer_jobs": layer,
        "stage_layers": per_call,
        "t_sec": t_sec,
        "traced_wall_s": wall,
        "spans": spans.records,
    }
    counts = outcome([plain_report, report], docs, len(plain) + len(runs))
    return side, record(*counts, metrics, PER_LAYER_UNITS)


def _layer_jobs(spark, input_path: Path, last_out: str, router: bool, spans, repeats: int = 3) -> dict:
    """Spark jobs that isolate one layer each; median wall of ``repeats``.

    * exchange: scan + the url-hash repartition, written to the noop sink
    * identity: the same plus an identity ``mapInPandas`` (Arrow hand-off)
    * gate: scan + ``limits_gate``, counted per gate status
    * results write: the last call's results, cached, written again
    """
    from pyspark.sql import functions as F

    from docling_spark.operators.formats import limits_gate

    cols = ["url", "html"] if router else ["url", "warc_ts", "html"]
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pages = spark.read.parquet(str(input_path)).select(*cols)
    exchanged = pages.repartition(parts, F.xxhash64("url"))

    def identity(batches):
        yield from batches

    cached = spark.read.parquet(last_out + "/results").persist()
    cached.count()
    out = fresh_dir("rewrite")
    jobs = {
        "exchange_s": lambda: exchanged.write.format("noop").mode("overwrite").save(),
        "identity_s": lambda: exchanged.mapInPandas(identity, exchanged.schema)
        .write.format("noop").mode("overwrite").save(),
        "gate_s": lambda: limits_gate(spark.read.parquet(str(input_path)))
        .groupBy("gate_status").count().collect(),
        "results_write_s": lambda: cached.write.mode("overwrite").parquet(str(out)),
    }
    result = {}
    for name, fn in jobs.items():
        times = []
        for i in range(repeats):
            spark.sparkContext.setJobDescription(f"layer-{name}-{i}")
            with spans.span(f"layer.{name}") as rec:
                fn()
            times.append(rec["end"] - rec["start"])
        result[name] = statistics.median(times)
    spark.sparkContext.setJobDescription(None)
    cached.unpersist()
    return result


def _t_sec_stats(spark, runs: list[dict]) -> list[dict]:
    """Per call: sum, p50 and p99 of the documents' kernel ``t_sec``."""
    from pyspark.sql import functions as F

    out = []
    for r in runs:
        row = spark.read.parquet(r["out"] + "/results").agg(
            F.sum("t_sec").alias("sum"),
            F.percentile("t_sec", 0.5).alias("p50"),
            F.percentile("t_sec", 0.99).alias("p99"),
        ).first()
        out.append(row.asDict())
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        extract_job = load_program()
    except SetupError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    from perfbench import proctree, session
    from perfbench.trace import Spans

    cores = session.host_cores()
    pinned = session.pin(cores)
    session.prepare_env(ROOT, RUN_DIR)

    def settings_for(event_log=None):
        return session.spark_settings(pinned, ROOT, RUN_DIR, event_log)

    spans = Spans()
    try:
        with proctree.RssSampler(os.getpid()) as sampler:
            if args.trace:
                side, line = traced(args, extract_job, settings_for, sampler, spans)
            else:
                side, line = untraced(args, extract_job, settings_for, sampler)
    finally:
        session.shutdown()
        leftover = session.wait_children()
        shutil.rmtree(RUN_DIR / "work", ignore_errors=True)
    side.update({
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(cores),
        "pinned_cores": pinned,
        "spark": settings_for(),
        "leftover_processes": leftover,
    })
    sidecar = RUN_DIR / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    sidecar.write_text(json.dumps(side, indent=1, default=str))
    # run context on the line before the record, which has a fixed shape
    spark = side["spark"]
    print(json.dumps({
        "sidecar": str(sidecar.relative_to(ROOT)),
        **{k: side[k] for k in ("workload", "seed", "trace", "nproc", "pinned_cores")},
        "spark": {k: spark[k] for k in ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions")},
        "stats": side.get("stats"),
    }))
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
