"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; the last stdout line is the JSON record.

The flagship metric is the extraction pipeline (pages -> byte-exact
markdown + spans): pages are synthesized once per (sf, n) into a local
parquet cache (stands in for the Iceberg scan) so the measured time is
scan + extract + aggregate, not input generation.

Each timed item runs SPARK_GRAFT_REPEATS times (default 3) and the
reported per-query number is the MEDIAN; min/max are reported under
``queries_min``/``queries_max``. Single-shot driver records previously
inherited ±2x host-VM noise (round-2 postmortem: three phantom
regressions on unchanged plans); medians make rounds comparable.

Extra keys beyond the driver contract: ``docs_per_sec`` (headline
throughput, from the median extract time) and ``n_pages``. The LAST
stdout line is always that compact summary (at most 1,500 chars: a
driver keeps only the tail of stdout); the line before it carries the
per-repeat ``load`` samples, ``queries_max`` and ``extract_success``.
``SPARK_GRAFT_CPUS`` defaults to the cores this process may run on.

Load-aware protocol (round-5): every repeat records /proc/loadavg and
the CPU steal delta around it into ``load`` so a contended measurement
window is visible in the record itself instead of needing an
independent re-run to diagnose (rounds 2 and 4 both produced phantom
±25% swings on unchanged, plan-tested queries). The process also pins
itself to the first $SPARK_GRAFT_CPUS cores via sched_setaffinity
(disable with SPARK_GRAFT_PIN=0), matching jobs/scaling_bench.py, so
the JVM's sizing decisions see a stable core budget. ``queries_min``
is the reproducible-signal column: min-of-repeats is robust to
transient host contention, median to one-off fast flukes — compare
rounds on min when the load markers disagree.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def available_cpus() -> int:
    """Cores this process may run on (its affinity mask)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 1


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or available_cpus())
PAGES_PER_DOC = int(os.environ.get("SPARK_GRAFT_PAGES_PER_DOC", "4"))
CACHE_ROOT = os.environ.get("SPARK_GRAFT_CACHE", "/tmp/docling_spark_bench")
REPEATS = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))
PIN = os.environ.get("SPARK_GRAFT_PIN", "1") != "0"


def pin_affinity(cpus: int) -> bool:
    """Bind this process (and every child: JVM, python workers) to the
    first ``cpus`` cores, like jobs/scaling_bench.py's per-level runs.
    No-op where unsupported; returns whether the pin took effect."""
    try:
        os.sched_setaffinity(0, set(range(cpus)))
        return True
    except (AttributeError, OSError, ValueError):
        return False


def host_load() -> dict:
    """One host-contention sample: 1-min loadavg, runnable-thread count
    and the monotonically increasing steal jiffies from /proc/stat.
    Empty dict on non-Linux hosts — markers are best-effort."""
    out: dict = {}
    try:
        with open("/proc/loadavg") as f:
            parts = f.read().split()
        out["load1"] = float(parts[0])
        out["procs_running"] = int(parts[3].split("/")[0])
    except (OSError, ValueError, IndexError):
        pass
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        out["steal_jiffies"] = int(cpu[8]) if len(cpu) > 8 else 0
    except (OSError, ValueError, IndexError):
        pass
    return out


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("docling-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        # GC parallelism scaled to the level like executor-JVM
        # ergonomics (cpus/2 parallel, cpus/8 concurrent). Round-5
        # interleaved A/B on the 20k corpus: the old task.cpus=2 + GC=8
        # tuning cost ~40% at local[32] (434 -> 713 docs/s) once the
        # extraction kernel got faster — the Python worker is now the
        # bottleneck, so halving task slots idles cores and 8 GC
        # threads throttle a 32-core heap.
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:ParallelGCThreads={max(4, cpus // 2)} "
            f"-XX:ConcGCThreads={max(2, cpus // 8)}",
        )
        .config("spark.task.cpus", "1")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .getOrCreate()
    )


def pages_parquet(spark, sf_dir: str, n_pages: int) -> str:
    """Materialize the synthetic pages table once (deterministic)."""
    tag = sf_dir.rstrip("/").split("/")[-1]
    path = f"{CACHE_ROOT}/pages_{tag}_{n_pages}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from docling_spark.sources.pages import synthesize_pages

        synthesize_pages(spark, sf_dir, n_pages=n_pages).repartition(
            max(CPUS, 8)
        ).write.mode("overwrite").parquet(path)
    return path


def warmup(spark) -> None:
    """Steady-state protocol: spawn the JVM codegen paths and all
    Python UDF workers (imports included) before timing — executor
    startup is not part of cluster throughput, and its cost scales
    with worker count, which would corrupt the N-vs-4N efficiency."""
    from docling_spark.operators.convert import convert_any
    from docling_spark.sources.pages import synthesize_pages

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    tiny = synthesize_pages(spark, "/root/testdata/sf0.001", n_pages=CPUS * 4)
    convert_any(tiny, num_partitions=CPUS * 2).groupBy("status").count().collect()


def timed(
    fn, repeats: int = REPEATS, spark=None
) -> tuple[float, float, float, list[dict]]:
    """(median, min, max, load_samples) wall seconds over ``repeats``.

    Each repeat is hermetic: Spark's CacheManager matches persisted
    plans by canonicalized form, so a query that persist()s (e.g. the
    MinHash shingle scan) would silently serve repeats 2..n from repeat
    1's cache and the median would measure cache hits, not the query.
    clearCache() before every repeat keeps the measurement honest.

    ``load_samples`` carries one dict per repeat: wall seconds, 1-min
    loadavg before/after, runnable threads and the steal-jiffies delta
    across the repeat — enough to adjudicate a contended window from
    the record alone."""
    ts = []
    loads: list[dict] = []
    for _ in range(repeats):
        if spark is not None:
            spark.catalog.clearCache()
        before = host_load()
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        after = host_load()
        ts.append(dt)
        loads.append(
            {
                "sec": round(dt, 3),
                "load1_before": before.get("load1"),
                "load1_after": after.get("load1"),
                "procs_running_before": before.get("procs_running"),
                "procs_running_after": after.get("procs_running"),
                "steal_jiffies_delta": (
                    after.get("steal_jiffies", 0) - before.get("steal_jiffies", 0)
                ),
            }
        )
    return statistics.median(ts), min(ts), max(ts), loads


def record_lines(
    timings: dict[str, float],
    tmin: dict[str, float],
    tmax: dict[str, float],
    qload: dict[str, list[dict]],
    n_pages: int,
    n_ok: int,
    t_extract: float,
    pinned: bool,
    partial: bool,
) -> list[str]:
    """The record as two JSON lines: per-repeat detail, then the
    compact summary that must end stdout."""
    detail = {
        "record": "detail",
        "queries_max": dict(tmax),
        "extract_success": n_ok,
        "load": dict(qload),
    }
    summary = {
        "metric": "headline_suite_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": dict(timings),
        "queries_min": dict(tmin),
        "docs_per_sec": round(n_pages / t_extract, 1) if t_extract else 0.0,
        "cpus": CPUS,
        "pinned_affinity": pinned,
        "n_pages": n_pages,
        "repeats": REPEATS,
        "sf": SF_DIR.rstrip("/").split("/")[-1],
    }
    if partial:
        summary["partial"] = True
    return [json.dumps(detail), json.dumps(summary)]


def main() -> None:
    pinned = pin_affinity(CPUS) if PIN else False
    spark = build_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from docling_spark.operators.convert import convert_any

    warmup(spark)
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    n_pages = n_docs * PAGES_PER_DOC
    pages_path = pages_parquet(spark, SF_DIR, n_pages)

    timings: dict[str, float] = {}
    tmin: dict[str, float] = {}
    tmax: dict[str, float] = {}
    qload: dict[str, list[dict]] = {}

    def snapshot(n_pages: int, n_ok: int, t_extract: float, partial: bool) -> None:
        # progressive snapshot: if the harness kills a long run, the
        # LAST complete line still carries every finished phase
        for line in record_lines(
            timings, tmin, tmax, qload, n_pages, n_ok, t_extract, pinned, partial
        ):
            print(line, flush=True)

    # ---- flagship: extraction throughput ----
    pages = spark.read.parquet(pages_path)
    n_ok_box = [0]

    def run_extract():
        res = convert_any(
            pages,
            num_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
        )
        agg = res.groupBy("status").count().collect()
        n_ok_box[0] = sum(r["count"] for r in agg if r["status"] == "success")

    # one UNTIMED full-size pass first: the tiny-corpus warmup spawns
    # workers and codegen but leaves the JVM's C2 tier cold on the
    # Parquet/Arrow hot paths — measured on the 20k corpus, the same
    # session keeps speeding up for ~4 runs (51.9 -> 41.6 -> ... ->
    # 25.5 s best-of-5 in jobs/scaling_bench.py). A production
    # extraction job runs hot for hours, so steady state is the honest
    # model; the load markers still expose any contended window.
    for _ in range(2):
        spark.catalog.clearCache()
        run_extract()
    med, lo, hi, loads = timed(run_extract, spark=spark)
    timings["extract"] = round(med, 3)
    tmin["extract"] = round(lo, 3)
    tmax["extract"] = round(hi, 3)
    qload["extract"] = loads
    t_extract = med
    n_ok = n_ok_box[0]
    snapshot(n_pages, n_ok, t_extract, partial=True)

    # ---- headline companion queries (sf-dir relational + dedup + ann) ----
    qs = entrymod.queries()
    for name in (
        "q_pricing_summary",
        "q_region_revenue",
        "q_top_customers",
        "q_token_stats",
        "q_dedup_exact",
        "x_minhash_pairs",
        "q_ann_topk",
    ):
        med, lo, hi, loads = timed(
            lambda name=name: qs[name](spark, SF_DIR).collect(), spark=spark
        )
        timings[name] = round(med, 3)
        tmin[name] = round(lo, 3)
        tmax[name] = round(hi, 3)
        qload[name] = loads
        snapshot(n_pages, n_ok, t_extract, partial=True)

    snapshot(n_pages, n_ok, t_extract, partial=False)
    spark.stop()


if __name__ == "__main__":
    main()
