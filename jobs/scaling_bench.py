"""Two-cluster-size scaling evidence (north rule: throughput scaling
efficiency >= 0.8 from N to 4N executors).

Sandbox proxy: the same extraction job on the same input at local[N]
and local[4N], with the levels derived from the cores this process may
run on (C): N = C/4 -> 4N = C is the headline pair, C/2 -> C is also
reported (on a 4-core host: 1 -> 4 and 2 -> 4). At level C the driver,
GC and OS share the task cores, so the efficiency understates what
separate executors would reach. Sessions come from bench.py's
``build_spark``: ``spark.task.cpus=1`` with GC parallelism scaled to
the level, the same config FORMULA at every level, so the ratio
remains a pure cores-scaling measurement.

Protocol (matches BASELINE.md): deterministic pages corpus cached to
parquet (bench.py's ``pages_parquet``); per level: spawn session ->
warm JVM codegen + all Python workers -> best of REPS timed runs of
scan -> repartition(xxhash64(url)) -> mapInPandas extract -> status
rollup. Efficiency = (docs_per_sec@C / docs_per_sec@N) / (C / N).

Run: python jobs/scaling_bench.py [n_pages] (default 10000, sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import SF_DIR, available_cpus, build_spark, pages_parquet, pin_affinity  # noqa: E402

REPS = int(os.environ.get("SPARK_GRAFT_REPS", "2"))


def measure(cpus: int, path: str, n_pages: int) -> float:
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    from docling_spark.operators.convert import convert_any
    from docling_spark.sources.pages import synthesize_pages

    tiny = synthesize_pages(spark, "/root/testdata/sf0.001", n_pages=cpus * 8)
    convert_any(tiny, num_partitions=cpus * 2).groupBy("status").count().collect()

    pages = spark.read.parquet(path)
    best = None
    for _ in range(REPS):
        t0 = time.perf_counter()
        convert_any(pages, num_partitions=cpus * 2).groupBy(
            "status"
        ).count().collect()
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
    spark.stop()
    return n_pages / best


def _run_level(cpus: int, path: str, n_pages: int) -> float:
    """One parallelism level in an isolated, CPU-PINNED subprocess.

    Affinity is the honest part of the protocol: local[N] on an idle
    host otherwise runs its N threads on whichever cores boost highest
    with the rest idle and no memory-bandwidth contention — advantages
    a real N-core executor never has — which inflates the N-level
    baseline and understates N->4N efficiency. Pinning the
    whole process tree (Spark JVM + python workers inherit the mask)
    to exactly ``cpus`` cores models separate cluster sizes on one box.
    """
    import subprocess

    proc = subprocess.run(
        [sys.executable, __file__, "--level", str(cpus), "--path", path,
         "--n-pages", str(n_pages)],
        capture_output=True, text=True, timeout=1800,
    )
    if proc.returncode != 0:
        raise RuntimeError(proc.stderr[-2000:])
    return float(proc.stdout.strip().splitlines()[-1])


def main() -> None:
    if "--level" in sys.argv:
        import argparse

        ap = argparse.ArgumentParser()
        ap.add_argument("--level", type=int, required=True)
        ap.add_argument("--path", required=True)
        ap.add_argument("--n-pages", type=int, required=True)
        args = ap.parse_args()
        pin_affinity(args.level)
        print(measure(args.level, args.path, args.n_pages))
        return

    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 10000
    top = available_cpus()
    spark = build_spark(top)
    spark.sparkContext.setLogLevel("ERROR")
    path = pages_parquet(spark, SF_DIR, n_pages)
    spark.stop()
    out: dict = {"n_pages": n_pages, "sf": SF_DIR.rstrip("/").split("/")[-1]}
    levels = {}
    for cpus in sorted({max(1, top // 4), max(1, top // 2), top}):
        levels[cpus] = round(_run_level(cpus, path, n_pages), 1)
        print(f"# local[{cpus}] pinned to {cpus} cores: {levels[cpus]} docs/s",
              file=sys.stderr, flush=True)
    out["docs_per_sec"] = {str(k): v for k, v in levels.items()}
    for n in levels:
        if n < top:
            out[f"efficiency_{n}_to_{top}"] = round(levels[top] * n / (top * levels[n]), 3)
    n = min(levels)
    out["headline_pair"] = f"{n}->{top}"
    out["efficiency"] = out.get(f"efficiency_{n}_to_{top}")
    out["protocol"] = (
        "per-level subprocess pinned via sched_setaffinity; "
        f"best of {REPS} steady-state repeats per level; "
        "the driver shares the cores of every level"
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
