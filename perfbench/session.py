"""Spark session set-up and teardown for the benchmark.

``local[N]`` and the affinity pin come from the cores this process may
run on; driver memory comes from ``MemAvailable``. Workers import the
program from the checkout root through ``PYTHONPATH``, so the benchmark
runs from any working directory. Spark's scratch space, warehouse,
temp files and event log stay inside the checkout's run directory.
"""

from __future__ import annotations

import os
import subprocess
import time
from pathlib import Path


def host_cores() -> list[int]:
    return sorted(os.sched_getaffinity(0))


def pin(cores: list[int]) -> int:
    """Pin this process (inherited by the JVM and its workers) to
    ``cores``; returns the pinned core count."""
    os.sched_setaffinity(0, set(cores))
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_memory_mb(available_mb: int) -> int:
    """A quarter of available memory in whole GiB, between 1 and 2 GiB:
    a coarse step keeps the heap size, and so GC behaviour and RSS, the
    same across runs on a host whose free memory drifts."""
    return max(1, min(2, available_mb // 4 // 1024)) * 1024


def spark_settings(cores: int, root: Path, run_dir: Path, event_log: Path | None) -> dict:
    heap_mb = driver_memory_mb(mem_available_mb())
    settings = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "docling-spark-perfbench",
        "spark.driver.memory": f"{heap_mb}m",
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.task.cpus": "1",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.PYTHONPATH": str(root),
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        # a fixed, pre-touched heap, as a long-running executor's heap
        # ends up: RSS then moves with what comes on top of it (Python
        # workers, Arrow's off-heap buffers, metaspace), not with when
        # the collector grows the heap
        "spark.driver.extraJavaOptions": f"-Xms{heap_mb}m -XX:+AlwaysPreTouch",
        "spark.eventLog.enabled": "false",
    }
    if event_log is not None:
        settings.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return settings


def prepare_env(root: Path, run_dir: Path) -> None:
    """Environment the JVM and the Python workers inherit."""
    for sub in ("spark-local", "warehouse", "tmp"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(root) + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    # every JVM, the spark-submit launcher's too: temp files in the run
    # directory and no hsperfdata file under /tmp
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), java_opts))
    )


def start(settings: dict):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for key, value in settings.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown() -> None:
    """Stop the active session, then the gateway JVM, and wait for both."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin pipe closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def wait_children(deadline_s: float = 30.0) -> list[int]:
    """Wait for every descendant of this process to end; returns any
    still alive at the deadline after killing them."""
    import signal

    from perfbench.proctree import descendants

    me = os.getpid()
    end = time.monotonic() + deadline_s
    while True:
        left = [p for p in descendants(me, include_zombies=False) if p != me]
        if not left or time.monotonic() > end:
            break
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return left
