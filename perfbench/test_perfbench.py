"""Tests of the benchmark itself (not of the program it measures).

Run from the checkout root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import run, workloads  # noqa: E402

TAIL_CAPTURE = 2000


def _benchmark_json() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_metric_names_and_units_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(run.SIZES)


def test_record_is_last_line_json_within_tail_capture():
    # the widest values the formatter can produce, for every metric
    for units in (run.END_TO_END_UNITS, run.PER_LAYER_UNITS):
        metrics = {name: -1.234567891234e-10 for name in units}
        line = run.record(True, 10**12, 10**12, metrics, units)
        assert "\n" not in line
        assert len(line) < TAIL_CAPTURE
        parsed = json.loads(line)
        assert set(parsed) == {"correct", "attempted", "failed", "metrics"}
        assert set(parsed["metrics"]) == set(units)
        assert all(set(m) == {"value", "unit"} for m in parsed["metrics"].values())


def test_record_keeps_measured_digits():
    line = run.record(True, 1, 0, {"x": 56.35910546705815}, {"x": "1/s"})
    assert json.loads(line)["metrics"]["x"]["value"] == 56.3591


def test_bare_directory_exits_nonzero_without_record(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_html",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


def test_inputs_repeat_per_seed_and_keep_their_shape():
    for name, gen in workloads.GENERATORS.items():
        a, b, c = gen(3, 250), gen(3, 250), gen(4, 250)
        assert a == b, name
        assert [d.payload for d in a] != [d.payload for d in c], name
        assert [d.kind for d in a] == [d.kind for d in c], name
        assert len({d.url for d in a}) == len(a), name


def test_workload_shapes():
    crawl = workloads.crawl_html(5, 300)
    assert [d.kind for d in crawl].count("big") == 1
    assert sum("hot.example.com" in d.url for d in crawl[:300]) == 90
    assert max(len(d.payload) for d in workloads.tiny_pages(5, 500)) < 1024
    mixed = workloads.mixed_formats(5, 250)
    assert sum(d.hostile for d in mixed) == 5
    assert {d.kind for d in mixed if d.hostile} == set(workloads.HOSTILE_KINDS)
