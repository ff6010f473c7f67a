"""bench.py's record contract: the last stdout line is the compact
summary, parses alone and fits a driver's tail capture."""

import json

import bench

QUERIES = ["extract", "q_pricing_summary", "q_region_revenue", "q_top_customers",
           "q_token_stats", "q_dedup_exact", "x_minhash_pairs", "q_ann_topk"]


def test_last_line_is_the_compact_summary():
    timings = {q: 123.456 + i for i, q in enumerate(QUERIES)}
    load = {
        "sec": 123.456, "load1_before": 3.91, "load1_after": 4.02,
        "procs_running_before": 5, "procs_running_after": 6, "steal_jiffies_delta": 101,
    }
    lines = bench.record_lines(
        timings, timings, timings, {q: [load] * 3 for q in QUERIES},
        n_pages=20000, n_ok=20000, t_extract=141.6, pinned=True, partial=False,
    )
    summary = json.loads(lines[-1])
    assert len(lines[-1]) <= 1500
    assert summary["queries"] == timings and summary["queries_min"] == timings
    assert summary["docs_per_sec"] == 141.2
    assert {"metric", "value", "unit", "cpus", "pinned_affinity", "n_pages", "repeats",
            "sf"} <= summary.keys()
    assert "load" not in summary
    assert len(json.loads(lines[0])["load"]["extract"]) == 3
