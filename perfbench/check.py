"""Output checks applied to every timed run.

* digest: sha256 over the rows sorted by url of ``(url, fmt/status, md,
  txt, spans)``; ``t_sec`` is left out. Every run of one process must
  give the same digest, and for the default seed it must equal the one
  kept in ``digests.json``.
* accounting: one result row per input url; clean inputs must end with
  ``status='success'``; hostile inputs may end in any status.
* sample re-run: a fixed sample of documents is converted again
  in-process through ``extract_one``/``convert_one`` and must match the
  Spark rows field for field.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

DIGESTS = Path(__file__).resolve().parent / "digests.json"
SAMPLE_SIZE = 12
# fields compared by the sample re-run (everything but timing)
HTML_FIELDS = ("status", "error", "md", "txt", "n_nodes", "n_spans", "spans", "bytes_in")
ROUTER_FIELDS = (
    "fmt", "status", "error", "md", "txt", "n_nodes", "n_chunks",
    "doctags", "json", "bytes_in", "ocr_needed",
)


def output_digest(spark, results_path: str, router: bool) -> tuple[str, dict[str, list[str]]]:
    """(digest, url -> statuses) of one run's results table."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(results_path)
    label = F.concat_ws("/", "fmt", "status") if router else F.col("status")
    parts = [F.col("url"), label, F.coalesce("md", F.lit("\0")), F.coalesce("txt", F.lit("\0"))]
    if not router:
        parts.append(F.to_json("spans"))
    rows = df.select("url", "status", F.sha2(F.concat_ws("\x1f", *parts), 256).alias("h")).collect()
    statuses: dict[str, list[str]] = {}
    for r in rows:
        statuses.setdefault(r["url"], []).append(r["status"])
    body = "\n".join(sorted(f"{r['url']}\t{r['h']}" for r in rows))
    return hashlib.sha256(body.encode()).hexdigest(), statuses


def expected_digest(workload: str) -> str | None:
    return json.loads(DIGESTS.read_text()).get(workload)


def count_failures(docs, statuses: dict[str, list[str]]) -> dict:
    """Clean inputs that did not end as one success row, inputs (clean
    or hostile) that did not end as exactly one row, and result urls
    that match no input."""
    clean_failed = [d.url for d in docs if not d.hostile and statuses.get(d.url) != ["success"]]
    not_one_row = [d.url for d in docs if len(statuses.get(d.url, ())) != 1]
    return {
        "failed_clean": len(clean_failed),
        "not_one_row": len(not_one_row),
        "unexpected_urls": len(set(statuses) - {d.url for d in docs}),
        "examples": (clean_failed + not_one_row)[:5],
    }


def sample(docs) -> list:
    """A fixed, cheap sample: the first input of each generator kind,
    then the next inputs in order up to SAMPLE_SIZE, skipping the ~1 MB
    straggler."""
    candidates = [d for d in docs if d.kind != "big"]
    picked, kinds = [], set()
    for d in candidates:
        if d.kind not in kinds:
            kinds.add(d.kind)
            picked.append(d)
    urls = {d.url for d in picked}
    for d in candidates:
        if len(picked) >= SAMPLE_SIZE:
            break
        if d.url not in urls:
            picked.append(d)
    return picked


def _norm(value):
    if isinstance(value, list):
        return [tuple(v) for v in value]
    if isinstance(value, float):
        return repr(value)  # NaN compares equal to itself by repr
    return value


def rerun_mismatches(spark, results_path: str, docs, router: bool) -> list[str]:
    """Urls of sampled documents whose in-process conversion differs
    from the Spark row."""
    from pyspark.sql import functions as F

    if router:
        from docling_spark.operators.convert import convert_one as convert
        fields = ROUTER_FIELDS
    else:
        from docling_spark.operators.extract import extract_one as convert
        fields = HTML_FIELDS
    picked = sample(docs)
    rows = {
        r["url"]: r
        for r in spark.read.parquet(results_path)
        .filter(F.col("url").isin([d.url for d in picked]))
        .collect()
    }
    bad = []
    for d in picked:
        row = rows.get(d.url)
        local = convert(d.url, d.payload)
        if row is None or any(_norm(row[f]) != _norm(local[f]) for f in fields):
            bad.append(d.url)
    return bad
