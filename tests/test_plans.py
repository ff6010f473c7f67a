"""Physical-plan audits: the optimizations the engine claims must be
visible in `explain` output (SURVEY.md §4).

- predicate pushdown + column pruning reach the parquet scan;
- the extraction hot path contains exactly one exchange (the url-hash
  repartition);
- small dimension tables broadcast in the relational layer.
"""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    from docling_spark.sources.pages import synthesize_pages

    path = str(tmp_path_factory.mktemp("plans") / "pages")
    synthesize_pages(spark, "/root/testdata/sf0.001", n_pages=64).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_scan_pushdown_and_pruning(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    q = pages.filter(F.col("lang") == "en").select("url", "html")
    plan = _optimized(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # column pruning: the scan reads only the referenced columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][-1]
    assert "html" in read_schema and "url" in read_schema
    assert "warc_ts" not in read_schema and "text" not in read_schema


def test_extract_single_exchange(spark, pages_path):
    from docling_spark.operators.convert import convert_any

    pages = spark.read.parquet(pages_path)
    res = convert_any(pages, num_partitions=8)
    plan = _plan(res)
    # the url-hash repartition is the ONLY exchange in the hot path
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(xxhash64" in plan


def test_split_big_docs_two_branch_plan(spark, pages_path):
    """north-rule "salted handling of oversized documents": the split
    plan is a Union of the url-hash branch (co-located small docs) and
    a RoundRobinPartitioning branch spreading the big docs thinly."""
    from docling_spark.operators.convert import convert_any

    pages = spark.read.parquet(pages_path)
    res = convert_any(
        pages, num_partitions=8, split_big_docs=True, big_doc_bytes=64 << 10
    )
    plan = _plan(res)
    assert "Union" in plan
    assert "RoundRobinPartitioning" in plan      # big side: spread evenly
    assert "hashpartitioning(xxhash64" in plan   # small side: url-hash
    assert plan.count("Exchange") == 2           # one per branch, no more


def test_split_big_docs_equivalent_and_spread(spark, pages_path):
    """Flag on/off produce identical rows, and round-robin guarantees no
    task owns more than ceil(n_big / P) oversized documents.

    The spread assertion runs with AQE partition coalescing disabled:
    at test scale the 13-row big branch is tiny, so AQE would merge its
    round-robin partitions and blur the per-task bound. At crawl scale
    coalescing is byte-targeted (advisoryPartitionSizeInBytes), which
    re-groups ~1 MB docs into balanced ~64 MB tasks — the same
    no-straggler property the raw round-robin gives here.
    """
    import math

    from docling_spark.operators.convert import convert_any

    pages = spark.read.parquet(pages_path)
    thresh = 64 << 10
    base = convert_any(pages, num_partitions=8)
    split = convert_any(
        pages, num_partitions=8, split_big_docs=True, big_doc_bytes=thresh
    )
    cols = ["url", "status", "md", "n_spans", "bytes_in"]
    a = sorted(map(tuple, base.select(*cols).collect()))
    b = sorted(map(tuple, split.select(*cols).collect()))
    assert a == b
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key, "true")
    try:
        spark.conf.set(key, "false")
        pids = (
            split.withColumn("pid", F.spark_partition_id())
            .withColumn("big", F.col("bytes_in") >= thresh)
            .groupBy("pid")
            .agg(
                F.sum(F.col("big").cast("int")).alias("n_big"),
                F.sum((~F.col("big")).cast("int")).alias("n_small"),
            )
            .collect()
        )
        # Spark's RoundRobinPartitioning distributes each *input*
        # partition independently (random start per partition), so the
        # provable per-task bound is ceil(n_big/P) + (#source splits
        # holding a big row) - 1, not the global ceil.
        n_src = (
            pages.filter(F.length("html") >= thresh)
            .select(F.spark_partition_id().alias("sp"))
            .distinct()
            .count()
        )
    finally:
        spark.conf.set(key, prev)
    n_big = sum(r["n_big"] for r in pids)
    assert n_big > 1  # corpus plants %997 ~1 MB rows + 20% ~80 KB rows
    # anti-straggler core: no task mixes oversized docs with a dense
    # small-doc load — the union keeps the branches' tasks disjoint
    for r in pids:
        assert r["n_big"] == 0 or r["n_small"] == 0, r
    bound = math.ceil(n_big / 8) + max(n_src - 1, 0)
    assert max(r["n_big"] for r in pids) <= bound


def test_region_revenue_broadcasts_dims(spark):
    import __spark_entry__ as entry

    q = entry.queries()["q_region_revenue"](spark, "/root/testdata/sf0.001")
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan


def test_limits_gate_stays_jvm_side(spark, pages_path):
    """The gate is a when/otherwise over length() — whole-stage codegen,
    no Python in the plan."""
    from docling_spark.operators.formats import limits_gate

    pages = spark.read.parquet(pages_path)
    plan = _plan(limits_gate(pages, max_bytes=1024))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_near_dup_embeddings_no_nested_loop(spark):
    """The registered embedding near-dup must be the banded-LSH
    equi-join plan, never an all-pairs BroadcastNestedLoopJoin."""
    import __spark_entry__ as entry

    q = entry.queries()["q_near_dup_embeddings"](spark, "/root/testdata/sf0.001")
    plan = _plan(q)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_near_dup_lsh_matches_brute_force(spark):
    """Recall check: the LSH plan returns exactly the brute-force pair
    set on the synthetic corpus (scaled copies hash identically in
    every band, so recall is 1.0 by construction)."""
    import __spark_entry__ as entry
    from docling_spark.operators import dedup

    corpus = entry._emb_with_neardups(spark, "/root/testdata/sf0.001")
    lsh = {
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in dedup.embedding_near_dups_lsh(corpus, threshold=0.99).collect()
    }
    brute = {
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in dedup.embedding_near_dups(corpus, threshold=0.99).collect()
    }
    assert lsh == brute and len(lsh) > 0


def test_jaccard_pairs_caps_hub_tokens(spark):
    """The registered jaccard query must carry its document-frequency
    skew guard: the optimized plan contains the df <= 100 post-agg
    filter on the token relation."""
    import __spark_entry__ as entry

    q = entry.queries()["q_jaccard_pairs"](spark, "/root/testdata/sf0.001")
    plan = _optimized(q)
    assert "<= 100" in plan, "max_doc_freq cap missing from the plan"


# --------------------------------------------------- SimHash scale shape


def _simhash_corpus(spark):
    """Docs with deterministic token sets: doc 3k+1 is a 1-token edit of
    doc 3k (Hamming-near simhash), doc 3k+2 is disjoint vocabulary."""
    rows = []
    for g in range(40):
        base = [f"tok{g}_{t}" for t in range(30)]
        near = base[:-1] + [f"tok{g}_EDIT"]
        far = [f"other{g}_{t}" for t in range(30)]
        rows.append((3 * g, " ".join(base)))
        rows.append((3 * g + 1, " ".join(near)))
        rows.append((3 * g + 2, " ".join(far)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash_pairs_match_brute_force(spark):
    """The Manku block-pair tables return EXACTLY the brute-force
    Hamming<=3 pair set (recall is guaranteed by construction: <=3
    dirty bits touch <=3 of 5 blocks, leaving a clean block pair that
    some table keys on)."""
    from itertools import combinations

    from docling_spark.operators import dedup

    corpus = _simhash_corpus(spark)
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.simhash_near_pairs(corpus).collect()
    }
    hashes = {r.doc_id: r.simhash for r in dedup.simhash(corpus).collect()}
    brute = {
        (a, b)
        for a, b in combinations(sorted(hashes), 2)
        if bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    assert got == brute and len(got) > 0


def test_simhash_bucket_occupancy_bounded(spark):
    """Scale shape: table keys are ~26-bit concatenations of TWO
    blocks, not one 16-bit block — on a corpus of distinct docs no
    (table, key) bucket collapses a large fraction of the corpus, and
    the key space per table is >= 2^25."""
    from docling_spark.operators import dedup

    # key width by construction: every table concatenates two blocks
    assert len(dedup._SIMHASH_TABLES) == 10
    for expr_ in dedup._simhash_table_keys():
        assert "<< 14" in expr_  # two-block concatenation, >= 25 bits
    corpus = _simhash_corpus(spark)
    sh = dedup.simhash(corpus)
    from pyspark.sql import functions as F

    bands = sh.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.expr(k) for k in dedup._simhash_table_keys()])
        ).alias("band_id", "band_val"),
    )
    occ = bands.groupBy("band_id", "band_val").count()
    max_occ = occ.agg(F.max("count")).collect()[0][0]
    # only true near-dup clusters may share a 26-bit key; the corpus
    # has pairs, so the bound is small, never a corpus-fraction bucket
    assert max_occ <= 4


def test_convert_any_single_exchange(spark, pages_path):
    """The router keeps its hot-path shape on an input without warc_ts:
    scan -> ONE url-hash Exchange -> one Arrow python stage.
    A second shuffle or a stray row-wise BatchEvalPython would double
    the network cost of every crawl conversion at 100 TB."""
    from docling_spark.operators.convert import convert_any

    pages = spark.read.parquet(pages_path)
    plan = _plan(convert_any(pages.select("url", "html"), num_partitions=8))
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan
    assert plan.count("MapInPandas") == 1


def test_media_features_single_exchange(spark):
    """Media feature extraction: one media_id-hash Exchange, one
    mapInPandas; payload bytes never route through a JVM-side
    aggregation."""
    from docling_spark.operators.multimodal import (
        extract_media_features,
        synth_media,
    )

    feats = extract_media_features(synth_media(spark, 64))
    plan = _plan(feats)
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan


def test_lsh_topk_single_parquet_scan(spark):
    """r4: x_lsh_topk persists the embeddings before the auto_n_bits
    sizing count, so the LSH job reads the cache (InMemoryTableScan)
    instead of re-scanning the parquet."""
    import __spark_entry__ as entry

    df = entry.queries()["x_lsh_topk"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    assert df.count() > 0


def test_doc_deciles_no_single_partition(spark):
    """q_doc_deciles ranks documents without a global-order window: the
    plan has no SinglePartition exchange, and its one Window is
    partitioned by n_chars."""
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["q_doc_deciles"](spark, "/root/testdata/sf0.001"))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(n_chars" in plan
    assert "BroadcastExchange" in plan
