"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship extraction pipeline; ``queries`` exposes one
entry per implemented operator family (SURVEY.md §2 + the training-data
pipeline operators); ``oracle_sql`` gives the DuckDB twin for every
SQL-expressible query (identical column names + deterministic values:
integer-exact reductions, exact percentiles, rounded scalar math).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

ANN_QUERY_IDS = [0, 1, 2, 3, 4]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _emb_with_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings plus deterministic scaled copies (vec_id % 7, v * 2):
    exact-direction duplicates (cosine == 1.0) so the near-dup operator
    has true positives on the synthetic corpus (max cosine between
    distinct synthetic vectors is ~0.6). Scaling by 2 is exact in IEEE
    float, so the copies hash into the same LSH bucket in every band."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    copies = e.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr("transform(embedding, x -> x * 2.0d)").alias("embedding"),
    )
    return e.unionByName(copies)


def _corpus_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus forced exact duplicates (doc_id % 17) so the
    dedup operators have real work on the synthetic corpus."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return d.unionByName(dups)


# ---------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesize the Common-Crawl-style pages table from the
    sf0.001 documents parquet and convert it end-to-end through the
    format router."""
    from docling_spark.operators.convert import convert_any
    from docling_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, "/root/testdata/sf0.001")
    res = convert_any(pages, num_partitions=8)
    return res.select(
        "url", "warc_ts", "status", "n_nodes", "n_spans", "bytes_in", "md", "txt"
    )


# --------------------------------------------------------------- queries


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from docling_spark.operators import (
        chunks,
        convert,
        dedup,
        extract_pdf,
        formats,
        multimodal,
        similarity,
        text_analysis,
    )
    from docling_spark.sources.pages import synthesize_pages

    # ---- extraction family (kernel output; rows-only checks) ----
    def x_extract(spark, sf_dir):
        pages = synthesize_pages(spark, sf_dir)
        return convert.convert_any(pages).select(
            "url", "status", "n_nodes", "n_spans", "bytes_in", "md"
        ).orderBy("url")

    def x_extract_status(spark, sf_dir):
        pages = synthesize_pages(spark, sf_dir)
        res = convert.convert_any(pages)
        return res.groupBy("status").agg(
            F.count("*").alias("n_docs"), F.sum("bytes_in").alias("total_bytes")
        ).orderBy("status")

    def x_format_rollup(spark, sf_dir):
        pages = synthesize_pages(spark, sf_dir)
        return formats.format_rollup(pages)

    def x_limits_gate(spark, sf_dir):
        pages = synthesize_pages(spark, sf_dir)
        return (
            formats.limits_gate(pages, max_bytes=512 << 10)
            .groupBy("gate_status")
            .agg(F.count("*").alias("n_docs"))
            .orderBy("gate_status")
        )

    def x_minhash_pairs(spark, sf_dir):
        return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.8)

    def x_simhash_pairs(spark, sf_dir):
        return dedup.simhash_near_pairs(_docs(spark, sf_dir))

    def x_lsh_topk(spark, sf_dir):
        # 8 tables + Hamming-1 multi-probe; n_bits derived from the
        # corpus count so each probed bucket stays ~64 vectors at EVERY
        # scale (6 bits at 10^3 vectors, 27 at 10^10) — the registered
        # entry is the production shape, not a test-scale constant.
        # Recall@10 >= 0.6 pinned by tests/test_plans.py. The relation
        # is persisted BEFORE the sizing count so the parquet is
        # scanned once: the count materializes the cache and the LSH
        # job reads it back instead of rescanning.
        emb = _emb(spark, sf_dir).persist()
        n_bits = similarity.auto_n_bits(emb.count())
        return similarity.lsh_topk(
            emb, ANN_QUERY_IDS, k=10, n_bits=n_bits, n_tables=8
        )

    def x_media_rollup(spark, sf_dir):
        media = multimodal.synth_media(spark, 256)
        return multimodal.media_rollup(multimodal.extract_media_features(media))

    def x_pdf_extract(spark, sf_dir):
        from docling_spark.sources.pdfgen import synthesize_pdf_pages

        pdfs = synthesize_pdf_pages(spark, sf_dir, n_docs=200)
        res = convert.convert_any(pdfs, content_col="content", num_partitions=16)
        return res.select(
            "url", "status", "n_pages", "n_nodes", "parse_score", "md"
        ).orderBy("url")

    def x_pdf_real(spark, sf_dir):
        """Mixed-producer PDF corpus (classic xref, xref-stream +
        ObjStm + Identity-H CID, xref-stream simple-font): every
        producer shape must extract with status=success and a clean
        parse score — the round-1 reader saw the modern shapes as
        empty/garbled."""
        from docling_spark.sources.pdfgen import synthesize_pdf_pages

        pdfs = synthesize_pdf_pages(spark, sf_dir, n_docs=200, mixed_producers=True)
        res = convert.convert_any(pdfs, content_col="content", num_partitions=16)
        return (
            res.withColumn(
                "doc_id", F.regexp_extract("url", r"/doc/(\d+)\.pdf", 1).cast("long")
            )
            .withColumn(
                "producer",
                F.element_at(
                    F.array(F.lit("classic"), F.lit("cid_objstm"), F.lit("xrefstream")),
                    (F.col("doc_id") % 3 + 1).cast("int"),
                ),
            )
            .groupBy("producer", "status")
            .agg(
                F.count("*").alias("n_docs"),
                F.round(F.avg("parse_score"), 4).alias("avg_parse_score"),
                F.sum("n_nodes").alias("total_nodes"),
            )
            .orderBy("producer", "status")
        )

    def x_multimodal_pages(spark, sf_dir):
        """S8: per-page (text, md, doctags, cells, segments) training
        tuples (utils/export.py:13-146 semantics)."""
        from docling_spark.sources.pdfgen import synthesize_pdf_pages

        pdfs = synthesize_pdf_pages(spark, sf_dir, n_docs=100, mixed_producers=True)
        mm = extract_pdf.multimodal_pages(pdfs, num_partitions=16)
        return (
            mm.select(
                "url",
                "page_no",
                F.size("cells").alias("n_cells"),
                F.size("segments").alias("n_segments"),
                F.length("md").alias("md_len"),
                F.length("text").alias("text_len"),
            )
            .orderBy("url", "page_no")
        )

    def x_pdf_confidence(spark, sf_dir):
        from docling_spark.sources.pdfgen import synthesize_pdf_pages

        pdfs = synthesize_pdf_pages(spark, sf_dir, n_docs=200)
        pages = extract_pdf.parse_pdf_page_rows(pdfs)
        return extract_pdf.confidence_rollup(pages).orderBy("url")

    def x_chunks(spark, sf_dir):
        pages = synthesize_pages(spark, sf_dir)
        ch = chunks.chunk_pages(pages, mode="hybrid", max_tokens=128)
        return chunks.chunk_stats(ch)

    def x_chunks_router(spark, sf_dir):
        """E6 over the FULL router: one chunking pass on a mixed
        html+pdf crawl (the embedding-pipeline input shape)."""
        from docling_spark.sources.pdfgen import synthesize_pdf_pages

        html = synthesize_pages(spark, sf_dir).limit(150).select("url", "html")
        pdfs = synthesize_pdf_pages(spark, sf_dir, n_docs=50).select(
            "url", F.col("content").alias("html")
        )
        ch = chunks.chunk_pages(html.unionByName(pdfs), mode="hybrid", max_tokens=128)
        return chunks.chunk_stats(ch)

    def x_enrich_code(spark, sf_dir):
        """V6 enrichment driver over the extracted corpus: code spans
        -> heuristic language tag -> per-language rollup (explode ->
        filter processable -> mapInPandas model -> re-join)."""
        from docling_spark.operators import enrich

        pages = synthesize_pages(spark, sf_dir)
        res = convert.convert_any(pages)
        rel = enrich.enrich_code_language(res)
        return (
            rel.groupBy(F.col("enrichment").alias("language"))
            .agg(F.count("*").alias("n_spans"))
            .orderBy("language")
        )

    def x_convert_mixed(spark, sf_dir):
        """S4 routing over a mixed html/pdf/csv corpus."""
        from pyspark.sql import functions as F

        from docling_spark.sources.pdfgen import synthesize_pdf_pages

        html = synthesize_pages(spark, sf_dir).limit(200).select("url", "html")
        pdf = (
            synthesize_pdf_pages(spark, sf_dir, n_docs=100)
            .select("url", F.col("content").alias("html"))
        )
        csvs = spark.createDataFrame(
            [(f"https://csv.example.com/{i}", bytearray(f"a,b\n{i},2\n".encode()))
             for i in range(50)],
            "url string, html binary",
        )
        mixed = html.unionByName(pdf).unionByName(csvs)
        return convert.conversion_rollup(convert.convert_any(mixed, num_partitions=16))

    def x_convert_all(spark, sf_dir):
        """S4 routing over EVERY backend the router dispatches: a crawl
        table whose payload bytes are the reference's own fixtures for
        all formats (document_converter.py:131-198 format map) —
        html/pdf/csv/docx/xlsx/pptx/jats/uspto/mets-targz/md/asciidoc/
        audio/image/docling-json. One executable witness per backend
        family per round: every fmt must roll up with status=success."""
        import glob as _glob
        import os as _os

        fix = "/root/reference/tests/data"
        picks: list[tuple[str, str]] = []  # (glob, fmt_tag)
        for pattern in (
            "html/example_0*.html",
            "pdf/code_and_formula.pdf",
            "pdf/multi_page.pdf",
            "csv/csv-comma.csv",
            "csv/csv-tab.csv",
            "docx/word_sample.docx",
            "docx/unit_test_lists.docx",
            "xlsx/test-01.xlsx",
            "pptx/powerpoint_sample.pptx",
            "jats/elife-56337.xml",
            "jats/pntd.0008301.nxml",
            "uspto/ipa20200022300.xml",
            "uspto/ipg07997973.xml",
            "mets_gbs/32044009881525_select.tar.gz",
            "md/blocks.md",
            "md/mixed.md",
            "asciidoc/test_01.asciidoc",
            "audio/sample_10s.mp3",
            "2305.03393v1-pg9-img.png",
            "webp/webp-test.webp",
            "tiff/2206.01062.tif",
            "groundtruth/docling_v2/example_02.html.json",
        ):
            picks.extend((p, pattern.split("/")[0]) for p in sorted(
                _glob.glob(_os.path.join(fix, pattern))
            ))
        rows = []
        for path, _tag in picks:
            with open(path, "rb") as fh:
                rows.append(
                    (f"https://fixtures.example.com/{_os.path.relpath(path, fix)}",
                     bytearray(fh.read()))
                )
        crawl = spark.createDataFrame(rows, "url string, html binary")
        res = convert.convert_any(crawl, num_partitions=8)
        return convert.conversion_rollup(res)

    # ---- SQL-expressible family (DuckDB-oracled) ----
    def q_token_stats(spark, sf_dir):
        return text_analysis.token_stats(_docs(spark, sf_dir))

    def q_quality_rollup(spark, sf_dir):
        return text_analysis.quality_rollup(_docs(spark, sf_dir))

    def q_langid_rollup(spark, sf_dir):
        return text_analysis.language_id_rollup(_docs(spark, sf_dir))

    def q_fingerprints(spark, sf_dir):
        return text_analysis.fingerprints(_docs(spark, sf_dir)).orderBy("doc_id")

    def q_dedup_exact(spark, sf_dir):
        return dedup.exact_dup_groups(_corpus_with_dups(spark, sf_dir))

    def q_jaccard_pairs(spark, sf_dir):
        # max_doc_freq caps hub tokens (document frequency > 100) so the
        # token self-join never routes a stopword through one reducer —
        # the skew guard the operator exists for, mirrored in the oracle
        return dedup.ngram_jaccard_pairs(
            _docs(spark, sf_dir), threshold=0.95, max_doc_freq=100
        )

    def q_near_dup_embeddings(spark, sf_dir):
        # banded-LSH candidates + exact cosine verify (equi-join plan,
        # no BroadcastNestedLoopJoin); the oracle twin is brute-force SQL
        # over the same corpus — recall is exact here because the
        # injected near-dups are scaled copies (identical LSH signature)
        return dedup.embedding_near_dups_lsh(
            _emb_with_neardups(spark, sf_dir), threshold=0.99
        )

    def q_ann_topk(spark, sf_dir):
        return similarity.brute_force_topk(_emb(spark, sf_dir), ANN_QUERY_IDS, k=10)

    def q_pricing_summary(spark, sf_dir):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return (
            li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").cast("long").alias("sum_qty"),
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                ).alias("sum_base_cents"),
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                    ).cast("long")
                ).alias("sum_disc_cents"),
                F.count("*").alias("n_items"),
            )
            .orderBy("l_returnflag", "l_linestatus")
        )

    def q_region_revenue(spark, sf_dir):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .groupBy("r_name")
            .agg(
                F.countDistinct("o_orderkey").alias("n_orders"),
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                    ).cast("long")
                ).alias("revenue_cents"),
            )
            .orderBy("r_name")
        )

    def q_top_customers(spark, sf_dir):
        from pyspark.sql import Window

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        rev = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .groupBy("c_custkey", "c_mktsegment")
            .agg(
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                    ).cast("long")
                ).alias("revenue_cents")
            )
        )
        w = Window.partitionBy("c_mktsegment").orderBy(
            F.desc("revenue_cents"), F.asc("c_custkey")
        )
        return (
            rev.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("c_mktsegment", F.col("rnk").cast("int").alias("rnk"),
                    "c_custkey", "revenue_cents")
            .orderBy("c_mktsegment", "rnk")
        )

    def q_order_priority(spark, sf_dir):
        # TPC-H Q4 shape: EXISTS semi-join — orders with at least one
        # returned line, counted by priority. left_semi keeps the
        # probe side unduplicated (no distinct needed), the exact
        # plan a 100 TB run wants: one shuffle on the join key, no
        # post-join dedup exchange.
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
        return (
            orders.join(
                returned, orders.o_orderkey == returned.l_orderkey, "left_semi"
            )
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_orders"))
            .orderBy("o_orderpriority")
        )

    def q_idle_customers(spark, sf_dir):
        # anti-join: customers with no FINALIZED ('F') order, per
        # market segment (the resume path's plan shape,
        # q_resume_antijoin, applied relationally; the status filter
        # keeps the result non-empty at every sf so the oracle hash
        # is a real witness, not a 0-row tautology).
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        finalized = orders.filter(F.col("o_orderstatus") == "F")
        return (
            cust.join(
                finalized, cust.c_custkey == finalized.o_custkey, "left_anti"
            )
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n_idle"),
                F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
            )
            .orderBy("c_mktsegment")
        )

    def q_ship_lag(spark, sf_dir):
        # date arithmetic across a big-big join: days between order
        # and line ship date, aggregated per line status.
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(
                "l_linestatus",
                F.datediff("l_shipdate", "o_orderdate").alias("lag_days"),
            )
            .groupBy("l_linestatus")
            .agg(
                F.count("*").alias("n_lines"),
                F.round(F.avg("lag_days"), 4).alias("avg_lag_days"),
                F.max("lag_days").alias("max_lag_days"),
            )
            .orderBy("l_linestatus")
        )

    def q_doc_deciles(spark, sf_dir):
        # window-function coverage: documents ranked into character
        # deciles (deterministic tie-break on doc_id), then per-decile
        # rollup. ntile(10) over a global order would run in one
        # partition; the exact ranks come instead from the n_chars
        # histogram (one row per distinct length, cumulated on the
        # driver and broadcast back) plus a row_number within each
        # length, a window partitioned by n_chars.
        from pyspark.sql import Window

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "n_chars")
        hist = sorted(docs.groupBy("n_chars").count().collect())
        before, n = [], 0
        for r in hist:
            before.append((r["n_chars"], n))
            n += r["count"]
        offsets = spark.createDataFrame(before, "n_chars long, n_before long")
        w = Window.partitionBy("n_chars").orderBy("doc_id")
        rank0 = F.col("rank0")  # 0-based rank in (n_chars, doc_id) order
        # ntile: the first n % 10 buckets hold one row more than the rest
        # (with n < 10 every rank takes the first branch; max() keeps the
        # unused divisor non-zero)
        q, big = divmod(n, 10)
        decile = F.when(rank0 < big * (q + 1), F.floor(rank0 / (q + 1)) + 1).otherwise(
            F.floor((rank0 - big * (q + 1)) / max(q, 1)) + big + 1
        )
        return (
            docs.join(F.broadcast(offsets), "n_chars")
            .withColumn("rank0", F.col("n_before") + F.row_number().over(w) - 1)
            .withColumn("decile", decile.cast("int"))
            .groupBy("decile")
            .agg(
                F.count("*").alias("n_docs"),
                F.min("n_chars").alias("min_chars"),
                F.max("n_chars").alias("max_chars"),
            )
            .orderBy("decile")
        )

    def q_event_windows(spark, sf_dir):
        # batch twin of the streaming watermarked rollup — identical
        # plan shape on a stream (streaming/stream.py
        # windowed_event_rollup); oracled via DuckDB time_bucket
        from docling_spark.streaming.stream import windowed_event_rollup

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return windowed_event_rollup(ev, window="1 hour").orderBy(
            "win_start", "event_type"
        )

    def q_salted_user_counts(spark, sf_dir):
        # skew guard: distinct users per event_type with value-derived
        # salting (event_type is low-cardinality/hot — the exact shape
        # that melts a reducer at corpus scale). Oracle: plain
        # count(distinct) — salting is exact by construction.
        from docling_spark.operators import skew

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return skew.salted_distinct_count(
            ev, "event_type", "user_id", n_salts=16, alias="n_users"
        )

    def q_events_stats(spark, sf_dir):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return (
            ev.groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.count_distinct("user_id").alias("n_users"),
                F.round(F.expr("percentile(value, 0.5d)"), 6).alias("median_value"),
                F.round(F.max("value"), 6).alias("max_value"),
            )
            .orderBy("event_type")
        )

    def q_csv_tables(spark, sf_dir):
        """CSV backend end-to-end with a SQL oracle: one CSV document
        per region (its nations), parsed by the kernel; the reported
        table geometry must match the relational ground truth."""
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import IntegerType, StructField as SF_, StructType as ST_

        nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        per_region = (
            nation.join(
                F.broadcast(region), nation.n_regionkey == region.r_regionkey
            )
            .groupBy("r_name")
            .agg(
                F.concat_ws(
                    "\n",
                    F.lit("name,key"),
                    F.array_join(
                        F.array_sort(
                            F.collect_list(
                                F.concat_ws(",", "n_name", "n_nationkey")
                            )
                        ),
                        "\n",
                    ),
                ).alias("csv_text")
            )
        )

        @pandas_udf(
            ST_([SF_("n_table_rows", IntegerType()), SF_("num_cols", IntegerType())])
        )
        def parse_geom(texts):
            import pandas as pd

            from docling_spark.kernels.csv_kernel import parse_csv

            rows, cols = [], []
            for t in texts:
                doc = parse_csv(t.encode())
                table = doc.nodes[0].table
                rows.append(table.num_rows)
                cols.append(table.num_cols)
            return pd.DataFrame({"n_table_rows": rows, "num_cols": cols})

        return (
            per_region.withColumn("g", parse_geom(F.col("csv_text")))
            .select(
                "r_name",
                F.col("g.n_table_rows").alias("n_table_rows"),
                F.col("g.num_cols").alias("num_cols"),
            )
            .orderBy("r_name")
        )

    def q_resume_antijoin(spark, sf_dir):
        docs = _docs(spark, sf_dir)
        done = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
        return (
            docs.join(done, "doc_id", "left_anti")
            .groupBy("lang")
            .agg(F.count("*").alias("n_pending"))
            .orderBy("lang")
        )

    return {
        "x_extract": x_extract,
        "x_extract_status": x_extract_status,
        "x_format_rollup": x_format_rollup,
        "x_limits_gate": x_limits_gate,
        "x_minhash_pairs": x_minhash_pairs,
        "x_simhash_pairs": x_simhash_pairs,
        "x_lsh_topk": x_lsh_topk,
        "x_media_rollup": x_media_rollup,
        "x_pdf_extract": x_pdf_extract,
        "x_pdf_real": x_pdf_real,
        "x_multimodal_pages": x_multimodal_pages,
        "x_pdf_confidence": x_pdf_confidence,
        "x_chunks": x_chunks,
        "x_chunks_router": x_chunks_router,
        "x_enrich_code": x_enrich_code,
        "x_convert_mixed": x_convert_mixed,
        "x_convert_all": x_convert_all,
        "q_csv_tables": q_csv_tables,
        "q_token_stats": q_token_stats,
        "q_quality_rollup": q_quality_rollup,
        "q_langid_rollup": q_langid_rollup,
        "q_fingerprints": q_fingerprints,
        "q_dedup_exact": q_dedup_exact,
        "q_jaccard_pairs": q_jaccard_pairs,
        "q_near_dup_embeddings": q_near_dup_embeddings,
        "q_ann_topk": q_ann_topk,
        "q_pricing_summary": q_pricing_summary,
        "q_region_revenue": q_region_revenue,
        "q_top_customers": q_top_customers,
        "q_events_stats": q_events_stats,
        "q_salted_user_counts": q_salted_user_counts,
        "q_order_priority": q_order_priority,
        "q_idle_customers": q_idle_customers,
        "q_ship_lag": q_ship_lag,
        "q_doc_deciles": q_doc_deciles,
        "q_event_windows": q_event_windows,
        "q_resume_antijoin": q_resume_antijoin,
    }


# ------------------------------------------------------------- oracle SQL


def oracle_sql() -> dict[str, str]:
    n_ws = (
        "case when length(trim(text)) = 0 then 0 "
        "else len(string_split_regex(trim(text), '\\s+')) end"
    )
    return {
        "q_token_stats": f"""
            with t as (
              select lang,
                {n_ws} as n_ws,
                len(regexp_extract_all(trim(text),
                    '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) as n_bpe
              from documents)
            select lang,
                   cast(count(*) as bigint) as n_docs,
                   cast(sum(n_ws) as bigint) as sum_tokens_ws,
                   cast(sum(n_bpe) as bigint) as sum_tokens_bpe,
                   round(avg(n_ws), 4) as avg_tokens_ws
            from t group by lang order by lang
        """,
        "q_quality_rollup": f"""
            with q as (
              select lang,
                length(text) as n_chars_c,
                {n_ws} as n_tokens,
                length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) as n_punct,
                len(regexp_extract_all(text, '\\b(the|and|of|a|to|in)\\b')) as n_stop,
                length(regexp_replace(text, '\\s+', '', 'g')) as n_nonws
              from documents),
            r as (
              select lang,
                round(n_punct / greatest(n_chars_c, 1), 6) as punct_ratio,
                round(n_stop / greatest(n_tokens, 1), 6) as stopword_ratio,
                round(n_nonws / greatest(n_tokens, 1), 6) as mean_token_len,
                n_tokens
              from q)
            select lang,
                   cast(count(*) as bigint) as n_docs,
                   cast(sum(case when n_tokens >= 10 and mean_token_len >= 2
                             and mean_token_len <= 12 and punct_ratio <= 0.2
                             then 1 else 0 end) as bigint) as n_keep,
                   round(avg(punct_ratio), 6) as avg_punct_ratio,
                   round(avg(stopword_ratio), 6) as avg_stopword_ratio
            from r group by lang order by lang
        """,
        "q_langid_rollup": """
            with s as (
              select lang,
                len(regexp_extract_all(lower(text), '\\b(the|and|of)\\b')) as s_en,
                len(regexp_extract_all(lower(text), '\\b(der|und|die)\\b')) as s_de,
                len(regexp_extract_all(lower(text), '\\b(le|et|les)\\b')) as s_fr,
                len(regexp_extract_all(lower(text), '\\b(el|y|los)\\b')) as s_es
              from documents),
            p as (
              select lang,
                case when greatest(s_en, s_de, s_fr, s_es) = 0 then 'unk'
                     when s_en = greatest(s_en, s_de, s_fr, s_es) then 'en'
                     when s_de = greatest(s_en, s_de, s_fr, s_es) then 'de'
                     when s_fr = greatest(s_en, s_de, s_fr, s_es) then 'fr'
                     else 'es' end as pred_lang
              from s)
            select lang, pred_lang, cast(count(*) as bigint) as n_docs
            from p group by lang, pred_lang order by lang, pred_lang
        """,
        "q_fingerprints": """
            select doc_id, md5(text) as fp_md5,
                   cast(floor(length(text) / 64) as bigint) as len_bucket
            from documents order by doc_id
        """,
        "q_dedup_exact": """
            with corpus as (
              select doc_id, text from documents
              union all
              select doc_id + 1000000 as doc_id, text from documents
              where doc_id % 17 = 0)
            select md5(text) as fp_md5,
                   cast(count(*) as bigint) as n_dups,
                   min(doc_id) as keeper_doc_id
            from corpus group by md5(text)
            having count(*) > 1 order by fp_md5
        """,
        "q_jaccard_pairs": """
            with toks0 as (
              select doc_id,
                     unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) as token
              from documents where trim(text) != ''),
            rare as (
              select token from toks0 group by token
              having count(*) <= 100),
            toks as (select t.* from toks0 t join rare using (token)),
            sizes as (select doc_id, cast(count(*) as bigint) as sz from toks group by doc_id),
            inter as (
              select a.doc_id as doc_a, b.doc_id as doc_b,
                     cast(count(*) as bigint) as n_inter
              from toks a join toks b using (token)
              where a.doc_id < b.doc_id
              group by a.doc_id, b.doc_id)
            select doc_a, doc_b,
                   round(n_inter / (sa.sz + sb.sz - n_inter), 6) as jaccard
            from inter
            join sizes sa on doc_a = sa.doc_id
            join sizes sb on doc_b = sb.doc_id
            where n_inter / (sa.sz + sb.sz - n_inter) >= 0.95
            order by doc_a, doc_b
        """,
        "q_near_dup_embeddings": """
            with base as (select vec_id, embedding::DOUBLE[] as v from embeddings),
            corpus as (
              select vec_id, v from base
              union all
              select vec_id + 100000 as vec_id, list_transform(v, x -> x * 2) as v
              from base where vec_id % 7 = 0),
            e as (
              select vec_id, v,
                     sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) as norm
              from corpus)
            select a.vec_id as vec_a, b.vec_id as vec_b,
                   round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 4) as cos_sim
            from e a, e b
            where a.vec_id < b.vec_id
              and list_dot_product(a.v, b.v) / (a.norm * b.norm) >= 0.99
            order by vec_a, vec_b
        """,
        "q_ann_topk": """
            with e as (
              select vec_id, embedding::DOUBLE[] as v,
                     sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum')) as norm
              from embeddings),
            q as (select vec_id as query_id, v as qv, norm as qnorm
                  from e where vec_id in (0, 1, 2, 3, 4)),
            s as (
              select q.query_id, e.vec_id,
                     list_dot_product(e.v, q.qv) / (e.norm * q.qnorm) as cos
              from e, q where e.vec_id != q.query_id),
            r as (
              select query_id, vec_id, cos,
                     row_number() over (partition by query_id
                                        order by cos desc, vec_id asc) as rnk
              from s)
            select query_id, cast(rnk as int) as rank,
                   vec_id as neighbor_id, round(cos, 4) as cos_sim
            from r where rnk <= 10 order by query_id, rank
        """,
        "q_pricing_summary": """
            select l_returnflag, l_linestatus,
                   cast(sum(l_quantity) as bigint) as sum_qty,
                   cast(sum(cast(round(l_extendedprice * 100) as bigint)) as bigint) as sum_base_cents,
                   cast(sum(cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)) as bigint) as sum_disc_cents,
                   cast(count(*) as bigint) as n_items
            from lineitem
            where l_shipdate <= timestamp '1998-09-02'
            group by l_returnflag, l_linestatus
            order by l_returnflag, l_linestatus
        """,
        "q_region_revenue": """
            select r_name,
                   cast(count(distinct o_orderkey) as bigint) as n_orders,
                   cast(sum(cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)) as bigint) as revenue_cents
            from lineitem
            join orders on l_orderkey = o_orderkey
            join customer on o_custkey = c_custkey
            join nation on c_nationkey = n_nationkey
            join region on n_regionkey = r_regionkey
            group by r_name order by r_name
        """,
        "q_top_customers": """
            with rev as (
              select c_custkey, c_mktsegment,
                     cast(sum(cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)) as bigint) as revenue_cents
              from lineitem
              join orders on l_orderkey = o_orderkey
              join customer on o_custkey = c_custkey
              group by c_custkey, c_mktsegment),
            r as (
              select *, row_number() over (partition by c_mktsegment
                                           order by revenue_cents desc, c_custkey asc) as rnk
              from rev)
            select c_mktsegment, cast(rnk as int) as rnk, c_custkey, revenue_cents
            from r where rnk <= 3 order by c_mktsegment, rnk
        """,
        "q_order_priority": """
            select o_orderpriority, cast(count(*) as bigint) as n_orders
            from orders o
            where exists (select 1 from lineitem l
                          where l.l_orderkey = o.o_orderkey
                            and l.l_returnflag = 'R')
            group by o_orderpriority order by o_orderpriority
        """,
        "q_idle_customers": """
            select c_mktsegment,
                   cast(count(*) as bigint) as n_idle,
                   round(sum(c_acctbal), 2) as sum_acctbal
            from customer c
            where not exists (select 1 from orders o
                              where o.o_custkey = c.c_custkey
                                and o.o_orderstatus = 'F')
            group by c_mktsegment order by c_mktsegment
        """,
        "q_ship_lag": """
            select l_linestatus,
                   cast(count(*) as bigint) as n_lines,
                   round(avg(date_diff('day', o_orderdate, l_shipdate)), 4)
                     as avg_lag_days,
                   cast(max(date_diff('day', o_orderdate, l_shipdate)) as int)
                     as max_lag_days
            from lineitem join orders on l_orderkey = o_orderkey
            group by l_linestatus order by l_linestatus
        """,
        "q_doc_deciles": """
            with d as (
              select doc_id, n_chars,
                     ntile(10) over (order by n_chars asc, doc_id asc) as decile
              from documents)
            select cast(decile as int) as decile,
                   cast(count(*) as bigint) as n_docs,
                   min(n_chars) as min_chars,
                   max(n_chars) as max_chars
            from d group by decile order by decile
        """,
        "q_events_stats": """
            select event_type,
                   cast(count(*) as bigint) as n_events,
                   cast(count(distinct user_id) as bigint) as n_users,
                   round(quantile_cont(value, 0.5), 6) as median_value,
                   round(max(value), 6) as max_value
            from events group by event_type order by event_type
        """,
        "q_salted_user_counts": """
            select event_type, cast(count(distinct user_id) as bigint) as n_users
            from events group by event_type order by event_type
        """,
        "q_event_windows": """
            select time_bucket(interval '1 hour', ts) as win_start,
                   event_type,
                   cast(count(*) as bigint) as n_events,
                   round(sum(value), 2) as sum_value
            from events
            group by win_start, event_type
            order by win_start, event_type
        """,
        "q_resume_antijoin": """
            select lang, cast(count(*) as bigint) as n_pending
            from documents
            where doc_id not in (select doc_id from documents where doc_id % 7 = 0)
            group by lang order by lang
        """,
        "q_csv_tables": """
            select r_name,
                   cast(count(*) + 1 as int) as n_table_rows,
                   cast(2 as int) as num_cols
            from nation join region on n_regionkey = r_regionkey
            group by r_name order by r_name
        """,
    }
