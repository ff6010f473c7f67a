"""Similarity search over an embedding column (array<float>).

* brute-force cosine top-k — the exact baseline, one broadcast of the
  (small) query set against the corpus: no shuffle of the corpus at
  all, scales linearly with corpus size;
* random-hyperplane LSH buckets — the 100 TB path: corpus hashed to
  b-bit signatures once, queries probe their own bucket and the
  buckets one bit flip away, turning top-k into a bucket-local problem.

All vector math is JVM-side (``zip_with``/``aggregate``) in float64.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# Seeds the pseudo-hyperplanes: every band value, and so every LSH
# candidate set, is a function of it.
_LSH_SEED = 42


def cosine(a: str, na: str, b: str, nb: str) -> Column:
    """Cosine of vector columns ``a`` and ``b`` with norm columns
    ``na`` and ``nb``: the float64 dot product over the norms."""
    dot = f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0d, (acc, x) -> acc + x)"
    return F.expr(dot) / (F.col(na) * F.col(nb))


def _with_norm(df: DataFrame) -> DataFrame:
    return df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("norm", F.expr("sqrt(aggregate(v, 0.0d, (acc, x) -> acc + x * x))"))


def brute_force_topk(
    df: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side is tiny -> broadcast join; corpus side is scanned
    once with no shuffle; the only wide op is the per-query top-k
    (window over query_id, k rows kept per partition via AQE).
    """
    e = _with_norm(df)
    q = e.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", cosine("v", "norm", "qv", "qnorm"))
        .select("query_id", "vec_id", "cos")
    )
    return _top_k(scored, k)


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The ``k`` best (query_id, vec_id, cos) rows per query: ranked by
    cosine, ties to the lower vec_id, cosine rounded to 4 places."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cos", 4).alias("cos_sim"),
        )
        .orderBy("query_id", "rank")
    )


def hyperplane_lsh_bands(
    df: DataFrame, n_bands: int, bits_per_band: int
) -> DataFrame:
    """Banded random-hyperplane LSH: one row per (vector, band).

    OR-amplification across ``n_bands`` independent ``bits_per_band``-bit
    tables: two vectors are candidates iff they agree on ALL bits of at
    least one band. For cosine >= 0.99 (angle <= 8.1 deg, per-bit
    agreement p >= 0.955) a 4x8 shape catches a pair with
    probability 1 - (1 - p^8)^4 > 0.97; exact-direction duplicates
    (scaled copies) hash identically in every band, so recall for those
    is 1.0 by construction. Planes are deterministic pseudo-hyperplanes:
    component j of plane b derives from xxhash64(b, j, _LSH_SEED) mapped to
    {-1, +1} — no driver-side randomness, identical across runs and
    cluster sizes.
    """
    e = _with_norm(df)
    total = n_bands * bits_per_band
    bit = (
        f"transform(sequence(0, {total - 1}), b -> "
        f"case when aggregate(zip_with(v, sequence(0, size(v) - 1), "
        f"(x, j) -> x * (case when xxhash64(b, j, {_LSH_SEED}) % 2 = 0 then 1.0d else -1.0d end)), "
        f"0.0d, (acc, x) -> acc + x) > 0 then 1L else 0L end)"
    )
    return e.withColumn("bits", F.expr(bit)).select(
        "vec_id",
        "v",
        "norm",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), g -> "
                f"aggregate(zip_with(slice(bits, g * {bits_per_band} + 1, {bits_per_band}), "
                f"sequence(0, {bits_per_band - 1}), (x, b) -> shiftleft(x, cast(b as int))), "
                f"0L, (acc, x) -> acc | x))"
            )
        ).alias("band_id", "band_val"),
    )


def auto_n_bits(n_vectors: int) -> int:
    """Size the per-table signature so expected bucket occupancy is
    ~64 vectors: n_bits = log2(n / 64), at least 6.

    This is what makes an lsh_topk registration scale-honest: a fixed
    n_bits=6 (64 buckets/table) means every probe scans ~1/64 of the
    corpus — fine at 10^3 vectors, a quarter-billion-row scan per probe
    at 10^10. Deriving bits from the corpus count keeps each probed
    bucket bounded (~64 rows) at every scale: 10^3 vectors
    -> 6 bits, 10^6 -> 14, 10^10 -> 27."""
    import math

    if n_vectors <= 64:
        return 6
    return max(6, math.ceil(math.log2(n_vectors / 64)))


def lsh_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_bits: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-k via banded multi-table LSH with multi-probe.

    A single 8-bit bucket probe has near-zero recall for moderate-angle
    neighbors (p_match = p_bit^8 ~ 0.04 at 60 deg — measured recall 0.0
    on the synthetic corpus), so this amplifies two ways, both standard:

    * **OR across ``n_tables`` independent tables** (one row per
      (vector, table) from :func:`hyperplane_lsh_bands`);
    * **multi-probe**: each query also probes every bucket within
      Hamming distance 1 of its own signature (the neighboring
      buckets a near-miss bit flip would land in).

    Scale shape: the corpus is hashed ONCE (n_tables rows per vector,
    hash-partitioned by bucket); queries explode to
    n_tables x (1 + n_bits) probe rows, broadcast, and equi-join on
    (band_id, band_val) — candidate exact-cosine verification touches
    only probed buckets, never the corpus at large.
    """
    bands = hyperplane_lsh_bands(df, n_bands=n_tables, bits_per_band=n_bits)
    q0 = bands.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        "band_id",
        F.col("band_val").alias("qval"),
    )
    flips = f"transform(sequence(0, {n_bits - 1}), b -> qval ^ shiftleft(1L, cast(b as int)))"
    probes = F.expr(f"array_union(array(qval), {flips})")
    q = q0.select(
        "query_id", "qv", "qnorm", "band_id", F.explode(probes).alias("band_val")
    )
    scored = (
        bands.join(F.broadcast(q), ["band_id", "band_val"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "qv", "qnorm", "v", "norm")
        .dropDuplicates(["query_id", "vec_id"])  # OR over tables+probes
        .withColumn("cos", cosine("v", "norm", "qv", "qnorm"))
        .select("query_id", "vec_id", "cos")
    )
    return _top_k(scored, k)
