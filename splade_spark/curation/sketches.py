"""Deterministic cardinality sketches for corpus analytics.

"How many distinct tokens / urls / shingles does this corpus have" is a
planning input at 100 TB (dictionary sizing, shuffle-partition budgeting,
vocabulary-growth monitoring), and an exact `count(distinct …)` is a full
shuffle of the distinct universe. The classic sketch answer is
HyperLogLog — but Spark's `approx_count_distinct` and any SQL oracle's HLL
are DIFFERENT implementations with different registers, so the result is
not replayable. The KMV (k-minimum-values / bottom-k) estimator is: keep
the k smallest distinct hash values; with h uniform on [0, D),

    est = (k − 1) · D / kth_min        (Bar-Yossef et al. 2002)

Every piece is deterministic — the portable md5 hash, a distinct, a top-k —
so Spark and DuckDB compute bit-identical sketches AND estimates, which is
the repo's correctness bar (CLAUDE.md: oracle-replayable hashes use
portable_hash). Relative error ≈ 1/√k (~6 % at k=256).

Plan shape: hash → partial (map-side) dedup → exchange of per-partition
DISTINCT hashes only → TakeOrderedAndProject(k). The shuffle carries at
most |per-partition distinct| rows — vocabulary-sized, not corpus-sized —
and the global state is k longs. The per-key variant rides one per-key
window with rank ≤ k (WindowGroupLimit), the same pruned shape as
capped_per_key_sample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from splade_spark.curation.textstats import _WORD_RE
from splade_spark.text.hashing import portable_hash

SEED_KMV = 90125

# portable_hash = first 8 hex chars of md5 → uniform on [0, 2^32)
_DOMAIN = float(1 << 32)


def _token_hashes(docs: DataFrame, text_col: str) -> DataFrame:
    words = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_WORD_RE), 0)
    return docs.select(F.explode(words).alias("_t")).select(
        portable_hash(F.col("_t"), SEED_KMV).alias("h")
    )


def _estimate(n_col, kth_col, k: int):
    """Exact when the universe is smaller than k, the KMV formula otherwise."""
    return F.when(n_col < k, n_col.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(_DOMAIN) / kth_col.cast("double")
    )


def kmv_distinct_tokens(
    docs: DataFrame, k: int = 256, text_col: str = "text"
) -> DataFrame:
    """→ ONE row (n_kmin, kth_hash, est_distinct): corpus-wide distinct-token
    estimate from the k smallest distinct token hashes. ``n_kmin < k`` means
    the sketch saw the whole (hashed) universe and est_distinct is exact.
    """
    kmins = _token_hashes(docs, text_col).distinct().orderBy("h").limit(k)
    agg = kmins.agg(
        F.count(F.lit(1)).alias("n_kmin"), F.max("h").alias("kth_hash")
    )
    return agg.select(
        "n_kmin",
        F.coalesce("kth_hash", F.lit(0)).alias("kth_hash"),
        F.round(
            F.coalesce(_estimate(F.col("n_kmin"), F.col("kth_hash"), k), F.lit(0.0)), 6
        ).alias("est_distinct"),
    )


def kmv_distinct_tokens_by_key(
    docs: DataFrame, k: int = 64, key_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """→ one row per key (key, n_kmin, kth_hash, est_distinct): per-source
    vocabulary-size estimates in ONE pass — the "which sources are
    boilerplate-heavy / template farms" monitor (a source whose distinct-
    token estimate stays flat while its doc count grows is near-duplicate
    spam). rank ≤ k over (key, hash) compiles to WindowGroupLimit: each
    key's sort prunes to k rows inside the shuffle.
    """
    words = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_WORD_RE), 0)
    hashes = (
        docs.select(F.col(key_col).alias("key"), F.explode(words).alias("_t"))
        .select("key", portable_hash(F.col("_t"), SEED_KMV).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("key").orderBy("h")
    kmins = hashes.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
    return (
        kmins.groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_kmin"), F.max("h").alias("kth_hash"))
        .select(
            "key",
            "n_kmin",
            "kth_hash",
            F.round(_estimate(F.col("n_kmin"), F.col("kth_hash"), k), 6).alias(
                "est_distinct"
            ),
        )
    )
