"""Per-query top-k with the frozen tie-break (SURVEY.md §2.6 T3/T4).

Tie order is OUR spec — Milvus leaves tie order unspecified
(/root/reference/retrievers.py:76-90): rank by ``round(score, 6) desc,
doc_id asc``. Ranking on the ROUNDED score makes rank-identity robust to
sub-1e-6 float noise between execution paths (JVM Math.log vs libm, summation
order); docs whose scores differ below the tolerance are deliberate ties,
resolved by doc_id. Applied identically in the naive path, the WAND path, the
pandas oracle, and the DuckDB oracle SQL (FIXTURES.md §4). ``per_query_topk``
is the one Spark cut: BM25 (naive, WAND), SPLADE, the hash-embedding dense
channel and the embedding ANN paths (``id_col="vec_id"``) all rank through it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

SCORE_DECIMALS = 6


def per_query_topk(scored: DataFrame, k: int, id_col: str = "doc_id") -> DataFrame:
    """(query_id, <id_col>, score) → top-k rows per query with rank (1-based)."""
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), SCORE_DECIMALS).desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
