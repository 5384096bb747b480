"""Deterministic dense channel: feature-hashing ("hashing trick") embeddings.

The reference's dense channel is OpenAI ada-002 (1536-dim, network call at
/root/reference/ingest.py:184-185, retrievers.py:62,106) — unavailable and
non-deterministic. The engine keeps the dense channel's INTERFACE (a vector
per doc/query + cosine top-k feeding RRF, retrievers.py:111-118) but swaps
the encoder for the classic feature-hashing projection:

    bucket(t) = xxhash64(term, SEED)   mod dim
    sign(t)   = ±1 from xxhash64(term, SEED+1)
    vec[b]    = Σ_{t: bucket(t)=b} sign(t) · tf(t)

Everything is Catalyst column math over LONG-FORM vectors (doc_id, bucket,
val) — no UDFs, no dense arrays: the dot product is a join on bucket + a
sum, which Spark executes as a shuffle join that scales with the number of
NON-ZERO entries (≪ dim · docs). SQL-expressible, so the DuckDB oracle can
replay it exactly (xxhash64 is replaced by a portable mix both sides share —
see text/hashing.py ``portable_hash``). Queries are analyzed by
``query.encode.query_term_counts`` and ranked by ``query.topk.per_query_topk``,
like every other Spark query path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from splade_spark.config import EngineConfig, DEFAULT
from splade_spark.query.encode import query_term_counts
from splade_spark.query.topk import per_query_topk
from splade_spark.text.hashing import portable_hash

SEED_BUCKET = 1
SEED_SIGN = 2
DEFAULT_DIM = 256


def _long_form(tokens_exploded: DataFrame, id_col: str, dim: int) -> DataFrame:
    """(id, term, tf) → (id, bucket, val) with feature-hash bucket/sign."""
    bucket = F.pmod(portable_hash(F.col("term"), SEED_BUCKET), F.lit(dim)).cast("int")
    sign = (F.pmod(portable_hash(F.col("term"), SEED_SIGN), F.lit(2)) * 2 - 1).cast("double")
    return (
        tokens_exploded.withColumn("bucket", bucket)
        .withColumn("signed", sign * F.col("tf"))
        .groupBy(id_col, "bucket")
        .agg(F.sum("signed").alias("val"))
        .filter(F.col("val") != 0)
    )


def hash_embed_docs(docs: DataFrame, dim: int = DEFAULT_DIM) -> DataFrame:
    """docs(doc_id, tokens) → long-form (doc_id, bucket, val)."""
    tf = (
        docs.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    return _long_form(tf, "doc_id", dim)


def hash_embed_queries(
    queries: DataFrame, cfg: EngineConfig = DEFAULT, dim: int = DEFAULT_DIM
) -> DataFrame:
    """queries(query_id, text) → long-form (query_id, bucket, val)."""
    tf = query_term_counts(queries, cfg).withColumnRenamed("qtf", "tf")
    return _long_form(tf, "query_id", dim)


def cosine_topk_sparse(
    doc_vecs: DataFrame, query_vecs: DataFrame, k: int = 5
) -> DataFrame:
    """Cosine top-k between long-form vectors → (query_id, doc_id, score, rank).

    dot = join on bucket (query side broadcast — queries ≪ docs);
    norms = per-id aggregates; ranked by ``per_query_topk`` (frozen tie-break).
    """
    doc_norm = doc_vecs.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("dnorm")
    )
    q_norm = query_vecs.groupBy("query_id").agg(
        F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("qnorm")
    )
    dots = (
        doc_vecs.join(
            F.broadcast(query_vecs.withColumnRenamed("val", "qval")), "bucket"
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("val") * F.col("qval")).alias("dot"))
    )
    scored = (
        dots.join(F.broadcast(q_norm), "query_id")
        .join(doc_norm, "doc_id")
        .select(
            "query_id",
            "doc_id",
            (F.col("dot") / (F.col("dnorm") * F.col("qnorm"))).alias("score"),
        )
    )
    return per_query_topk(scored, k)
