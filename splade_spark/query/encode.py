"""Query-side BM25 encoding (SURVEY.md §2.3 B9).

Semantics of ``BM25SparseEmbedding.embed_query`` (call site
/root/reference/retrievers.py:121): analyze the query text; each occurrence of
a term contributes its idf (repeated terms sum ⇒ weight = qtf · idf); OOV
terms drop out (inner join against the dictionary). ``encode_queries`` does
this for a query table in Spark (``topk_naive``), ``encode_text`` for one
query string on the driver (``LocalSearcher``, ``InteractiveSession``), and
``encode_query_set`` for a whole query table on the driver (``topk_wand``).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, functions as F

from splade_spark.config import AnalyzerConfig, EngineConfig, DEFAULT
from splade_spark.text.analyzer import analyze_text
from splade_spark.text.udfs import analyze_udf


def encode_text(
    text: str, vocab: dict[str, tuple[int, float]], analyzer: AnalyzerConfig
) -> dict[int, float]:
    """One query on the driver: term_id → qtf·idf per in-vocab term, with
    ``vocab`` mapping term → (term_id, idf)."""
    weights: dict[int, float] = {}
    for term, qtf in Counter(analyze_text(text, analyzer)).items():
        hit = vocab.get(term)
        if hit is not None:
            weights[hit[0]] = qtf * hit[1]
    return weights


def encode_query_set(
    queries: DataFrame, dictionary: DataFrame, cfg: EngineConfig = DEFAULT
) -> dict[int, dict[int, float]]:
    """queries(query_id, text) → {query_id: {term_id: qtf·idf}} on the driver.

    The weights of ``encode_queries``, for a query set the caller collects
    anyway: the texts are collected and analyzed here, and the dictionary is
    read only at their terms, so no analyzer-UDF or shuffle stage runs.
    Queries with no in-vocabulary term are absent.
    """
    texts: dict[int, list[str]] = {}
    for r in queries.select("query_id", "text").collect():
        texts.setdefault(r["query_id"], []).append(r["text"] or "")
    joined = {q: " ".join(t) for q, t in texts.items()}
    terms = sorted({t for s in joined.values() for t in analyze_text(s, cfg.analyzer)})
    if not terms:
        return {}
    vocab = {
        r["term"]: (r["term_id"], r["idf"])
        for r in dictionary.filter(F.col("term").isin(terms))
        .select("term", "term_id", "idf").collect()
    }
    encoded = {q: encode_text(s, vocab, cfg.analyzer) for q, s in joined.items()}
    return {q: w for q, w in encoded.items() if w}


def encode_queries(
    queries: DataFrame, dictionary: DataFrame, cfg: EngineConfig = DEFAULT
) -> DataFrame:
    """queries(query_id, text) → (query_id, term_id, qweight double).

    The query set is tiny relative to the index — downstream joins broadcast
    this result (J1/J2, SURVEY.md §2.4).
    """
    qterms = (
        queries.select("query_id", F.explode(analyze_udf(cfg.analyzer)(F.col("text"))).alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("qtf"))
    )
    return qterms.join(dictionary.select("term", "term_id", "idf"), "term").select(
        "query_id",
        "term_id",
        (F.col("qtf") * F.col("idf")).alias("qweight"),
    )
