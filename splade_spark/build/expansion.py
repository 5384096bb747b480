"""SPLADE-style term-expansion impact weighting (SURVEY.md §2.3 B10).

The reference's SPLADE path (`SpladeSparseEmbedding` over
``naver/splade-cocondenser-ensembledistil``, /root/reference/retrievers.py:19-53,
ingest.py:27-28) produces, per text, a sparse impact vector whose support
EXPANDS beyond the text's own terms, with **max pooling** over contributing
positions (SPLADE v2 semantics: ``max over positions of log(1+relu(logit))``).
The runtime path never actually uses it — main.py:58-61 hardcodes BM25 — so
BM25 remains our rank-identity target, and this module supplies the
SPLADE-style *interface semantics* with a deterministic, corpus-derived
expansion model (no torch in this sandbox, per SURVEY §7):

* expansion table: for each term, its top-m co-occurring terms by normalized
  PMI (npmi), weight ``α · npmi`` — a classic statistical stand-in for the
  learned neural expansion;
* doc encoding: own terms keep their BM25 impact; each expansion candidate
  contributes ``weight · impact(source)``; overlapping contributions resolve
  by **max** (the SPLADE pooling rule), never sum;
* query encoding: analyzed terms carry ``qtf · idf``; expansions contribute
  ``α·npmi · idf(expanded term)``, max-pooled the same way.

Everything is DataFrame ops (self-join + aggregations — SQL-replayable by
the DuckDB oracle). Scale: the pair space is bounded per doc by (distinct
terms/doc)², and the table itself is vocab·m rows — broadcastable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from splade_spark.config import EngineConfig, DEFAULT
from splade_spark.query.encode import query_term_counts
from splade_spark.query.naive import score_naive
from splade_spark.query.topk import per_query_topk


def cooccurrence_npmi(tf: DataFrame, corpus_stats: DataFrame, min_pairs: int = 2) -> DataFrame:
    """tf(doc_id, term, …) → (term_a, term_b, n_ab, npmi) for co-occurring pairs.

    npmi = pmi / (−ln p(a,b)), pmi = ln( p(a,b) / (p(a)·p(b)) ), with
    probabilities over documents. Pairs are ordered (a ≠ b, both directions)
    so the expansion lookup is a plain equi-join on term_a.
    """
    n_docs = F.broadcast(corpus_stats.select("n_docs"))
    terms = tf.select("doc_id", "term").distinct()
    df_t = terms.groupBy("term").agg(F.count(F.lit(1)).alias("n_t"))
    a = terms.select("doc_id", F.col("term").alias("term_a"))
    b = terms.select("doc_id", F.col("term").alias("term_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") != F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pairs)
    )
    out = (
        pairs.join(F.broadcast(df_t.select(F.col("term").alias("term_a"), F.col("n_t").alias("n_a"))), "term_a")
        .join(F.broadcast(df_t.select(F.col("term").alias("term_b"), F.col("n_t").alias("n_b"))), "term_b")
        .crossJoin(n_docs)
    )
    p_ab = F.col("n_ab") / F.col("n_docs")
    pmi = F.log(p_ab / ((F.col("n_a") / F.col("n_docs")) * (F.col("n_b") / F.col("n_docs"))))
    return out.select(
        "term_a", "term_b", "n_ab", (pmi / (-F.log(p_ab))).alias("npmi")
    )


def expansion_table(
    tf: DataFrame,
    corpus_stats: DataFrame,
    m: int = 3,
    alpha: float = 0.3,
    min_pairs: int = 2,
) -> DataFrame:
    """→ (term_a, term_b, weight): top-m positive-npmi expansions per term.

    Deterministic order: (npmi desc, term_b asc). weight = α·npmi ∈ (0, α].
    """
    npmi = cooccurrence_npmi(tf, corpus_stats, min_pairs).filter(F.col("npmi") > 0)
    w = Window.partitionBy("term_a").orderBy(
        F.round(F.col("npmi"), 9).desc(), F.col("term_b").asc()
    )
    return (
        npmi.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= m)
        .select("term_a", "term_b", (F.lit(alpha) * F.col("npmi")).alias("weight"))
    )


def splade_doc_impacts(impacts: DataFrame, expansion: DataFrame) -> DataFrame:
    """(doc_id, term, impact) ⊕ expansions → (doc_id, term, impact) max-pooled.

    Own-term impacts and weighted expansion contributions compete by MAX
    (SPLADE pooling), so an expansion can never outrank a genuine occurrence
    of the same term in the same doc with higher impact.
    """
    own = impacts.select("doc_id", "term", F.col("impact").cast("double").alias("impact"))
    exp = (
        impacts.join(F.broadcast(expansion), impacts["term"] == expansion["term_a"])
        .select(
            "doc_id",
            F.col("term_b").alias("term"),
            (F.col("weight") * F.col("impact")).cast("double").alias("impact"),
        )
    )
    return own.unionByName(exp).groupBy("doc_id", "term").agg(F.max("impact").alias("impact"))


def splade_encode_queries(
    queries: DataFrame,
    dictionary: DataFrame,
    expansion: DataFrame,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """queries(query_id, text) → (query_id, term_id, qweight) with expansion.

    Own terms: qtf·idf. Expansions: weight·idf(term_b), max-pooled per
    (query, term). OOV terms drop out via the dictionary join as in B9.
    """
    qterms = query_term_counts(queries, cfg)
    dic = F.broadcast(dictionary.select("term", "term_id", "idf"))
    own = qterms.join(dic, "term").select(
        "query_id", "term_id", (F.col("qtf") * F.col("idf")).alias("qweight")
    )
    exp = (
        qterms.join(F.broadcast(expansion), qterms["term"] == expansion["term_a"])
        .select("query_id", F.col("term_b").alias("term"), "weight")
        .join(dic, "term")
        .select("query_id", "term_id", (F.col("weight") * F.col("idf")).alias("qweight"))
    )
    return (
        own.unionByName(exp)
        .groupBy("query_id", "term_id")
        .agg(F.max("qweight").alias("qweight"))
    )


def topk_splade(
    queries: DataFrame,
    frames,
    expansion: DataFrame,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """End-to-end SPLADE-style top-k over IndexFrames (naive scoring path)."""
    k = k if k is not None else cfg.top_k
    dic = F.broadcast(frames.dictionary.select("term", "term_id"))
    impacts = frames.postings.join(dic, "term_id").select("doc_id", "term", "impact")
    doc_side = splade_doc_impacts(impacts, expansion)
    posting = doc_side.join(dic, "term").select("term_id", "doc_id", "impact")
    encoded = splade_encode_queries(queries, frames.dictionary, expansion, cfg)
    return per_query_topk(score_naive(encoded, posting), k)
