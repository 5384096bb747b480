"""Index build orchestration — logical (DataFrame) level.

Composes the build stages (SURVEY.md §3.1 Spark lifecycle):

    web_pages → chunk(extract+split+doc_id UDF, inline)
             → tokenize (Catalyst, text/catalyst.py — no Python per token)
             → stats.fit_corpus: surface tf (shuffle-free run-length encode,
               cached), stemmed via the broadcast distinct-term stem map,
               → N, avgdl + dictionary (A2/B3)
             → CorpusFit.postings: postings.term_rows (broadcast dictionary:
               term → term_id) → doc_impacts (B4, codegen column math,
               avgdl a literal)

Physical segment packing / persistence lives in build/segments.py, which
runs the same fit and packs the same ``CorpusFit.postings`` rows; this
module produces the logical frames the naive query path and the oracle
entries read.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from splade_spark.build.chunker import attach_tokens, chunk_pages, docs_from_chunks
from splade_spark.build.stats import fit_corpus
from splade_spark.config import EngineConfig, DEFAULT


@dataclass
class IndexFrames:
    """Logical index: the four engine tables (SURVEY.md §1.3) as DataFrames."""

    docs: DataFrame          # (doc_id, url, chunk_idx, text, tokens, doclen)
    corpus_stats: DataFrame  # (n_docs, avgdl)
    dictionary: DataFrame    # (term, term_id, df, idf)
    postings: DataFrame      # (term_id, doc_id, impact, tf)


def _assemble(docs: DataFrame, cfg: EngineConfig) -> IndexFrames:
    # Cache the docs SLIM (no token arrays, no doclen): both are a
    # deterministic Catalyst projection of (text, norm) re-attached lazily,
    # so the cache fill does NO tokenize at all; the build's single tokenize
    # pass is the fit's surface cache fill.
    slim = docs.drop("tokens", "doclen").cache()
    docs = attach_tokens(slim)
    fit = fit_corpus(docs, slim.count(), cfg)
    return IndexFrames(
        docs, fit.corpus_stats(), fit.dictionary,
        fit.postings(cfg).select("term_id", "doc_id", "impact", "tf"),
    )


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
    from splade_spark.text.udfs import normalized_or_null_udf

    docs = doc_rows.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lit(None).cast("string").alias("url"),
        F.lit(0).alias("chunk_idx"),
        "text",
        # norm is kept as a COLUMN so _assemble attaches tokens with
        # identical NFC semantics
        normalized_or_null_udf()(F.col("text")).alias("norm"),
    )
    return _assemble(docs, cfg)
