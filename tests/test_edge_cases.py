"""Edge-case hardening: degenerate corpora, stopword-only queries, unicode,
empty payloads — every path should degrade gracefully, never throw."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from splade_spark.build.indexer import build_index_from_docs
from splade_spark.build.segments import pack_segment
from splade_spark.config import DEFAULT
from splade_spark.query.local import LocalSearcher
from splade_spark.query.naive import topk_naive
from splade_spark.query.wand import topk_wand
from splade_spark.text.analyzer import analyze_text
from splade_spark.text.extractor import extract_text_bytes, wrap_html
from splade_spark.text.splitter import split_text


def test_single_doc_corpus(spark):
    frames = build_index_from_docs(
        spark.createDataFrame([(1, "lonely document text")], ["doc_id", "text"]), DEFAULT
    )
    q = spark.createDataFrame([(0, "document")], ["query_id", "text"])
    hits = topk_naive(q, frames.postings, frames.dictionary, k=5).collect()
    assert [r.doc_id for r in hits] == [1]
    # N=1: raw idf = ln(0.5/1.5) < 0 → epsilon floor engaged; score finite
    assert all(abs(r.score) < 1e6 for r in hits)


def test_stopword_only_docs_and_queries(spark):
    rows = [(1, "the and of to"), (2, "real content words here")]
    frames = build_index_from_docs(spark.createDataFrame(rows, ["doc_id", "text"]), DEFAULT)
    # doc 1 has zero tokens → doclen 0, no postings; build must not throw
    doclens = {r.doc_id: r.doclen for r in frames.docs.collect()}
    assert doclens[1] == 0
    q = spark.createDataFrame([(0, "the of"), (1, "content")], ["query_id", "text"])
    hits = topk_naive(q, frames.postings, frames.dictionary, k=5).collect()
    by_q = {}
    for r in hits:
        by_q.setdefault(r.query_id, []).append(r.doc_id)
    assert 0 not in by_q          # stopword-only query → no hits
    assert by_q.get(1) == [2]


def test_unicode_payloads_roundtrip(spark):
    texts = [
        "café naïve résumé",
        "日本語のテキスト mixed latin",
        "emoji \U0001f600 \U0001f680 end",
        "",
    ]
    for t in texts:
        assert extract_text_bytes(wrap_html(t)) == t  # byte-identical invariant
    # analyzer: non-ascii is dropped by [a-z0-9]+, never crashes
    assert analyze_text(texts[1], DEFAULT.analyzer) == ["mix", "latin"]
    # splitter handles multi-byte without breaking characters
    chunks = split_text(texts[1] * 200, 1000, 100)
    assert all(isinstance(c, str) for c in chunks)
    assert "".join(chunks)  # non-empty


def test_null_and_empty_html(spark):
    from splade_spark.build.chunker import chunk_pages

    pages = spark.createDataFrame(
        [("u1", None), ("u2", b""), ("u3", wrap_html("actual text"))],
        ["url", "html"],
    )
    out = chunk_pages(pages, DEFAULT, use_html=True).collect()
    by_url = {}
    for r in out:
        by_url.setdefault(r.url, []).append(r.text)
    assert "u1" not in by_url and "u2" not in by_url  # empty → no chunks
    assert by_url["u3"] == ["actual text"]


def test_wand_on_empty_and_missing_terms(spark):
    rows = [(1, "alpha beta"), (2, "beta gamma")]
    frames = build_index_from_docs(spark.createDataFrame(rows, ["doc_id", "text"]), DEFAULT)
    blocks = pack_segment(frames.postings, DEFAULT)
    q = spark.createDataFrame(
        [(0, "zzznope"), (1, "alpha zzznope")], ["query_id", "text"]
    )
    wand = topk_wand(q, blocks, frames.dictionary, k=5).collect()
    qids = {r.query_id for r in wand}
    assert 0 not in qids and 1 in qids
    searcher = LocalSearcher(frames.dictionary, frames.postings, DEFAULT)
    assert searcher.search("zzznope") == []
    assert searcher.search("") == []


def test_k_larger_than_corpus(spark):
    rows = [(1, "aa bb"), (2, "aa cc")]
    frames = build_index_from_docs(spark.createDataFrame(rows, ["doc_id", "text"]), DEFAULT)
    q = spark.createDataFrame([(0, "aa")], ["query_id", "text"])
    assert topk_naive(q, frames.postings, frames.dictionary, k=100).count() == 2
    blocks = pack_segment(frames.postings, DEFAULT)
    assert topk_wand(q, blocks, frames.dictionary, k=100).count() == 2


def test_build_with_exact_dedup(spark, tmp_path):
    from splade_spark.build.segments import SegmentedIndex, build_segmented_index
    from splade_spark.sources.web_pages import read_documents, web_pages_from_documents

    pages = web_pages_from_documents(
        read_documents(spark, "/root/testdata/sf0.001"), replicate=2
    )  # every text appears exactly twice under distinct urls
    idx = build_segmented_index(pages, str(tmp_path / "d"), DEFAULT, dedup="exact")
    n_docs = idx.docs(spark).count()
    assert n_docs == 500  # 1000 pages → 500 distinct texts
    assert idx.docs(spark).select("text").distinct().count() == n_docs
    # stats reflect the deduped corpus
    assert idx.corpus_stats(spark).head().n_docs == 500
    with pytest.raises(ValueError):
        build_segmented_index(pages, str(tmp_path / "e"), DEFAULT, dedup="fuzzy")


def test_warc_ts_partition_pruning(spark, tmp_path):
    """Time-windowed incremental ingestion: a warc_ts predicate reaches the
    parquet scan (PushedFilters) so late-crawl reprocessing reads only the
    matching files — the input_hint timestamp column doing its job."""
    from splade_spark.sources.web_pages import read_documents, web_pages_from_documents

    pages = web_pages_from_documents(read_documents(spark, "/root/testdata/sf0.001"))
    path = str(tmp_path / "pages")
    pages.write.mode("overwrite").parquet(path)
    stored = spark.read.parquet(path)
    windowed = stored.filter(
        (F.col("warc_ts") >= "2024-10-22 00:01:00") & (F.col("warc_ts") < "2024-10-22 00:05:00")
    )
    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        windowed._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan and "warc_ts" in plan.split("PushedFilters")[1][:200]
    n = windowed.count()
    assert 0 < n < pages.count()
    # and the windowed slice builds a valid incremental segment
    from splade_spark.build.chunker import chunk_pages, docs_from_chunks

    docs = docs_from_chunks(chunk_pages(windowed, DEFAULT, use_html=True), DEFAULT)
    assert docs.count() == n


def test_sampling_family_degenerate_inputs(spark):
    """Boundary behavior of the r5 sampling/packing family: zero budgets,
    oversized heads, absent sources, single-token sequences, empty corpora."""
    from splade_spark.curation.sampling import (
        mixture_sample, pack_token_sequences, token_budget_sample, uniform_sample,
    )

    docs = spark.createDataFrame(
        [(i, "w " * (5 + i % 3), f"s{i % 2}") for i in range(12)],
        ["doc_id", "text", "source"],
    )
    empty = docs.filter(F.lit(False))

    # budget 0 → nothing; budget ≥ total → everything
    assert token_budget_sample(docs, 0, n_partitions=3).count() == 0
    assert token_budget_sample(docs, 10**9, n_partitions=3).count() == 12
    # prefix semantics: a head doc larger than the whole budget blocks ALL
    first = token_budget_sample(docs, 10**9, n_partitions=3).orderBy("cum_tokens").first()
    assert token_budget_sample(docs, first.n_tokens - 1, n_partitions=3).count() == 0

    # S=1: every token becomes its own full sequence, slices are single-token
    ones = pack_token_sequences(docs, 1, n_partitions=3).collect()
    assert all(r.n_in_seq == 1 and r.seq_offset == 0 for r in ones)
    assert len(ones) == sum(5 + i % 3 for i in range(12))

    # mixture: absent source contributes nothing; total=0 drops everything
    out = mixture_sample(docs, {"s0": 0.5, "ghost": 0.5}, total=8)
    assert {r.source for r in out.collect()} == {"s0"}
    assert mixture_sample(docs, {"s0": 1.0}, total=0).count() == 0

    # uniform: n=0 and empty corpora degrade to empty frames
    assert uniform_sample(docs, 0).count() == 0
    assert uniform_sample(empty, 5).count() == 0
    assert token_budget_sample(empty, 100, n_partitions=2).count() == 0
    assert pack_token_sequences(empty, 8, n_partitions=2).count() == 0
