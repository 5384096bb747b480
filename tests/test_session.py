"""InteractiveSession: rank-identity vs topk_naive + session hygiene."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from splade_spark.build.indexer import build_index_from_docs
from splade_spark.config import NOSTEM
from splade_spark.fixtures import FROZEN_QUERIES
from splade_spark.query import session
from splade_spark.query.naive import topk_naive
from splade_spark.query.session import InteractiveSession


@pytest.fixture(scope="module")
def frames(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    fr = build_index_from_docs(docs, NOSTEM)
    fr.postings.cache().count()
    fr.dictionary.cache().count()
    return fr


def test_rank_identical_to_naive(spark, frames):
    with InteractiveSession(frames.postings, frames.dictionary, NOSTEM) as sess:
        for qid, text in FROZEN_QUERIES[:10]:
            q = spark.createDataFrame([(qid, text)], ["query_id", "text"])
            naive = [
                (r["doc_id"], round(r["score"], 6))
                for r in topk_naive(
                    q, frames.postings, frames.dictionary, k=5, cfg=NOSTEM
                )
                .orderBy("rank")
                .collect()
            ]
            got = [(d, round(s, 6)) for d, s, _ in sess.search(text, k=5)]
            assert got == naive, text
            ranks = [r for _, _, r in sess.search(text, k=5)]
            assert ranks == list(range(1, len(ranks) + 1))


def test_prepared_rank_identical(spark, frames):
    """prepare=True (term_id-sorted cache) returns the same top-k."""
    with InteractiveSession(
        frames.postings, frames.dictionary, NOSTEM, prepare=True
    ) as prep, InteractiveSession(frames.postings, frames.dictionary, NOSTEM) as plain:
        for _, text in FROZEN_QUERIES[:5]:
            a = [(d, round(s, 6), r) for d, s, r in prep.search(text, k=5)]
            b = [(d, round(s, 6), r) for d, s, r in plain.search(text, k=5)]
            assert a == b, text


def test_wide_query_broadcast_fallback(spark, monkeypatch):
    """A 500-distinct-term query (SPLADE expansion / pasted paragraph) must
    not build a 500-deep nested CASE: above ``_MAX_LITERAL_TERMS`` the plan
    switches to a broadcast-joined weights frame — rank- AND score-identical
    to the literal path (VERDICT r4 #8)."""
    vocab = [f"w{i:03d}" for i in range(500)]
    docs = spark.createDataFrame(
        [
            (i, " ".join(vocab[(i * 37 + j) % 500] for j in range(40)))
            for i in range(60)
        ],
        ["doc_id", "text"],
    )
    fr = build_index_from_docs(docs, NOSTEM)
    fr.postings.cache().count()
    wide_query = " ".join(vocab)  # 500 distinct in-vocab terms
    narrow = " ".join(vocab[:5])

    def _results(max_literal_terms):
        monkeypatch.setattr(session, "_MAX_LITERAL_TERMS", max_literal_terms)
        with InteractiveSession(fr.postings, fr.dictionary, NOSTEM) as sess:
            assert len(sess.encode(wide_query)) == 500
            wide = [(d, round(s, 6), r) for d, s, r in sess.search(wide_query, k=10)]
            return wide, sess.search(narrow, k=5)

    fallback, literal = _results(96), _results(10_000)
    assert fallback[0] == literal[0] and len(fallback[0]) == 10
    # narrow queries still take the literal path in both sessions
    assert fallback[1] == literal[1]
    fr.postings.unpersist()


def test_guard_raises_before_side_effects(spark, frames, monkeypatch):
    """max_terms refusal must leave no prepared cache and no tuned confs."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    n_cached = len([r for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()])
    monkeypatch.setattr(session, "_MAX_TERMS", 1)
    with pytest.raises(ValueError, match="max_terms"):
        InteractiveSession(frames.postings, frames.dictionary, NOSTEM, prepare=True)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert len([r for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()]) == n_cached


def test_oov_query_empty(frames):
    with InteractiveSession(frames.postings, frames.dictionary, NOSTEM) as sess:
        assert sess.search("zzzqqqxxx notinvocabulary") == []
        assert sess.plan("zzzqqqxxx") is None


def test_conf_restored(spark, frames):
    before = {
        k: spark.conf.get(k) for k in InteractiveSession._TUNED
    }
    with InteractiveSession(frames.postings, frames.dictionary, NOSTEM):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    after = {k: spark.conf.get(k) for k in InteractiveSession._TUNED}
    assert after == before


def test_max_terms_guard(frames, monkeypatch):
    monkeypatch.setattr(session, "_MAX_TERMS", 1)
    with pytest.raises(ValueError, match="max_terms"):
        InteractiveSession(frames.postings, frames.dictionary, NOSTEM)


def test_repeated_terms_sum(spark, frames):
    """Query-side weight = qtf·idf: a repeated term doubles its weight."""
    # pick a term that exists in the fixture vocabulary
    term = frames.dictionary.orderBy("term").head()["term"]
    with InteractiveSession(frames.postings, frames.dictionary, NOSTEM) as sess:
        w1 = sess.encode(term)
        w2 = sess.encode(f"{term} {term}")
        assert set(w1) == set(w2)
        for tid in w1:
            assert w2[tid] == pytest.approx(2 * w1[tid])
