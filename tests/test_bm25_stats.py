"""BM25 fit/impact unit goldens on a 6-doc micro corpus (FIXTURES.md §4).

Expected values are recomputed inline from the raw formulas (independent of
both the engine and the oracle implementations).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from splade_spark.build.indexer import build_index_from_docs
from splade_spark.config import EngineConfig
from splade_spark.oracle import PandasOracle

MICRO = [
    (0, "spark joins tables fast"),
    (1, "spark streams windows"),
    (2, "tables scan fast fast"),
    (3, "windows sort merge join"),
    (4, "hash join hash join hash"),
    (5, "spark spark spark"),
]

CFG = EngineConfig().with_analyzer(stem=False)  # keep tokens literal for hand math


@pytest.fixture(scope="module")
def frames(spark):
    df = spark.createDataFrame(MICRO, ["doc_id", "text"])
    return build_index_from_docs(df, CFG)


def test_corpus_stats(frames):
    row = frames.corpus_stats.collect()[0]
    assert row["n_docs"] == 6
    # token counts: 4,3,4,4,5,3 (no stopwords present) → avgdl = 23/6
    assert row["avgdl"] == pytest.approx(23 / 6)


def test_dictionary_df_idf(frames):
    d = {r["term"]: r for r in frames.dictionary.collect()}
    # df by hand: spark:3 join:2(+joins? tokens: joins vs join distinct) …
    # tokens are unstemmed: joins(d0), join(d3,d4) are DIFFERENT terms here.
    assert d["spark"]["df"] == 3
    assert d["fast"]["df"] == 2
    assert d["join"]["df"] == 2
    assert d["joins"]["df"] == 1
    raw = lambda df_: math.log((6 - df_ + 0.5) / (df_ + 0.5))
    assert d["joins"]["idf"] == pytest.approx(raw(1))
    assert d["spark"]["idf"] == pytest.approx(raw(3))
    # no negative raw idf in this corpus (spark: df=3, N=6 → idf=ln(1)=0 stays 0)
    assert all(r["idf"] >= 0 for r in d.values())
    assert d["spark"]["idf"] == 0.0
    # term_id ordering: (df desc, term asc), dense from 0
    ordered = sorted(d.values(), key=lambda r: r["term_id"])
    keys = [(-(r["df"]), r["term"]) for r in ordered]
    assert keys == sorted(keys)
    assert [r["term_id"] for r in ordered] == list(range(len(ordered)))


def test_epsilon_floor(spark):
    """A term in >half the docs gets negative raw idf → epsilon * avg_raw_idf."""
    docs = [(i, "common filler" if i else "common alone") for i in range(10)]
    frames = build_index_from_docs(spark.createDataFrame(docs, ["doc_id", "text"]), CFG)
    d = {r["term"]: r for r in frames.dictionary.collect()}
    n = 10
    raw = {t: math.log((n - r["df"] + 0.5) / (r["df"] + 0.5)) for t, r in d.items()}
    avg_raw = sum(raw.values()) / len(raw)
    assert raw["common"] < 0
    assert d["common"]["idf"] == pytest.approx(0.25 * avg_raw)
    assert d["alone"]["idf"] == pytest.approx(raw["alone"])


def test_impacts(frames):
    post = (
        frames.postings.join(frames.dictionary.select("term", "term_id"), "term_id")
        .select("term", "doc_id", "impact", "tf")
        .collect()
    )
    got = {(r["term"], r["doc_id"]): (r["impact"], r["tf"]) for r in post}
    k1, b, avgdl = 1.5, 0.75, 23 / 6
    def imp(tf, dl):
        return tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    # hash appears 3× in doc 4 (len 5); fast 2× in doc 2 (len 4); spark 3× in doc 5 (len 3)
    assert got[("hash", 4)][0] == pytest.approx(imp(3, 5)) and got[("hash", 4)][1] == 3
    assert got[("fast", 2)][0] == pytest.approx(imp(2, 4))
    assert got[("spark", 5)][0] == pytest.approx(imp(3, 3))
    assert got[("spark", 0)][0] == pytest.approx(imp(1, 4))


def test_oracle_agrees_on_micro(frames):
    oracle = PandasOracle(CFG)
    for did, text in MICRO:
        oracle.add_doc(did, text)
    oracle.fit()
    d = {r["term"]: (r["df"], r["idf"], r["term_id"]) for r in frames.dictionary.collect()}
    for term, df_ in oracle.df.items():
        assert d[term][0] == df_
        assert d[term][1] == pytest.approx(oracle.idf[term])
        assert d[term][2] == oracle.term_id[term]


def test_scalable_term_ids_equal_window(spark, monkeypatch):
    """The distributed id path (range partitions ranked once) on a 20k-term
    synthetic vocabulary: ids are exactly 0..V-1 and equal the driver path's,
    df is equal and idf agrees up to the avg(raw_idf) summation order."""
    import splade_spark.build.stats as stats_mod
    from splade_spark.build.stats import build_dictionary

    n_terms, n_docs = 20_000, 50
    # term i occurs in docs 0..(i % 37); many df ties, so the term tie-break
    # decides most ids, and head terms (df > n_docs/2) take the epsilon floor
    tf = (
        spark.range(n_terms)
        .select(
            F.format_string("t%05d", (F.col("id") * 7919) % n_terms).alias("term"),
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("id") % 37)).alias("doc_id"),
        )
        .withColumn("tf", F.lit(1))
    )
    d_driver = {r.term: r for r in build_dictionary(tf, n_docs, CFG).collect()}
    monkeypatch.setattr(stats_mod, "_DRIVER_VOCAB_THRESHOLD", 0)
    d_dist = {r.term: r for r in build_dictionary(tf, n_docs, CFG).collect()}

    assert len(d_dist) == n_terms
    assert sorted(r.term_id for r in d_dist.values()) == list(range(n_terms))
    assert {t: r.term_id for t, r in d_dist.items()} == {
        t: r.term_id for t, r in d_driver.items()
    }
    assert {t: r.df for t, r in d_dist.items()} == {t: r.df for t, r in d_driver.items()}
    assert max(r.df for r in d_dist.values()) > n_docs // 2  # epsilon floor taken
    for t, r in d_driver.items():
        assert d_dist[t].idf == pytest.approx(r.idf, rel=1e-12)


def test_driver_dictionary_equals_distributed(spark, monkeypatch):
    """The small-vocab driver fast path (VERDICT r3: job-count reduction)
    and the distributed path produce identical dictionaries —
    including the epsilon-floored idf for head terms (negative raw idf),
    which exercises the avg(raw_idf) divergence tolerance."""
    import splade_spark.build.stats as stats_mod
    from splade_spark.build.stats import build_dictionary
    from splade_spark.config import EngineConfig

    cfg = EngineConfig().with_analyzer(stem=False)
    # 4 docs; 'head' in 3 of 4 → raw idf = ln(1.5/3.5) < 0 → epsilon floor
    tf_rows = [
        (0, "head", 2), (1, "head", 1), (2, "head", 1),
        (0, "alpha", 1), (1, "beta", 1), (2, "gamma", 2), (3, "delta", 1),
    ]
    tf = spark.createDataFrame(tf_rows, ["doc_id", "term", "tf"])
    d_driver = {r.term: r for r in build_dictionary(tf, 4, cfg).collect()}
    monkeypatch.setattr(stats_mod, "_DRIVER_VOCAB_THRESHOLD", 0)
    d_dist = {r.term: r for r in build_dictionary(tf, 4, cfg).collect()}

    assert set(d_driver) == set(d_dist) and len(d_driver) == 5
    for t in d_driver:
        assert d_driver[t].term_id == d_dist[t].term_id
        assert d_driver[t].df == d_dist[t].df
        assert d_driver[t].idf == pytest.approx(d_dist[t].idf, rel=1e-12)
    assert d_driver["head"].idf == pytest.approx(
        0.25 * (sum(math.log((4 - df_ + 0.5) / (df_ + 0.5)) for df_ in (3, 1, 1, 1, 1)) / 5)
    )


def test_fit_corpus_avgdl_exact(spark):
    """fit_corpus's avgdl is the exact integer Σtf of its one surface pass
    divided once by N — including zero-token docs, which add 0 to the sum
    but still count in N (surface_term_counts filters them out, so only
    ``n_docs`` sees them)."""
    from splade_spark.build.chunker import attach_tokens
    from splade_spark.build.stats import fit_corpus
    from splade_spark.config import NOSTEM
    from splade_spark.text.analyzer import analyze_text

    rows = [
        (0, "spark joins tables fast"),
        (1, ""),                      # zero tokens: in N, not in surface
        (2, "hash join hash join hash"),
        (3, "the of and"),            # all stopwords → zero tokens post-filter
    ]
    docs = attach_tokens(
        spark.createDataFrame(rows, ["doc_id", "text"]), allow_missing_norm=True
    )
    fit = fit_corpus(docs, 4, NOSTEM)
    try:
        assert fit.n_docs == 4
        # exact float equality, not approx
        assert fit.avgdl == sum(len(analyze_text(t, NOSTEM.analyzer)) for _, t in rows) / 4
        assert [tuple(r) for r in fit.corpus_stats().collect()] == [(4, fit.avgdl)]
        # a build reads the dictionary twice (table write, term_rows
        # broadcast): one cache, owned by the fit
        assert fit.dictionary.is_cached
    finally:
        fit.unpersist()
    assert not fit.dictionary.is_cached
