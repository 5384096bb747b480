"""Randomized (seeded) three-way rank-identity: random corpora + random
queries, naive == WAND == LocalSearcher == pandas oracle.

Complements the fixed-fixture tests: random doc lengths, vocab sizes, and
block sizes exercise block boundaries, ties, OOV, and the WAND fallback in
combinations the driver corpus can't."""

from __future__ import annotations

import random

import pytest

from splade_spark.build.indexer import build_index_from_docs
from splade_spark.build.segments import pack_segment, unpack_blocks, with_segment_id
from splade_spark.config import DEFAULT, EngineConfig
from splade_spark.oracle import PandasOracle
from splade_spark.query.local import LocalSearcher
from splade_spark.query.naive import topk_naive
from splade_spark.query.wand import topk_wand


def _mk_corpus(seed: int, n_docs: int, vocab: int):
    rng = random.Random(seed)
    words = [f"w{i}" for i in range(vocab)]
    docs = []
    for d in range(n_docs):
        n = rng.randint(1, 40)
        # zipf-ish: low ids much more likely
        toks = [words[min(int(rng.expovariate(4.0) * vocab), vocab - 1)] for _ in range(n)]
        docs.append((d * 7919 - n_docs, " ".join(toks)))  # negative+positive ids
    queries = []
    for q in range(12):
        n = rng.randint(1, 5)
        qtoks = [words[rng.randrange(vocab)] for _ in range(n)]
        if q % 5 == 4:
            qtoks.append("zzoov")  # partial OOV
        queries.append((q, " ".join(qtoks)))
    queries.append((98, "zzoov qqoov"))  # full OOV
    return docs, queries


@pytest.mark.parametrize("seed,vocab,block_size,n_segments", [
    (1, 30, 4, 1),
    (2, 120, 16, 3),
    (3, 8, 128, 2),   # tiny vocab → heavy ties + negative idf
])
def test_randomized_three_way(spark, seed, vocab, block_size, n_segments):
    docs, queries = _mk_corpus(seed, n_docs=120, vocab=vocab)
    cfg = EngineConfig(block_size=block_size)
    frames = build_index_from_docs(spark.createDataFrame(docs, ["doc_id", "text"]), cfg)
    frames.postings.cache().count()
    blocks = pack_segment(with_segment_id(frames.postings, n_segments), cfg).cache()
    qdf = spark.createDataFrame(queries, ["query_id", "text"])

    oracle = PandasOracle(cfg)
    for d, t in docs:
        oracle.add_doc(d, t)
    oracle.fit()

    naive = {}
    for r in topk_naive(qdf, frames.postings, frames.dictionary, k=5, cfg=cfg).collect():
        naive.setdefault(r.query_id, []).append((r.rank, r.doc_id, round(r.score, 6)))
    wand = {}
    for r in topk_wand(qdf, blocks, frames.dictionary, k=5, cfg=cfg).collect():
        wand.setdefault(r.query_id, []).append((r.rank, r.doc_id, round(r.score, 6)))
    searcher = LocalSearcher(frames.dictionary, unpack_blocks(blocks), cfg)

    for qid, text in queries:
        want = [
            (i + 1, d, round(s, 6)) for i, (d, s) in enumerate(oracle.topk(text, 5))
        ]
        assert sorted(naive.get(qid, [])) == want, f"naive seed={seed} q{qid}"
        assert sorted(wand.get(qid, [])) == want, f"wand seed={seed} q{qid}"
        local = [
            (i + 1, d, round(s, 6)) for i, (d, s) in enumerate(searcher.search(text, 5))
        ]
        assert local == want, f"local seed={seed} q{qid}"
    blocks.unpersist()
