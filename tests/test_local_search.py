"""LocalSearcher: rank-identical to the distributed paths, millisecond latency."""

from __future__ import annotations

import time

import duckdb
import pytest

from splade_spark.build.indexer import build_index_from_docs
from splade_spark.config import DEFAULT
from splade_spark.fixtures import FROZEN_QUERIES, queries_df
from splade_spark.query.local import LocalSearcher
from splade_spark.query.naive import topk_naive

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def setup(spark):
    rows = duckdb.sql(
        f"select doc_id, text from read_parquet('{SF}/documents.parquet') order by doc_id"
    ).fetchall()
    frames = build_index_from_docs(spark.createDataFrame(rows, ["doc_id", "text"]), DEFAULT)
    frames.postings.cache().count()
    return frames


def test_local_rank_identical_to_naive(spark, setup):
    frames = setup
    searcher = LocalSearcher(frames.dictionary, frames.postings, DEFAULT)
    for k in (5, 3):
        dist = {}
        for r in topk_naive(queries_df(spark), frames.postings, frames.dictionary, k=k).collect():
            dist.setdefault(r.query_id, []).append((r.rank, r.doc_id, round(r.score, 6)))
        for qid, text in FROZEN_QUERIES:
            local = [
                (i + 1, d, round(s, 6)) for i, (d, s) in enumerate(searcher.search(text, k))
            ]
            assert sorted(dist.get(qid, [])) == local, f"q{qid} k={k}"


def test_local_latency_sub_50ms(spark, setup):
    searcher = LocalSearcher(setup.dictionary, setup.postings, DEFAULT)
    searcher.search("sort merge join")  # warm
    lat = []
    for qid, text in FROZEN_QUERIES:
        t0 = time.monotonic()
        searcher.search(text, 5)
        lat.append(time.monotonic() - t0)
    lat.sort()
    p95 = lat[int(len(lat) * 0.95) - 1]
    assert p95 < 0.05, f"p95={p95*1000:.1f}ms"


def test_local_load_from_disk(spark, setup, tmp_path):
    """``load`` over a 2-segment store == ``topk_wand`` over the same
    blocks: docIDs, scores and result types, every frozen query."""
    from splade_spark.build.segments import build_segmented_index
    from splade_spark.query.wand import topk_wand
    from splade_spark.sources.web_pages import read_documents, web_pages_from_documents

    pages = web_pages_from_documents(read_documents(spark, SF))
    idx = build_segmented_index(pages, str(tmp_path / "idx"), DEFAULT, n_segments=2)
    searcher = LocalSearcher.load(spark, str(tmp_path / "idx"), DEFAULT)
    wand = {}
    for r in topk_wand(
        queries_df(spark), idx.blocks(spark), idx.dictionary(spark), k=5, cfg=DEFAULT
    ).orderBy("query_id", "rank").collect():
        wand.setdefault(r.query_id, []).append((r.doc_id, round(r.score, 6)))
    assert wand
    for qid, text in FROZEN_QUERIES:
        hits = searcher.search(text, 5)
        assert all(type(d) is int and type(s) is float for d, s in hits), f"q{qid}"
        assert [(d, round(s, 6)) for d, s in hits] == wand.get(qid, []), f"q{qid}"
