"""Segment layer tests: pack/unpack round-trip, resumable build, merge
(SURVEY.md §5 tests #5/#6)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from splade_spark.build.indexer import build_index_frames
from splade_spark.build.segments import (
    SegmentedIndex,
    build_segmented_index,
    merge_segments,
    pack_segment,
    unpack_blocks,
    with_segment_id,
)
from splade_spark.config import DEFAULT, EngineConfig
from splade_spark.sources.web_pages import read_documents, web_pages_from_documents

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def frames(spark):
    pages = web_pages_from_documents(read_documents(spark, SF_SMALL))
    fr = build_index_frames(pages, DEFAULT, use_html=True)
    fr.postings.cache().count()
    return fr


def _blocks_key_rows(blocks_df):
    """Canonical comparable form of a block table (ignores segment_id)."""
    return sorted(
        (r.term_id, r.block_id, r.n_docs, r.first_doc_id, r.last_doc_id,
         bytes(r.docs_bin), bytes(r.impacts_bin))
        for r in blocks_df.collect()
    )


def test_pack_unpack_roundtrip(spark, frames):
    blocks = pack_segment(frames.postings, DEFAULT)
    back = unpack_blocks(blocks)
    orig = frames.postings.select("term_id", "doc_id", "impact")
    diff = (
        back.select("term_id", "doc_id", "impact")
        .exceptAll(orig)
        .unionAll(orig.exceptAll(back.select("term_id", "doc_id", "impact")))
    )
    assert diff.count() == 0


def test_block_invariants(spark, frames):
    cfg = EngineConfig(block_size=32)
    blocks = pack_segment(frames.postings, cfg).collect()
    assert all(b.n_docs <= 32 for b in blocks)
    assert all(b.first_doc_id <= b.last_doc_id for b in blocks)
    # block_ids dense per (segment, term); only the final block may be short
    from collections import defaultdict

    per_term = defaultdict(list)
    for b in blocks:
        per_term[(b.segment_id, b.term_id)].append(b)
    for key, bs in per_term.items():
        bs.sort(key=lambda b: b.block_id)
        assert [b.block_id for b in bs] == list(range(len(bs)))
        assert all(b.n_docs == 32 for b in bs[:-1])
        # ascending doc ranges across blocks
        for a, c in zip(bs, bs[1:]):
            assert a.last_doc_id < c.first_doc_id


def test_merge_equals_single_segment_build(spark, frames):
    """1-segment pack vs 4-segment pack + merge into 1 → byte-identical blocks."""
    single = pack_segment(frames.postings, DEFAULT)
    four = pack_segment(with_segment_id(frames.postings, 4), DEFAULT)
    assert four.select("segment_id").distinct().count() > 1
    merged = merge_segments(four, 1, DEFAULT)
    assert _blocks_key_rows(merged) == _blocks_key_rows(single)


def test_segmented_build_and_resume(spark, frames, tmp_path):
    pages = web_pages_from_documents(read_documents(spark, SF_SMALL))
    idx_dir = str(tmp_path / "idx")

    # crash after the first committed segment
    with pytest.raises(RuntimeError, match="injected failure"):
        build_segmented_index(
            pages, idx_dir, DEFAULT, n_segments=3, fail_after_segment=1
        )
    idx = SegmentedIndex(idx_dir)
    committed_before = idx.committed_segments()
    assert len(committed_before) == 1
    mtimes = {
        s: os.path.getmtime(os.path.join(idx.manifest_dir, f"{s}.json"))
        for s in committed_before
    }

    # resume: completes remaining segments WITHOUT recomputing committed ones
    idx2 = build_segmented_index(pages, idx_dir, DEFAULT, n_segments=3)
    committed = idx2.committed_segments()
    assert sorted(committed) == [0, 1, 2]
    for s, t in mtimes.items():
        assert os.path.getmtime(os.path.join(idx.manifest_dir, f"{s}.json")) == t

    # lineage rows carry metrics
    seg_table = idx2.segments_table(spark).collect()
    assert {r.status for r in seg_table} == {"committed"}
    assert all(r.n_postings > 0 and r.bytes > 0 for r in seg_table)

    # the persisted segmented index equals the in-memory single-shot build
    disk_long = unpack_blocks(idx2.blocks(spark))
    orig = frames.postings.select("term_id", "doc_id", "impact")
    diff = (
        disk_long.select("term_id", "doc_id", "impact")
        .exceptAll(orig)
        .unionAll(orig.exceptAll(disk_long.select("term_id", "doc_id", "impact")))
    )
    assert diff.count() == 0

    # idempotent: a third run is a no-op
    build_segmented_index(pages, idx_dir, DEFAULT, n_segments=3)
    for s, t in mtimes.items():
        assert os.path.getmtime(os.path.join(idx.manifest_dir, f"{s}.json")) == t


def test_pack_from_tf_byte_identical(spark):
    """The one-exchange phase-1 path (pack_segment_from_tf: merge stemmed
    partials + compute impacts inside the pack stream) must produce blocks
    byte-identical to the generic fold→impacts→pack route."""
    import duckdb

    from splade_spark.build.indexer import build_index_from_docs
    from splade_spark.build.postings import (
        doc_impacts, postings_long, stem_map_from_terms, surface_term_counts,
        term_freqs,
    )
    from splade_spark.build.segments import pack_segment, pack_segment_from_tf
    from splade_spark.config import DEFAULT

    rows = duckdb.sql(
        "select doc_id, text from read_parquet"
        "('/root/testdata/sf0.001/documents.parquet')"
    ).fetchall()
    frames = build_index_from_docs(spark.createDataFrame(rows, ["doc_id", "text"]), DEFAULT)
    avgdl = float(frames.corpus_stats.head().avgdl)

    # reference route: folded tf → impacts → postings_long → pack
    ref_blocks = pack_segment(
        with_segment_id(frames.postings, 3), DEFAULT
    ).collect()

    # one-exchange route: surface partials → stem/dict broadcast joins → pack
    surface = surface_term_counts(frames.docs)
    smap = stem_map_from_terms(surface.select("term").distinct())
    partials = (
        surface.join(F.broadcast(smap), "term")
        .select(F.col("term_stemmed").alias("term"), "doc_id", "tf", "doclen")
        .join(F.broadcast(frames.dictionary.select("term", "term_id")), "term")
        .select("term_id", "doc_id", "tf", "doclen")
    )
    got_blocks = pack_segment_from_tf(
        with_segment_id(partials, 3), avgdl, DEFAULT
    ).collect()

    key = lambda r: (r.segment_id, r.term_id, r.block_id)
    ref = {key(r): (r.n_docs, r.max_impact, r.first_doc_id, r.last_doc_id,
                    bytes(r.docs_bin), bytes(r.impacts_bin)) for r in ref_blocks}
    got = {key(r): (r.n_docs, r.max_impact, r.first_doc_id, r.last_doc_id,
                    bytes(r.docs_bin), bytes(r.impacts_bin)) for r in got_blocks}
    assert ref == got and len(ref) > 50


def _blocks_digest(spark, idx_dir):
    """sha256 over the committed block rows in (segment, term, block) order."""
    import hashlib

    rows = SegmentedIndex(idx_dir).blocks(spark).select(
        "segment_id", "term_id", "block_id", "n_docs", "max_impact",
        "first_doc_id", "last_doc_id", "docs_bin", "impacts_bin",
    ).collect()
    h = hashlib.sha256()
    for r in sorted(map(tuple, rows)):
        h.update(repr(tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)).encode())
    return h.hexdigest()


def test_fit_is_one_checkpoint(spark, tmp_path):
    """corpus_stats + dictionary are one checkpoint: with the dictionary
    gone, a rerun refits both, and a segment rebuilt against the refit is
    byte-identical to the first build's."""
    import shutil

    pages = web_pages_from_documents(read_documents(spark, SF_SMALL))
    idx_dir = str(tmp_path / "idx")
    idx = build_segmented_index(pages, idx_dir, DEFAULT, n_segments=3)
    digest = _blocks_digest(spark, idx_dir)
    stats = idx.corpus_stats(spark).collect()
    dic = {r.term: (r.term_id, r.df) for r in idx.dictionary(spark).collect()}
    manifest_1 = idx.committed_segments()[1]

    shutil.rmtree(os.path.join(idx_dir, "dictionary"))
    shutil.rmtree(os.path.join(idx_dir, "blocks", "segment_id=1"))
    os.remove(os.path.join(idx.manifest_dir, "1.json"))
    build_segmented_index(pages, idx_dir, DEFAULT)

    assert idx.corpus_stats(spark).collect() == stats
    assert {r.term: (r.term_id, r.df) for r in idx.dictionary(spark).collect()} == dic
    assert _blocks_digest(spark, idx_dir) == digest
    rebuilt = idx.committed_segments()[1]
    assert (rebuilt["n_docs"], rebuilt["n_postings"]) == (
        manifest_1["n_docs"], manifest_1["n_postings"]
    )
