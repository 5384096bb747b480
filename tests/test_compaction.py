"""On-disk compaction: 4 segments → 1, postings preserved, queries unchanged,
lineage records provenance (SURVEY §2.3 B8 operational path)."""

from __future__ import annotations

import json
import sys

sys.path.insert(0, "/root/repo/scripts")

from splade_spark.build.segments import SegmentedIndex, build_segmented_index, unpack_blocks
from splade_spark.config import DEFAULT
from splade_spark.fixtures import queries_df
from splade_spark.query.wand import topk_wand
from splade_spark.sources.web_pages import read_documents, web_pages_from_documents

from tests.conftest import SF_SMALL


def _hits(spark, idx):
    out = {}
    for r in topk_wand(
        queries_df(spark), idx.blocks(spark), idx.dictionary(spark), k=5, cfg=DEFAULT
    ).collect():
        out.setdefault(r.query_id, []).append((r.rank, r.doc_id, round(r.score, 6)))
    return {q: sorted(v) for q, v in out.items()}


def test_compact_preserves_postings_and_queries(spark, tmp_path):
    from compact_index import compact_index

    pages = web_pages_from_documents(read_documents(spark, SF_SMALL))
    idx_dir = str(tmp_path / "idx")
    idx = build_segmented_index(pages, idx_dir, DEFAULT, n_segments=4)
    assert sorted(idx.committed_segments()) == [0, 1, 2, 3]

    before_long = unpack_blocks(idx.blocks(spark)).select("term_id", "doc_id", "impact")
    before_rows = sorted(map(tuple, before_long.collect()))
    before_hits = _hits(spark, idx)

    res = compact_index(spark, idx_dir, target_segments=1)
    assert res["old_segments"] == 4 and res["new_segments"] == 1

    idx2 = SegmentedIndex(idx_dir)
    manifests = idx2.committed_segments()
    assert sorted(manifests) == [0]
    lineage = json.loads(manifests[0]["lineage"])
    assert lineage["compacted_from"] == [0, 1, 2, 3]

    after_long = unpack_blocks(idx2.blocks(spark)).select("term_id", "doc_id", "impact")
    assert sorted(map(tuple, after_long.collect())) == before_rows
    assert _hits(spark, idx2) == before_hits


def test_compaction_crash_recovery(spark, tmp_path):
    """Simulated crashes at every dangerous instant of the swap: recovery
    must always restore exactly one consistent (blocks, manifests) pair
    (ADVICE r1: the old swap could strand an index with no live blocks or
    zero manifests)."""
    import os
    import shutil

    from compact_index import compact_index
    from splade_spark.build.segments import recover_compaction

    pages = web_pages_from_documents(read_documents(spark, SF_SMALL))
    idx_dir = str(tmp_path / "idx")
    idx = build_segmented_index(pages, idx_dir, DEFAULT, n_segments=2)
    before_hits = _hits(spark, idx)

    blocks = os.path.join(idx_dir, "blocks")
    staged = os.path.join(idx_dir, "blocks_compact")
    man = os.path.join(idx_dir, "_manifest")
    man_next = os.path.join(idx_dir, "_manifest_next")

    # crash BEFORE the commit point: staged blocks + incomplete manifests →
    # recovery rolls back, old index untouched
    shutil.copytree(blocks, staged)
    os.makedirs(man_next)
    with open(os.path.join(man_next, "0.json"), "w") as f:
        f.write("{}")
    recover_compaction(idx_dir)
    assert not os.path.exists(staged) and not os.path.exists(man_next)
    assert _hits(spark, SegmentedIndex(idx_dir)) == before_hits

    # real compaction, then replay crashes AFTER the commit point by
    # snapshotting the staged state and re-running recovery from each
    # intermediate rename state
    res = compact_index(spark, idx_dir, target_segments=1)
    assert res["new_segments"] == 1
    after_hits = _hits(spark, SegmentedIndex(idx_dir))
    assert after_hits == before_hits

    # crash between blocks-swap renames (protocol state: staged present,
    # live blocks missing, committed _manifest_next/COMPLETE still pending)
    # → roll forward restores blocks then manifests
    os.makedirs(man_next, exist_ok=True)
    for name in os.listdir(man):
        shutil.move(os.path.join(man, name), os.path.join(man_next, name))
    with open(os.path.join(man_next, "COMPLETE"), "w") as f:
        f.write("{}")
    os.rmdir(man)
    os.rename(blocks, staged)
    recover_compaction(idx_dir)
    assert os.path.isdir(blocks) and not os.path.exists(staged)
    assert os.path.isdir(man) and not os.path.exists(man_next)
    assert _hits(spark, SegmentedIndex(idx_dir)) == after_hits

    # defensive: a stranded staged tree with NO live blocks and no staging
    # manifests must be adopted, never deleted (only copy of the postings)
    os.rename(blocks, staged)
    recover_compaction(idx_dir)
    assert os.path.isdir(blocks) and not os.path.exists(staged)
    assert _hits(spark, SegmentedIndex(idx_dir)) == after_hits

    # crash between manifest renames: _manifest moved away, next COMPLETE →
    # roll forward restores manifests
    os.makedirs(man_next, exist_ok=True)
    for name in os.listdir(man):
        shutil.move(os.path.join(man, name), os.path.join(man_next, name))
    with open(os.path.join(man_next, "COMPLETE"), "w") as f:
        f.write("{}")
    os.rmdir(man)
    recover_compaction(idx_dir)
    assert os.path.isdir(man) and not os.path.exists(man_next)
    assert sorted(SegmentedIndex(idx_dir).committed_segments()) == [0]
    assert _hits(spark, SegmentedIndex(idx_dir)) == after_hits


def test_resume_rejects_conflicting_n_segments(spark, tmp_path):
    """Rerunning a partially-built index with a different n_segments must
    adopt the recorded layout (None) or refuse (explicit conflict) — mixing
    two pmod layouts in one tree silently corrupts queries (ADVICE r1)."""
    import pytest

    pages = web_pages_from_documents(read_documents(spark, SF_SMALL))
    idx_dir = str(tmp_path / "idx")
    build_segmented_index(pages, idx_dir, DEFAULT, n_segments=3)

    # explicit conflicting N → hard error
    with pytest.raises(ValueError, match="segment_of=3"):
        build_segmented_index(pages, idx_dir, DEFAULT, n_segments=5)

    # None → adopts the recorded layout (no new segments to build)
    idx = build_segmented_index(pages, idx_dir, DEFAULT, n_segments=None)
    assert sorted(idx.committed_segments()) == [0, 1, 2]


def test_compaction_keeps_n_docs(spark, tmp_path):
    """Manifest n_docs counts chunk docs, zero-posting docs included, in the
    build AND in compaction: a stopword-only chunk has no postings but stays
    a doc, so Σ n_docs equals corpus_stats.n_docs before and after."""
    from pyspark.sql import functions as F

    from compact_index import compact_index

    docs = read_documents(spark, SF_SMALL).filter(F.col("doc_id") < 29)
    stop = docs.filter(F.col("doc_id") == 0).select(
        F.lit(10_000).cast("long").alias("doc_id"),
        F.lit("the and of to in it is was").alias("text"),
        "lang", "source", "n_chars",
    )
    pages = web_pages_from_documents(docs.unionByName(stop))
    idx_dir = str(tmp_path / "idx")
    idx = build_segmented_index(pages, idx_dir, DEFAULT, n_segments=3)
    n_docs = idx.corpus_stats(spark).head().n_docs
    assert n_docs == 30

    def total():
        return sum(m["n_docs"] for m in SegmentedIndex(idx_dir).committed_segments().values())

    assert total() == n_docs
    compact_index(spark, idx_dir, target_segments=2)
    assert sorted(SegmentedIndex(idx_dir).committed_segments()) == [0, 1]
    assert total() == n_docs


def _tree(path):
    """relpath → (size, mtime_ns) of every file under ``path``."""
    import os

    return {
        os.path.relpath(os.path.join(root, f), path): (st.st_size, st.st_mtime_ns)
        for root, _, files in os.walk(path)
        for f in files
        for st in [os.stat(os.path.join(root, f))]
    }


def test_segment_counts_below_one_rejected_before_writing(spark, tmp_path):
    """A segment count below 1 is refused before anything is written: by
    ``build_segmented_index`` (fresh and existing index), ``compact_index``
    and the ``--segments`` / ``--target-segments`` flags."""
    import os

    import pytest
    from pyspark.sql import functions as F

    import build_index
    import compact_index as compact_cli

    pages = web_pages_from_documents(
        read_documents(spark, SF_SMALL).filter(F.col("doc_id") < 29)
    )
    fresh = str(tmp_path / "fresh")
    for bad in (0, -1):
        with pytest.raises(ValueError, match="at least 1"):
            build_segmented_index(pages, fresh, DEFAULT, n_segments=bad)
        assert not os.path.exists(fresh)

    idx_dir = str(tmp_path / "idx")
    build_segmented_index(pages, idx_dir, DEFAULT, n_segments=2)
    before = _tree(idx_dir)
    for bad in (0, -1):
        with pytest.raises(ValueError, match="at least 1"):
            build_segmented_index(pages, idx_dir, DEFAULT, n_segments=bad)
    for bad in (0, -2):
        with pytest.raises(ValueError, match="at least 1"):
            compact_cli.compact_index(spark, idx_dir, target_segments=bad)
    for bad in ("0", "-2"):
        with pytest.raises(SystemExit):
            compact_cli.main(["--index", idx_dir, "--target-segments", bad])
        with pytest.raises(SystemExit):
            build_index.main(["--input", SF_SMALL, "--output", fresh, "--segments", bad])
    assert _tree(idx_dir) == before
    assert not os.path.exists(fresh)
