#!/usr/bin/env python
"""spark-submit entrypoint: compact a segmented index's segments (B8).

    spark-submit --py-files splade_spark.zip scripts/compact_index.py \\
        --index /tmp/idx [--target-segments 1]

Reads every committed segment's blocks, re-hashes every posting into
``--target-segments`` hash segments, re-blocks (``merge_segments``), and
commits through the batch build's segment writer (``write_segments``). Manifest
``n_docs`` counts the chunk docs (``docs/`` ∪ ``docs_stream/``) per new
segment, zero-posting docs included, so Σ n_docs survives compaction. The
writer swaps the blocks tree + manifests CRASH-SAFELY: the new tree and new
manifests are fully staged first (``blocks_compact`` / ``_manifest_next``),
the atomic commit point is the ``_manifest_next/COMPLETE`` marker, and the
actual swap is the idempotent ``recover_compaction`` routine
(build/segments.py) that also runs at every build/compact start — a crash
at any instant leaves exactly one consistent (blocks, manifests) pair.
Query results are unchanged (same postings, new physical grouping) —
asserted by tests/test_compaction.py.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> None:
    from splade_spark.build.segments import segment_count

    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--target-segments", type=segment_count, default=1)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("splade-compact-index").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(compact_index(spark, args.index, args.target_segments)), flush=True)
    spark.stop()


def compact_index(spark, index_dir: str, target_segments: int = 1,
                  cfg=None) -> dict:
    """Merge all committed segments into ``target_segments`` new ones →
    a summary dict (segment counts, postings, seconds)."""
    from splade_spark.build.segments import (
        _HASH_ASSIGN, SegmentedIndex, docs_per_segment, merge_segments,
        recover_compaction, segment_count, write_segments,
    )
    from splade_spark.config import DEFAULT

    target_segments = segment_count(target_segments)
    cfg = cfg or DEFAULT
    recover_compaction(index_dir)  # finish/undo any interrupted prior swap
    idx = SegmentedIndex(index_dir)
    old = idx.committed_segments()
    if not old:
        raise ValueError(f"no committed segments under {index_dir}")

    t0 = time.monotonic()
    # staged: blocks_compact + _manifest_next, COMPLETE marker, then the swap
    new = write_segments(
        idx,
        merge_segments(idx.blocks(spark), target_segments, cfg),
        docs_per_segment(idx.docs(spark), target_segments, range(target_segments)),
        {"compacted_from": sorted(old), "segment_of": target_segments,
         "assign": _HASH_ASSIGN},
        cfg,
        staged=True,
    )
    return {
        "old_segments": len(old),
        "new_segments": len(new),
        "n_postings": sum(m["n_postings"] for m in new.values()),
        "compact_sec": round(time.monotonic() - t0, 3),
    }


if __name__ == "__main__":
    main(sys.argv[1:])
