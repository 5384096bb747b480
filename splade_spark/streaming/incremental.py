"""Structured-Streaming incremental index build (SURVEY.md §2.9 stretch).

The reference has zero streaming — ingest is a batch script
(/root/reference/ingest.py:177-195). The streaming analog our north rule
implies is *incremental segment builds*: new web_pages arrive continuously;
each micro-batch becomes one immutable segment (B7), and the background
merge stage (B8, build/segments.py merge_segments) compacts.

Design decisions:

* ``foreachBatch`` drives the SAME code path as a resumed
  build_segmented_index: ``SegmentedIndex.stored_fit`` (the batch's tf over
  one cached surface, against the stored fit) → ``CorpusFit.postings``
  (``term_rows`` → ``doc_impacts``) → ``pack_segment`` → ``write_segments``
  — one implementation of the posting rows, the packer, the physical
  format and the segment commit, two drivers (batch + streaming). Streamed
  segment ids are ``STREAM_SEGMENT_BASE + batch_id``; manifests carry the
  same fields (lineage records the stream batch instead of
  ``segment_of``), so merge/query treat streamed segments exactly like
  batch-built ones.
* Global BM25 stats (dictionary/corpus_stats) come from a FIT PREFIX: the
  dictionary is fit once on the initial corpus (or a prior batch build) and
  streamed segments encode against that frozen fit. That matches the
  reference's snapshot-fit semantics (BM25 re-fit per process at
  /root/reference/main.py:57-64) while keeping scores stable across
  segments. Each micro-batch ALSO persists its chunk docs (``docs_stream/
  batch=K``), which makes the drift bounded-and-repairable: ``refit_compact``
  periodically re-fits the dictionary over the FULL doc store and re-encodes
  everything into a fresh index that is bit-identical to a from-scratch
  batch build over the same corpus (tests/test_streaming.py). The new index
  lands in its own directory — at production scale you flip a catalog
  pointer (Iceberg-snapshot style), not rewrite a live petabyte tree.
* Checkpointing: Spark's streaming checkpoint gives exactly-once foreachBatch
  delivery; our per-segment manifests add engine-level idempotence on top
  (a replayed batch overwrites its own segment directory, then re-commits
  the same manifest — idempotent).

Watermarks/event-time windows are not needed for index building (append-only
corpus, no aggregations over event time); late pages simply land in a later
segment — document identity stays (url, chunk_idx) so the merge stage dedups
re-crawled pages by doc_id if a dedup policy is configured.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from splade_spark.config import EngineConfig, DEFAULT

# Streamed micro-batch K commits segment STREAM_SEGMENT_BASE + K — clear of
# the hash segments 0..n-1 of any batch build below 1000 segments.
STREAM_SEGMENT_BASE = 1000


def stream_build_segments(
    pages_stream: DataFrame,
    index_dir: str,
    cfg: EngineConfig = DEFAULT,
    use_html: bool = True,
    checkpoint_dir: str | None = None,
):
    """readStream(web_pages) → one committed segment per micro-batch.

    Requires a fitted index at ``index_dir`` (dictionary + corpus_stats from
    a prior batch build). Micro-batch K commits segment
    ``STREAM_SEGMENT_BASE + K``. The trigger is ``availableNow``: the query
    processes all available input then stops — the batch-incremental mode
    that needs no long-running driver. Returns the StreamingQuery.
    """
    from pyspark.sql import Observation

    from splade_spark.build.chunker import chunk_pages, docs_from_chunks
    from splade_spark.build.segments import SegmentedIndex, pack_segment, write_segments

    index = SegmentedIndex(index_dir)

    def _process_batch(batch_df: DataFrame, batch_id: int) -> None:
        seg_id = STREAM_SEGMENT_BASE + int(batch_id)
        docs = docs_from_chunks(chunk_pages(batch_df, cfg, use_html=use_html), cfg)
        # Persist this batch's chunk docs so a later refit_compact can re-fit
        # over the FULL corpus. Tokens and doclen are dropped (derived
        # projections, same convention as the batch chunk store — schemas
        # must match for the refit union). Partitioned by batch id + dynamic
        # overwrite → a replayed micro-batch rewrites only its own partition
        # (idempotent, like the blocks write). The batch doc count rides the
        # write as an observed aggregate: the segment's n_docs, zero-token
        # docs included, as for every segment.
        obs = Observation()
        docs.drop("tokens", "doclen").observe(
            obs, F.count(F.lit(1)).alias("n_docs")
        ).withColumn("batch", F.lit(int(batch_id))).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy("batch").parquet(
            os.path.join(index_dir, "docs_stream")
        )
        fit = index.stored_fit(docs, cfg)
        try:
            write_segments(
                index,
                pack_segment(fit.postings(cfg).withColumn("segment_id", F.lit(seg_id)), cfg),
                {seg_id: int(obs.get["n_docs"])},
                {"stream_batch_id": int(batch_id), "mode": "streaming-foreachBatch"},
                cfg,
            )
        finally:
            fit.unpersist()

    writer = pages_stream.writeStream.foreachBatch(_process_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def refit_compact(
    spark: SparkSession,
    index_dir: str,
    new_index_dir: str,
    cfg: EngineConfig = DEFAULT,
    n_segments: int | None = None,
):
    """Periodic re-fit + re-encode compaction for a streamed index.

    Reads the batch doc store (``docs/``) plus every streamed batch's docs
    (``docs_stream/batch=K``), re-fits corpus_stats + dictionary over the
    union, and rebuilds ALL segments against the fresh fit into
    ``new_index_dir`` — a complete, self-contained index that is
    bit-identical (block blobs included) to a from-scratch batch build over
    the same corpus, because every stage downstream of the doc store is
    deterministic and order-independent (exact-integer avgdl, per-(segment,
    term) sorted packing, frozen codec). The caller flips its catalog
    pointer to the new directory and can then delete the old tree — the
    blue/green pattern that scales to petabyte indexes, rather than an
    in-place rewrite.

    Returns the new SegmentedIndex.
    """
    from splade_spark.build.segments import SegmentedIndex, build_segmented_index

    docs = SegmentedIndex(index_dir).docs(spark)
    os.makedirs(new_index_dir, exist_ok=True)
    docs.write.mode("overwrite").parquet(os.path.join(new_index_dir, "docs"))
    # the builder short-circuits its chunk phase on a committed docs store
    return build_segmented_index(None, new_index_dir, cfg, n_segments=n_segments)
