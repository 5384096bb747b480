"""Segmented physical index: block packing, persistence, lineage, resume, merge.

Replaces Milvus' server-side segment management (insert/flush/create_index at
/root/reference/ingest.py:132-172 and implicit compaction) with an explicit,
Spark-native layout designed for 10^12-doc scale:

* **Segment = hash partition of docs.** ``segment_id = pmod(xxhash64(doc_id),
  n_segments)`` with ``n_segments = ceil(n_docs / cfg.segment_max_docs)``.
  Hash assignment is deterministic, needs no global sort, and bounds every
  per-(segment, term) group of the pack stream to ≤ segment_max_docs postings —
  the head-term-skew cap from SURVEY.md §7 ("no single Python worker
  materializes a full head-term posting list"). Each segment holds COMPLETE
  posting lists for its own docs, so queries run per-segment in parallel and
  merge top-k — the Milvus/Lucene execution model.

* **Blocks.** Within (segment_id, term_id): docID-ascending postings split
  into blocks of ``cfg.block_size``, delta+varint compressed (codec.py) with
  per-block max_impact / first/last doc_id — the block-max WAND metadata.

* **On-disk layout** (parquet in Iceberg-like layout; an Iceberg catalog can
  be layered on via config when the runtime jar is present):

      index_dir/corpus_stats/          singleton row
      index_dir/dictionary/            (term, term_id, df, idf)
      index_dir/docs/                  chunk store of the batch build
                                       (unpartitioned)
      index_dir/docs_stream/batch=K/   chunk store of streamed batch K
      index_dir/blocks/segment_id=K/   posting blocks per segment
      index_dir/_manifest/K.json       per-segment commit record (lineage +
                                       metrics) — written ATOMICALLY after the
                                       segment's data lands; its presence IS
                                       the checkpoint.

* **One fit, one posting derivation, one packer, one segment writer.** A
  fresh build packs ``CorpusFit.postings`` (``term_rows`` → ``doc_impacts``)
  straight from the in-memory ``stats.fit_corpus``; a resumed build and a
  streamed micro-batch (streaming/incremental.py) derive the same rows
  against the stored fit (``SegmentedIndex.stored_fit``); compaction
  (scripts/compact_index.py) re-blocks decoded postings with
  ``merge_segments``. All pack with ``pack_segment``, commit with
  ``write_segments``, and differ only in their rows, their lineage keys
  and where ``n_docs`` comes from.

* **Resume.** ``build_segmented_index`` recomputes nothing for segments whose
  manifest exists (kill the build after segment 1, rerun → segments 2..N only;
  tests/test_segments.py).

* **Merge.** ``merge_segments`` re-hashes every posting to a new segment
  count and re-blocks (decode → sort by doc_id per term → re-block) through
  the same sorted-stream packer — the distributed segment-merge stage
  required by the north rule.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType, DoubleType, FloatType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from splade_spark.build.codec import decode_blocks, encode_blocks
from splade_spark.build.postings import doc_impacts, surface_term_counts, term_freqs
from splade_spark.build.stats import CorpusFit, fit_corpus
from splade_spark.config import EngineConfig, DEFAULT

BLOCK_SCHEMA = StructType(
    [
        StructField("segment_id", IntegerType()),
        StructField("term_id", IntegerType()),
        StructField("block_id", IntegerType()),
        StructField("n_docs", IntegerType()),
        StructField("max_impact", DoubleType()),
        StructField("first_doc_id", LongType()),
        StructField("last_doc_id", LongType()),
        StructField("docs_bin", BinaryType()),
        StructField("impacts_bin", BinaryType()),
    ]
)


def n_segments_for(n_docs: int, cfg: EngineConfig = DEFAULT) -> int:
    return max(1, math.ceil(n_docs / cfg.segment_max_docs))


def segment_count(n) -> int:
    """``n`` as a segment count: an int of at least 1, else ValueError.
    Builds, compaction and their CLI flags check it before writing anything."""
    n = int(n)
    if n < 1:
        raise ValueError(f"segment count must be at least 1, got {n}")
    return n


def with_segment_id(postings: DataFrame, n_segments: int) -> DataFrame:
    """Attach deterministic hash-based segment_id to long-form postings."""
    return postings.withColumn(
        "segment_id", F.pmod(F.xxhash64("doc_id"), F.lit(n_segments)).cast("int")
    )


def group_bounds(*cols: np.ndarray) -> np.ndarray:
    """Offsets of the runs of equal values across aligned sorted ``cols``:
    every run start, then the total length."""
    starts = np.zeros(len(cols[0]), dtype=bool)
    starts[:1] = True
    for c in cols:
        starts[1:] |= c[1:] != c[:-1]
    return np.append(np.flatnonzero(starts), len(starts))


def iter_sorted_groups(batches, keys: tuple[str, ...]):
    """Re-cut a stream of pandas batches sorted by ``keys`` at group
    boundaries → (frame, bounds) pairs, where ``frame`` holds only complete
    groups and ``bounds`` are their ``group_bounds``. The group still open
    at a batch's end is carried into the next batch."""
    carry = None
    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        if len(pdf) == 0:
            continue
        bounds = group_bounds(*(pdf[k].to_numpy() for k in keys))
        carry = pdf.iloc[bounds[-2]:]
        if len(bounds) > 2:
            yield pdf.iloc[: bounds[-2]], bounds[:-1]
    if carry is not None and len(carry):
        yield carry, group_bounds(*(carry[k].to_numpy() for k in keys))


def block_rows(keys: dict[str, np.ndarray], docs: np.ndarray, impacts: np.ndarray,
               bounds: np.ndarray, block_size: int) -> pd.DataFrame:
    """Complete (segment, term) groups → their block rows (``BLOCK_SCHEMA``).

    Group g holds the postings ``bounds[g]:bounds[g + 1]`` of ``docs``
    (ascending) and ``impacts``, and the values ``keys[c][g]`` of the key
    columns (segment_id, term_id). Each group is cut into runs of
    ``block_size`` postings; block ids, counts, max impacts and first/last
    doc ids are array ops over all blocks, and the blobs come from one
    ``encode_blocks`` call.
    """
    sizes = np.diff(bounds)
    per_group = -(-sizes // block_size)
    group = np.repeat(np.arange(sizes.size), per_group)
    block_id = np.arange(group.size) - np.repeat(np.cumsum(per_group) - per_group, per_group)
    starts = bounds[group] + block_id * block_size
    ends = np.minimum(starts + block_size, bounds[group + 1])
    docs_bin, impacts_bin = encode_blocks(docs, impacts, starts)
    return pd.DataFrame(
        {
            **{c: v[group].astype(np.int32) for c, v in keys.items()},
            "block_id": block_id.astype(np.int32),
            "n_docs": (ends - starts).astype(np.int32),
            "max_impact": np.maximum.reduceat(impacts, starts),
            "first_doc_id": docs[starts],
            "last_doc_id": docs[ends - 1],
            "docs_bin": docs_bin,
            "impacts_bin": impacts_bin,
        }
    )


def pack_segment(postings: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """postings(term_id, doc_id, impact[, segment_id]) → block rows — the one
    packer (``CorpusFit.postings`` rows in every build, decoded postings in
    ``merge_segments``).

    If ``segment_id`` is absent everything is packed as segment 0.

    Physical shape (SURVEY.md §2.3 B5): repartition on (segment_id, term_id)
    → sortWithinPartitions(segment_id, term_id, doc_id) → ONE streaming
    ``mapInPandas`` pass that re-cuts the already-sorted Arrow batches at
    group boundaries (``iter_sorted_groups``) and emits each batch's blocks
    with one ``block_rows`` call. Only the four packed columns cross into
    Python: the impact math is a Catalyst projection ahead of the exchange.
    The sort happens in Spark's shuffle machinery (tungsten, spillable), and
    group size stays capped by segment_max_docs.
    """
    if "segment_id" not in postings.columns:
        postings = postings.withColumn("segment_id", F.lit(0))
    keys = ("segment_id", "term_id")
    arranged = (
        postings.select(*keys, "doc_id", "impact")
        .repartition(postings.sparkSession.sparkContext.defaultParallelism * 2, *keys)
        .sortWithinPartitions(*keys, "doc_id")
    )

    def _stream(batches):
        for pdf, bounds in iter_sorted_groups(batches, keys):
            yield block_rows(
                {c: pdf[c].to_numpy()[bounds[:-1]] for c in keys},
                pdf["doc_id"].to_numpy(), pdf["impact"].to_numpy(dtype=np.float64),
                bounds, cfg.block_size,
            )

    return arranged.mapInPandas(_stream, BLOCK_SCHEMA)


# perfbench/run.py's traced build imports the name below and feeds it
# unfolded stem partials; it goes when the benchmark itself next changes.
def pack_segment_from_tf(rows: DataFrame, avgdl: float, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """rows(segment_id, term_id, doc_id, tf, doclen) → block rows: duplicate
    (segment, term, doc) partials summed in Catalyst, then ``doc_impacts`` →
    ``pack_segment``."""
    merged = rows.groupBy("segment_id", "term_id", "doc_id").agg(
        F.sum("tf").alias("tf"), F.first("doclen").alias("doclen")
    )
    return pack_segment(doc_impacts(merged, avgdl, cfg), cfg)


def unpack_blocks(blocks: DataFrame) -> DataFrame:
    """Inverse of pack_segment — block rows → long-form (segment_id, term_id,
    doc_id, impact) postings: the library's one block reader
    (``merge_segments``, ``LocalSearcher.load``, scripts/query_index.py,
    bench.py and perfbench's naive and session paths)."""
    out_schema = StructType(
        [
            StructField("segment_id", IntegerType()),
            StructField("term_id", IntegerType()),
            StructField("doc_id", LongType()),
            StructField("impact", DoubleType()),
        ]
    )

    def _unpack(iter_pdf):
        for pdf in iter_pdf:
            n = pdf["n_docs"].to_numpy()
            docs, impacts = decode_blocks(pdf["docs_bin"], pdf["impacts_bin"], n)
            yield pd.DataFrame(
                {
                    "segment_id": np.repeat(pdf["segment_id"].to_numpy(), n).astype(np.int32),
                    "term_id": np.repeat(pdf["term_id"].to_numpy(), n).astype(np.int32),
                    "doc_id": docs,
                    "impact": impacts,
                }
            )

    return blocks.mapInPandas(_unpack, out_schema)


def merge_segments(blocks: DataFrame, n_segments: int,
                   cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Any segments' blocks → the blocks of ``n_segments`` hash segments.

    Decode → re-hash every posting by doc_id → re-block (the pack sorts each
    (segment, term) list by doc_id). One shuffle keyed by (segment, term);
    group memory is one merged term list, so callers cap how many segments
    merge at once (compaction policy) at extreme scale.
    """
    return pack_segment(
        with_segment_id(unpack_blocks(blocks).drop("segment_id"), n_segments), cfg
    )


def docs_per_segment(docs: DataFrame, n_segments: int, segments) -> dict[int, int]:
    """Chunk docs per hash segment, zero-posting docs included — the
    ``n_docs`` of a hash-segmented manifest (a doc_id-only scan)."""
    counts = dict(
        with_segment_id(docs.select("doc_id"), n_segments).groupBy("segment_id").count().collect()
    )
    return {int(s): int(counts.get(s, 0)) for s in segments}


# ---------------------------------------------------------------------------
# Persistent segmented index with lineage + resume
# ---------------------------------------------------------------------------


@dataclass
class SegmentedIndex:
    """Handle to an on-disk index (paths + lazily-read frames)."""

    path: str

    @property
    def manifest_dir(self) -> str:
        return os.path.join(self.path, "_manifest")

    def committed_segments(self) -> dict[int, dict]:
        if not os.path.isdir(self.manifest_dir):
            return {}
        out = {}
        for name in os.listdir(self.manifest_dir):
            if name.endswith(".json"):
                with open(os.path.join(self.manifest_dir, name)) as f:
                    rec = json.load(f)
                out[int(rec["segment_id"])] = rec
        return out

    def corpus_stats(self, spark: SparkSession) -> DataFrame:
        from splade_spark.sources.iceberg import read_engine_table

        return read_engine_table(spark, "corpus_stats", self.path)

    def dictionary(self, spark: SparkSession) -> DataFrame:
        from splade_spark.sources.iceberg import read_engine_table

        return read_engine_table(spark, "dictionary", self.path)

    def blocks(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.path, "blocks"))

    def stored_fit(self, docs: DataFrame, cfg: EngineConfig = DEFAULT) -> CorpusFit:
        """The committed fit, with ``tf`` derived for ``docs`` — what a
        resumed build or a streamed micro-batch encodes against. ``docs``'
        surface is cached, so the stem map and the fold share one tokenize
        pass; the caller unpersists it (``CorpusFit.unpersist``)."""
        spark = docs.sparkSession
        stats = self.corpus_stats(spark).head()
        surface = surface_term_counts(docs).cache()
        return CorpusFit(
            int(stats.n_docs), float(stats.avgdl), self.dictionary(spark),
            term_freqs(docs, cfg, surface=surface), surface,
        )

    def docs(self, spark: SparkSession) -> DataFrame:
        """The chunk store: batch-built ``docs/`` ∪ every streamed batch's
        ``docs_stream/batch=K``."""
        batch, stream = (os.path.join(self.path, d) for d in ("docs", "docs_stream"))
        parts = []
        if os.path.exists(os.path.join(batch, "_SUCCESS")):
            parts.append(spark.read.parquet(batch))
        if os.path.isdir(stream):
            parts.append(spark.read.parquet(stream).drop("batch"))
        if not parts:
            raise ValueError(f"no doc stores under {self.path}")
        return reduce(DataFrame.unionByName, parts)

    def segments_table(self, spark: SparkSession) -> DataFrame:
        """The `segments` lineage/metrics table (SURVEY.md §1.3), from
        manifests — a local relation, no job to build it."""
        schema = StructType(
            [
                StructField("segment_id", IntegerType()),
                StructField("status", StringType()),
                StructField("n_docs", LongType()),
                StructField("n_postings", LongType()),
                StructField("bytes", LongType()),
                StructField("built_ts", StringType()),
                StructField("lineage", StringType()),
            ]
        )
        rows = [{f.name: r[f.name] for f in schema} for r in self.committed_segments().values()]
        return spark.createDataFrame(
            pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
        )


def _commit_manifest(index: SegmentedIndex, rec: dict, manifest_dir: str | None = None) -> None:
    mdir = manifest_dir or index.manifest_dir
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".{rec['segment_id']}.json.tmp")
    final = os.path.join(mdir, f"{rec['segment_id']}.json")
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, final)  # atomic commit — presence of this file = checkpoint


def recover_compaction(index_dir: str) -> None:
    """Finish (or undo) an interrupted compaction swap — idempotent.

    Compaction stages the new blocks tree at ``blocks_compact`` and the new
    manifests at ``_manifest_next``; writing ``_manifest_next/COMPLETE`` is
    THE commit point. This routine rolls a completed staging forward (swap
    blocks, then manifests, keeping the marker until both live) and rolls an
    incomplete staging back, so a crash at ANY point leaves the index with
    exactly one consistent (blocks, manifests) pair. Called at the start of
    compaction and of ``build_segmented_index`` (ADVICE r1: the old swap
    could crash into a state with no live blocks dir or zero manifests).
    """
    import shutil

    blocks = os.path.join(index_dir, "blocks")
    staged = os.path.join(index_dir, "blocks_compact")
    backup = os.path.join(index_dir, "blocks_old")
    man = os.path.join(index_dir, "_manifest")
    man_next = os.path.join(index_dir, "_manifest_next")
    man_old = os.path.join(index_dir, "_manifest_old")

    if os.path.exists(os.path.join(man_next, "COMPLETE")):
        # committed staging → roll FORWARD
        if os.path.isdir(staged):
            if os.path.isdir(blocks):
                if os.path.isdir(backup):
                    shutil.rmtree(backup)
                os.rename(blocks, backup)
            os.rename(staged, blocks)
        if os.path.isdir(man):
            if os.path.isdir(man_old):
                shutil.rmtree(man_old)
            os.rename(man, man_old)
        os.rename(man_next, man)  # COMPLETE rides along; removed below
    elif os.path.isdir(man_next):
        # staging never reached its commit point → roll BACK
        shutil.rmtree(man_next)
        if os.path.isdir(staged):
            shutil.rmtree(staged)

    marker = os.path.join(man, "COMPLETE")
    if os.path.exists(marker):
        os.remove(marker)
    if os.path.isdir(backup) and os.path.isdir(blocks):
        shutil.rmtree(backup)
    if os.path.isdir(man_old) and os.path.isdir(man):
        shutil.rmtree(man_old)
    if os.path.isdir(staged) and not os.path.isdir(man_next):
        if os.path.isdir(blocks):
            shutil.rmtree(staged)  # stale staged blocks from a rolled-back run
        else:
            os.rename(staged, blocks)  # never delete the only blocks copy


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


_HASH_ASSIGN = "pmod(xxhash64(doc_id), n_segments)"


def write_segments(
    index: SegmentedIndex,
    blocks: DataFrame,
    n_docs_by_seg: dict[int, int],
    lineage: dict,
    cfg: EngineConfig = DEFAULT,
    staged: bool = False,
    fail_after: int | None = None,
) -> dict[int, dict]:
    """Write ``blocks`` and commit one manifest per segment of
    ``n_docs_by_seg`` — the one commit path of the batch build, streaming
    ingest and compaction.

    ONE partitioned write for every segment; dynamic partition overwrite
    replaces only the written ``segment_id=K`` dirs, so a rerun (resume, a
    replayed micro-batch) rewrites just its own segments. ``n_postings``
    comes from the written block metadata (Σ n_docs per block = distinct
    (term, doc) pairs), not from another pass over the postings. ``n_docs``
    is the caller's: the chunk docs assigned to the segment, zero-posting
    docs included. A manifest's presence is the segment's checkpoint, so a
    crash mid-write commits nothing. Returns the committed manifests.

    ``staged`` (compaction) writes ``blocks_compact/`` + ``_manifest_next/``,
    then the COMPLETE marker — the commit point — and lets
    ``recover_compaction`` swap both in. ``fail_after`` is a test hook:
    raise after committing that many segments (a mid-commit crash).
    """
    spark = blocks.sparkSession
    root = os.path.join(index.path, "blocks_compact" if staged else "blocks")
    manifest_dir = os.path.join(index.path, "_manifest_next") if staged else None
    t0 = time.monotonic()
    blocks.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        "segment_id"
    ).parquet(root)
    elapsed = max(time.monotonic() - t0, 1e-9)
    seg_paths = {s: os.path.join(root, f"segment_id={s}") for s in n_docs_by_seg}
    written = [p for p in seg_paths.values() if os.path.isdir(p)]  # no dir = no postings
    n_post = dict(  # a known schema skips the footer-inference job
        spark.read.schema(BLOCK_SCHEMA).option("basePath", root).parquet(*written)
        .groupBy("segment_id").agg(F.sum("n_docs")).collect()
    ) if written else {}
    shared = {
        "cfg": {"block_size": cfg.block_size, "k1": cfg.k1, "b": cfg.b},
        # one job writes every segment: the rate is the write's
        "postings_per_sec": round((sum(n_post.values()) or 1) / elapsed, 1),
    }
    built_ts = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    committed = {}
    for seg, n_docs in sorted(n_docs_by_seg.items()):
        committed[seg] = {
            "segment_id": seg,
            "status": "committed",
            "n_docs": n_docs,
            "n_postings": int(n_post.get(seg, 0)),
            "bytes": _dir_bytes(seg_paths[seg]),
            "built_ts": built_ts,
            "lineage": json.dumps({**lineage, **shared}),
        }
        _commit_manifest(index, committed[seg], manifest_dir=manifest_dir)
        if fail_after is not None and len(committed) >= fail_after:
            raise RuntimeError(f"injected failure after segment {seg}")
    if staged:
        with open(os.path.join(manifest_dir, "COMPLETE"), "w") as f:
            f.write(json.dumps(sorted(committed)))
        recover_compaction(index.path)  # the swap itself (crash-resumable)
    return committed


def build_segmented_index(
    pages: DataFrame | None,
    index_dir: str,
    cfg: EngineConfig = DEFAULT,
    use_html: bool = True,
    n_segments: int | None = None,
    fail_after_segment: int | None = None,
    dedup: str | None = None,
) -> SegmentedIndex:
    """Full resumable build: web_pages → stats/dictionary → per-segment blocks.

    Phase 0 (global fit, ONE checkpoint): chunk+analyze → ``fit_corpus`` →
    corpus_stats + dictionary, persisted together; a rerun skips it only
    when both exist and otherwise refits both. Phase 1 (per segment,
    checkpointed): ``CorpusFit.postings`` → ``pack_segment`` →
    ``write_segments``. A run that
    just fitted packs the fit it holds in memory (nothing is read back); a
    run that skipped the fit derives the rows against the stored fit
    (``SegmentedIndex.stored_fit``). Rerunning skips any segment with a
    committed manifest — that is the resume path; nothing committed is
    recomputed. A pre-existing committed ``docs/`` store (e.g. placed there
    by a streaming re-fit) short-circuits the chunk phase — then ``pages``
    may be None.

    ``fail_after_segment`` is a test hook: raise after committing that many
    segments (simulates a mid-build crash for tests/test_segments.py).
    """
    from pyspark.sql import Observation

    from splade_spark.build.chunker import attach_tokens, chunk_pages, docs_from_chunks

    if n_segments is not None:
        n_segments = segment_count(n_segments)
    if dedup not in (None, "exact"):
        raise ValueError(f"unsupported dedup mode {dedup!r} (None or 'exact')")
    spark = pages.sparkSession if pages is not None else SparkSession.getActiveSession()
    recover_compaction(index_dir)  # finish/undo any interrupted compaction swap
    index = SegmentedIndex(index_dir)
    # Compute-dense stages (extract/analyze UDFs) must not inherit the scan's
    # byte-based partitioning: a small-but-heavy input collapses to 1-2 tasks
    # under maxPartitionBytes=128M and serializes the whole build. Spread to
    # the session's full parallelism; at real 100TB scale the scan already
    # yields enough partitions and this repartition coalesces nothing.
    par = spark.sparkContext.defaultParallelism * 2
    if pages is not None and pages.rdd.getNumPartitions() < par:
        pages = pages.repartition(par)
    # The fit outputs (corpus_stats, dictionary) go through the Iceberg
    # catalog gate (sources/iceberg.py): a real catalog when configured AND
    # the runtime jar is present, the native parquet layout otherwise. The
    # docs/blocks data trees stay engine-managed parquet — their commit
    # protocol is the per-segment manifest + dynamic-partition overwrite.
    from splade_spark.sources.iceberg import engine_table_exists, write_engine_table

    docs_path = os.path.join(index_dir, "docs")

    committed = index.committed_segments()
    # Resume safety (ADVICE r1): the hash layout pmod(xxhash64(doc_id), N)
    # is baked into every committed segment. Adopt the recorded N on resume;
    # refuse a conflicting caller-requested N — mixing two layouts in one
    # blocks tree would silently duplicate/drop postings at query time.
    recorded = {
        json.loads(r["lineage"]).get("segment_of") for r in committed.values()
    } - {None}
    if len(recorded) > 1:
        raise ValueError(f"corrupt index: mixed segment_of values {sorted(recorded)}")
    if recorded:
        rec_n = int(recorded.pop())
        if n_segments is not None and n_segments != rec_n:
            raise ValueError(
                f"resume with n_segments={n_segments} conflicts with committed "
                f"layout segment_of={rec_n}; pass n_segments={rec_n} or rebuild"
            )
        n_segments = rec_n

    fitted = all(engine_table_exists(spark, t, index_dir) for t in ("corpus_stats", "dictionary"))
    n_docs = None
    if not fitted and not os.path.exists(os.path.join(docs_path, "_SUCCESS")):
        if pages is None:
            raise ValueError(
                "pages is None and no committed docs/ store exists — "
                "nothing to build from"
            )
        docs = docs_from_chunks(chunk_pages(pages, cfg, use_html=use_html), cfg)
        if dedup == "exact":
            # Web-corpus hygiene (task brief): drop exact-duplicate chunk
            # texts before the fit so corpus stats and postings see each
            # distinct text once. Canonical survivor = min doc_id per
            # digest (curation/dedup.py semantics); one digest shuffle.
            from splade_spark.curation.dedup import exact_dups

            keep = (
                exact_dups(docs)
                .filter(F.col("doc_id") == F.col("canonical_id"))
                .select("doc_id")
            )
            docs = docs.join(keep, "doc_id")
        # chunk store (ckpt 0a): tokens AND doclen are NOT persisted — both
        # are a deterministic projection of (text, norm) re-attached on read,
        # so the chunk-write job does ZERO tokenize work (the build's single
        # tokenize pass is the fit's surface cache fill). The doc count
        # rides the write as an observed aggregate.
        obs = Observation()
        docs = docs.observe(obs, F.count(F.lit(1)).alias("n_docs"))
        docs.drop("tokens", "doclen").write.mode("overwrite").parquet(docs_path)
        n_docs = int(obs.get["n_docs"])

    docs = spark.read.parquet(docs_path)
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    docs = attach_tokens(docs)
    if fitted:
        fit = index.stored_fit(docs, cfg)
    else:
        if n_docs is None:  # resumed after the docs checkpoint
            n_docs = docs.select("doc_id").count()
        fit = fit_corpus(docs, n_docs, cfg)
    try:
        if not fitted:
            write_engine_table(fit.corpus_stats().coalesce(1), "corpus_stats", index_dir)
            write_engine_table(fit.dictionary, "dictionary", index_dir)
        if n_segments is None:
            n_segments = n_segments_for(fit.n_docs, cfg)
        pending = [s for s in range(n_segments) if s not in committed]
        if pending:
            # ONE pack+write job for every pending segment — the per-segment
            # loop it replaces paid ~1s of planning/codegen latency per job,
            # a serial floor that dominated build time at bench scale. Crash
            # mid-write leaves no new manifests → the whole pending set
            # rebuilds; committed segments stay untouched.
            rows = with_segment_id(fit.postings(cfg), n_segments)
            write_segments(
                index,
                pack_segment(rows.filter(F.col("segment_id").isin(pending)), cfg),
                docs_per_segment(docs, n_segments, pending),
                {"segment_of": n_segments, "assign": _HASH_ASSIGN},
                cfg,
                fail_after=fail_after_segment,
            )
    finally:
        fit.unpersist()
    return index
