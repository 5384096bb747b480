"""Block-max pruned top-k over compressed posting blocks (SURVEY.md §2.6 T2).

The optimized counterpart of query/naive.py — same scores, same ranks
(three-way rank-identity is tested in tests/test_wand.py), but it reads the
compressed segment blocks (build/segments.py) and scores each segment with
the shared numpy kernel ``query/kernel.py score_term_lists`` (exact
two-phase MaxScore; ``LocalSearcher`` runs the same kernel).

Execution shapes (SURVEY.md §3.2 Spark replacement):

    topk_wand        blocks ⋈ broadcast(encoded queries) on term_id
                       -- inverted-index seek: only query-term rows are
                          ever read; parquet min/max on term_id prunes
                          row groups
                     groupBy(query_id, segment_id).applyInPandas(kernel)
                       -- per-segment top-k; group memory bounded by
                          segment size. Negative-weight terms are looked
                          up from block metadata: only blocks whose
                          [first_doc_id, last_doc_id] range holds a
                          surviving candidate are decoded (the block-max
                          skip, ``_TermBlocks``)
    topk_wand_batch  one segment-sorted mapInPandas stream; each segment's
                     term lists are decoded once and every query is scored
                     against them
    both             per_query_topk over segment candidates -- global merge
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from splade_spark.build.codec import decode_blocks
from splade_spark.build.segments import group_bounds, iter_sorted_groups
from splade_spark.config import EngineConfig, DEFAULT
from splade_spark.query.encode import encode_queries
from splade_spark.query.kernel import TermList, score_term_lists
from splade_spark.query.topk import per_query_topk

_HIT_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("doc_id", LongType()),
        StructField("score", DoubleType()),
    ]
)


class _TermBlocks:
    """One term's blocks in one segment (block order), decoded on demand."""

    def __init__(self, cols: dict):
        self.cols = cols
        self.bound = float(cols["max_impact"].max())

    def decode(self, within: np.ndarray | None = None):
        c, sel = self.cols, slice(None)
        if within is not None:  # only blocks whose doc range holds a survivor
            lo = np.searchsorted(within, c["first_doc_id"], side="left")
            hi = np.searchsorted(within, c["last_doc_id"], side="right")
            sel = hi > lo
        return decode_blocks(c["docs_bin"][sel], c["impacts_bin"][sel], c["n_docs"][sel])


def _term_blocks(cols: dict, s: int, e: int) -> dict:
    """term_id → its block columns, over rows [s, e) sorted by (term_id, block_id)."""
    tids = cols["term_id"]
    bounds = s + group_bounds(tids[s:e])
    return {
        int(tids[a]): {c: v[a:b] for c, v in cols.items()}
        for a, b in zip(bounds[:-1], bounds[1:])
    }


def _wand_group(pdf: pd.DataFrame, k: int) -> pd.DataFrame:
    pdf = pdf.sort_values(["term_id", "block_id"])
    cols = {c: pdf[c].to_numpy() for c in pdf.columns}
    lists, weights = {}, {}
    for tid, c in _term_blocks(cols, 0, len(pdf)).items():
        lists[tid] = _TermBlocks(c)
        weights[tid] = float(c["qweight"][0])
    docs, scores = score_term_lists(lists, weights, k)
    return pd.DataFrame(
        {"query_id": np.full(docs.size, cols["query_id"][0], dtype=np.int64),
         "doc_id": docs, "score": scores}
    )


def topk_wand(
    queries: DataFrame,
    blocks: DataFrame,
    dictionary: DataFrame,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """queries(query_id, text) → (query_id, doc_id, score, rank) via blocks.

    Execution shape: blocks ⋈ broadcast(queries) then one grouped-UDF unit
    per (query, segment). Best for FEW queries over MANY segments (widest
    parallelism, block-range skipping per query). For large query batches use
    ``topk_wand_batch`` — it ships each segment's blocks through Python once
    total instead of once per matching query.
    """
    k = k if k is not None else cfg.top_k
    encoded = encode_queries(queries, dictionary, cfg)
    joined = blocks.join(F.broadcast(encoded), "term_id")
    hits = joined.groupBy("query_id", "segment_id").applyInPandas(
        lambda pdf: _wand_group(pdf, k), _HIT_SCHEMA
    )
    return per_query_topk(hits, k)


def topk_wand_auto(
    queries: DataFrame,
    blocks: DataFrame,
    dictionary: DataFrame,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
    n_queries: int | None = None,
    n_segments: int | None = None,
) -> DataFrame:
    """Pick the WAND execution shape from the batch geometry (VERDICT.md #5).

    * ``topk_wand_batch`` decodes each segment's blocks ONCE for all queries,
      but its wall-clock parallelism is capped at n_segments — the right
      shape when segments outnumber cores (production: thousands of
      segments) and the query batch is large.
    * ``topk_wand`` runs one task per (query, segment) — widest parallelism,
      pays a decode per matching query; the right shape for few segments
      (bench indexes) or small query batches.

    Rule: batch when the segment count alone can keep the cluster busy
    (n_segments ≥ defaultParallelism) AND the batch is big enough to amortize
    the shared decode (n_queries ≥ 16); per-query otherwise. Both paths are
    rank-identical (tests/test_wand.py), so the choice is purely physical.

    ``n_queries`` / ``n_segments`` may be passed by callers that know them
    (e.g. from the index manifests); otherwise they cost one tiny count each.
    """
    spark = blocks.sparkSession
    if n_queries is None:
        n_queries = queries.count()
    if n_segments is None:
        n_segments = blocks.select("segment_id").distinct().count()
    par = spark.sparkContext.defaultParallelism
    if n_segments >= par and n_queries >= 16:
        return topk_wand_batch(queries, blocks, dictionary, k=k, cfg=cfg)
    return topk_wand(queries, blocks, dictionary, k=k, cfg=cfg)


def topk_wand_batch(
    queries: DataFrame,
    blocks: DataFrame,
    dictionary: DataFrame,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Batch-optimized WAND: one streaming pass over the blocks, all queries
    scored per segment from a shared decode cache.

    The encoded query set (tiny: queries × terms) is collected and closed
    over; blocks are repartitioned by segment and streamed through
    ``mapInPandas`` once. Cost: O(blocks + Σ_q candidates) instead of the
    per-query join's O(matching blocks · queries). Rank-identical to
    topk_wand/naive (tests/test_wand.py).

    Parallelism note: tasks are keyed by segment_id, so wall-clock
    parallelism ≤ number of segments. That is the right shape at production
    scale (segments number in the thousands+ since each holds ≤
    segment_max_docs docs); on a few-segment bench index prefer topk_wand,
    whose (query × segment) grouping stays wide. ``topk_wand_auto`` encodes
    exactly this rule and is the SUPPORTED batch entry point — call this
    function directly only when you know the segment count exceeds the
    cluster parallelism.
    """
    k = k if k is not None else cfg.top_k
    spark = blocks.sparkSession
    enc_rows = encode_queries(queries, dictionary, cfg).collect()
    weights_by_query: dict[int, dict[int, float]] = {}
    for r in enc_rows:
        weights_by_query.setdefault(r["query_id"], {})[r["term_id"]] = float(r["qweight"])
    if not weights_by_query:
        return per_query_topk(
            spark.createDataFrame([], _HIT_SCHEMA), k
        )
    wanted_terms = sorted({t for w in weights_by_query.values() for t in w})

    arranged = (
        blocks.filter(F.col("term_id").isin(wanted_terms))  # index seek + pushdown
        .select("segment_id", "term_id", "block_id", "n_docs", "docs_bin", "impacts_bin")
        .repartition(spark.sparkContext.defaultParallelism * 2, "segment_id")
        .sortWithinPartitions("segment_id", "term_id", "block_id")
    )

    def _stream(batches):
        for pdf, bounds in iter_sorted_groups(batches, ("segment_id",)):
            cols = {c: pdf[c].to_numpy() for c in pdf.columns}
            qids, docs, scores = [], [], []
            for s, e in zip(bounds[:-1], bounds[1:]):  # one segment
                lists = {
                    tid: TermList(*decode_blocks(c["docs_bin"], c["impacts_bin"], c["n_docs"]))
                    for tid, c in _term_blocks(cols, s, e).items()
                }
                for qid, weights in weights_by_query.items():
                    d, sc = score_term_lists(lists, weights, k)
                    qids.append(np.full(d.size, qid, dtype=np.int64))
                    docs.append(d)
                    scores.append(sc)
            yield pd.DataFrame(
                {"query_id": np.concatenate(qids), "doc_id": np.concatenate(docs),
                 "score": np.concatenate(scores)}
            )

    hits = arranged.mapInPandas(_stream, _HIT_SCHEMA)
    return per_query_topk(hits, k)
