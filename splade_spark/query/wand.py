"""Block-max pruned top-k over compressed posting blocks (SURVEY.md §2.6 T2).

The optimized counterpart of query/naive.py — same scores, same ranks
(three-way rank-identity is tested in tests/test_wand.py), but it reads the
compressed segment blocks (build/segments.py) and scores each segment with
the shared numpy kernel ``query/kernel.py score_term_lists`` (exact
two-phase MaxScore; ``LocalSearcher`` runs the same kernel).

One execution shape, a segment-keyed stream (SURVEY.md §3.2 Spark
replacement; the per-partition scoring + global merge of REPOSE):

    encode       the query set is encoded on the driver (``encode_query_set``:
                 the texts and only their terms' dictionary rows collected)
    seek         blocks filtered on term_id ∈ query terms -- parquet
                 pushdown, min/max on term_id prunes row groups; no join
    score        repartition + sort by (segment_id, term_id, block_id), one
                 mapInPandas stream cut into segment groups; each group
                 scores every query over its term lists (``_TermBlocks``):
                 every term some query weights positively is decoded in one
                 ``decode_blocks`` call per group; a term only ever weighted
                 negatively stays lazy, so looking it up at the survivors
                 decodes only the blocks whose [first_doc_id, last_doc_id]
                 range holds one (the block-max skip)
    merge        per_query_topk over the per-segment candidates

The stream's parallelism is the segment count: on an index with fewer
segments than cores the other cores idle (BENCH/BASELINE.md "Query
buckets: built, measured, removed").
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from splade_spark.build.codec import decode_blocks
from splade_spark.build.segments import group_bounds, iter_sorted_groups
from splade_spark.config import EngineConfig, DEFAULT
from splade_spark.query.encode import encode_query_set
from splade_spark.query.kernel import score_term_lists
from splade_spark.query.topk import per_query_topk

_HIT_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("doc_id", LongType()),
        StructField("score", DoubleType()),
    ]
)


class _TermBlocks:
    """One term's blocks in one group (block order), decoded on demand
    unless the group hands over its full ``decoded`` (docs, impacts)."""

    def __init__(self, cols: dict, decoded: tuple | None = None):
        self.cols = cols
        self.bound = float(cols["max_impact"].max())
        self._all = decoded

    def decode(self, within: np.ndarray | None = None):
        c = self.cols
        if within is not None and self._all is None:
            # only blocks whose doc range holds a survivor
            lo = np.searchsorted(within, c["first_doc_id"], side="left")
            hi = np.searchsorted(within, c["last_doc_id"], side="right")
            sel = hi > lo
            return decode_blocks(c["docs_bin"][sel], c["impacts_bin"][sel], c["n_docs"][sel])
        if self._all is None:
            self._all = decode_blocks(c["docs_bin"], c["impacts_bin"], c["n_docs"])
        return self._all


def _score_group(cols: dict, s: int, e: int, queries: dict, k: int):
    """Rows [s, e) of one segment, sorted by (term_id, block_id) →
    (query_ids, doc_ids, scores) of each query's segment top-k.

    A term with a positive weight in some query is always decoded whole, so
    all such terms decode in one ``decode_blocks`` call; the others (only
    ever negative) stay lazy for the kernel's block-range skip.
    """
    group = {c: v[s:e] for c, v in cols.items()}
    bounds = group_bounds(group["term_id"])
    tids = group["term_id"][bounds[:-1]]
    positive = [t for w in queries.values() for t, x in w.items() if x > 0]
    eager = np.isin(tids, positive)
    rows = np.repeat(eager, np.diff(bounds))
    docs, impacts = decode_blocks(
        group["docs_bin"][rows], group["impacts_bin"][rows], group["n_docs"][rows]
    )
    cuts = np.cumsum(np.add.reduceat(group["n_docs"], bounds[:-1])[eager])[:-1]
    decoded = iter(zip(np.split(docs, cuts), np.split(impacts, cuts)))
    lists = {
        int(t): _TermBlocks({c: v[a:b] for c, v in group.items()},
                            next(decoded) if hot else None)
        for t, hot, a, b in zip(tids, eager, bounds[:-1], bounds[1:])
    }
    qids, docs, scores = [], [], []
    for qid, weights in queries.items():
        d, sc = score_term_lists(lists, weights, k)
        qids.append(np.full(d.size, qid, dtype=np.int64))
        docs.append(d)
        scores.append(sc)
    return np.concatenate(qids), np.concatenate(docs), np.concatenate(scores)


def topk_wand(
    queries: DataFrame,
    blocks: DataFrame,
    dictionary: DataFrame,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """queries(query_id, text) → (query_id, doc_id, score, rank) via blocks."""
    k = k if k is not None else cfg.top_k
    spark = blocks.sparkSession
    weights_by_query = encode_query_set(queries, dictionary, cfg)
    if not weights_by_query:
        return per_query_topk(spark.createDataFrame(to_arrow_schema(_HIT_SCHEMA).empty_table()), k)
    wanted = sorted({t for w in weights_by_query.values() for t in w})
    arranged = (
        blocks.filter(F.col("term_id").isin(wanted))  # seek
        .repartition(spark.sparkContext.defaultParallelism * 2, "segment_id")
        .sortWithinPartitions("segment_id", "term_id", "block_id")
    )

    def _stream(batches):
        for pdf, bounds in iter_sorted_groups(batches, ("segment_id",)):
            cols = {c: pdf[c].to_numpy() for c in pdf.columns}
            parts = [
                _score_group(cols, s, e, weights_by_query, k)
                for s, e in zip(bounds[:-1], bounds[1:])
            ]
            qids, docs, scores = (np.concatenate(p) for p in zip(*parts))
            yield pd.DataFrame({"query_id": qids, "doc_id": docs, "score": scores})

    return per_query_topk(arranged.mapInPandas(_stream, _HIT_SCHEMA), k)


# perfbench/run.py imports the two names below; they go when the benchmark
# itself next changes.
def topk_wand_batch(queries, blocks, dictionary, k=None, cfg=DEFAULT):
    return topk_wand(queries, blocks, dictionary, k, cfg)


def topk_wand_auto(queries, blocks, dictionary, k=None, cfg=DEFAULT, n_queries=None, n_segments=None):
    return topk_wand(queries, blocks, dictionary, k, cfg)
