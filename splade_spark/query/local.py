"""Driver-side interactive searcher — the low-latency analog of the
reference's REPL (/root/reference/main.py:166-186).

A Spark job costs ~0.5 s of scheduling/planning regardless of input size, so
per-query p95 latency of the distributed paths is floored there. The
reference answers single queries in-process against a loaded Milvus
collection (`collection.load()`, ingest.py:172); ``LocalSearcher`` is the
same trade expressed Spark-natively: the (compact, compressed) posting
blocks and dictionary are **collected once** from the segmented index into
driver memory, and each query is then scored in pure numpy by the same
kernel ``topk_wand`` runs per segment (``query/kernel.py score_term_lists``) — identical
formulas, identical tie-break, rank-identical to the cluster paths
(tests/test_local_search.py), at sub-10 ms per query. Each term's blocks
from every segment are decoded once at load into one list over dense
``docno``s (segments are hash partitions of the doc space, so their lists
interleave). ``doc_ids`` maps docno → doc_id and is ascending, so docno
order is doc_id order and the kernel's tie-break holds unchanged; the
searcher's ``DocSpace`` is the kernel's reused per-query accumulator.

Scale position: this is explicitly the SMALL-index / interactive tool — the
collected index must fit the driver (fine for per-tenant or per-shard
indexes; the sf0.1 bench index is ~100 MB). Batch and large-scale retrieval
stay on the distributed ``topk_naive`` / ``topk_wand`` paths.
"""

from __future__ import annotations

import numpy as np

from splade_spark.build.codec import decode_blocks
from splade_spark.build.segments import group_bounds
from splade_spark.config import EngineConfig, DEFAULT
from splade_spark.query.encode import encode_text
from splade_spark.query.kernel import DocSpace, TermList, score_term_lists


class LocalSearcher:
    """In-memory BM25 top-k over a collected segmented index."""

    def __init__(self, dictionary_rows, block_rows, cfg: EngineConfig = DEFAULT):
        self.cfg = cfg
        self.vocab = {r["term"]: (r["term_id"], r["idf"]) for r in dictionary_rows}
        # term_id -> TermList of docnos over all segments, docno-sorted once here
        rows = list(block_rows)
        n = np.array([r["n_docs"] for r in rows], dtype=np.int64)
        doc_ids, impacts = decode_blocks(
            [r["docs_bin"] for r in rows], [r["impacts_bin"] for r in rows], n
        )
        self.doc_ids, docs = np.unique(doc_ids, return_inverse=True)
        self.space = DocSpace(self.doc_ids.size)
        terms = np.repeat(np.array([r["term_id"] for r in rows], dtype=np.int64), n)
        order = np.lexsort((docs, terms))
        docs, impacts, terms = docs[order], impacts[order], terms[order]
        bounds = group_bounds(terms)
        self.postings: dict[int, TermList] = {
            int(terms[s]): TermList(docs[s:e], impacts[s:e])
            for s, e in zip(bounds[:-1], bounds[1:])
        }

    @classmethod
    def load(cls, spark, index_dir: str, cfg: EngineConfig = DEFAULT) -> "LocalSearcher":
        """Collect dictionary + blocks from a SegmentedIndex (one Spark job each)."""
        from splade_spark.build.segments import SegmentedIndex

        idx = SegmentedIndex(index_dir)
        return cls(
            [r.asDict() for r in idx.dictionary(spark).collect()],
            [r.asDict() for r in idx.blocks(spark).collect()],
            cfg,
        )

    @classmethod
    def from_frames(cls, frames, cfg: EngineConfig = DEFAULT) -> "LocalSearcher":
        """Collect from in-memory IndexFrames via the block packer."""
        from splade_spark.build.segments import pack_segment

        return cls(
            [r.asDict() for r in frames.dictionary.collect()],
            [r.asDict() for r in pack_segment(frames.postings, cfg).collect()],
            cfg,
        )

    def encode(self, text: str) -> dict[int, float]:
        """B9: analyze → qtf·idf per known term (OOV drops out)."""
        return encode_text(text, self.vocab, self.cfg.analyzer)

    def search(self, text: str, k: int | None = None) -> list[tuple[int, float]]:
        """→ [(doc_id, score)] top-k, ties (round(score,6) desc, doc_id asc)."""
        k = k if k is not None else self.cfg.top_k
        docs, scores = score_term_lists(self.postings, self.encode(text), k, self.space)
        return list(zip(self.doc_ids[docs].tolist(), scores.tolist()))

    def search_batch(self, queries: list[tuple[int, str]], k: int | None = None):
        """[(query_id, text)] → {query_id: [(doc_id, score)]}."""
        return {qid: self.search(text, k) for qid, text in queries}
