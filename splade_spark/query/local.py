"""Driver-side interactive searcher — the low-latency analog of the
reference's REPL (/root/reference/main.py:166-186).

A Spark job costs ~0.5 s of scheduling/planning regardless of input size, so
per-query p95 latency of the distributed paths is floored there. The
reference answers single queries in-process against a loaded Milvus
collection (`collection.load()`, ingest.py:172); ``LocalSearcher`` is the
same trade expressed Spark-natively: the dictionary and the long-form
postings are **collected once** into driver memory, one ``toArrow()`` per
frame (no Row objects), and each query is then scored in pure numpy by the
same kernel ``topk_wand`` runs per segment (``query/kernel.py
score_term_lists``) — identical formulas, identical tie-break,
rank-identical to the cluster paths (tests/test_local_search.py), at
sub-10 ms per query. ``load`` reads a segmented index through
``unpack_blocks``, so its blocks are decoded in parallel in the Spark
stream. Each term's postings from every segment are sorted once at load
into one list over dense ``docno``s (segments are hash partitions of the
doc space, so their lists interleave). ``doc_ids`` maps docno → doc_id and
is ascending, so docno order is doc_id order and the kernel's tie-break
holds unchanged; the searcher's ``DocSpace`` is the kernel's reused
per-query accumulator.

Scale position: this is explicitly the SMALL-index / interactive tool — the
collected index must fit the driver (fine for per-tenant or per-shard
indexes; the sf0.1 bench index is ~100 MB). Batch and large-scale retrieval
stay on the distributed ``topk_naive`` / ``topk_wand`` paths.
"""

from __future__ import annotations

import numpy as np

from splade_spark.build.segments import SegmentedIndex, group_bounds, unpack_blocks
from splade_spark.config import EngineConfig, DEFAULT
from splade_spark.query.encode import encode_text
from splade_spark.query.kernel import DocSpace, TermList, score_term_lists


class LocalSearcher:
    """In-memory BM25 top-k over a collected index."""

    def __init__(self, dictionary, postings, cfg: EngineConfig = DEFAULT):
        """``dictionary(term, term_id, idf)`` and long-form
        ``postings(term_id, doc_id, impact)`` frames, one ``toArrow()`` each."""
        self.cfg = cfg
        d = dictionary.select("term", "term_id", "idf").toArrow()
        self.vocab = dict(zip(
            d["term"].to_pylist(), zip(d["term_id"].to_pylist(), d["idf"].to_pylist())
        ))
        # term_id -> TermList of docnos over all segments, docno-sorted once here
        p = postings.select("term_id", "doc_id", "impact").toArrow()
        terms, doc_ids, impacts = (p[c].to_numpy() for c in ("term_id", "doc_id", "impact"))
        self.doc_ids, docs = np.unique(doc_ids, return_inverse=True)
        self.space = DocSpace(self.doc_ids.size)
        order = np.lexsort((docs, terms))
        docs, impacts, terms = docs[order], impacts[order], terms[order]
        bounds = group_bounds(terms)
        self.postings: dict[int, TermList] = {
            int(terms[s]): TermList(docs[s:e], impacts[s:e])
            for s, e in zip(bounds[:-1], bounds[1:])
        }

    @classmethod
    def load(cls, spark, index_dir: str, cfg: EngineConfig = DEFAULT) -> "LocalSearcher":
        """Collect a SegmentedIndex: its blocks are decoded in the Spark
        stream (``unpack_blocks``), not on the driver."""
        idx = SegmentedIndex(index_dir)
        return cls(idx.dictionary(spark), unpack_blocks(idx.blocks(spark)), cfg)

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
