"""The one numpy top-k kernel behind every in-Python scoring path.

``topk_wand``, ``topk_wand_batch`` and ``LocalSearcher.search`` all score a
query against a set of per-term posting lists with ``score_term_lists``, so
their rank identity (docIDs and scores) holds by construction.

The kernel is an **exact two-phase MaxScore scheme**. BM25 idf can be
NEGATIVE after the epsilon floor (rank-bm25 semantics, build/stats.py), so
query weights split into:

* **positive terms** (qw > 0) — the rare, high-idf, short lists. Scored
  exactly by term-at-a-time accumulation in ascending term_id:
  ``U(d) = Σ_{t∈P, t∋d} qw_t·impact(t,d)``. Since negative terms only lower
  scores, ``U(d)`` is an upper bound of the true score.
* **negative terms** (qw ≤ 0) — terms with df > N/2: the monster lists where
  skipping pays. A uniform pessimistic bound ``B = Σ_{t∈Ng} qw_t·max_impact``
  gives the threshold ``θ = kth(U) + B`` (a valid lower bound on the true
  k-th score, since ``true(d) ≥ U(d) + B`` per doc and order statistics are
  monotone). Only candidates with ``U(d) ≥ θ − 2ε`` survive, and each
  negative term is looked up at the survivors only (``decode(within=...)``
  — a block-backed list decodes just the blocks whose doc range holds a
  survivor).

Survivor scores are EXACT (every relevant increment applied in float64) —
required because rank-identity compares scores, not just docIDs. ε = 1e-6
matches the rank rounding (query/topk.py SCORE_DECIMALS) so boundary ties are
never pruned. Pruning needs θ > ε: docs with no positive term have true
score ≤ 0 and were never accumulated. Otherwise (e.g. fewer than k
positive-term candidates, or an all-negative query) the kernel falls back to
exact full accumulation over all terms: always correct, never fast-but-wrong.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from splade_spark.query.topk import SCORE_DECIMALS

_EPS = 1e-6


class TermList(NamedTuple):
    """One term's postings held in memory: doc_ids ascending, impacts aligned."""

    docs: np.ndarray
    impacts: np.ndarray

    @property
    def bound(self) -> float:
        return float(self.impacts.max())

    def decode(self, within: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray]:
        """(docs, impacts) — all of them; nothing to skip in memory."""
        return self.docs, self.impacts


def _sum_by_doc(parts: list[tuple[np.ndarray, np.ndarray]]):
    """Σ of (doc, score) parts per doc, summed left to right in part order."""
    docs = np.concatenate([p[0] for p in parts])
    uniq, inv = np.unique(docs, return_inverse=True)
    scores = np.bincount(
        inv, weights=np.concatenate([p[1] for p in parts]), minlength=uniq.size
    )
    return uniq, scores


def score_term_lists(lists, weights: dict, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k of ``Σ_t weights[t]·impact(t, d)`` → (doc_ids, scores).

    ``lists`` maps term_id to a term list: a ``TermList`` or any object with
    a ``bound`` (max impact) and ``decode(within=None)`` returning
    (docs ascending, impacts) that cover at least the ``within`` docs.
    Terms of ``weights`` absent from ``lists`` contribute nothing. The result
    is ordered by the frozen tie-break ``(round(score, 6) desc, doc_id asc)``.
    """
    terms = sorted(t for t in weights if t in lists)
    neg = [t for t in terms if weights[t] <= 0]
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))

    def scored(ts):
        parts = []
        for t in ts:
            d, w = lists[t].decode()
            parts.append((d, weights[t] * w))
        return parts

    docs, scores = _sum_by_doc([empty] + scored(t for t in terms if weights[t] > 0))
    if neg:
        theta = -np.inf
        if docs.size >= k:
            kth = np.partition(scores, docs.size - k)[docs.size - k]
            theta = kth + sum(weights[t] * lists[t].bound for t in neg)
        if theta > _EPS:
            keep = scores >= theta - 2 * _EPS  # 2ε: immune to round-to-6 ties
            docs, scores = docs[keep], scores[keep]
            for t in neg:
                d, w = lists[t].decode(within=docs)
                if d.size == 0:
                    continue
                idx = np.searchsorted(d, docs)
                idx[idx == d.size] = 0
                hit = d[idx] == docs
                scores[hit] += weights[t] * w[idx[hit]]
        else:
            docs, scores = _sum_by_doc([(docs, scores)] + scored(neg))
    order = np.lexsort((docs, -np.round(scores, SCORE_DECIMALS)))[:k]
    return docs[order], scores[order]
