"""The top-k kernel over dense docnos (``DocSpace``) equals the sort path
over raw doc ids, bit for bit, and its reused buffers stay clean.

Each case runs the same seeded term lists twice through
``score_term_lists``: once over docnos with a ``DocSpace`` (as
``LocalSearcher`` does), once over raw ids from a monotone docno → id map
with negatives (as the WAND paths do). Both must give the same docs and
``np.array_equal`` scores, and both must equal a pure-Python reference
(left-to-right float sums, ``(round(score, 6) desc, doc_id asc)``).
"""

from __future__ import annotations

import sys
import threading

import numpy as np
import pytest

from splade_spark.query import kernel
from splade_spark.query.kernel import DocSpace, TermList, score_term_lists


def _ids(n: int, seed: int) -> np.ndarray:
    """A strictly increasing docno → raw id map spanning negative ids."""
    rng = np.random.default_rng(seed)
    return np.cumsum(rng.integers(1, 2**40, n)) - 2**40 * n // 2


def _lists(rng, n_docs: int, dfs: dict[int, int]) -> dict[int, TermList]:
    return {
        t: TermList(
            np.sort(rng.choice(n_docs, size=df, replace=False)),
            np.round(rng.gamma(2.0, 1.0, df), 3),
        )
        for t, df in dfs.items()
    }


def _reference(lists, weights, k, ids):
    acc: dict[int, float] = {}
    for t in sorted(t for t in weights if t in lists):
        for d, w in zip(lists[t].docs.tolist(), (weights[t] * lists[t].impacts).tolist()):
            acc[d] = acc.get(d, 0.0) + w
    ranked = sorted(acc.items(), key=lambda x: (-round(x[1], 6), ids[x[0]]))[:k]
    return [int(ids[d]) for d, _ in ranked], np.array([s for _, s in ranked])


def _both(lists, weights, k, ids, space=None):
    space = space or DocSpace(ids.size)
    docnos, dense = score_term_lists(lists, weights, k, space)
    raw = {t: TermList(ids[tl.docs], tl.impacts) for t, tl in lists.items()}
    docs, scores = score_term_lists(raw, weights, k)
    assert ids[docnos].tolist() == docs.tolist()
    assert np.array_equal(dense, scores)
    assert not space.acc.any()
    return docs.tolist(), scores


def _pruned(monkeypatch) -> list[int]:
    calls = []

    def _spy(self, within=None):
        if within is not None:
            calls.append(within.size)
        return self.docs, self.impacts

    monkeypatch.setattr(TermList, "decode", _spy)
    return calls


@pytest.mark.parametrize("n_docs", [kernel._CUT_MIN - 1, kernel._CUT_MIN, 5000])
@pytest.mark.parametrize("k", [1, 5, 100])
def test_dense_equals_sort_both_sides_of_cut(n_docs, k):
    rng = np.random.default_rng(n_docs * 7 + k)
    ids = _ids(n_docs, n_docs)
    lists = _lists(rng, n_docs, {t: int(rng.integers(1, n_docs)) for t in range(8)})
    # the term that covers every doc fixes the candidate count
    lists[8] = TermList(np.arange(n_docs), np.round(rng.gamma(2.0, 1.0, n_docs), 3))
    weights = {t: float(rng.uniform(0.1, 3.0)) for t in range(9)}
    docs, scores = _both(lists, weights, k, ids)
    want_docs, want_scores = _reference(lists, weights, k, ids)
    assert docs == want_docs and np.array_equal(scores, want_scores)


@pytest.mark.parametrize("n_docs", [60, 3000])
def test_ties_beyond_k_at_kth_score(n_docs):
    """Far more than k docs share the k-th rounded score; some differ below
    1e-6, so the cut must keep every tie and order them by doc id."""
    rng = np.random.default_rng(n_docs)
    ids = _ids(n_docs, 1)
    flat = np.ones(n_docs)
    flat[rng.choice(n_docs, size=n_docs // 3, replace=False)] += 1e-8
    flat[:2] = 2.0
    lists = {3: TermList(np.arange(n_docs), flat)}
    docs, _ = _both(lists, {3: 1.5}, 5, ids)
    assert docs == _reference(lists, {3: 1.5}, 5, ids)[0]
    assert docs[2:] == ids[2:5].tolist()


@pytest.mark.parametrize("k", [7, 50])
def test_k_at_least_candidates(k):
    rng = np.random.default_rng(k)
    ids = _ids(40, 2)
    lists = _lists(rng, 40, {1: 3, 2: 4})
    docs, _ = _both(lists, {1: 1.0, 2: 2.0}, k, ids)
    assert len(docs) == len(set(lists[1].docs) | set(lists[2].docs))


def test_fully_oov_query():
    ids = _ids(10, 3)
    lists = _lists(np.random.default_rng(0), 10, {1: 5})
    docs, scores = _both(lists, {7: 1.0, 9: 2.0}, 5, ids)
    assert docs == [] and scores.size == 0
    docs, _ = _both(lists, {}, 5, ids)
    assert docs == []


@pytest.mark.parametrize("n_docs", [80, 4000])
def test_prune_branch(monkeypatch, n_docs):
    """qw ≤ 0 terms with θ > ε: negative terms are looked up at survivors."""
    rng = np.random.default_rng(n_docs + 1)
    ids = _ids(n_docs, 4)
    lists = _lists(rng, n_docs, {1: n_docs // 4, 2: n_docs // 3, 5: n_docs - 1, 6: n_docs // 2})
    weights = {1: 2.5, 2: 1.5, 5: -0.05, 6: -0.01}
    calls = _pruned(monkeypatch)
    docs, scores = _both(lists, weights, 5, ids)
    assert calls, "the prune branch did not run"
    want_docs, want_scores = _reference(lists, weights, 5, ids)
    assert docs == want_docs and np.array_equal(scores, want_scores)


@pytest.mark.parametrize("weights", [
    {5: -0.5, 6: -0.2},  # all-negative query: θ = -inf
    {7: 2.0, 5: -0.5},  # fewer than k positive candidates: θ = -inf
    {1: 0.01, 5: -0.5},  # weak positive scores: θ ≤ ε
])
def test_fallback_full_accumulation(monkeypatch, weights):
    rng = np.random.default_rng(9)
    ids = _ids(600, 5)
    lists = _lists(rng, 600, {1: 50, 5: 599, 6: 300, 7: 3})
    calls = _pruned(monkeypatch)
    docs, scores = _both(lists, weights, 5, ids)
    assert not calls, "expected the fallback, not the prune branch"
    want_docs, want_scores = _reference(lists, weights, 5, ids)
    assert docs == want_docs and np.array_equal(scores, want_scores)


class _AddThenRaise:
    """numpy, except that ``add.at`` raises after it has written."""

    def __getattr__(self, name):
        return getattr(np, name)

    class add:
        @staticmethod
        def at(a, idx, vals):
            np.add.at(a, idx, vals)
            raise RuntimeError("interrupted mid-query")


def test_buffers_clean_after_a_query_that_raised(monkeypatch):
    ids = _ids(50, 6)
    lists = _lists(np.random.default_rng(1), 50, {1: 20, 2: 30})
    space = DocSpace(50)
    want = score_term_lists(lists, {1: 1.0, 2: 1.0}, 5, space)
    with monkeypatch.context() as m:
        m.setattr(kernel, "np", _AddThenRaise())
        with pytest.raises(RuntimeError):
            score_term_lists(lists, {1: 1.0, 2: 1.0}, 5, space)
    assert not space.acc.any()
    got = score_term_lists(lists, {1: 1.0, 2: 1.0}, 5, space)
    assert np.array_equal(got[0], want[0]) and np.array_equal(got[1], want[1])
    _both(lists, {1: 1.0, 2: 1.0}, 5, ids, space)


def test_threads_share_one_space():
    """8 threads searching one DocSpace get the single-threaded results."""
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads between numpy calls
    try:
        rng = np.random.default_rng(11)
        n = 3000
        lists = _lists(rng, n, {t: int(rng.integers(50, n)) for t in range(20)})
        queries = [
            {int(t): float(rng.uniform(0.1, 3.0)) for t in rng.choice(20, size=4, replace=False)}
            for _ in range(64)
        ]
        space = DocSpace(n)
        want = [score_term_lists(lists, q, 5, space) for q in queries]
        got: dict[int, list] = {}

        def _run(i):
            got[i] = [score_term_lists(lists, q, 5, space) for q in queries for _ in range(3)]

        threads = [threading.Thread(target=_run, args=(i,)) for i in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
            assert not th.is_alive()
        assert len(got) == len(threads)
        for res in got.values():
            for j, (d, s) in enumerate(res):
                w = want[j // 3]
                assert np.array_equal(d, w[0]) and np.array_equal(s, w[1])
        assert not space.acc.any()
    finally:
        sys.setswitchinterval(interval)
