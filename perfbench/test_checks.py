"""Tests of the benchmark's own output checks.

    python -m pytest perfbench -q

The first tests are pure Python; the last two start Spark through a
tiny-scale run of the benchmark (about two minutes together).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from checks import Ledger, check_index, check_paths, compare_topk  # noqa: E402

REF = {1: [(11, 2.5), (12, 1.25)], 2: [(21, 0.75)]}


def test_identical_topk_passes():
    ledger = Ledger()
    compare_topk(ledger, "p", {1: [(11, 2.5000000001), (12, 1.25)], 2: [(21, 0.75)]}, REF)
    assert (ledger.attempted, ledger.failed) == (2, 0)


def test_perturbed_score_fails_one_op():
    ledger = Ledger()
    compare_topk(ledger, "p", {1: [(11, 2.50001), (12, 1.25)], 2: [(21, 0.75)]}, REF)
    assert (ledger.attempted, ledger.failed) == (2, 1)


def test_swapped_doc_id_fails_one_op():
    ledger = Ledger()
    compare_topk(ledger, "p", {1: [(12, 2.5), (11, 1.25)], 2: [(21, 0.75)]}, REF)
    assert (ledger.attempted, ledger.failed) == (2, 1)


def test_empty_topk_fails_even_when_the_reference_agrees():
    ledger = Ledger()
    compare_topk(ledger, "p", {1: [], 2: REF[2]}, {1: [], 2: REF[2]})
    assert (ledger.attempted, ledger.failed) == (2, 1)


def test_path_returning_nothing_fails_every_sent_query():
    # the expected set comes from the query ids sent, not from the path's output
    ledger = Ledger()
    check_paths(ledger, {"empty": ([1, 2], {}), "ok": ([1, 2], REF)}, REF.__getitem__)
    assert (ledger.attempted, ledger.failed) == (4, 2)


def test_path_dropping_one_query_fails_it():
    ledger = Ledger()
    check_paths(ledger, {"p": ([1, 2], {2: REF[2]})}, REF.__getitem__)
    assert (ledger.attempted, ledger.failed) == (2, 1)


def _fake_index(root, segments, manifests, n_docs_per_block=3):
    for seg in segments:
        d = root / "blocks" / f"segment_id={seg}"
        d.mkdir(parents=True)
        pq.write_table(
            pa.table({
                "term_id": [0, 1],
                "block_id": [0, 0],
                "n_docs": [n_docs_per_block, n_docs_per_block],
                "docs_bin": [b"ab", b"c"],
                "impacts_bin": [b"xyz", b"w"],
            }),
            d / "part-0.parquet",
        )
    (root / "_manifest").mkdir()
    for seg, n_postings in manifests.items():
        rec = {"segment_id": seg, "status": "committed", "n_postings": n_postings, "bytes": 100}
        (root / "_manifest" / f"{seg}.json").write_text(json.dumps(rec))
    return str(root)


def test_consistent_index_passes(tmp_path):
    ledger = Ledger()
    counts = check_index(ledger, _fake_index(tmp_path, [0, 1], {0: 6, 1: 6}), "idx")
    assert (ledger.attempted, ledger.failed) == (2, 0)
    assert counts["n_postings"] == 12 and counts["docs_bytes"] == 6 and counts["impacts_bytes"] == 8


def test_missing_manifest_fails(tmp_path):
    ledger = Ledger()
    check_index(ledger, _fake_index(tmp_path, [0, 1], {0: 6}), "idx")
    assert ledger.failed == 2  # segment 1 has no manifest, so the counts disagree too


def test_posting_count_mismatch_fails(tmp_path):
    ledger = Ledger()
    check_index(ledger, _fake_index(tmp_path, [0, 1], {0: 6, 1: 5}), "idx")
    assert (ledger.attempted, ledger.failed) == (2, 1)


def _declared(kind: str) -> set[str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
def test_tiny_run_emits_every_declared_metric(trace, kind):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "frozen_long",
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        capture_output=True, text=True, timeout=400, cwd=os.path.dirname(HERE),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == _declared(kind)
