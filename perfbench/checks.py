"""Output checks. Every check is one attempted operation; a wrong result is a
failed one, so ``Ledger.failed / Ledger.attempted`` is the op failure ratio.

The checks read committed index files with pyarrow, never through Spark, so
they add no jobs to the measured run.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys

import pyarrow.compute as pc
import pyarrow.dataset as ds

SCORE_DECIMALS = 6

Hits = list  # [(doc_id, score)] in rank order


class Ledger:
    """Counts attempted and failed operations; logs each failure to stderr."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
            print(f"[perfbench] FAILED: {what}", file=sys.stderr, flush=True)
        return ok


def rank_key(hits: Hits) -> list[tuple[int, float]]:
    """The rank-identity key: (doc_id, score rounded to 6 decimals) in order."""
    return [(int(d), round(float(s), SCORE_DECIMALS)) for d, s in hits]


def compare_topk(ledger: Ledger, path: str, got: dict[int, Hits], want: dict[int, Hits]) -> None:
    """One operation per query of ``want``: ``got`` must rank it identically.

    ``want`` holds every query that was sent, so a query the path dropped
    fails. Every generated query has an in-vocabulary term, so an empty
    top-k fails too, even when both sides agree on it.
    """
    for qid, ref in want.items():
        hits = got.get(qid, [])
        ledger.record(
            bool(hits) and rank_key(hits) == rank_key(ref),
            f"{path} top-k of query {qid} "
            + ("is empty" if not hits else "differs from the reference"),
        )


def check_paths(ledger: Ledger, results: dict[str, tuple[list[int], dict[int, Hits]]], reference) -> None:
    """``results``: path → (query ids sent to it, its top-k per query id).

    Each sent query is compared with ``reference(query_id)``, so the
    expected set comes from what was sent, never from what came back.
    """
    for path, (sent, got) in results.items():
        compare_topk(ledger, path, got, {q: reference(q) for q in sent})


def hits_by_query(rows) -> dict[int, Hits]:
    """(query_id, doc_id, score, rank) rows → {query_id: hits in rank order}."""
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(int(r["query_id"]), []).append((r["doc_id"], r["score"]))
    return out


def manifests(index_dir: str) -> dict[int, dict]:
    out = {}
    for path in glob.glob(os.path.join(index_dir, "_manifest", "*.json")):
        with open(path) as f:
            rec = json.load(f)
        out[int(rec["segment_id"])] = rec
    return out


def _blocks(index_dir: str):
    return ds.dataset(os.path.join(index_dir, "blocks"), format="parquet", partitioning="hive")


def check_index(ledger: Ledger, index_dir: str, what: str) -> dict[str, float]:
    """One committed manifest per segment, Σ manifest n_postings = Σ block n_docs.

    Returns the index's size counts (postings, committed bytes, blob bytes).
    """
    mans = manifests(index_dir)
    seg_dirs = {
        int(os.path.basename(p).split("=", 1)[1])
        for p in glob.glob(os.path.join(index_dir, "blocks", "segment_id=*"))
    }
    ledger.record(
        set(mans) == seg_dirs and all(m.get("status") == "committed" for m in mans.values()),
        f"{what}: manifests {sorted(mans)} do not match segments {sorted(seg_dirs)}",
    )
    table = _blocks(index_dir).to_table(columns=["n_docs", "docs_bin", "impacts_bin"])
    n_block_postings = pc.sum(table["n_docs"]).as_py() or 0
    n_postings = sum(int(m["n_postings"]) for m in mans.values())
    ledger.record(
        n_postings == n_block_postings,
        f"{what}: manifests count {n_postings} postings, blocks hold {n_block_postings}",
    )
    return {
        "n_postings": n_postings,
        "chunk_docs": sum(int(m.get("n_docs", 0)) for m in mans.values()),
        "bytes": sum(int(m["bytes"]) for m in mans.values()),
        "docs_bytes": pc.sum(pc.binary_length(table["docs_bin"])).as_py() or 0,
        "impacts_bytes": pc.sum(pc.binary_length(table["impacts_bin"])).as_py() or 0,
        "segments": len(mans),
    }


def blocks_digest(index_dir: str) -> str:
    """sha256 over the committed block rows in (segment, term, block) order."""
    table = _blocks(index_dir).to_table().sort_by(
        [("segment_id", "ascending"), ("term_id", "ascending"), ("block_id", "ascending")]
    )
    h = hashlib.sha256()
    for name in sorted(table.column_names):
        h.update(name.encode())
        for v in table.column(name).to_pylist():
            h.update(v if isinstance(v, bytes) else repr(v).encode())
    return h.hexdigest()
