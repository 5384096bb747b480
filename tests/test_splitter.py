"""Splitter goldens (FIXTURES.md §2): chunk_size/overlap invariants + hand cases."""

from __future__ import annotations

import random

from splade_spark.text.splitter import _merge_splits, _merge_splits_ref, split_text


def test_empty_and_none():
    assert split_text("") == []
    assert split_text(None) == []


def test_short_doc_single_chunk():
    t = "hello world this is a short document"
    assert split_text(t) == [t]


def test_short_doc_stripped():
    assert split_text("  hello world  ") == ["hello world"]


def test_paragraph_split():
    p1 = "alpha " * 100  # 600 chars
    p2 = "beta " * 100  # 500 chars
    text = p1.strip() + "\n\n" + p2.strip()
    chunks = split_text(text, chunk_size=1000, chunk_overlap=100)
    assert all(len(c) <= 1000 for c in chunks)
    assert chunks[0].startswith("alpha")
    assert chunks[-1].endswith("beta")
    # reconstruction: every non-overlap token is retained in order
    joined = " ".join(chunks)
    assert "alpha" in joined and "beta" in joined


def test_word_boundary_split_and_overlap():
    words = [f"w{i:03d}" for i in range(400)]  # 400 words * 5 chars = ~2000 chars
    text = " ".join(words)
    chunks = split_text(text, chunk_size=1000, chunk_overlap=100)
    assert len(chunks) >= 2
    assert all(len(c) <= 1000 for c in chunks)
    # no word is lost or reordered
    seen = []
    for c in chunks:
        for w in c.split(" "):
            if not seen or w > seen[-1]:
                seen.append(w)
    assert seen == words
    # overlap: consecutive chunks share a suffix/prefix of words
    tail = chunks[0].split(" ")[-5:]
    assert any(w in chunks[1].split(" ")[:25] for w in tail)


def test_no_whitespace_hard_split():
    text = "x" * 2500
    chunks = split_text(text, chunk_size=1000, chunk_overlap=100)
    assert all(len(c) <= 1000 for c in chunks)
    assert sum(len(c) for c in chunks) >= 2500  # overlap duplicates allowed
    assert set("".join(chunks)) == {"x"}


def test_long_word_among_short():
    text = "short words " + "y" * 1500 + " more short words"
    chunks = split_text(text, chunk_size=1000, chunk_overlap=100)
    assert all(len(c) <= 1000 for c in chunks)
    assert any("short words" in c for c in chunks)
    assert any(set(c) == {"y"} for c in chunks)


def test_deterministic():
    text = ("para one with several words\n\n" * 30) + ("line two\n" * 50)
    assert split_text(text) == split_text(text)


def test_merge_splits_equals_reference():
    """The window-arithmetic merge equals the per-part reference on seeded
    random parts (non-empty, as ``_split_recursive`` passes them, with
    whitespace so the strip/drop-empty rules fire), separators, chunk sizes
    and overlaps up to the chunk size."""
    rng = random.Random(20240607)
    for _ in range(3000):
        chunk_size = rng.randint(1, 40)
        chunk_overlap = rng.randint(0, chunk_size)
        sep = rng.choice(["\n\n", "\n", " ", ""])
        parts = [
            "".join(rng.choice("ab \n") for _ in range(rng.randint(1, chunk_size + 3)))
            for _ in range(rng.randint(0, 30))
        ]
        args = (parts, sep, chunk_size, chunk_overlap)
        assert _merge_splits(*args) == _merge_splits_ref(*args), args


def test_fixture_docs_single_chunk(spark):
    """All driver fixture docs are <1000 chars → split is identity (strip)."""
    import duckdb

    rows = duckdb.sql(
        "select text from read_parquet('/root/testdata/sf0.001/documents.parquet') limit 100"
    ).fetchall()
    for (t,) in rows:
        assert split_text(t) == [t.strip()]
