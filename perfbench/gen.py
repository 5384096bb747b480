"""Seeded workload inputs: web pages, ingest micro-batches and a query stream.

The pages come from the repo's own generator,
``splade_spark.sources.web_pages.web_pages_from_documents``, run over
``data/documents.parquet`` (a copy of the repo's sf0.1 documents fixture:
5 000 short texts over a 31-word vocabulary) with ``expand_text=EXPAND``, so
every page has ``EXPAND`` paragraphs and the vocabulary 31 × 8 = 248 terms.
The salted workload also passes ``vocab_hash_buckets``, which salts every
word with a per-(word, url) hash tail.

The seed is folded into each document's ``source`` before the generator
runs, so it sets the url namespace: chunk doc ids, segment assignment and the
hash tails all change with it. What is new here is what the seed adds beyond
that: the micro-batch slices and the query stream. The engine only ever sees
the generated tables.
"""

from __future__ import annotations

import os
import random
import re
from collections import Counter
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

EXPAND = 8  # paragraphs per page
SALT_BUCKETS = 64  # vocab_hash_buckets of the salted workload
INGEST_BATCHES = 2  # streamed micro-batches, one trigger each
BATCH_SIZE = 16  # queries per topk_wand_auto batch
PAGE_FILES = 8
_WORD = re.compile(r"[a-z0-9]+")
_DOCS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")

PAGE_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


@dataclass(frozen=True)
class Scale:
    """Input sizes of one workload (recorded in the README's size table)."""

    base_docs: int  # fixture rows (doc ids 0..base_docs-1) of the base corpus
    ingest_docs: int  # the next fixture rows, streamed in as micro-batches
    n_segments: int


@dataclass
class Inputs:
    pages_dir: str  # parquet dir of the base corpus
    n_pages: int
    slice_files: list[str]  # one parquet file per ingest micro-batch
    n_ingest_pages: int
    queries: list[tuple[int, str]]  # (query_id, text)


def make_inputs(spark, workdir: str, seed: int, scale: Scale, salted: bool, n_queries: int) -> Inputs:
    """Write the seed's pages and micro-batch slices under ``workdir``."""
    from pyspark.sql import functions as F

    from splade_spark.sources.web_pages import web_pages_from_documents

    docs = spark.read.parquet(_DOCS).withColumn(
        "source", F.concat(F.col("source"), F.lit(f"-s{seed}"))
    )

    def pages(lo: int, hi: int):
        return web_pages_from_documents(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            expand_text=EXPAND,
            vocab_hash_buckets=SALT_BUCKETS if salted else 0,
        )

    pages_dir = os.path.join(workdir, "pages")
    pages(0, scale.base_docs).repartition(PAGE_FILES, "url").write.parquet(pages_dir)
    held = pages(scale.base_docs, scale.base_docs + scale.ingest_docs).toPandas()

    rng = random.Random(seed)
    slice_of = [rng.randrange(INGEST_BATCHES) for _ in range(len(held))]
    in_dir = os.path.join(workdir, "ingest")
    os.makedirs(in_dir)
    slice_files = []
    for b in range(INGEST_BATCHES):
        rows = held[[s == b for s in slice_of]]
        path = os.path.join(in_dir, f"slice-{b}.parquet")
        table = pa.Table.from_pandas(rows, schema=PAGE_SCHEMA, preserve_index=False)
        pq.write_table(table, path, coerce_timestamps="us")
        # the file source orders files by modification time: one per trigger
        os.utime(path, ns=(b * 10**9, b * 10**9))
        slice_files.append(path)

    texts = pq.read_table(pages_dir, columns=["text"]).column("text").to_pylist()
    words = Counter(w for t in texts for w in _WORD.findall(t))
    return Inputs(
        pages_dir=pages_dir,
        n_pages=len(texts),
        slice_files=slice_files,
        n_ingest_pages=len(held),
        queries=query_stream(words, seed, n_queries),
    )


def query_stream(words: Counter, seed: int, n: int) -> list[tuple[int, str]]:
    """Seeded queries mixing head and tail terms.

    Head = the most frequent 5 % of surface words, tail = the rest; each term
    is drawn from either with equal odds. The width class is fixed by the
    query id, so every slice of ten queries has the same mix: query ids
    ending in 9 are paragraph-width (24-40 terms), the others have 1-4
    terms, and every twentieth query carries an out-of-vocabulary token.
    """
    ranked = [w for w, _ in sorted(words.items(), key=lambda kv: (-kv[1], kv[0]))]
    cut = max(1, len(ranked) // 20)
    head, tail = ranked[:cut], ranked[cut:] or ranked[:cut]
    rng = random.Random(seed * 7919 + 1)
    out = []
    for qid in range(n):
        width = rng.randint(24, 40) if qid % 10 == 9 else rng.randint(1, 4)
        terms = [rng.choice(head if rng.random() < 0.5 else tail) for _ in range(width)]
        if qid % 20 == 7:
            terms.append(f"zzoov{seed}x{qid}")
        out.append((qid, " ".join(terms)))
    return out
