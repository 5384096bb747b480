"""Driver contract for the spark-graft builder (PySpark target).

Engine entries run splade_spark in ``NOSTEM`` analyzer mode (tokenize +
stopword filter — exactly SQL-expressible; the sandboxed DuckDB cannot load a
stemmer extension) over ``documents.parquet`` with each row as one retrieval
unit (every fixture doc is < chunk_size, so chunking is identity — the full
extract→chunk pipeline and the Porter2 path are covered by pytest goldens and
rows-only entries instead).

Float outputs are shipped as ``*_e6`` BIGINT columns (round(x*1e6)) so the
driver's order-insensitive value-hash is immune to float formatting noise.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F

_FRAMES_CACHE: dict = {}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _frames(spark: SparkSession, sf_dir: str):
    """Build (and cache) the nostem index over documents.parquet."""
    key = (id(spark), sf_dir)
    if key not in _FRAMES_CACHE:
        from splade_spark.build.indexer import build_index_from_docs
        from splade_spark.config import NOSTEM

        frames = build_index_from_docs(_docs(spark, sf_dir).select("doc_id", "text"), NOSTEM)
        frames.dictionary.cache().count()
        frames.postings.cache().count()
        _FRAMES_CACHE[key] = frames
    return _FRAMES_CACHE[key]


def _e6(col: str):
    return F.round(F.col(col) * 1e6).cast("long").alias(f"{col}_e6")


# ---------------------------------------------------------------------------
# entry: flagship — full pipeline (web_pages → extract → chunk → index → top-k)
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: BM25 top-5 for the frozen
    query set over the full web_pages pipeline (stemmed analyzer)."""
    from splade_spark.build.indexer import build_index_frames
    from splade_spark.config import DEFAULT
    from splade_spark.fixtures import queries_df
    from splade_spark.query.naive import topk_naive
    from splade_spark.sources.web_pages import read_documents, web_pages_from_documents

    pages = web_pages_from_documents(read_documents(spark, "/root/testdata/sf0.001"))
    frames = build_index_frames(pages, DEFAULT, use_html=True)
    out = topk_naive(queries_df(spark), frames.postings, frames.dictionary, k=5, cfg=DEFAULT)
    return out.select(
        F.col("query_id").cast("long"),
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        _e6("score"),
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# queries(): engine results at (spark, sf_dir)
# ---------------------------------------------------------------------------

def _q_corpus_stats(spark, sf_dir):
    frames = _frames(spark, sf_dir)
    return frames.corpus_stats.select(F.col("n_docs").cast("long"), _e6("avgdl"))


def _q_dictionary(spark, sf_dir):
    frames = _frames(spark, sf_dir)
    return frames.dictionary.select(
        "term", F.col("term_id").cast("long"), F.col("df").cast("long"), _e6("idf")
    )


def _q_term_freqs(spark, sf_dir):
    from splade_spark.build.postings import term_freqs

    frames = _frames(spark, sf_dir)
    return term_freqs(frames.docs).select(
        "doc_id", "term", F.col("tf").cast("long"), F.col("doclen").cast("long")
    )


def _q_doc_impacts(spark, sf_dir):
    frames = _frames(spark, sf_dir)
    return frames.postings.join(
        frames.dictionary.select("term", "term_id"), "term_id"
    ).select("doc_id", "term", _e6("impact"))


def _q_query_encode(spark, sf_dir):
    from splade_spark.config import NOSTEM
    from splade_spark.fixtures import queries_df
    from splade_spark.query.encode import encode_queries

    frames = _frames(spark, sf_dir)
    enc = encode_queries(queries_df(spark), frames.dictionary, NOSTEM)
    return enc.select(F.col("query_id").cast("long"), F.col("term_id").cast("long"), _e6("qweight"))


def _topk(spark, sf_dir, k):
    from splade_spark.config import NOSTEM
    from splade_spark.fixtures import queries_df
    from splade_spark.query.naive import topk_naive

    frames = _frames(spark, sf_dir)
    out = topk_naive(queries_df(spark), frames.postings, frames.dictionary, k=k, cfg=NOSTEM)
    return out.select(
        F.col("query_id").cast("long"), "doc_id", F.col("rank").cast("long").alias("rank"), _e6("score")
    )


def _q_bm25_topk_k5(spark, sf_dir):
    return _topk(spark, sf_dir, 5)


def _q_bm25_session_topk_k5(spark, sf_dir):
    """InteractiveSession path (driver-encoded query, literal-injected
    weights, per-query TakeOrdered jobs) — must match the naive BM25 oracle
    rank-for-rank and score-for-score."""
    from splade_spark.config import NOSTEM
    from splade_spark.fixtures import FROZEN_QUERIES
    from splade_spark.query.session import InteractiveSession

    import math

    # repo rounding convention = Spark F.round / DuckDB round: HALF AWAY
    # FROM ZERO. Python's round() is banker's (half-to-even) — an exact .5
    # at 1e-6 scale would flake the hash gate (ADVICE r4).
    def _e6_py(x: float) -> int:
        return int(math.floor(abs(x) * 1e6 + 0.5)) * (1 if x >= 0 else -1)

    frames = _frames(spark, sf_dir)
    rows = []
    with InteractiveSession(frames.postings, frames.dictionary, NOSTEM) as sess:
        for qid, text in FROZEN_QUERIES:
            for doc_id, score, rank in sess.search(text, k=5):
                rows.append((qid, doc_id, rank, _e6_py(score)))
    return spark.createDataFrame(
        rows, "query_id long, doc_id long, rank long, score_e6 long"
    )


def _q_bm25_topk_k3(spark, sf_dir):
    return _topk(spark, sf_dir, 3)


def _q_streaming_canonicalize(spark, sf_dir):
    """Structured-Streaming exact-dedup canonical labeling
    (streaming/dedup.py stream_canonicalize, applyInPandasWithState).

    Staged as ONE deterministic micro-batch (single coalesced file, constant
    event time), where first-seen == min(doc_id) — exactly the batch
    exact-dedup oracle's canonical rule, so the streaming stateful operator
    pins to the same DuckDB SQL as `exact_dedup`.
    """
    import datetime as _dt
    import tempfile as _tf

    from splade_spark.streaming import stream_canonicalize

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    d = _tf.mkdtemp(prefix="splade_stream_canon_")
    src = os.path.join(d, "src")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .parquet(src)
        .withColumn("warc_ts", F.lit(_dt.datetime(2026, 1, 1)).cast("timestamp"))
    )
    sink = f"canon_sink_{abs(hash((id(spark), sf_dir))) % 10**9}"
    q = (
        stream_canonicalize(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(d, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:  # belt-and-braces: never leave a stream thread behind
        q.stop()
        q.awaitTermination(30)
    return spark.sql(
        f"select doc_id, text_md5, canonical_id from {sink}"
    )


def _q_fingerprint_overlap(spark, sf_dir):
    from splade_spark.curation import fingerprint_overlap_pairs

    out = fingerprint_overlap_pairs(_docs(spark, sf_dir), min_shared=16)
    return out.select(
        "doc_a", "doc_b", F.col("shared").cast("long").alias("shared"), _e6("jaccard")
    )


def _q_decontamination(spark, sf_dir):
    """Benchmark decontamination (curation/fingerprint.py
    decontamination_pairs): training docs sharing ≥16 winnowing fingerprints
    with the eval subset (doc_id % 10 == 0), scored by the fraction of the
    EVAL item's fingerprints found in the training doc."""
    from splade_spark.curation import decontamination_pairs

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    evals = docs.filter(F.col("doc_id") % 10 == 0)
    out = decontamination_pairs(docs, evals, min_shared=16)
    return out.select(
        "doc_id", "eval_id", F.col("shared").cast("long").alias("shared"),
        _e6("contamination"),
    )


def _blocks(spark, sf_dir):
    """Packed posting blocks for the NOSTEM index (cached)."""
    key = ("blocks", id(spark), sf_dir)
    if key not in _FRAMES_CACHE:
        from splade_spark.build.segments import pack_segment
        from splade_spark.config import NOSTEM

        frames = _frames(spark, sf_dir)
        _FRAMES_CACHE[key] = pack_segment(frames.postings, NOSTEM).cache()
        _FRAMES_CACHE[key].count()
    return _FRAMES_CACHE[key]


def _q_wand_topk_k5(spark, sf_dir):
    """Block-max WAND over compressed blocks — must equal the naive/BM25 SQL
    oracle exactly (rank identity across physical paths)."""
    from splade_spark.config import NOSTEM
    from splade_spark.fixtures import queries_df
    from splade_spark.query.wand import topk_wand

    frames = _frames(spark, sf_dir)
    out = topk_wand(queries_df(spark), _blocks(spark, sf_dir), frames.dictionary, k=5, cfg=NOSTEM)
    return out.select(
        F.col("query_id").cast("long"), "doc_id", F.col("rank").cast("long").alias("rank"), _e6("score")
    )


def _q_exact_dedup(spark, sf_dir):
    from splade_spark.curation import exact_dups

    return exact_dups(_docs(spark, sf_dir)).select("doc_id", "text_md5", "canonical_id")


def _q_token_stats(spark, sf_dir):
    from splade_spark.curation import token_stats

    return token_stats(_docs(spark, sf_dir)).select(
        "doc_id", "n_chars", "ws_tokens", "word_tokens", "bpe_tokens",
        "distinct_words", _e6("mean_word_len"), "digit_chars", "punct_chars",
    )


def _q_quality(spark, sf_dir):
    from splade_spark.curation import quality_scores

    return quality_scores(_docs(spark, sf_dir)).select(
        "doc_id", _e6("stop_ratio"), _e6("distinct_ratio"), _e6("punct_ratio"),
        _e6("digit_ratio"), _e6("quality"),
    )


def _q_langid(spark, sf_dir):
    from splade_spark.curation import langid_heuristic

    return langid_heuristic(_docs(spark, sf_dir)).select("doc_id", "lang_pred", "lang_hits")


def _q_quality_filter(spark, sf_dir):
    """Composed Gopher keep/drop decision (curation/textstats.py
    quality_filter): six named rule flags + the conjunction."""
    from splade_spark.curation import quality_filter

    out = quality_filter(_docs(spark, sf_dir))
    flags = ["words_ok", "word_len_ok", "stop_ok", "symbol_ok",
             "line_rep_ok", "bigram_rep_ok", "keep"]
    return out.select(
        "doc_id", *[F.col(f).cast("long").alias(f) for f in flags]
    )


def _q_kmv_vocab(spark, sf_dir):
    """KMV bottom-k cardinality sketch (curation/sketches.py): corpus
    distinct-token estimate from the 256 smallest distinct portable token
    hashes — deterministic, so the ESTIMATE itself is oracle-replayable."""
    from splade_spark.curation import kmv_distinct_tokens

    return kmv_distinct_tokens(_docs(spark, sf_dir), k=256).select(
        "n_kmin", "kth_hash", _e6("est_distinct")
    )


def _q_kmv_vocab_by_source(spark, sf_dir):
    """Per-source KMV vocabulary estimates in one pass (WindowGroupLimit
    per-key bottom-k) — the template-farm monitor."""
    from splade_spark.curation import kmv_distinct_tokens_by_key

    return kmv_distinct_tokens_by_key(_docs(spark, sf_dir), k=64).select(
        "key", "n_kmin", "kth_hash", _e6("est_distinct")
    )


def _q_repetition_stats(spark, sf_dir):
    """Gopher repetition rules (curation/textstats.py repetition_stats):
    duplicate-line fractions + top word-2-gram share, zero-shuffle per-doc
    map (sorted-gram max-run fold, no explode→groupBy)."""
    from splade_spark.curation import repetition_stats

    out = repetition_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "n_lines", _e6("dup_line_frac"), _e6("dup_line_char_frac"),
        "top_bigram", "top_bigram_count", _e6("top_bigram_frac"),
    )


def _q_simhash(spark, sf_dir):
    from splade_spark.curation import simhash64

    return simhash64(_frames(spark, sf_dir).docs).select("doc_id", "simhash")


def _q_ngram_jaccard(spark, sf_dir):
    from splade_spark.curation import ngram_jaccard_pairs, shingle_tokens

    sh = shingle_tokens(_frames(spark, sf_dir).docs, 3)
    return ngram_jaccard_pairs(sh, threshold=0.2, max_shingle_df=None).select(
        "doc_a", "doc_b", F.col("inter").cast("long"), F.col("na").cast("long"),
        F.col("nb").cast("long"), _e6("jaccard"),
    )


def _q_minhash_sigs(spark, sf_dir):
    from splade_spark.curation import minhash_signatures, shingle_tokens

    sh = shingle_tokens(_frames(spark, sf_dir).docs, 3)
    return minhash_signatures(sh, n_hashes=16).select(
        "doc_id", F.col("i").cast("long"), F.col("sig").cast("long")
    )


def _q_hash_docvecs(spark, sf_dir):
    from splade_spark.dense import hash_embed_docs

    return hash_embed_docs(_frames(spark, sf_dir).docs).select(
        "doc_id", F.col("bucket").cast("long"), _e6("val")
    )


def _dense_ranked(spark, sf_dir, k=5):
    from splade_spark.config import NOSTEM
    from splade_spark.dense import cosine_topk_sparse, hash_embed_docs, hash_embed_queries
    from splade_spark.fixtures import queries_df

    dvecs = hash_embed_docs(_frames(spark, sf_dir).docs)
    qvecs = hash_embed_queries(queries_df(spark), NOSTEM)
    return cosine_topk_sparse(dvecs, qvecs, k=k)


def _q_dense_cosine_topk(spark, sf_dir):
    return _dense_ranked(spark, sf_dir).select(
        F.col("query_id").cast("long"), "doc_id", F.col("rank").cast("long").alias("rank"), _e6("score")
    )


def _q_rrf_hybrid(spark, sf_dir):
    from splade_spark.config import NOSTEM
    from splade_spark.fixtures import queries_df
    from splade_spark.query.fusion import rrf_fuse
    from splade_spark.query.naive import topk_naive

    frames = _frames(spark, sf_dir)
    sparse = topk_naive(queries_df(spark), frames.postings, frames.dictionary, k=5, cfg=NOSTEM)
    dense = _dense_ranked(spark, sf_dir)
    fused = rrf_fuse(
        [sparse.select("query_id", "doc_id", "rank"), dense.select("query_id", "doc_id", "rank")],
        k_rrf=60,
        top_k=5,
    )
    return fused.select(
        F.col("query_id").cast("long"),
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        F.round(F.col("rrf_score") * 1e9).cast("long").alias("rrf_e9"),
    )


def _q_ann_brute_topk(spark, sf_dir):
    from splade_spark.dense import brute_cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return brute_cosine_topk(emb, qs, k=10).select(
        F.col("query_id").cast("long"), "vec_id", F.col("rank").cast("long").alias("rank"), _e6("score")
    )


def _q_embedding_near_dups(spark, sf_dir):
    from splade_spark.dense import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_near_dup_pairs(emb, threshold=0.4).select(
        "vec_a", "vec_b", _e6("score")
    )


def _q_embedding_dup_clusters(spark, sf_dir):
    """Channel-agnostic dedup composition: the SAME connected-components
    engine that clusters MinHash text near-dups (curation/dedup.py
    near_dup_clusters) over the EMBEDDING near-dup graph — semantic
    dedup ("these vectors say the same thing") with one canonical survivor
    per cosine-connected component."""
    from splade_spark.curation import near_dup_clusters
    from splade_spark.dense import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = embedding_near_dup_pairs(emb, threshold=0.4).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    out = near_dup_clusters(emb.select(F.col("vec_id").alias("doc_id")), pairs)
    return out.select(
        F.col("doc_id").alias("vec_id"), F.col("cluster_id").cast("long").alias("cluster_id")
    )


def _q_splade_topk(spark, sf_dir):
    from splade_spark.build.expansion import expansion_table, topk_splade
    from splade_spark.build.postings import term_freqs
    from splade_spark.config import NOSTEM
    from splade_spark.fixtures import queries_df

    frames = _frames(spark, sf_dir)
    exp = expansion_table(term_freqs(frames.docs), frames.corpus_stats, m=2, alpha=0.3)
    out = topk_splade(queries_df(spark), frames, exp, k=5, cfg=NOSTEM)
    return out.select(
        F.col("query_id").cast("long"), "doc_id", F.col("rank").cast("long").alias("rank"), _e6("score")
    )


def _q_minhash_near_dups(spark, sf_dir):
    from splade_spark.curation import minhash_near_dup_pairs

    return minhash_near_dup_pairs(_frames(spark, sf_dir).docs, threshold=0.2).select(
        "doc_a", "doc_b", _e6("jaccard")
    )


def _q_fingerprints(spark, sf_dir):
    from splade_spark.curation import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir)).select(
        "doc_id", F.explode("fingerprints").alias("fp")
    )


def _q_lsh_ann_topk(spark, sf_dir):
    from splade_spark.dense import lsh_cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    # dim=64 is the fixture embedding width (TESTDATA.md) — passed explicitly
    # so plan construction triggers no driver-side job (VERDICT.md Wrong #4)
    return lsh_cosine_topk(emb, qs, k=10, dim=64).select(
        F.col("query_id").cast("long"), "vec_id", F.col("rank").cast("long").alias("rank"), _e6("score")
    )


def _q_near_dup_clusters(spark, sf_dir):
    from splade_spark.curation import minhash_near_dup_pairs, near_dup_clusters

    frames = _frames(spark, sf_dir)
    pairs = minhash_near_dup_pairs(frames.docs, threshold=0.2)
    return near_dup_clusters(frames.docs, pairs).select(
        "doc_id", F.col("cluster_id").cast("long")
    )


def _q_ivf_ann_topk(spark, sf_dir):
    from splade_spark.dense import ivf_cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ivf_cosine_topk(emb, qs, k=10, n_cells=16, n_probe=4, dim=64).select(
        F.col("query_id").cast("long"), "vec_id", F.col("rank").cast("long").alias("rank"), _e6("score")
    )


def _q_ivf_refined_topk(spark, sf_dir):
    """IVF over ONE Lloyd-refined centroid set (dense/ann.py
    ivf_refine_centroids): the iterative k-means step is replayable because
    each refinement accumulates integer sums (order-independent) and the new
    coordinate is one IEEE division of exact integers — DuckDB reproduces
    the identical centroids, assignments, and top-k."""
    from splade_spark.dense import ivf_cosine_topk, ivf_refine_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_refine_centroids(emb, dim=64, n_cells=16, iters=1)
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ivf_cosine_topk(
        emb, qs, k=10, n_cells=16, n_probe=4, dim=64, centroids=cents
    ).select(
        F.col("query_id").cast("long"), "vec_id", F.col("rank").cast("long").alias("rank"), _e6("score")
    )


def _q_event_window_counts(spark, sf_dir):
    """streaming/windows.py windowed_event_counts in batch mode — the SAME
    declarative plan Structured Streaming runs with a watermark (the
    watermark only activates on a streaming frame), so the batch oracle is
    an exact replay; late-data/finalization semantics are pinned by
    tests/test_streaming_dedup.py."""
    from splade_spark.streaming import windowed_event_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = windowed_event_counts(ev, "1 hour", "1 hour")
    return out.select(
        "window_start", "event_type", "n", _e6("value_sum")
    )


def _q_event_sessions(spark, sf_dir):
    """streaming/windows.py sessionize_events in batch mode — Spark's native
    F.session_window vs the classic gaps-and-islands SQL (lag → break flag →
    running count → group), at full microsecond precision."""
    from splade_spark.streaming import sessionize_events

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = sessionize_events(ev, gap="5 minutes")
    return out.select(
        "user_id", "session_start", "session_end", "n", _e6("value_sum")
    )


def _q_source_cap_sample(spark, sf_dir):
    from splade_spark.curation import capped_per_key_sample

    out = capped_per_key_sample(
        _docs(spark, sf_dir).select("doc_id", "source"), "source", cap=5
    )
    return out.select("doc_id", "source", F.col("pick").cast("long").alias("pick"))


def _q_token_budget_sample(spark, sf_dir):
    from splade_spark.curation import token_budget_sample

    return token_budget_sample(
        _docs(spark, sf_dir).select("doc_id", "text"), budget_tokens=20000
    ).select("doc_id", "n_tokens", "cum_tokens")


# training-mix weights for the mixture_sample entry — quotas are fixed
# driver-side (int(w/Σw · total)) and inlined as literals in BOTH the Spark
# plan and the oracle CASE, so no float arithmetic crosses the boundary
_MIX_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
_MIX_TOTAL = 40


def _q_mixture_sample(spark, sf_dir):
    """Training-mix sampler: per-source quotas ⌊w_k·total⌋ filled with each
    source's portable-hash-ordered prefix (curation/sampling.py
    mixture_sample) — one WindowGroupLimit plan, quota literals."""
    from splade_spark.curation import mixture_sample

    out = mixture_sample(
        _docs(spark, sf_dir).select("doc_id", "source"),
        _MIX_WEIGHTS,
        _MIX_TOTAL,
    )
    return out.select("doc_id", "source", F.col("pick").cast("long").alias("pick"))


def _q_uniform_sample(spark, sf_dir):
    """Deterministic exact-n uniform sample: global top-100 by portable
    hash, TakeOrderedAndProject plan (per-partition heaps, no global sort)."""
    from splade_spark.curation import uniform_sample

    return uniform_sample(_docs(spark, sf_dir).select("doc_id", "source"), 100)


def _q_dataset_split(spark, sf_dir):
    """Deterministic train/val/test assignment (curation/sampling.py
    split_assign, default 98/1/1): split = pure function of the id hash
    against driver-computed integer boundaries."""
    from splade_spark.curation import split_assign

    return split_assign(_docs(spark, sf_dir).select("doc_id", "source")).select(
        "doc_id", "source", "split"
    )


def _q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing (curation/sampling.py
    pack_token_sequences): the corpus token stream in portable-hash order
    cut into 512-token training sequences, docs spanning boundaries — all
    integer math over the structural distributed prefix scan."""
    from splade_spark.curation import pack_token_sequences

    out = pack_token_sequences(_docs(spark, sf_dir).select("doc_id", "text"), 512)
    return out.select(
        "doc_id",
        "n_tokens",
        F.col("seq_id").cast("long").alias("seq_id"),
        F.col("seq_offset").cast("long").alias("seq_offset"),
        F.col("doc_offset").cast("long").alias("doc_offset"),
        F.col("n_in_seq").cast("long").alias("n_in_seq"),
    )


def _q_filtered_scan(spark, sf_dir):
    # P1: the reference's corpus rebuild scan — predicate + projection
    # (collection.query(expr="pk != ''", output_fields=["text"]), main.py:46-53)
    return (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id").isNotNull() & (F.col("n_chars") > 100))
        .select("doc_id", "text")
    )


def _q_catalog_count(spark, sf_dir):
    # A5: num_entities (check_milvus.py:25)
    return _docs(spark, sf_dir).agg(F.count(F.lit(1)).cast("long").alias("n"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "corpus_stats": _q_corpus_stats,
        "dictionary": _q_dictionary,
        "term_freqs": _q_term_freqs,
        "doc_impacts": _q_doc_impacts,
        "query_encode": _q_query_encode,
        "bm25_topk_k5": _q_bm25_topk_k5,
        "bm25_topk_k3": _q_bm25_topk_k3,
        "bm25_session_topk_k5": _q_bm25_session_topk_k5,
        "bm25_wand_topk_k5": _q_wand_topk_k5,
        "filtered_scan": _q_filtered_scan,
        "catalog_count": _q_catalog_count,
        "exact_dedup": _q_exact_dedup,
        "streaming_canonicalize": _q_streaming_canonicalize,
        "event_window_counts": _q_event_window_counts,
        "event_sessions": _q_event_sessions,
        "source_cap_sample": _q_source_cap_sample,
        "token_budget_sample": _q_token_budget_sample,
        "mixture_sample": _q_mixture_sample,
        "uniform_sample": _q_uniform_sample,
        "dataset_split": _q_dataset_split,
        "pack_sequences": _q_pack_sequences,
        "token_stats": _q_token_stats,
        "quality_scores": _q_quality,
        "langid": _q_langid,
        "repetition_stats": _q_repetition_stats,
        "quality_filter": _q_quality_filter,
        "kmv_vocab": _q_kmv_vocab,
        "kmv_vocab_by_source": _q_kmv_vocab_by_source,
        "simhash": _q_simhash,
        "ngram_jaccard": _q_ngram_jaccard,
        "minhash_sigs": _q_minhash_sigs,
        "hash_docvecs": _q_hash_docvecs,
        "dense_cosine_topk": _q_dense_cosine_topk,
        "rrf_hybrid_k5": _q_rrf_hybrid,
        "ann_brute_topk": _q_ann_brute_topk,
        "splade_topk_k5": _q_splade_topk,
        "embedding_near_dups": _q_embedding_near_dups,
        "embedding_dup_clusters": _q_embedding_dup_clusters,
        "minhash_near_dups": _q_minhash_near_dups,
        "fingerprints": _q_fingerprints,
        "fingerprint_overlap": _q_fingerprint_overlap,
        "decontamination": _q_decontamination,
        "lsh_ann_topk": _q_lsh_ann_topk,
        "ivf_ann_topk": _q_ivf_ann_topk,
        "ivf_refined_topk": _q_ivf_refined_topk,
        "near_dup_clusters": _q_near_dup_clusters,
    }


# ---------------------------------------------------------------------------
# oracle_sql(): DuckDB equivalents over the same parquet views
# ---------------------------------------------------------------------------

def _stoplist_sql() -> str:
    from splade_spark.text.stopwords_en import STOPWORDS_EN

    # tokens match [a-z0-9]+ so apostrophe-bearing stopwords are unreachable
    return ", ".join(f"'{w}'" for w in sorted(STOPWORDS_EN) if "'" not in w)


def _queries_values_sql() -> str:
    from splade_spark.fixtures import FROZEN_QUERIES

    rows = ", ".join(
        "({0}, '{1}')".format(q, t.replace("'", "''")) for q, t in FROZEN_QUERIES
    )
    return f"(VALUES {rows})"


def _base_ctes() -> str:
    """Shared CTE pipeline: tokenize → doclen/stats → tf → dictionary → impacts."""
    stop = _stoplist_sql()
    return f"""
toks_raw AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
),
toks AS (
  SELECT doc_id, term FROM toks_raw WHERE term NOT IN ({stop})
),
doclen AS (
  SELECT d.doc_id, (SELECT count(*) FROM toks t WHERE t.doc_id = d.doc_id) AS doclen
  FROM documents d
),
stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(doclen) AS avgdl FROM doclen
),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term
),
dft AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
),
idf0 AS (
  SELECT term, df, ln((s.n_docs - df + 0.5) / (df + 0.5)) AS raw_idf FROM dft, stats s
),
idfa AS (
  SELECT avg(raw_idf) AS avg_raw FROM idf0
),
dict AS (
  SELECT term, df,
         CASE WHEN raw_idf < 0 THEN 0.25 * a.avg_raw ELSE raw_idf END AS idf,
         (row_number() OVER (ORDER BY df DESC, term ASC) - 1)::BIGINT AS term_id
  FROM idf0, idfa a
),
impacts AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * 2.5 / (tf.tf + 1.5 * (0.25 + 0.75 * dl.doclen / s.avgdl)) AS impact
  FROM tf JOIN doclen dl USING (doc_id), stats s
)"""


def _query_ctes() -> str:
    stop = _stoplist_sql()
    return f""",
queries AS (
  SELECT * FROM {_queries_values_sql()} AS q(query_id, text)
),
qtoks AS (
  SELECT query_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM queries
),
qtf AS (
  SELECT query_id, term, count(*) AS qtf FROM qtoks
  WHERE term NOT IN ({stop}) GROUP BY query_id, term
),
qenc AS (
  SELECT query_id, d.term, d.term_id, qtf * d.idf AS qweight
  FROM qtf JOIN dict d USING (term)
),
scores AS (
  SELECT query_id, i.doc_id, sum(qweight * impact) AS score
  FROM qenc q JOIN impacts i USING (term)
  GROUP BY query_id, i.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY round(score, 6) DESC, doc_id ASC) AS rank
  FROM scores
)"""


def _topk_sql(k: int) -> str:
    return f"""WITH {_base_ctes()}{_query_ctes()}
SELECT query_id::BIGINT AS query_id, doc_id, rank::BIGINT AS rank,
       CAST(round(score * 1e6) AS BIGINT) AS score_e6
FROM ranked WHERE rank <= {k}"""


def _words_expr(col: str = "text") -> str:
    return f"regexp_extract_all(lower({col}), '[a-z0-9]+')"


def _stoplist_list_sql() -> str:
    from splade_spark.text.stopwords_en import STOPWORDS_EN

    return "[" + ", ".join(f"'{w}'" for w in sorted(STOPWORDS_EN) if "'" not in w) + "]"


def _shingle_ctes() -> str:
    """Ordered NOSTEM tokens → distinct 3-gram shingles per doc (engine
    semantics: docs with <3 tokens contribute their whole token string)."""
    stop = _stoplist_sql()
    return f""",
tok_ord AS (
  SELECT doc_id, term, pos FROM (
    SELECT doc_id, unnest({_words_expr()}) AS term,
           generate_subscripts({_words_expr()}, 1) AS pos
    FROM documents) raw
  WHERE term NOT IN ({stop})
),
ftok AS (
  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS fpos
  FROM tok_ord
),
ftok_n AS (SELECT doc_id, count(*) AS n FROM ftok GROUP BY doc_id),
sh_long AS (
  SELECT f.doc_id,
         term || ' ' || lead(term, 1) OVER w || ' ' || lead(term, 2) OVER w AS shingle
  FROM ftok f JOIN ftok_n USING (doc_id)
  WHERE n >= 3
  WINDOW w AS (PARTITION BY f.doc_id ORDER BY fpos)
  QUALIFY lead(term, 2) OVER w IS NOT NULL
),
sh_short AS (
  SELECT f.doc_id, string_agg(term, ' ' ORDER BY fpos) AS shingle
  FROM ftok f JOIN ftok_n USING (doc_id) WHERE n < 3 GROUP BY f.doc_id
),
shingles AS (
  SELECT DISTINCT doc_id, shingle
  FROM (SELECT * FROM sh_long UNION ALL SELECT * FROM sh_short) u
)"""


def _minhash_seeds_sql(n_hashes: int = 16) -> str:
    import numpy as np

    rng = np.random.default_rng(42)
    a = rng.integers(1, 2147483647, size=n_hashes, dtype=np.int64) | 1
    b = rng.integers(0, 2147483647, size=n_hashes, dtype=np.int64)
    rows = ", ".join(f"({i}, {int(a[i])}, {int(b[i])})" for i in range(n_hashes))
    return f"(VALUES {rows}) AS seeds(i, a, b)"


def _hash_vec_ctes() -> str:
    """Feature-hash doc vectors + query vectors (md5-prefix hash, dim 256)."""
    return """,
docvec AS (
  SELECT doc_id, bucket, sum(signed) AS val FROM (
    SELECT doc_id,
           ('0x'||substr(md5(term||'#1'),1,8))::UBIGINT::BIGINT % 256 AS bucket,
           ((('0x'||substr(md5(term||'#2'),1,8))::UBIGINT::BIGINT % 2) * 2 - 1)::DOUBLE
             * tf AS signed
    FROM tf) s
  GROUP BY doc_id, bucket HAVING sum(signed) != 0
),
qvec AS (
  SELECT query_id, bucket, sum(signed) AS qval FROM (
    SELECT query_id,
           ('0x'||substr(md5(term||'#1'),1,8))::UBIGINT::BIGINT % 256 AS bucket,
           ((('0x'||substr(md5(term||'#2'),1,8))::UBIGINT::BIGINT % 2) * 2 - 1)::DOUBLE
             * qtf AS signed
    FROM qtf) s
  GROUP BY query_id, bucket HAVING sum(signed) != 0
),
dnorm AS (SELECT doc_id, sqrt(sum(val*val)) AS dn FROM docvec GROUP BY doc_id),
qnorm AS (SELECT query_id, sqrt(sum(qval*qval)) AS qn FROM qvec GROUP BY query_id),
dcos AS (
  SELECT d.query_id, d.doc_id, d.dot / (dn.dn * qn.qn) AS score
  FROM (SELECT query_id, doc_id, sum(val*qval) AS dot
        FROM docvec JOIN qvec USING (bucket) GROUP BY query_id, doc_id) d
  JOIN dnorm dn USING (doc_id) JOIN qnorm qn USING (query_id)
),
dense_ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 6) DESC, doc_id ASC) AS rank
  FROM dcos
)"""


def _minhash_near_dups_sql(threshold: float = 0.2, n_hashes: int = 64, n_bands: int = 16) -> str:
    """LSH-banded MinHash near-dup pairs, exact-Jaccard verified — the SQL
    replay of curation/dedup.py minhash_near_dup_pairs (engine defaults).

    Band equality: the engine compares md5 of the lexicographically-sorted
    "i:sig" list, the oracle compares the i-ordered string_agg — both are
    canonical forms of the same (i, sig) set, so the equi-joins agree.
    """
    rpb = n_hashes // n_bands
    return f"""WITH {_base_ctes()}{_shingle_ctes()},
mh AS (
  SELECT doc_id,
         ('0x'||substr(md5(shingle||'#101'),1,8))::UBIGINT::BIGINT % 2147483647 AS h
  FROM shingles
),
sigs AS (
  SELECT doc_id, i::BIGINT AS i, min((a * h + b) % 2147483647)::BIGINT AS sig
  FROM mh CROSS JOIN {_minhash_seeds_sql(n_hashes)}
  GROUP BY doc_id, i
),
bands AS (
  SELECT doc_id, (i // {rpb})::INT AS band,
         string_agg(i || ':' || sig, ',' ORDER BY i) AS bsig
  FROM sigs GROUP BY doc_id, (i // {rpb})::INT
),
band_ok AS (
  SELECT band, bsig FROM bands GROUP BY band, bsig HAVING count(*) <= 4096
),
bands_c AS (
  SELECT bands.* FROM bands JOIN band_ok USING (band, bsig)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands_c a JOIN bands_c b ON a.band = b.band AND a.bsig = b.bsig
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
verified AS (
  SELECT c.doc_a, c.doc_b,
         i.inter / (sa.n_shingles + sb.n_shingles - i.inter)::DOUBLE AS jaccard
  FROM cand c
  JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, CAST(round(jaccard * 1e6) AS BIGINT) AS jaccard_e6
FROM verified WHERE jaccard >= {threshold}"""


def _near_dup_clusters_sql(threshold: float = 0.2, n_hashes: int = 64, n_bands: int = 16) -> str:
    """Connected components over the MinHash near-dup pairs: every doc labeled
    with the min doc_id reachable through the near-dup graph (the engine's
    converged min-label propagation fixpoint), via a recursive CTE."""
    rpb = n_hashes // n_bands
    return f"""WITH RECURSIVE {_base_ctes()}{_shingle_ctes()},
mh AS (
  SELECT doc_id,
         ('0x'||substr(md5(shingle||'#101'),1,8))::UBIGINT::BIGINT % 2147483647 AS h
  FROM shingles
),
sigs AS (
  SELECT doc_id, i::BIGINT AS i, min((a * h + b) % 2147483647)::BIGINT AS sig
  FROM mh CROSS JOIN {_minhash_seeds_sql(n_hashes)}
  GROUP BY doc_id, i
),
bands AS (
  SELECT doc_id, (i // {rpb})::INT AS band,
         string_agg(i || ':' || sig, ',' ORDER BY i) AS bsig
  FROM sigs GROUP BY doc_id, (i // {rpb})::INT
),
band_ok AS (
  SELECT band, bsig FROM bands GROUP BY band, bsig HAVING count(*) <= 4096
),
bands_c AS (
  SELECT bands.* FROM bands JOIN band_ok USING (band, bsig)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands_c a JOIN bands_c b ON a.band = b.band AND a.bsig = b.bsig
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
verified AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
  WHERE i.inter / (sa.n_shingles + sb.n_shingles - i.inter)::DOUBLE >= {threshold}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM verified
  UNION
  SELECT doc_b AS a, doc_a AS b FROM verified
),
reach AS (
  SELECT doc_id AS doc, doc_id AS label FROM documents
  UNION
  SELECT e.b AS doc, r.label FROM reach r JOIN edges e ON e.a = r.doc
)
SELECT doc AS doc_id, min(label)::BIGINT AS cluster_id FROM reach GROUP BY doc"""


def _fingerprints_sql(
    k: int = 8, w: int = 4, tail: str = "SELECT doc_id, fp FROM fps"
) -> str:
    """Winnowing fingerprints (curation/fingerprint.py) replayed in SQL:
    Karp-Rabin k-gram hashes over utf-8 bytes (via hex expansion, HUGEINT
    modular arithmetic, modulus 2^61-1), then min per full window of w
    consecutive hashes; docs with ≤ w hashes contribute their single min.
    ``tail`` replaces the final SELECT so derived entries (overlap pairs)
    reuse the same CTE chain.
    """
    mod = (1 << 61) - 1
    pows = [257 ** (k - 1 - j) for j in range(k)]  # weight of offset j
    pow_case = " ".join(f"WHEN {j} THEN {p}::HUGEINT" for j, p in enumerate(pows))
    return f"""WITH hx AS (
  SELECT doc_id,
         hex(encode(text)) || repeat('00', greatest({k} - octet_length(encode(text)), 0)) AS h,
         greatest(octet_length(encode(text)), {k}) AS n
  FROM documents
),
bytes AS (
  SELECT doc_id, n, i, ('0x' || substr(h, i * 2 + 1, 2))::INT AS byte
  FROM (SELECT doc_id, h, n, unnest(range(n)) AS i FROM hx) u
),
kh AS (
  SELECT p.doc_id, p.p, p.n,
         CAST(sum(b.byte::HUGEINT * (CASE b.i - p.p {pow_case} END)) % {mod} AS BIGINT) AS hash
  FROM (SELECT doc_id, n, unnest(range(n - {k - 1})) AS p FROM hx) p
  JOIN bytes b ON b.doc_id = p.doc_id AND b.i BETWEEN p.p AND p.p + {k - 1}
  GROUP BY p.doc_id, p.p, p.n
),
wm AS (
  SELECT doc_id, p, n,
         min(hash) OVER (PARTITION BY doc_id ORDER BY p
                         ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS wmin
  FROM kh
),
fps AS (
  SELECT DISTINCT doc_id, wmin AS fp
  FROM wm WHERE n - {k - 1} > {w} AND p <= n - {k - 1 + w}
  UNION
  SELECT doc_id, min(hash) AS fp
  FROM kh WHERE n - {k - 1} <= {w} GROUP BY doc_id
)
{tail}"""


def _fingerprint_overlap_sql(
    min_shared: int = 16, max_fp_df: int = 1000, k: int = 8, w: int = 4
) -> str:
    """curation/fingerprint.py fingerprint_overlap_pairs replayed in SQL:
    df-cap the fps universe, self-join on fp, count shared per pair,
    jaccard over capped per-doc fingerprint counts."""
    tail = f""", fp_ok AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {max_fp_df}
),
fpo AS (SELECT fps.* FROM fps JOIN fp_ok USING (fp)),
sizes AS (SELECT doc_id, count(*) AS n_fp FROM fpo GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM fpo a JOIN fpo b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {min_shared}
)
SELECT doc_a, doc_b, shared,
       CAST(round(shared / (sa.n_fp + sb.n_fp - shared) * 1e6) AS BIGINT)
         AS jaccard_e6
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b"""
    return _fingerprints_sql(k, w, tail=tail)


def _dataset_split_sql() -> str:
    """curation/sampling.py split_assign (default 98/1/1) replayed in SQL:
    the boundary integers come from the SAME helper the engine uses
    (split_bounds), so no float arithmetic crosses the boundary."""
    from splade_spark.curation.sampling import SEED_SPLIT, split_bounds

    names, bounds = split_bounds({"train": 0.98, "val": 0.01, "test": 0.01})
    h = f"('0x' || substr(md5(doc_id::VARCHAR || '#{SEED_SPLIT}'), 1, 8))::BIGINT"
    whens = " ".join(
        f"WHEN {h} < {b} THEN '{n}'" for n, b in zip(names[:-1], bounds)
    )
    return f"""
SELECT doc_id, source,
       CASE {whens} ELSE '{names[-1]}' END AS split
FROM documents"""


def _decontamination_sql(
    min_shared: int = 16, max_fp_df: int = 1000, k: int = 8, w: int = 4
) -> str:
    """curation/fingerprint.py decontamination_pairs replayed in SQL:
    distinct (doc, fp) sets, corpus-side df cap, cross-join against the
    eval subset (doc_id % 10 = 0), contamination = shared / |eval fps|."""
    tail = f""", fpd AS (SELECT DISTINCT doc_id, fp FROM fps),
fp_ok AS (SELECT fp FROM fpd GROUP BY fp HAVING count(*) <= {max_fp_df}),
c AS (SELECT fpd.* FROM fpd JOIN fp_ok USING (fp)),
e AS (SELECT doc_id AS eval_id, fp FROM fpd WHERE doc_id % 10 = 0),
sizes AS (SELECT eval_id, count(*) AS n_fp FROM e GROUP BY eval_id),
pairs AS (
  SELECT c.doc_id, e.eval_id, count(*) AS shared
  FROM c JOIN e USING (fp)
  GROUP BY 1, 2 HAVING count(*) >= {min_shared}
)
SELECT doc_id, eval_id, shared::BIGINT AS shared,
  CAST(round(round(shared / n_fp, 9) * 1e6) AS BIGINT) AS contamination_e6
FROM pairs JOIN sizes USING (eval_id)"""
    return _fingerprints_sql(k, w, tail=tail)


def _lsh_planes_values_sql(dim: int, n_planes: int = 8, n_tables: int = 4) -> str:
    """The deterministic hyperplane matrices (dense/ann.py _planes_lit) as an
    inline VALUES relation (tbl, p, plane DOUBLE[]) — full-precision reprs so
    the SQL replay bit-matches the engine's literal planes."""
    import numpy as np

    rows = []
    for t in range(n_tables):
        rng = np.random.default_rng(42 + t)
        planes = rng.standard_normal((n_planes, dim))
        for p in range(n_planes):
            vals = ", ".join(repr(float(v)) for v in planes[p])
            rows.append(f"({t}, {p}, [{vals}]::DOUBLE[])")
    return "(VALUES " + ", ".join(rows) + ") AS planes(tbl, p, plane)"


def _lsh_ann_sql(dim: int = 64, k: int = 10, n_planes: int = 8, n_tables: int = 4) -> str:
    """Random-hyperplane LSH cosine top-k (dense/ann.py lsh_cosine_topk):
    per-table 8-bit signatures (bit p weighted 2^(n_planes-1-p)), 1-bit
    multi-probe on the query side, exact cosine on candidates only."""
    return f"""WITH pl AS (SELECT * FROM {_lsh_planes_values_sql(dim, n_planes, n_tables)}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
esig AS (
  SELECT e.vec_id, pl.tbl,
         sum(CASE WHEN list_dot_product(pl.plane, e.v) >= 0
                  THEN cast(pow(2, {n_planes - 1} - pl.p) AS BIGINT) ELSE 0 END) AS sig
  FROM e CROSS JOIN pl GROUP BY e.vec_id, pl.tbl
),
qsig0 AS (
  SELECT q.query_id, pl.tbl,
         sum(CASE WHEN list_dot_product(pl.plane, q.qv) >= 0
                  THEN cast(pow(2, {n_planes - 1} - pl.p) AS BIGINT) ELSE 0 END) AS sig0
  FROM q CROSS JOIN pl GROUP BY q.query_id, pl.tbl
),
qsig AS (
  SELECT DISTINCT query_id, tbl, sig FROM (
    SELECT query_id, tbl, sig0 AS sig FROM qsig0
    UNION ALL
    SELECT query_id, tbl, xor(sig0, cast(pow(2, b) AS BIGINT)) AS sig
    FROM qsig0 CROSS JOIN (SELECT unnest(range({n_planes})) AS b) bits
  ) u
),
cand AS (
  SELECT DISTINCT qs.query_id, es.vec_id
  FROM esig es JOIN qsig qs ON es.tbl = qs.tbl AND es.sig = qs.sig
  WHERE es.vec_id != qs.query_id
),
scored AS (
  SELECT c.query_id, c.vec_id,
         list_dot_product(e.v, q.qv)
           / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS score
  FROM cand c JOIN e ON e.vec_id = c.vec_id JOIN q ON q.query_id = c.query_id
),
r AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 6) DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id::BIGINT AS query_id, vec_id, rank::BIGINT AS rank,
       CAST(round(score * 1e6) AS BIGINT) AS score_e6
FROM r WHERE rank <= {k}"""


def _ivf_centroids_values_sql(dim: int, n_cells: int = 16) -> str:
    """Deterministic IVF centroids (dense/ann.py _centroids_lit) inlined as a
    VALUES relation (cell, c DOUBLE[]) at full float precision."""
    import numpy as np

    rng = np.random.default_rng(42 + 1000)
    cents = rng.standard_normal((n_cells, dim))
    rows = ", ".join(
        f"({i}, [{', '.join(repr(float(v)) for v in cents[i])}]::DOUBLE[])"
        for i in range(n_cells)
    )
    return f"(VALUES {rows}) AS cents(cell, c)"


def _ivf_ann_sql(
    dim: int = 64, k: int = 10, n_cells: int = 16, n_probe: int = 4,
    refine_iters: int = 0, scale: int = 1 << 20,
) -> str:
    """IVF ANN replay (dense/ann.py ivf_cosine_topk): nearest-centroid
    assignment (argmax dot over normalized vectors, lowest cell on ties),
    n_probe closest cells per query, exact cosine inside probed cells.

    ``refine_iters=1`` replays ONE Lloyd step (dense/ann.py
    ivf_refine_centroids) exactly: integer vote sums per (cell, dim) —
    order-independent, so Spark's partial aggregation and this single-node
    SQL agree bit-for-bit — then one double division per coordinate; empty
    cells keep their seed centroid. Exactness holds while |sum| < 2^53
    (double conversion lossless), documented engine-side.
    """
    if refine_iters == 0:
        cents_def = "cents AS (SELECT cell, c FROM cents0)"
    else:
        assert refine_iters == 1, "SQL replay ships the 1-step refinement"
        cents_def = f"""a0 AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_dot_product(c.c, e.v)
               / greatest(sqrt(list_dot_product(e.v, e.v)), 1e-300) DESC,
             c.cell ASC) AS rn
    FROM e CROSS JOIN cents0 c) u WHERE rn = 1
),
dims AS (
  SELECT a0.cell, ud.d, sum(CAST(round(ud.val * {scale}) AS BIGINT)) AS s,
         count(*) AS n
  FROM a0 JOIN (
    SELECT vec_id, unnest(range({dim})) AS d, unnest(v) AS val FROM e
  ) ud USING (vec_id)
  GROUP BY 1, 2
),
cnew AS (
  SELECT cell, list(s / (n * {scale}) ORDER BY d) AS c FROM dims GROUP BY cell
),
cents AS (
  SELECT c0.cell, coalesce(cnew.c, c0.c) AS c
  FROM cents0 c0 LEFT JOIN cnew USING (cell)
)"""
    return f"""WITH cents0 AS (SELECT * FROM {_ivf_centroids_values_sql(dim, n_cells)}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
{cents_def},
eassign AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
  FROM (
    SELECT e.vec_id, c.cell,
           list_dot_product(c.c, e.v)
             / greatest(sqrt(list_dot_product(e.v, e.v)), 1e-300) AS s
    FROM e CROSS JOIN cents c) u
),
ecell AS (SELECT vec_id, cell FROM eassign WHERE rn = 1),
qassign AS (
  SELECT query_id, cell,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, cell ASC) AS rn
  FROM (
    SELECT q.query_id, c.cell,
           list_dot_product(c.c, q.qv)
             / greatest(sqrt(list_dot_product(q.qv, q.qv)), 1e-300) AS s
    FROM q CROSS JOIN cents c) u
),
qprobe AS (SELECT query_id, cell FROM qassign WHERE rn <= {n_probe}),
cand AS (
  SELECT qp.query_id, ec.vec_id
  FROM ecell ec JOIN qprobe qp ON ec.cell = qp.cell
  WHERE ec.vec_id != qp.query_id
),
scored AS (
  SELECT c.query_id, c.vec_id,
         list_dot_product(e.v, q.qv)
           / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS score
  FROM cand c JOIN e ON e.vec_id = c.vec_id JOIN q ON q.query_id = c.query_id
),
r AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 6) DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id::BIGINT AS query_id, vec_id, rank::BIGINT AS rank,
       CAST(round(score * 1e6) AS BIGINT) AS score_e6
FROM r WHERE rank <= {k}"""


def _langid_sql() -> str:
    from splade_spark.curation.textstats import LANG_PROFILES

    hits = {
        lang: f"len(list_filter({_words_expr()}, w -> list_contains("
        + "[" + ", ".join(f"'{w}'" for w in profile) + "], w)))"
        for lang, profile in sorted(LANG_PROFILES.items())
    }
    cols = ", ".join(f"{h} AS h_{lang}" for lang, h in hits.items())
    langs = sorted(hits)
    best = "greatest(" + ", ".join(f"h_{l}" for l in langs) + ")"
    n_best = " + ".join(f"(h_{l} = best)::INT" for l in langs)
    # engine tie semantics: unique argmax with hits>0, else 'und'
    pick = "CASE " + " ".join(
        f"WHEN h_{l} = best THEN '{l}'" for l in reversed(langs)
    ) + " END"
    return f"""WITH w AS (SELECT doc_id, {cols} FROM documents),
b AS (SELECT doc_id, h_de, h_en, h_es, h_fr, {best} AS best FROM w)
SELECT doc_id,
       CASE WHEN best > 0 AND ({n_best}) = 1 THEN {pick} ELSE 'und' END AS lang_pred,
       best::BIGINT AS lang_hits
FROM b"""


def oracle_sql() -> dict[str, str]:
    base = _base_ctes()
    return {
        "corpus_stats": f"""WITH {base}
SELECT n_docs, CAST(round(avgdl * 1e6) AS BIGINT) AS avgdl_e6 FROM stats""",
        "dictionary": f"""WITH {base}
SELECT term, term_id, df, CAST(round(idf * 1e6) AS BIGINT) AS idf_e6 FROM dict""",
        "term_freqs": f"""WITH {base}
SELECT tf.doc_id, tf.term, tf.tf, dl.doclen::BIGINT AS doclen
FROM tf JOIN doclen dl USING (doc_id)""",
        "doc_impacts": f"""WITH {base}
SELECT doc_id, term, CAST(round(impact * 1e6) AS BIGINT) AS impact_e6 FROM impacts""",
        "query_encode": f"""WITH {base}{_query_ctes()}
SELECT query_id::BIGINT AS query_id, term_id,
       CAST(round(qweight * 1e6) AS BIGINT) AS qweight_e6 FROM qenc""",
        "bm25_topk_k5": _topk_sql(5),
        "bm25_topk_k3": _topk_sql(3),
        "bm25_session_topk_k5": _topk_sql(5),
        "filtered_scan": (
            "SELECT doc_id, text FROM documents WHERE doc_id IS NOT NULL AND n_chars > 100"
        ),
        "catalog_count": "SELECT count(*)::BIGINT AS n FROM documents",
        # WAND must agree with the same BM25 oracle as the naive path
        "bm25_wand_topk_k5": _topk_sql(5),
        "exact_dedup": """
SELECT doc_id, md5(text) AS text_md5,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
FROM documents""",
        "event_window_counts": """
SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_start,
       event_type, count(*)::BIGINT AS n,
       CAST(round(sum(value) * 1e6) AS BIGINT) AS value_sum_e6
FROM events GROUP BY 1, 2""",
        # session windows: gaps-and-islands at MICROSECOND precision (the
        # fixture carries sub-second ts); session_end = last event + gap,
        # both floored to seconds exactly like timestampdiff(SECOND)
        "event_sessions": """
WITH e AS (
  SELECT user_id, value, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
),
s AS (
  -- STRICT inequality: Spark's session_window merges an event landing
  -- exactly at the previous session's end (adjacency merges)
  SELECT *, CASE WHEN prev IS NULL OR us - prev > 300000000 THEN 1 ELSE 0 END AS brk
  FROM e
),
g AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
)
SELECT user_id, (min(us) // 1000000)::BIGINT AS session_start,
       ((max(us) + 300000000) // 1000000)::BIGINT AS session_end,
       count(*)::BIGINT AS n,
       CAST(round(sum(value) * 1e6) AS BIGINT) AS value_sum_e6
FROM g GROUP BY user_id, sid""",
        # sampling family (curation/sampling.py): portable-hash order
        # ('0x'||substr(md5(id||'#7331'),1,8))::BIGINT replays the engine's
        # portable_hash(cast(doc_id as string), 7331) bit-for-bit
        "source_cap_sample": """
SELECT doc_id, source, pick FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || '#7331'), 1, 8))::BIGINT,
                    doc_id) AS pick
  FROM documents) u
WHERE pick <= 5""",
        # quotas below are the SAME ints the Spark entry fixes driver-side
        # (int(w/Σw·total) over _MIX_WEIGHTS/_MIX_TOTAL) — computed once in
        # Python, inlined as literals on both sides
        "mixture_sample": f"""
SELECT doc_id, source, pick FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || '#7331'), 1, 8))::BIGINT,
                    doc_id) AS pick
  FROM documents
  WHERE source IN ({", ".join(f"'{k}'" for k in _MIX_WEIGHTS)})) u
WHERE pick <= CASE source {" ".join(
    f"WHEN '{k}' THEN {int(w / sum(_MIX_WEIGHTS.values()) * _MIX_TOTAL)}"
    for k, w in _MIX_WEIGHTS.items())} END""",
        "uniform_sample": """
SELECT doc_id, source FROM documents
ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || '#7331'), 1, 8))::BIGINT, doc_id
LIMIT 100""",
        "dataset_split": _dataset_split_sql(),
        # concat-and-chunk packing: same single-window cumsum as
        # token_budget_sample, then pure integer slicing per spanned sequence
        "pack_sequences": f"""
WITH t AS (
  SELECT doc_id, len({_words_expr()})::BIGINT AS n_tokens,
         ('0x' || substr(md5(doc_id::VARCHAR || '#7331'), 1, 8))::BIGINT AS h
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         (sum(n_tokens) OVER (ORDER BY h, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           )::BIGINT AS cum
  FROM t
),
s AS (
  SELECT doc_id, n_tokens, cum, cum - n_tokens AS strt FROM c WHERE n_tokens > 0
),
e AS (
  SELECT doc_id, n_tokens, strt, cum,
         unnest(generate_series(strt // 512, (cum - 1) // 512)) AS seq_id
  FROM s
)
SELECT doc_id, n_tokens, seq_id,
       greatest(strt - seq_id * 512, 0)::BIGINT AS seq_offset,
       greatest(seq_id * 512 - strt, 0)::BIGINT AS doc_offset,
       (least(cum, (seq_id + 1) * 512) - greatest(strt, seq_id * 512))::BIGINT
         AS n_in_seq
FROM e""",
        "token_budget_sample": f"""
WITH t AS (
  SELECT doc_id, len({_words_expr()})::BIGINT AS n_tokens,
         ('0x' || substr(md5(doc_id::VARCHAR || '#7331'), 1, 8))::BIGINT AS h
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         (sum(n_tokens) OVER (ORDER BY h, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
           AS cum_tokens
  FROM t
)
SELECT doc_id, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 20000""",
        # streaming canonical labeling staged as one deterministic
        # micro-batch ⇒ first-seen == min(doc_id): same oracle as batch
        "streaming_canonicalize": """
SELECT doc_id, md5(text) AS text_md5,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
FROM documents""",
        "token_stats": f"""
SELECT doc_id,
       length(text)::BIGINT AS n_chars,
       len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS ws_tokens,
       len({_words_expr()})::BIGINT AS word_tokens,
       len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]'))::BIGINT AS bpe_tokens,
       len(list_distinct({_words_expr()}))::BIGINT AS distinct_words,
       CAST(round(1e6 * list_aggregate(list_transform({_words_expr()}, w -> length(w)), 'sum')
                  / greatest(len({_words_expr()}), 1)) AS BIGINT) AS mean_word_len_e6,
       length(regexp_replace(lower(text), '[^0-9]', '', 'g'))::BIGINT AS digit_chars,
       length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::BIGINT AS punct_chars
FROM documents""",
        "quality_scores": f"""
WITH q AS (
  SELECT doc_id,
    greatest(len({_words_expr()}), 1)::DOUBLE AS nw,
    len(list_filter({_words_expr()}, w -> list_contains({_stoplist_list_sql()}, w))) AS nstop,
    len(list_distinct({_words_expr()})) AS ndist,
    len({_words_expr()}) AS nwords,
    length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
      / greatest(length(text), 1)::DOUBLE AS punct_ratio,
    length(regexp_replace(lower(text), '[^0-9]', '', 'g'))
      / greatest(length(text), 1)::DOUBLE AS digit_ratio
  FROM documents
), r AS (
  SELECT doc_id,
    round(nstop / nw, 9) AS stop_ratio,
    round(ndist / nw, 9) AS distinct_ratio,
    round(punct_ratio, 9) AS punct_ratio,
    round(digit_ratio, 9) AS digit_ratio,
    round(0.3 * least(nwords / 100.0, 1.0)
        + 0.2 * least(nstop / nw * 5, 1.0)
        + 0.3 * (ndist / nw)
        + 0.2 * (1.0 - least((punct_ratio + digit_ratio) * 2, 1.0)), 9) AS quality
  FROM q)
SELECT doc_id,
  CAST(round(stop_ratio*1e6) AS BIGINT) AS stop_ratio_e6,
  CAST(round(distinct_ratio*1e6) AS BIGINT) AS distinct_ratio_e6,
  CAST(round(punct_ratio*1e6) AS BIGINT) AS punct_ratio_e6,
  CAST(round(digit_ratio*1e6) AS BIGINT) AS digit_ratio_e6,
  CAST(round(quality*1e6) AS BIGINT) AS quality_e6
FROM r""",
        "langid": _langid_sql(),
        # composed Gopher filter: every constituent replays the SAME
        # expressions as the token_stats / quality_scores /
        # repetition_stats oracles; flags ship as 0/1 BIGINT
        "quality_filter": f"""
WITH b AS (
  SELECT doc_id, text, {_words_expr()} AS words,
    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                x -> length(x) > 0) AS lines
  FROM documents
), st AS (
  SELECT doc_id,
    len(words)::BIGINT AS word_tokens,
    coalesce(list_aggregate(list_transform(words, w -> length(w)), 'sum'), 0)
      / greatest(len(words), 1) AS mean_word_len,
    round(len(list_filter(words, w -> list_contains({_stoplist_list_sql()}, w)))
      / greatest(len(words), 1)::DOUBLE, 9) AS stop_ratio,
    (length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
     + length(regexp_replace(lower(text), '[^0-9]', '', 'g')))
      / greatest(length(text), 1) AS symbol_ratio,
    round((len(lines) - len(list_distinct(lines)))
      / greatest(len(lines), 1), 9) AS dup_line_frac,
    round((coalesce(list_aggregate(list_transform(lines, x -> length(x)), 'sum'), 0)
           - coalesce(list_aggregate(list_transform(list_distinct(lines), x -> length(x)), 'sum'), 0))
      / greatest(coalesce(list_aggregate(list_transform(lines, x -> length(x)), 'sum'), 0), 1), 9)
      AS dup_line_char_frac,
    CASE WHEN len(words) >= 2
         THEN list_transform(generate_series(1, len(words) - 1),
                             i -> words[i] || ' ' || words[i + 1])
         ELSE [] END AS grams
  FROM b
), g AS (
  SELECT doc_id, unnest(grams) AS gram FROM st
), c AS (
  SELECT doc_id, gram, count(*)::BIGINT AS cnt FROM g GROUP BY doc_id, gram
), top AS (
  SELECT doc_id, max(cnt) AS top_cnt FROM c GROUP BY doc_id
), fl AS (
  SELECT st.doc_id,
    (word_tokens BETWEEN 50 AND 100000) AS words_ok,
    (mean_word_len BETWEEN 3.0 AND 10.0) AS word_len_ok,
    (stop_ratio >= 0.02) AS stop_ok,
    (symbol_ratio <= 0.25) AS symbol_ok,
    (dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20) AS line_rep_ok,
    (round(coalesce(t.top_cnt, 0) * 2 / greatest(st.word_tokens, 1), 9) <= 0.20)
      AS bigram_rep_ok
  FROM st LEFT JOIN top t ON t.doc_id = st.doc_id
)
SELECT doc_id,
  words_ok::BIGINT AS words_ok, word_len_ok::BIGINT AS word_len_ok,
  stop_ok::BIGINT AS stop_ok, symbol_ok::BIGINT AS symbol_ok,
  line_rep_ok::BIGINT AS line_rep_ok, bigram_rep_ok::BIGINT AS bigram_rep_ok,
  (words_ok AND word_len_ok AND stop_ok AND symbol_ok AND line_rep_ok
   AND bigram_rep_ok)::BIGINT AS keep
FROM fl""",
        # KMV bottom-k sketches: hash → DISTINCT → ORDER BY h LIMIT k is the
        # whole sketch, so DuckDB reproduces estimate bits exactly
        "kmv_vocab": f"""
WITH h AS (
  SELECT DISTINCT ('0x' || substr(md5(t || '#90125'), 1, 8))::BIGINT AS h
  FROM (SELECT unnest({_words_expr()}) AS t FROM documents)
),
k AS (SELECT h FROM h ORDER BY h LIMIT 256),
a AS (SELECT count(*)::BIGINT AS n_kmin, coalesce(max(h), 0)::BIGINT AS kth_hash FROM k)
SELECT n_kmin, kth_hash,
  CAST(round(round(CASE WHEN n_kmin < 256 THEN n_kmin::DOUBLE
                        ELSE 255.0 * 4294967296.0 / kth_hash END, 6) * 1e6) AS BIGINT)
    AS est_distinct_e6
FROM a""",
        "kmv_vocab_by_source": f"""
WITH t AS (
  SELECT source AS key, unnest({_words_expr()}) AS tok FROM documents
),
h AS (
  SELECT DISTINCT key, ('0x' || substr(md5(tok || '#90125'), 1, 8))::BIGINT AS h FROM t
),
r AS (
  SELECT key, h, row_number() OVER (PARTITION BY key ORDER BY h) AS rk FROM h
)
SELECT key, count(*)::BIGINT AS n_kmin, max(h)::BIGINT AS kth_hash,
  CAST(round(round(CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                        ELSE 63.0 * 4294967296.0 / max(h) END, 6) * 1e6) AS BIGINT)
    AS est_distinct_e6
FROM r WHERE rk <= 64 GROUP BY key""",
        # Gopher repetition rules: dup-line fractions are per-doc list math;
        # the top 2-gram replays the engine's sorted-max-run fold as
        # unnest → count → row_number (cnt DESC, gram ASC = the same
        # lexicographic-min tie-break the sorted fold gives for free)
        "repetition_stats": f"""
WITH l AS (
  SELECT doc_id,
    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                x -> length(x) > 0) AS lines,
    {_words_expr()} AS words
  FROM documents
), s AS (
  SELECT doc_id, words,
    len(lines)::BIGINT AS n_lines,
    len(list_distinct(lines))::BIGINT AS n_dlines,
    coalesce(list_aggregate(list_transform(lines, x -> length(x)), 'sum'), 0)::BIGINT
      AS line_chars,
    coalesce(list_aggregate(list_transform(list_distinct(lines), x -> length(x)), 'sum'), 0)::BIGINT
      AS dline_chars,
    CASE WHEN len(words) >= 2
         THEN list_transform(generate_series(1, len(words) - 1),
                             i -> words[i] || ' ' || words[i + 1])
         ELSE [] END AS grams
  FROM l
), g AS (
  SELECT doc_id, unnest(grams) AS gram FROM s
), c AS (
  SELECT doc_id, gram, count(*)::BIGINT AS cnt FROM g GROUP BY doc_id, gram
), top AS (
  SELECT doc_id, gram, cnt,
         row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
  FROM c
)
SELECT s.doc_id, s.n_lines,
  CAST(round(round((s.n_lines - s.n_dlines) / greatest(s.n_lines, 1), 9) * 1e6) AS BIGINT)
    AS dup_line_frac_e6,
  CAST(round(round((s.line_chars - s.dline_chars) / greatest(s.line_chars, 1), 9) * 1e6) AS BIGINT)
    AS dup_line_char_frac_e6,
  coalesce(t.gram, '') AS top_bigram,
  coalesce(t.cnt, 0)::BIGINT AS top_bigram_count,
  CAST(round(round(coalesce(t.cnt, 0) * 2 / greatest(len(s.words), 1), 9) * 1e6) AS BIGINT)
    AS top_bigram_frac_e6
FROM s LEFT JOIN (SELECT * FROM top WHERE rn = 1) t USING (doc_id)""",
        "simhash": f"""WITH {base},
th AS (
  SELECT doc_id, tf, ('0x'||substr(md5(term||'#7'),1,15))::UBIGINT::BIGINT AS h FROM tf
),
bits AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (h // cast(pow(2, bit) AS BIGINT)) % 2 = 1 THEN tf ELSE -tf END) AS v
  FROM th CROSS JOIN (SELECT unnest(range(60)) AS bit) b
  GROUP BY doc_id, bit
)
SELECT doc_id,
       sum(CASE WHEN v > 0 THEN cast(pow(2, bit) AS BIGINT) ELSE 0 END)::BIGINT AS simhash
FROM bits GROUP BY doc_id""",
        "ngram_jaccard": f"""WITH {base}{_shingle_ctes()},
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, inter::BIGINT AS inter,
       sa.n_shingles::BIGINT AS na, sb.n_shingles::BIGINT AS nb,
       CAST(round(inter / (sa.n_shingles + sb.n_shingles - inter)::DOUBLE * 1e6) AS BIGINT)
         AS jaccard_e6
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter / (sa.n_shingles + sb.n_shingles - inter)::DOUBLE >= 0.2""",
        "minhash_sigs": f"""WITH {base}{_shingle_ctes()},
mh AS (
  SELECT doc_id,
         ('0x'||substr(md5(shingle||'#101'),1,8))::UBIGINT::BIGINT % 2147483647 AS h
  FROM shingles
)
SELECT doc_id, i::BIGINT AS i, min((a * h + b) % 2147483647)::BIGINT AS sig
FROM mh CROSS JOIN {_minhash_seeds_sql(16)}
GROUP BY doc_id, i""",
        "hash_docvecs": f"""WITH {base},
docvec AS (
  SELECT doc_id, bucket, sum(signed) AS val FROM (
    SELECT doc_id,
           ('0x'||substr(md5(term||'#1'),1,8))::UBIGINT::BIGINT % 256 AS bucket,
           ((('0x'||substr(md5(term||'#2'),1,8))::UBIGINT::BIGINT % 2) * 2 - 1)::DOUBLE
             * tf AS signed
    FROM tf) s
  GROUP BY doc_id, bucket HAVING sum(signed) != 0
)
SELECT doc_id, bucket::BIGINT AS bucket, CAST(round(val*1e6) AS BIGINT) AS val_e6
FROM docvec""",
        "dense_cosine_topk": f"""WITH {base}{_query_ctes()}{_hash_vec_ctes()}
SELECT query_id::BIGINT AS query_id, doc_id, rank::BIGINT AS rank,
       CAST(round(score*1e6) AS BIGINT) AS score_e6
FROM dense_ranked WHERE rank <= 5""",
        "rrf_hybrid_k5": f"""WITH {base}{_query_ctes()}{_hash_vec_ctes()},
contrib AS (
  SELECT query_id, doc_id, 1.0/(60 + rank) AS c FROM ranked WHERE rank <= 5
  UNION ALL
  SELECT query_id, doc_id, 1.0/(60 + rank) AS c FROM dense_ranked WHERE rank <= 5
),
fused AS (
  SELECT query_id, doc_id, sum(c) AS rrf_score FROM contrib GROUP BY query_id, doc_id
),
rrf_ranked AS (
  SELECT query_id, doc_id, rrf_score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(rrf_score, 9) DESC, doc_id ASC) AS rank
  FROM fused
)
SELECT query_id::BIGINT AS query_id, doc_id, rank::BIGINT AS rank,
       CAST(round(rrf_score*1e9) AS BIGINT) AS rrf_e9
FROM rrf_ranked WHERE rank <= 5""",
        "splade_topk_k5": f"""WITH {base}{_query_ctes()},
cooc AS (
  SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_ab
  FROM tf a JOIN tf b USING (doc_id)
  WHERE a.term != b.term
  GROUP BY a.term, b.term HAVING count(*) >= 2
),
npmi0 AS (
  SELECT term_a, term_b, n_ab,
         ln((n_ab::DOUBLE / s.n_docs) /
            ((fa.df::DOUBLE / s.n_docs) * (fb.df::DOUBLE / s.n_docs)))
           / (-ln(n_ab::DOUBLE / s.n_docs)) AS npmi
  FROM cooc
  JOIN dft fa ON fa.term = cooc.term_a
  JOIN dft fb ON fb.term = cooc.term_b, stats s
),
expn AS (
  SELECT term_a, term_b, 0.3 * npmi AS weight
  FROM (SELECT *, row_number() OVER (PARTITION BY term_a
                                     ORDER BY round(npmi, 9) DESC, term_b ASC) AS rk
        FROM npmi0 WHERE npmi > 0) r
  WHERE rk <= 2
),
spl_imp AS (
  SELECT doc_id, term, max(impact) AS impact FROM (
    SELECT doc_id, term, impact FROM impacts
    UNION ALL
    SELECT i.doc_id, e.term_b AS term, e.weight * i.impact AS impact
    FROM impacts i JOIN expn e ON i.term = e.term_a
  ) u GROUP BY doc_id, term
),
spl_q AS (
  SELECT query_id, term, max(qweight) AS qweight FROM (
    SELECT q.query_id, q.term, q.qtf * d.idf AS qweight
    FROM qtf q JOIN dict d USING (term)
    UNION ALL
    SELECT q.query_id, e.term_b AS term, e.weight * d2.idf AS qweight
    FROM qtf q JOIN expn e ON q.term = e.term_a JOIN dict d2 ON d2.term = e.term_b
  ) u GROUP BY query_id, term
),
spl_scores AS (
  SELECT query_id, i.doc_id, sum(qweight * impact) AS score
  FROM spl_q q JOIN spl_imp i USING (term) GROUP BY query_id, i.doc_id
),
spl_ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 6) DESC, doc_id ASC) AS rank
  FROM spl_scores
)
SELECT query_id::BIGINT AS query_id, doc_id, rank::BIGINT AS rank,
       CAST(round(score * 1e6) AS BIGINT) AS score_e6
FROM spl_ranked WHERE rank <= 5""",
        "embedding_near_dups": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       CAST(round(list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                  * 1e6) AS BIGINT) AS score_e6
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4""",
        # connected components over the cosine near-dup graph: min reachable
        # vec_id per component (the engine's converged min-label fixpoint)
        "embedding_dup_clusters": """
WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM p
  UNION
  SELECT doc_b AS a, doc_a AS b FROM p
),
reach AS (
  SELECT vec_id AS doc, vec_id AS label FROM embeddings
  UNION
  SELECT e2.b AS doc, r.label FROM reach r JOIN edges e2 ON e2.a = r.doc
)
SELECT doc AS vec_id, min(label)::BIGINT AS cluster_id FROM reach GROUP BY doc""",
        "ann_brute_topk": """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id < 5),
s AS (
  SELECT q.query_id, e.vec_id,
         list_dot_product(e.embedding::DOUBLE[], q.qvec)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qvec, q.qvec))) AS score
  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id
),
r AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 6) DESC, vec_id ASC) AS rank
  FROM s
)
SELECT query_id::BIGINT AS query_id, vec_id, rank::BIGINT AS rank,
       CAST(round(score*1e6) AS BIGINT) AS score_e6
FROM r WHERE rank <= 10""",
        # round-2 oracles for the former rows-only entries (VERDICT.md #3/#4)
        "minhash_near_dups": _minhash_near_dups_sql(),
        "fingerprints": _fingerprints_sql(),
        "fingerprint_overlap": _fingerprint_overlap_sql(),
        "decontamination": _decontamination_sql(),
        "lsh_ann_topk": _lsh_ann_sql(),
        "ivf_ann_topk": _ivf_ann_sql(),
        "ivf_refined_topk": _ivf_ann_sql(refine_iters=1),
        "near_dup_clusters": _near_dup_clusters_sql(),
    }
