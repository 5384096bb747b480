"""Corpus stats + dictionary (BM25 fit — SURVEY.md §2.3 B3).

Semantics of ``BM25SparseEmbedding(corpus)`` fit (instantiated at
/root/reference/main.py:64, eval.py:105, ingest.py:124; pinned milvus-model
0.2.5 / rank-bm25 semantics):

    N      = number of docs
    avgdl  = mean token count per doc
    df(t)  = number of docs containing t
    raw_idf(t) = ln((N - df + 0.5) / (df + 0.5))
    idf(t) = raw_idf if raw_idf >= 0 else epsilon * avg(raw_idf over all terms)
    term_id: dense ints ordered by (df desc, term asc) — deterministic,
             replacing the reference dictionary's insertion order (§1.4)

``fit_corpus`` is the one fit every build runs (``indexer._assemble`` and
``segments.build_segmented_index``): one pass over a cached surface yields
N, avgdl and the dictionary as driver-held values. The distributed
dictionary is plain Catalyst column math — whole-stage codegen, no UDFs;
small vocabularies finish on the driver in numpy (``build_dictionary``).

Skew note (SURVEY.md §4): ``groupBy(term)`` on a Zipfian corpus has head-term
skew. Spark's partial aggregation combines the df count map-side, so each
reducer receives at most one partial count per (map task, term) — a head
term costs the final stage one row per map task, not one per posting. (An
explicit salt column would only add a hash exchange to the plan.)
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import accumulate

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, functions as F

from splade_spark.build.postings import surface_term_counts, term_freqs
from splade_spark.config import EngineConfig, DEFAULT


@dataclass
class CorpusFit:
    """One BM25 fit held on the driver.

    ``n_docs`` and ``avgdl`` are driver values; ``dictionary`` is (term,
    term_id, df, idf); ``tf`` (doc_id, term, tf, doclen) is the analyzed tf
    of the docs to encode, read over the cached ``surface`` — from
    ``fit_corpus``, the tf the dictionary was counted from.
    """

    n_docs: int
    avgdl: float
    dictionary: DataFrame
    tf: DataFrame
    surface: DataFrame

    def corpus_stats(self) -> DataFrame:
        """The one-row corpus_stats table (n_docs long, avgdl double), a
        local relation (an Arrow table; no job to build it)."""
        return self.dictionary.sparkSession.createDataFrame(
            pa.table({"n_docs": pa.array([self.n_docs], pa.int64()),
                      "avgdl": pa.array([self.avgdl], pa.float64())})
        )

    def unpersist(self) -> None:
        self.dictionary.unpersist()
        self.tf.unpersist()
        self.surface.unpersist()


def fit_corpus(docs: DataFrame, n_docs: int, cfg: EngineConfig = DEFAULT) -> CorpusFit:
    """docs(doc_id, tokens) with ``n_docs`` rows → the BM25 fit — the only one.

    ONE tokenize pass: the surface tf is cached and the dictionary's df job
    is the action that fills it (tokenize + run-length encode on its map
    side). Σtf rides that fill as an observed aggregate, and
    ``avgdl = Σtf / n_docs`` is one division of an exact integer sum: Σtf
    over the surface equals Σ doclen (the run-length encode partitions each
    token array; a zero-token doc adds 0 but counts in N), and the result is
    independent of task order, so two builds over the same corpus in
    different partition layouts get bit-identical impacts. When stemming,
    the folded tf is cached as well, so its fold exchange runs once for the
    dictionary and every later consumer. The dictionary is cached too: the
    driver path's is a scan of driver-shipped rows, which a build reads
    twice (its table write, the ``term_rows`` broadcast). The caller owns
    the caches (``CorpusFit.unpersist``).
    """
    obs = Observation()
    surface = surface_term_counts(docs).observe(
        obs, F.coalesce(F.sum(F.col("tf").cast("long")), F.lit(0)).alias("sum_tf")
    ).cache()
    tf = term_freqs(docs, cfg, surface=surface)
    if cfg.analyzer.stem:
        tf = tf.cache()
    dictionary = build_dictionary(tf, n_docs, cfg).cache()
    avgdl = int(obs.get["sum_tf"]) / n_docs if n_docs else 0.0
    return CorpusFit(n_docs, avgdl, dictionary, tf, surface)


# Vocabularies up to this size are finished on the driver (see
# build_dictionary). 100k rows ≈ a few MB collected — well under any broadcast
# threshold a query would pay for the same relation anyway.
_DRIVER_VOCAB_THRESHOLD = 100_000


def build_dictionary(tf: DataFrame, n_docs: int, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """tf(doc_id, term, tf) → dictionary(term, term_id int, df long, idf double).

    ``tf`` already has one row per (doc, term), so df = row count per term;
    ``n_docs`` is the corpus doc count (``corpus_stats.n_docs``); callers
    reach this through ``fit_corpus``.

    Two strategies with identical term ids and df (idf may differ in the last
    ulps: JVM vs numpy ``log``, summation order of avg(raw_idf)), picked by
    vocabulary size:

    * driver (≤ ``_DRIVER_VOCAB_THRESHOLD``): one bounded ``limit().collect()``
      of the df relation, idf + dense term ids computed in numpy, result
      shipped back as a local relation. The dictionary at this size is
      driver-resident anyway (LocalSearcher collects it wholesale; every
      query path broadcasts it), and one job here replaces the distributed
      path's checkpoint + rank + size jobs — the per-job planning floor is
      the serial component that caps N→4N scaling efficiency
      (BENCH/BASELINE.md decomposition).
    * distributed (above): ``_dictionary_distributed`` — no task ever holds
      the whole vocabulary.

    Neither path is the build's vocabulary ceiling: ``postings.term_rows``
    broadcasts the whole dictionary to every task.
    """
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    head = df.limit(_DRIVER_VOCAB_THRESHOLD + 1).collect()
    if len(head) <= _DRIVER_VOCAB_THRESHOLD:
        return _dictionary_local(head, n_docs, cfg, tf.sparkSession)
    return _dictionary_distributed(df.localCheckpoint(eager=True), n_docs, cfg)


def _dictionary_local(rows, n_docs: int, cfg: EngineConfig, spark) -> DataFrame:
    """Driver-side dictionary for small vocabularies — identical values.

    Float math mirrors the distributed path op-for-op in float64 (long
    subtraction exact in doubles below 2^53; same epsilon multiply). The
    only tolerated divergences are the last ulp of ``log`` (numpy vs JVM)
    and the summation ORDER inside avg(raw_idf) — numpy's pairwise sum here,
    per-range-partition sums there — and every consumer compares at 1e-6
    rounding.
    """
    import numpy as np

    # sorted first: the mean then sums in one order whatever order the df
    # rows were collected in, so idf is the same from run to run
    rows = sorted(rows, key=lambda r: (-r["df"], r["term"]))
    dfv = np.array([r["df"] for r in rows], dtype=np.float64)
    raw = np.log((float(n_docs) - dfv + 0.5) / (dfv + 0.5))
    avg_raw = float(raw.mean()) if len(raw) else 0.0
    idf = np.where(raw < 0.0, float(cfg.epsilon) * avg_raw, raw)
    # an Arrow table plans as a local relation; a list of rows would plan
    # as an RDD scan and run a Python-worker job on every read
    return spark.createDataFrame(
        pa.table(
            {
                "term": pa.array([r["term"] for r in rows], pa.string()),
                "term_id": pa.array(np.arange(len(rows), dtype=np.int32)),
                "df": pa.array(dfv.astype(np.int64)),
                "idf": pa.array(idf),
            }
        )
    )


def _dictionary_distributed(df: DataFrame, n_docs: int, cfg: EngineConfig) -> DataFrame:
    """df(term, df) → dictionary, ids by range partition + prefix sum.

    The zipWithIndex pattern in DataFrame ops: range-partition by
    (df desc, term asc), sort within each partition, and take the local rank
    from ``monotonically_increasing_id`` (documented layout: partition id in
    the upper 31 bits, row number within the partition in the lower 33 —
    no second exchange, unlike a window keyed by partition id). That ranked
    frame, with raw idf, is checkpointed ONCE: the range bounds are sampled
    per evaluation, so partition sizes and local ranks taken from two
    evaluations can come from two different cuts (duplicate ids). One small
    collect then reads every partition's row count and Σ raw idf from the
    checkpoint; ``term_id = offset[pid] + local rank`` and the ε-floor (the
    average as a literal, as in ``_dictionary_local``) are a projection of
    that same checkpoint.
    """
    spark = df.sparkSession
    order = (F.col("df").desc(), F.col("term").asc())
    n_parts = max(spark.sparkContext.defaultParallelism, 8)
    pid = F.spark_partition_id()
    ranked = (
        df.repartitionByRange(n_parts, *order)
        .sortWithinPartitions(*order)
        .select(
            "term",
            "df",
            pid.alias("_pid"),
            (F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)).alias("_lrank"),
            F.log((float(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)).alias("raw_idf"),
        )
        .localCheckpoint(eager=True)
    )
    parts = ranked.groupBy("_pid").agg(
        F.count(F.lit(1)).alias("n"), F.sum("raw_idf").alias("s")
    ).collect()
    sizes = [0] * n_parts
    total_raw = 0.0
    for r in sorted(parts, key=lambda r: r["_pid"]):
        sizes[r["_pid"]] = r["n"]
        total_raw += r["s"]
    offsets = [0, *accumulate(sizes)][:-1]
    floor = float(cfg.epsilon) * (total_raw / sum(sizes))
    return ranked.select(
        "term",
        (F.element_at(F.array(*map(F.lit, offsets)), F.col("_pid") + 1) + F.col("_lrank"))
        .cast("int").alias("term_id"),
        "df",
        F.when(F.col("raw_idf") < 0, F.lit(floor)).otherwise(F.col("raw_idf")).alias("idf"),
    )
