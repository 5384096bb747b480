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

Everything here is plain Catalyst column math — whole-stage codegen, no UDFs.

Skew note (SURVEY.md §4): ``groupBy(term)`` on a Zipfian corpus has head-term
skew. Spark's partial aggregation combines the df count map-side, so each
reducer receives at most one partial count per (map task, term) — a head
term costs the final stage one row per map task, not one per posting. (An
explicit salt column would only add a hash exchange to the plan.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from splade_spark.config import EngineConfig, DEFAULT


def compute_corpus_stats(docs: DataFrame) -> DataFrame:
    """docs(doc_id, …, doclen) → single row (n_docs long, avgdl double).

    avgdl is an exact integer sum divided once — order-independent, so two
    builds over the same corpus in different partition layouts produce
    bit-identical impacts (the streaming re-fit equivalence gate relies on
    this; a float running avg would drift in the last ulp with task order).
    """
    return docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("doclen").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )


def corpus_stats_from_surface(docs: DataFrame, surface: DataFrame) -> DataFrame:
    """Stats without touching token arrays: (count(docs), Σ surface.tf).

    ``Σ tf`` over the surface term counts equals ``Σ doclen`` exactly (the
    run-length encode partitions each token array), and empty docs contribute
    0 to the sum while still counting in N — so the resulting avgdl is
    bit-identical to ``compute_corpus_stats`` (same integer sum, same single
    division), but computable from a cached surface relation with NO extra
    tokenize pass (VERDICT r2 Wrong #1). ``docs`` may be the slim (text,
    norm) frame; only its row count is read.
    """
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    s = surface.agg(
        F.coalesce(F.sum(F.col("tf").cast("long")), F.lit(0).cast("long")).alias("_sum_tf")
    )
    return n.crossJoin(s).select(
        "n_docs",
        (F.col("_sum_tf").cast("double") / F.col("n_docs")).alias("avgdl"),
    )


def build_dictionary(
    tf: DataFrame,
    corpus_stats: DataFrame | int,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """tf(doc_id, term, tf) → dictionary(term, term_id int, df long, idf double).

    ``tf`` already has one row per (doc, term), so df = row count per term.
    ``corpus_stats`` may be the stats frame or a plain ``n_docs`` int when the
    caller already knows it (e.g. from a write-time Observation) — then no
    stats job runs here at all.

    Three physical strategies, identical output, picked by vocabulary size:

    * driver (≤ ``_DRIVER_VOCAB_THRESHOLD``): one bounded ``limit().collect()``
      of the df relation, idf + dense term ids computed in numpy, result
      shipped back as a local relation. The dictionary at this size is
      driver-resident anyway (LocalSearcher collects it wholesale; every
      query path broadcasts it), and this path replaces four vocab-sized
      jobs (checkpoint, probe, avg-idf broadcast, id window) with one —
      the per-job planning floor is the serial component that caps N→4N
      scaling efficiency (BENCH/BASELINE.md decomposition).
    * window (≤ ``_SCALABLE_VOCAB_THRESHOLD``): distributed, single
      row_number window; the df relation is localCheckpoint-ed (not cached)
      so the probe and the dictionary job share one tf pass AND the storage
      is reclaimed by GC — a plain .cache() here leaked one relation per
      build / streaming refit cycle (ADVICE r2).
    * range-partitioned (above): no single task ever holds the vocabulary.
    """
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))

    head = df.limit(_DRIVER_VOCAB_THRESHOLD + 1).collect()
    if len(head) <= _DRIVER_VOCAB_THRESHOLD:
        if isinstance(corpus_stats, int):
            n_docs = corpus_stats
        else:
            n_docs = int(corpus_stats.select("n_docs").head()["n_docs"])
        return _dictionary_local(head, n_docs, cfg, tf.sparkSession)

    df = df.localCheckpoint(eager=True)
    scalable = df.limit(_SCALABLE_VOCAB_THRESHOLD + 1).count() > _SCALABLE_VOCAB_THRESHOLD

    if isinstance(corpus_stats, int):
        spark = tf.sparkSession
        corpus_stats = spark.createDataFrame(
            [(int(corpus_stats),)], "n_docs: long"
        )
    with_n = df.crossJoin(F.broadcast(corpus_stats.select("n_docs")))
    raw = with_n.withColumn(
        "raw_idf",
        F.log((F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))),
    )
    avg_idf = raw.agg(F.avg("raw_idf").alias("avg_raw_idf"))
    floored = raw.crossJoin(F.broadcast(avg_idf)).withColumn(
        "idf",
        F.when(F.col("raw_idf") < 0, F.lit(cfg.epsilon) * F.col("avg_raw_idf")).otherwise(
            F.col("raw_idf")
        ),
    )
    return assign_term_ids(floored, scalable=scalable)


def _dictionary_local(rows, n_docs: int, cfg: EngineConfig, spark) -> DataFrame:
    """Driver-side dictionary for small vocabularies — identical values.

    Float math mirrors the Catalyst path op-for-op in float64 (long
    subtraction exact in doubles below 2^53; same epsilon multiply). The
    only tolerated divergence is the summation ORDER inside avg(raw_idf) —
    the distributed path's partial-sum order is itself partitioning-
    dependent, and every consumer compares at 1e-6 rounding.
    """
    import numpy as np
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StringType, StructField, StructType,
    )

    terms = [r["term"] for r in rows]
    dfv = np.array([r["df"] for r in rows], dtype=np.float64)
    raw = np.log((float(n_docs) - dfv + 0.5) / (dfv + 0.5))
    avg_raw = float(raw.mean()) if len(raw) else 0.0
    idf = np.where(raw < 0.0, float(cfg.epsilon) * avg_raw, raw)
    order = sorted(range(len(terms)), key=lambda i: (-int(rows[i]["df"]), terms[i]))
    schema = StructType(
        [
            StructField("term", StringType()),
            StructField("term_id", IntegerType()),
            StructField("df", LongType()),
            StructField("idf", DoubleType()),
        ]
    )
    data = [
        (terms[i], tid, int(rows[i]["df"]), float(idf[i]))
        for tid, i in enumerate(order)
    ]
    return spark.createDataFrame(data, schema)


# Vocabularies up to this size are finished on the driver (see
# build_dictionary). 100k rows ≈ a few MB collected — well under any broadcast
# threshold a query would pay for the same relation anyway.
_DRIVER_VOCAB_THRESHOLD = 100_000

# Vocabularies above this row count take the range-partitioned id path
# automatically: a single-task row_number window over ~1M+ rows is the first
# stage to die at 100× scale (VERDICT.md round-1 Wrong #2). Below it, the
# one-task window is cheaper (no sampling pass, no extra jobs).
_SCALABLE_VOCAB_THRESHOLD = 1_000_000


def assign_term_ids(
    floored: DataFrame,
    scalable: bool | None = None,
    threshold: int = _SCALABLE_VOCAB_THRESHOLD,
) -> DataFrame:
    """Dense deterministic term ids ordered by (df desc, term asc).

    Two physical strategies, identical output (tests/test_bm25_stats.py):

    * window (below ``threshold``): one row_number window — fine while the
      vocabulary fits one task.
    * scalable: range-partitioned sort + per-partition local ranks + a tiny
      driver-side prefix-sum of partition counts (the zipWithIndex pattern,
      expressed in DataFrame ops). No single task ever sees the whole
      vocabulary — the 100M+-term path.

    ``scalable=None`` (the default, used by ``build_dictionary``) probes the
    vocabulary size with a limit-bounded count — at most ``threshold + 1``
    rows ever move — and picks the path automatically.
    """
    if scalable is None:
        scalable = floored.limit(threshold + 1).count() > threshold
    if not scalable:
        w = Window.orderBy(F.col("df").desc(), F.col("term").asc())
        return floored.select(
            "term",
            (F.row_number().over(w) - 1).cast("int").alias("term_id"),
            "df",
            "idf",
        )

    ranked = floored.repartitionByRange(
        max(floored.sparkSession.sparkContext.defaultParallelism, 8),
        F.col("df").desc(), F.col("term").asc(),
    ).select(
        "term", "df", "idf", F.spark_partition_id().alias("_pid")
    )
    # local rank within each sorted range partition
    w_local = Window.partitionBy("_pid").orderBy(F.col("df").desc(), F.col("term").asc())
    local = ranked.withColumn("_lrank", F.row_number().over(w_local) - 1)
    # partition sizes → driver-side prefix sums (one tiny collect)
    sizes = {
        r["_pid"]: r["cnt"]
        for r in local.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    spark = floored.sparkSession
    off_df = F.broadcast(
        spark.createDataFrame(
            [(pid, off) for pid, off in offsets.items()], ["_pid", "_off"]
        )
    )
    return (
        local.join(off_df, "_pid")
        .select(
            "term",
            (F.col("_off") + F.col("_lrank")).cast("int").alias("term_id"),
            "df",
            "idf",
        )
    )
