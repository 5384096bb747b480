"""Deterministic corpus sampling and layout for training-data pipelines.

The ops a crawl-curation pipeline runs after dedup/quality filtering:

* ``capped_per_key_sample`` — keep at most ``cap`` docs per key (domain /
  source / language): the standard guard against a single site dominating
  the training mix. Selection order is the portable md5 hash of the doc id
  (+ doc_id tie-break), so the choice is a pure function of the data —
  reshuffling, re-running, or replaying in SQL picks the same docs.

* ``mixture_sample`` — the training-mix op: given target source proportions
  (e.g. web 0.6 / books 0.3 / code 0.1), allocate ⌊w_k·total⌋ slots per
  source and fill each with that source's hash-ordered prefix. Quotas are
  computed driver-side from the (tiny, caller-supplied) weight table and
  injected as literals, so the whole plan is one per-key window — the same
  WindowGroupLimit shape as ``capped_per_key_sample``. A source smaller
  than its quota contributes everything it has (the standard
  undersized-source behavior; re-normalize weights upstream if exact
  proportions matter more than coverage).

* ``uniform_sample`` — deterministic exact-n corpus sample: global top-n by
  the order hash. Compiles to TakeOrderedAndProject (per-partition heaps of
  n, one single-node n-row merge) — right for human-scale n; big samples
  take a hash prefix instead (see the function docstring).

* ``split_assign`` — deterministic train/val/test assignment: each doc's
  split is a pure function of its id hash against driver-computed integer
  boundaries (the mixture-quota convention — no float crosses the engine
  boundary). ``by_col`` switches the hash to a grouping key (source /
  domain) so an entire group lands in ONE split — the standard guard
  against near-duplicate leakage between train and test.

* ``pack_token_sequences`` — concat-and-chunk sequence packing: the
  pretraining layout step ("turn this corpus into S-token training
  sequences") computed distributively from the same prefix scan — docs span
  boundaries, slices are pure integer math over the running sum.

* ``token_budget_sample`` — take the deterministic hash-ordered PREFIX of
  the corpus whose cumulative token count fits a budget ("give me ~1B
  tokens of this corpus, reproducibly"). The global running sum is computed
  as a DISTRIBUTED PREFIX SCAN, not a single-partition window: a global
  ``Window.orderBy`` without partition keys pulls every row into ONE task —
  the canonical Spark scale trap — so instead each row's scan bucket is
  derived FROM THE ORDER KEY ITSELF (``portable_hash`` is uniform on
  [0, 2^32), so ``(_h · n) div 2^32`` is a contiguous, balanced range
  bucketing that is a pure function of the row), per-bucket totals become
  exclusive-prefix offsets via a window over the tiny n-row totals frame,
  and a broadcast join adds each bucket's offset to its local cumulative
  sum. ONE lazy DAG — no cache, no driver collect, no requirement that two
  jobs observe the same materialization (the r4 driver-gate flake:
  ``spark_partition_id`` over a sampled range partitioning + ``.cache()``
  could silently mis-offset on recompute; a value-derived bucket cannot).
  The result equals the single-window cumsum exactly (the order is a
  global total order; integer sums are associative), which is what the
  DuckDB oracle computes.

Prefix semantics: a doc is kept iff its INCLUSIVE cumulative count is
≤ budget — the first doc that crosses the budget is dropped and so is
everything after it, even if some later doc would individually fit. That
keeps "sample = ordered prefix", the property that makes two samples with
budgets B1 < B2 nested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from splade_spark.curation.textstats import _WORD_RE
from splade_spark.text.hashing import portable_hash

SEED_SAMPLE = 7331


def _order_hash(id_col: str):
    return portable_hash(F.col(id_col).cast("string"), SEED_SAMPLE)


def capped_per_key_sample(
    docs: DataFrame,
    key_col: str = "source",
    cap: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """→ input rows + ``pick`` (1-based rank within key), ≤ cap rows per key.

    The per-key window shuffles on ``key_col`` — many small groups (domains),
    no single-reducer collapse; skew in a giant key is bounded by the window
    TopK push-down (rank ≤ cap prunes inside the sort).
    """
    w = Window.partitionBy(key_col).orderBy(_order_hash(id_col), F.col(id_col))
    return (
        docs.withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") <= cap)
    )


def mixture_sample(
    docs: DataFrame,
    weights: dict[str, float],
    total: int,
    key_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """→ input rows + ``pick`` for the per-source training mix: source k
    keeps its first ⌊(w_k/Σw)·total⌋ docs in portable-hash order. Sources
    absent from ``weights`` are dropped; a quota of 0 drops the source.

    Quotas are integers fixed on the driver BEFORE the plan is built (the
    weight table is caller-supplied config, not data), so Spark and any SQL
    replay agree exactly — no float arithmetic crosses the engine boundary.
    """
    s = sum(weights.values())
    if s <= 0:
        raise ValueError("mixture weights must sum to a positive value")
    quotas = {k: int(w / s * total) for k, w in weights.items()}
    quota_col = F.element_at(
        F.create_map(*[F.lit(x) for kv in quotas.items() for x in kv]),
        F.col(key_col),
    )
    w = Window.partitionBy(key_col).orderBy(_order_hash(id_col), F.col(id_col))
    return (
        docs.filter(F.col(key_col).isin(list(quotas)))
        .withColumn("pick", F.row_number().over(w))
        # two filters on purpose: the LITERAL max-quota bound is what lets
        # Catalyst infer WindowGroupLimit (per-key top-N heaps inside the
        # sort — the key-dependent map lookup alone defeats the rule); the
        # map lookup then trims each key to its exact quota
        .filter(F.col("pick") <= F.lit(max(quotas.values(), default=0)))
        .filter(F.col("pick") <= quota_col)
    )


SEED_SPLIT = 4177


def split_bounds(fractions: dict[str, float]) -> tuple[list[str], list[int]]:
    """(names, integer hash-domain boundaries) for ``split_assign`` — exposed
    so SQL replays inline the SAME ints (the mixture-quota convention)."""
    total = sum(fractions.values())
    if total <= 0:
        raise ValueError("split fractions must sum to a positive value")
    names = list(fractions)
    bounds = []
    acc = 0.0
    for name in names[:-1]:
        acc += fractions[name]
        bounds.append(int(acc / total * (1 << 32)))
    return names, bounds


def split_assign(
    docs: DataFrame,
    fractions: dict[str, float] | None = None,
    id_col: str = "doc_id",
    by_col: str | None = None,
) -> DataFrame:
    """→ input rows + ``split``: deterministic dataset split assignment.

    Boundaries are cumulative ``fractions`` mapped onto the hash domain as
    INTEGERS on the driver (insertion order of ``fractions`` fixes bucket
    order; the last bucket absorbs the full remainder so float rounding can
    never orphan a row). With ``by_col`` the hash key is the group column:
    every doc of a source/domain gets the SAME split, so near-duplicates
    within a group cannot straddle the train/test boundary. Adding docs
    later never moves an existing doc's split (assignment is per-row, not
    rank-based) — the property that makes the split stable under corpus
    growth.
    """
    fractions = fractions or {"train": 0.98, "val": 0.01, "test": 0.01}
    names, bounds = split_bounds(fractions)
    h = portable_hash(F.col(by_col or id_col).cast("string"), SEED_SPLIT)
    expr = F.lit(names[-1])
    for name, b in zip(reversed(names[:-1]), reversed(bounds)):
        expr = F.when(h < b, F.lit(name)).otherwise(expr)
    return docs.withColumn("split", expr)


def uniform_sample(
    docs: DataFrame,
    n: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """→ the n docs with the smallest order hash (ties by id): a fixed-size
    uniform corpus sample that is a pure function of the data — reruns,
    layouts, and SQL replays all pick the same docs. orderBy+limit compiles
    to TakeOrderedAndProject: per-partition top-n heaps, no global sort —
    but the final n-row merge is single-node, so this is the right tool for
    human-scale n (up to ~10^7). For samples that are themselves big data,
    take a hash-prefix instead: ``token_budget_sample`` (token-budgeted) or
    a filter on ``_order_hash`` below a threshold (rate-budgeted) keep the
    result distributed end-to-end.
    """
    return docs.orderBy(_order_hash(id_col), F.col(id_col)).limit(n)


# portable_hash = first 8 hex chars of md5 → uniform on [0, 2^32)
_HASH_DOMAIN = 1 << 32


def _hash_order_cumsum(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n_partitions: int | None,
) -> DataFrame:
    """→ (doc_id, n_tokens, cum_tokens): the hash-ordered running token sum.

    Distributed prefix scan (see module docstring), structurally consistent:
    the scan bucket ``_pid = (_h · n) div 2^32`` is a deterministic function
    of the order hash, so bucket membership, per-bucket totals, and the
    local cumsum all agree under ANY partitioning, recomputation, or cache
    eviction — the whole scan is one lazy DAG (per-bucket totals → n-row
    exclusive-prefix window → broadcast join → per-bucket cumsum windows).
    The bucket count is an execution knob only (any value gives the same
    cum_tokens); ``n_partitions=None`` derives it from the data — the
    input's scan partitioning, floored at the cluster's default parallelism
    — so the scan widens with the corpus instead of pinning at 32. The
    input is traversed twice (totals pass + cumsum pass); both traversals
    are correct independently, so callers may optionally persist ``docs``
    upstream purely as an I/O optimization, never for correctness.
    """
    if n_partitions is None:
        sc = docs.sparkSession.sparkContext
        n_partitions = max(sc.defaultParallelism, docs.rdd.getNumPartitions())
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_WORD_RE), 0)
        ).cast("long").alias("n_tokens"),
        _order_hash(id_col).alias("_h"),
    ).withColumn(
        # contiguous range bucket over the order key, pure function of _h:
        # _h < 2^32 and n_partitions is int, so the product stays in int64
        # (integer `div`, never float division — 2^32·n exceeds 2^53 fast)
        "_pid",
        F.expr(f"_h * {int(n_partitions)} div {_HASH_DOMAIN}").cast("int"),
    )
    # n_partitions-row frame: the no-partition window is bounded by
    # construction (one row per bucket), not by data volume
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        base.groupBy("_pid")
        .agg(F.sum("n_tokens").alias("_t"))
        .select("_pid", F.coalesce(F.sum("_t").over(w_off), F.lit(0)).alias("_off"))
    )
    local = Window.partitionBy("_pid").orderBy("_h", "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        base.join(F.broadcast(offsets), "_pid")
        .withColumn("cum_tokens", F.sum("n_tokens").over(local) + F.col("_off"))
        .select("doc_id", "n_tokens", "cum_tokens")
    )


def token_budget_sample(
    docs: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_partitions: int | None = None,
) -> DataFrame:
    """→ (doc_id, n_tokens, cum_tokens): hash-ordered prefix with
    Σ n_tokens ≤ budget_tokens. ``n_tokens`` is the analyzer word count
    (same regex as ``token_stats.word_tokens``). Built on the structurally
    deterministic distributed prefix scan (``_hash_order_cumsum``).
    """
    return _hash_order_cumsum(docs, text_col, id_col, n_partitions).filter(
        F.col("cum_tokens") <= budget_tokens
    )


def pack_token_sequences(
    docs: DataFrame,
    seq_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_partitions: int | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style pretraining layout):
    conceptually concatenate every doc's tokens in portable-hash order into
    one stream, then cut the stream every ``seq_tokens`` tokens. → one row
    per (doc, sequence) slice:

      doc_id, n_tokens   — the doc and its total token count
      seq_id             — 0-based training-sequence index
      seq_offset         — where the slice starts INSIDE the sequence
      doc_offset         — where the slice starts INSIDE the doc
      n_in_seq           — slice length (Σ over a doc's rows = n_tokens)

    Docs SPAN sequence boundaries (no padding waste — the standard
    pretraining trade vs greedy whole-doc packing, whose sequential best-fit
    recurrence does not distribute). Everything derives from the global
    running sum: first_seq = cum_excl div S, last_seq = (cum−1) div S, and a
    doc explodes into one row per spanned sequence — at most
    ⌈n_tokens/S⌉+1 rows, so the explode is output-bounded. Zero-token docs
    occupy no stream positions and emit no rows. Deterministic end-to-end:
    the scan is the structural prefix scan, the slicing is integer math.
    """
    cum = _hash_order_cumsum(docs, text_col, id_col, n_partitions).filter(
        F.col("n_tokens") > 0
    )
    cum_excl = (F.col("cum_tokens") - F.col("n_tokens")).alias("_start")
    s = int(seq_tokens)
    out = (
        cum.select("doc_id", "n_tokens", "cum_tokens", cum_excl)
        .withColumn(
            "seq_id",
            F.explode(
                F.sequence(
                    F.expr(f"_start div {s}"),
                    F.expr(f"(cum_tokens - 1) div {s}"),
                )
            ),
        )
        .withColumn("_seq_start", F.col("seq_id") * s)
        .withColumn("seq_offset", F.greatest(F.col("_start") - F.col("_seq_start"), F.lit(0)))
        .withColumn("doc_offset", F.greatest(F.col("_seq_start") - F.col("_start"), F.lit(0)))
        .withColumn(
            "n_in_seq",
            F.least(F.col("cum_tokens"), F.col("_seq_start") + s)
            - F.greatest(F.col("_start"), F.col("_seq_start")),
        )
        .select("doc_id", "n_tokens", "seq_id", "seq_offset", "doc_offset", "n_in_seq")
    )
    return out
