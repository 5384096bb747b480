"""Similarity search over an embedding column (array<float>).

Two paths over ``embeddings(vec_id long, embedding array<float>, label int)``
(/root/testdata fixture):

* ``brute_cosine_topk`` — exact brute-force cosine top-k, the semantic
  baseline. Mirrors the reference's dense FLAT index (= no index, exhaustive
  scan with IP/cosine, /root/reference/ingest.py:159-161 ``FLAT`` +
  retrievers.py:76-82 search). Dot products run JVM-side via the
  ``zip_with``/``aggregate`` higher-order functions — no Python in the loop;
  the query set is broadcast so the corpus is scanned once.

* ``lsh_cosine_topk`` — the scale path: random-hyperplane LSH. Each vector
  gets an ``n_planes``-bit signature (sign of dot with deterministic
  pseudo-random hyperplanes derived from a seeded RNG); vectors sharing a
  signature bucket are candidates; exact cosine is computed only within the
  probed buckets. At 10^12 rows the bucket join replaces the full cross
  product — cost drops from O(Q·N) to O(Q·N/2^bits) expected. Recall is
  tunable via ``n_planes`` (fewer bits → bigger buckets → higher recall);
  multi-probe (flipping one bit) is included to recover near-boundary
  neighbors. Tested against the brute-force path for recall ≥ threshold
  (tests/test_dense.py).

Every top-k here cuts through ``query.topk.per_query_topk`` on ``vec_id``
(the frozen tie-break); the near-dup paths pair through
``curation.dedup.shared_key_pairs`` behind its hot-bucket cap.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from splade_spark.curation.dedup import (
    DEFAULT_MAX_BUCKET_SIZE, cap_bucket_sizes, shared_key_pairs,
)
from splade_spark.query.topk import per_query_topk

ANN_SEED = 42


def _require_dim(dim: int | None) -> int:
    """LSH plan construction needs the embedding width to synthesize the
    hyperplane literals; probing it with a driver-side ``.head()`` would run
    a hidden job inside plan construction (VERDICT.md round-1 Wrong #4), so
    the caller must supply it (from the table contract or catalog metadata).
    """
    if dim is None:
        raise ValueError(
            "dim is required: pass the embedding width explicitly — plan "
            "construction must not trigger a driver-side job to probe it"
        )
    return int(dim)


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(_dot(a, a))


def _cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _centroid_scores(cents, v):
    """Per-centroid score array: centroid · v / |v| (the zero vector scores 0)."""
    return F.transform(cents, lambda c: _dot(c, v) / F.greatest(_norm(v), F.lit(1e-300)))


def brute_cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """queries(query_id, qvec array<float>) × embeddings → exact cosine top-k.

    Returns (query_id, vec_id, score, rank). Excludes self-matches when the
    query IS a corpus vector (query_id == vec_id), mirroring kNN conventions.

    BASELINE-ONLY by design: the ranking window shuffles the full Q×N scored
    relation (every corpus vector scored for every query) — the semantic
    ground truth the approximate paths are recall-tested against, not a 100 TB
    plan. The scale paths are ``lsh_cosine_topk`` / ``ivf_cosine_topk``,
    whose ranked input is already the narrow candidate set.
    """
    q = F.broadcast(queries.select("query_id", F.col("qvec").cast("array<double>").alias("qvec")))
    e = embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    scored = (
        e.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _cosine(F.col("vec"), F.col("qvec")).alias("score"))
    )
    return per_query_topk(scored, k, id_col="vec_id")


def _planes_lit(dim: int, n_planes: int, table: int):
    """Deterministic hyperplane matrix as a literal array-of-arrays column."""
    rng = np.random.default_rng(ANN_SEED + table)
    planes = rng.standard_normal((n_planes, dim))
    return F.array(*[F.array(*[F.lit(float(v)) for v in row]) for row in planes])


def _signature(vec_col, planes_col, n_planes: int):
    """Bit-pack sign(plane · vec) into a long signature."""
    bits = F.transform(
        planes_col, lambda plane: F.when(_dot(plane, vec_col) >= 0, 1).otherwise(0)
    )
    return F.aggregate(
        bits, F.lit(0).cast("long"), lambda acc, b: acc * 2 + b.cast("long")
    )


def _table_signatures(
    base: DataFrame, id_col: str, vec_col: str, dim: int, n_planes: int, n_tables: int
) -> DataFrame:
    """(id, vec) → (id, table, sig): one random-hyperplane signature per LSH
    table, the tables unioned."""
    sigs = [
        base.select(
            id_col,
            F.lit(t).alias("table"),
            _signature(F.col(vec_col), _planes_lit(dim, n_planes, t), n_planes).alias("sig"),
        )
        for t in range(n_tables)
    ]
    out = sigs[0]
    for s in sigs[1:]:
        out = out.unionByName(s)
    return out


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.95
) -> DataFrame:
    """Exact all-pairs cosine near-duplicates: (vec_a, vec_b, score ≥ t).

    The exact O(N²) baseline — fine to a few 10^4 vectors; use
    ``lsh_near_dup_pairs`` as the scale path.
    """
    a = embeddings.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").cast("array<double>").alias("va")
    )
    b = embeddings.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").cast("array<double>").alias("vb")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", _cosine(F.col("va"), F.col("vb")).alias("score"))
        .filter(F.col("score") >= threshold)
    )


def lsh_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 6,
    dim: int | None = None,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """LSH-bucketed cosine near-dup pairs — the 10^12-row path.

    Candidates = vector pairs sharing a signature in ANY table (near-dup
    vectors agree on most hyperplane signs, so collision probability per
    table is high at cosine ≥ 0.95); exact cosine verifies. The quadratic
    blow-up is confined to same-bucket minibatches; ``max_bucket_size``
    additionally drops hot buckets (the all-zeros signature collects every
    near-origin vector) before the self-join — see
    ``curation.dedup.cap_bucket_sizes``. ON by default
    (``DEFAULT_MAX_BUCKET_SIZE``, the cap every LSH self-join shares); None
    disables.
    """
    dim = _require_dim(dim)
    e_base = embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    sigs = cap_bucket_sizes(
        _table_signatures(e_base, "vec_id", "vec", dim, n_planes, n_tables),
        ["table", "sig"],
        max_bucket_size,
    )
    candidates = shared_key_pairs(sigs, ["table", "sig"], "vec_id").select(
        F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b")
    )
    va = e_base.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"))
    vb = e_base.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"))
    return (
        candidates.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", _cosine(F.col("va"), F.col("vb")).alias("score"))
        .filter(F.col("score") >= threshold)
    )


def _initial_centroids(dim: int, n_cells: int) -> list[list[float]]:
    """Deterministic initial centroids: pseudo-random directions from the
    shared seed — same construction as the LSH planes."""
    rng = np.random.default_rng(ANN_SEED + 1000)
    return [[float(v) for v in row] for row in rng.standard_normal((n_cells, dim))]


def _centroids_lit(dim: int, n_cells: int, centroids: list[list[float]] | None = None):
    """Centroid matrix as a Catalyst literal (seed-derived unless an explicit
    refined set is passed)."""
    c = centroids if centroids is not None else _initial_centroids(dim, n_cells)
    return F.array(*[F.array(*[F.lit(float(v)) for v in row]) for row in c])


def ivf_refine_centroids(
    embeddings: DataFrame,
    dim: int,
    n_cells: int = 16,
    iters: int = 1,
    scale: int = 1 << 20,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Lloyd refinement of the deterministic IVF centroids — REPLAYABLE.

    The blocker for refined (rather than frozen) centroids was determinism:
    a distributed float mean depends on partial-aggregation order, so two
    runs (or Spark vs an oracle) produce different centroids, different
    assignments, different candidates. Here each Lloyd step accumulates
    ``sum(round(v_d · scale)) :: long`` per (cell, dim) — integer addition
    is order-independent, so the sums are EXACT and identical under any
    partitioning — and the new centroid coordinate is the one IEEE double
    ``int_sum / (count · scale)``, byte-identical everywhere (same idiom as
    the *_e6 oracle columns, at 2^20 ≈ 1e6 precision). Empty cells keep
    their previous centroid.

    Explicitly a BUILD-style function: it runs ``iters`` Spark jobs and
    collects n_cells × dim longs per iteration (16×64 = 1,024 rows — bounded
    by construction, not by data). Plan-construction-only callers
    (``ivf_cosine_topk``) take the result as the ``centroids=`` literal, so
    the no-hidden-job contract (explain_audit check 5) still holds there.

    What refinement buys at scale is BALANCE, not recall: Lloyd steps even
    out cell occupancy (measured on the fixture: min cell 16 → 26 of ~31
    mean), and cells are the probe-path partition key — balanced cells mean
    no hot partition when 10^12 vectors land on the layout. Overflow bound:
    per-coordinate |round(v·2^20)| < 2^23 for |v| < 8, so a cell sum stays
    inside int64 up to ~2^40 ≈ 10^12 members; lower ``scale`` if vectors or
    cells are bigger than that.
    """
    cents = _initial_centroids(dim, n_cells)
    # Non-finite vectors make array_max NaN → array_position 0 → cell -1,
    # which would silently corrupt the LAST centroid via Python negative
    # indexing below (ADVICE r4). Drop them here; the belt-and-braces
    # assert guards the collected rows too.
    e = embeddings.select(
        F.col(vec_col).cast("array<double>").alias("v")
    ).filter(
        F.forall(
            "v",
            lambda x: x.isNotNull() & ~F.isnan(x) & (F.abs(x) != F.lit(float("inf"))),
        )
    )
    for _ in range(iters):
        scored = _centroid_scores(_centroids_lit(dim, n_cells, cents), F.col("v"))
        cell = (F.array_position(scored, F.array_max(scored)) - 1).cast("int")
        rows = (
            e.select(cell.alias("cell"), F.posexplode("v").alias("d", "val"))
            .groupBy("cell", "d")
            .agg(
                F.sum(F.round(F.col("val") * scale).cast("long")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new_cents = [list(row) for row in cents]  # empty cells keep previous
        for r in rows:
            assert r["cell"] is not None and 0 <= r["cell"] < n_cells, (
                f"non-finite embedding leaked into the assignment pass "
                f"(cell={r['cell']})"
            )
            new_cents[r["cell"]][r["d"]] = r["s"] / (r["n"] * scale)
        cents = new_cents
    return cents


def ivf_assign(embeddings: DataFrame, dim: int, n_cells: int = 16,
               vec_col: str = "embedding", id_col: str = "vec_id",
               centroids: list[list[float]] | None = None) -> DataFrame:
    """→ (vec_id, cell): nearest-centroid (max dot on normalized vectors)
    assignment against a DETERMINISTIC centroid set — the seed-derived one,
    or a ``centroids=`` literal from ``ivf_refine_centroids`` (whose
    integer-exact accumulation keeps refined sets equally replayable).
    Ties break to the LOWEST cell id.
    """
    # score each centroid, pick argmax with lowest-id tie-break
    scored = _centroid_scores(
        _centroids_lit(dim, n_cells, centroids), F.col(vec_col).cast("array<double>")
    )
    best = F.array_max(scored)
    cell = F.array_position(scored, best) - 1
    return embeddings.select(
        F.col(id_col).alias("vec_id"), cell.cast("int").alias("cell")
    )


def ivf_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    dim: int | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: corpus bucketed by nearest centroid; each
    query probes its ``n_probe`` closest cells and scores exact cosine only
    inside them — the k-means counterpart of the LSH path (task brief: "an
    IVF or LSH-bucketed variant as the scale path").

    At 10^12 rows the cell assignment is one narrow pass, cells are the
    partitioning key, and per-query cost drops to ~n_probe/n_cells of the
    corpus. Returned scores are exact cosines; approximation is confined to
    candidate generation, exactly like lsh_cosine_topk. Pass ``centroids=``
    from ``ivf_refine_centroids`` for Lloyd-refined (better-balanced) cells;
    this function itself stays pure plan construction either way.
    """
    dim = _require_dim(dim)
    cents = _centroids_lit(dim, n_cells, centroids)
    e_cells = ivf_assign(embeddings, dim, n_cells, centroids=centroids)
    e_base = embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    q_base = queries.select("query_id", F.col("qvec").cast("array<double>").alias("qvec"))

    # top-n_probe cells per query: rank centroid scores (desc, cell asc)
    q_cells = (
        q_base.select(
            "query_id",
            F.posexplode(_centroid_scores(cents, F.col("qvec"))).alias("cell", "cscore"),
        )
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cscore").desc(), F.col("cell").asc()
                )
            ),
        )
        .filter(F.col("crank") <= n_probe)
        .select("query_id", "cell")
    )
    candidates = (
        e_cells.join(F.broadcast(q_cells), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    scored = (
        candidates.join(e_base, "vec_id")
        .join(F.broadcast(q_base), "query_id")
        .select("query_id", "vec_id", _cosine(F.col("vec"), F.col("qvec")).alias("score"))
    )
    return per_query_topk(scored, k, id_col="vec_id")


def lsh_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Random-hyperplane LSH cosine top-k: L independent tables of b bits
    (OR-amplification) with a 1-bit multi-probe per table.

    A vector pair colliding in ANY table becomes a candidate; exact cosine is
    computed only for candidates (``dropDuplicates`` dedups cross-table
    collisions before scoring joins fan out). Same output shape as
    brute_cosine_topk; approximate in candidate generation only — returned
    scores are exact cosines.
    """
    dim = _require_dim(dim)

    e_base = embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    q_base = queries.select("query_id", F.col("qvec").cast("array<double>").alias("qvec"))

    e_all = _table_signatures(e_base, "vec_id", "vec", dim, n_planes, n_tables)
    # multi-probe: the query's own signature plus every 1-bit flip of it
    sig0 = F.col("sig")
    probes = F.array_union(
        F.array(sig0),
        F.transform(
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            lambda i: sig0.bitwiseXOR(F.pow(F.lit(2.0), i).cast("long")),
        ),
    )
    q_all = _table_signatures(q_base, "query_id", "qvec", dim, n_planes, n_tables).select(
        "query_id", "table", F.explode(probes).alias("sig")
    )

    candidates = (
        e_all.join(F.broadcast(q_all), ["table", "sig"])
        .select("query_id", "vec_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = (
        candidates.join(e_base, "vec_id")
        .join(F.broadcast(q_base), "query_id")
        .select("query_id", "vec_id", _cosine(F.col("vec"), F.col("qvec")).alias("score"))
    )
    return per_query_topk(scored, k, id_col="vec_id")
