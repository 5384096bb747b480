"""Three-way rank-identity: naive DataFrame path == block-max WAND path ==
pandas oracle (SURVEY.md §5 test 2), over a 1-segment index (one stream
group holds every block) and a 4-segment one."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from splade_spark.build.indexer import build_index_from_docs
from splade_spark.build.segments import pack_segment, with_segment_id
from splade_spark.config import DEFAULT, EngineConfig
from splade_spark.fixtures import FROZEN_QUERIES, queries_df
from splade_spark.oracle import PandasOracle
from splade_spark.query.encode import encode_text
from splade_spark.query.naive import topk_naive
from splade_spark.query.wand import topk_wand

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def setup(spark):
    rows = duckdb.sql(
        f"select doc_id, text from read_parquet('{SF}/documents.parquet') order by doc_id"
    ).fetchall()
    frames = build_index_from_docs(
        spark.createDataFrame(rows, ["doc_id", "text"]), DEFAULT
    )
    frames.postings.cache().count()
    oracle = PandasOracle(DEFAULT)
    for d, t in rows:
        oracle.add_doc(d, t)
    oracle.fit()
    return frames, oracle


def _collect(df):
    out = {}
    for r in df.orderBy("query_id", "rank").collect():
        out.setdefault(r["query_id"], []).append((r["doc_id"], round(r["score"], 6)))
    return out


@pytest.mark.parametrize("n_segments", [1, 4])
@pytest.mark.parametrize("block_size", [128, 7])
def test_three_way_rank_identity(spark, setup, n_segments, block_size):
    frames, oracle = setup
    cfg = EngineConfig(block_size=block_size)
    blocks = pack_segment(
        with_segment_id(frames.postings, n_segments), cfg
    ).cache()
    blocks.count()

    for k in (5, 3):
        naive = _collect(topk_naive(queries_df(spark), frames.postings, frames.dictionary, k=k))
        wand = _collect(topk_wand(queries_df(spark), blocks, frames.dictionary, k=k, cfg=cfg))
        for qid, text in FROZEN_QUERIES:
            want = [(d, round(s, 6)) for d, s in oracle.topk(text, k)]
            assert naive.get(qid, []) == want, f"naive q{qid}"
            assert wand.get(qid, []) == want, (
                f"wand q{qid} segs={n_segments} bs={block_size}: "
                f"{wand.get(qid, [])} != {want}"
            )
    blocks.unpersist()


def test_wand_negative_weight_terms_exact(spark, setup, monkeypatch):
    """Queries made of head terms must be exact on every numpy path. On a
    corpus whose head terms (df > N/2) have NEGATIVE weight, a query mixing
    in rare terms drives θ > ε: the kernel prunes and looks the negative
    terms up at the survivors only, on topk_wand (block-range skip) and
    LocalSearcher alike."""
    from splade_spark.query import kernel, wand
    from splade_spark.query.local import LocalSearcher

    def _all_paths(frames, oracle, qid, qtext, k=5):
        q = spark.createDataFrame([(qid, qtext)], ["query_id", "text"])
        blocks = pack_segment(frames.postings, DEFAULT)
        want = [(d, round(s, 6)) for d, s in oracle.topk(qtext, k)]
        assert _collect(topk_naive(q, frames.postings, frames.dictionary, k=k)).get(qid, []) == want
        assert _collect(topk_wand(q, blocks, frames.dictionary, k=k)).get(qid, []) == want
        local = LocalSearcher(frames.dictionary, frames.postings, DEFAULT).search(qtext, k)
        assert [(d, round(s, 6)) for d, s in local] == want
        return blocks, want

    frames, oracle = setup
    head_terms = [
        r.term
        for r in frames.dictionary.orderBy("term_id").limit(3).collect()
    ]
    _all_paths(frames, oracle, 100, " ".join(head_terms))

    # 8 head terms in all 40 docs, 10 rare terms in 2 docs each: the mean raw
    # idf is negative, so the epsilon floor gives the head terms idf < 0
    head = [f"h{i}" for i in range(8)]
    docs = [
        (i + 1, " ".join(head + ["h0"] * (i % 3) + ([f"r{i // 2}"] if i < 20 else [])))
        for i in range(40)
    ]
    neg_frames = build_index_from_docs(spark.createDataFrame(docs, ["doc_id", "text"]), DEFAULT)
    neg_frames.postings.cache().count()
    neg_oracle = PandasOracle(DEFAULT)
    for d, t in docs:
        neg_oracle.add_doc(d, t)
    neg_oracle.fit()
    idf = {r.term: r.idf for r in neg_frames.dictionary.collect()}
    assert all(idf[t] < 0 for t in head) and idf["r0"] > 0
    qtext = "r0 r1 r2 r3 r4 h0 h1 h1"
    blocks, want = _all_paths(neg_frames, neg_oracle, 101, qtext)

    # the prune branch ran: negative terms were decoded at survivors only.
    # Observed in-process, through the WAND stream's per-group scorer over
    # the one segment's block rows.
    pruned = []
    for cls in (kernel.TermList, wand._TermBlocks):
        def _spy(self, within=None, _orig=cls.decode, _name=cls.__name__):
            if within is not None:
                pruned.append(_name)
            return _orig(self, within)

        monkeypatch.setattr(cls, "decode", _spy)
    LocalSearcher(neg_frames.dictionary, neg_frames.postings, DEFAULT).search(qtext, 5)
    vocab = {r.term: (r.term_id, r.idf) for r in neg_frames.dictionary.collect()}
    weights = encode_text(qtext, vocab, DEFAULT.analyzer)
    rows = blocks.filter(F.col("term_id").isin(list(weights))).toPandas()
    rows = rows.sort_values(["term_id", "block_id"], ignore_index=True)
    cols = {c: rows[c].to_numpy() for c in rows.columns}
    qids, got_docs, got_scores = wand._score_group(cols, 0, len(rows), {101: weights}, 5)
    assert set(qids.tolist()) == {101}
    assert [(int(d), round(float(s), 6)) for d, s in zip(got_docs, got_scores)] == want
    assert set(pruned) == {"TermList", "_TermBlocks"}
    neg_frames.postings.unpersist()


def test_wand_one_shape_plan(spark, setup, tmp_path):
    """topk_wand is one segment-keyed mapInPandas stream over a term_id-pushed
    block scan: no grouped pandas UDF, no explode (Generate) and no join. The
    benchmark-only forwards return the same rows."""
    from splade_spark.query.wand import topk_wand_auto, topk_wand_batch

    frames, _ = setup
    path = str(tmp_path / "blocks")
    pack_segment(with_segment_id(frames.postings, 4), DEFAULT).write.parquet(path)
    blocks = spark.read.parquet(path)  # the plan's only leaf is the scan
    got = topk_wand(queries_df(spark), blocks, frames.dictionary, k=5)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "In(term_id" in plan
    for absent in ("FlatMapGroupsInPandas", "Generate", "Join"):
        assert absent not in plan, absent
    for forward in (topk_wand_batch, topk_wand_auto):
        assert _collect(forward(queries_df(spark), blocks, frames.dictionary, k=5)) == _collect(got)
