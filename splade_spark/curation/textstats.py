"""Text analysis: token counting, quality scoring, heuristic language ID.

Pure Catalyst column expressions end-to-end (regexp/array built-ins) — no
Python in the hot path, everything SQL-replayable by the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from splade_spark.text.stopwords_en import STOPWORDS_EN

# token pattern shared with the analyzer (text/analyzer.py _TOKEN_RE, text/catalyst.py)
_WORD_RE = "[a-z0-9]+"
# BPE-ish: word pieces OR single non-space punctuation marks
_BPE_RE = "[a-z0-9]+|[^a-z0-9\\s]"

# small frozen stopword profiles for heuristic langid (top function words)
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "est", "que", "des", "une", "dans", "pour"],
    "es": ["el", "la", "los", "las", "es", "que", "y", "una", "por", "con"],
}


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """→ per-doc counting stats (all long/double columns).

    ws_tokens: whitespace-split count; word_tokens: regex word count;
    bpe_tokens: word pieces + punctuation marks (a cheap BPE proxy);
    distinct_words, mean_word_len, digit_chars, punct_chars.
    """
    lowered = F.lower(F.col(text_col))
    words = F.regexp_extract_all(lowered, F.lit(_WORD_RE), 0)
    return docs.select(
        "doc_id",
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        F.size(F.split(F.trim(F.col(text_col)), "\\s+")).cast("long").alias("ws_tokens"),
        F.size(words).cast("long").alias("word_tokens"),
        F.size(F.regexp_extract_all(lowered, F.lit(_BPE_RE), 0)).cast("long").alias("bpe_tokens"),
        F.size(F.array_distinct(words)).cast("long").alias("distinct_words"),
        (F.aggregate(words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w))
         / F.greatest(F.size(words), F.lit(1))).alias("mean_word_len"),
        F.length(F.regexp_replace(lowered, "[^0-9]", "")).cast("long").alias("digit_chars"),
        F.length(F.regexp_replace(lowered, "[a-z0-9\\s]", "")).cast("long").alias("punct_chars"),
    )


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """→ (doc_id, …ratios…, quality double in [0,1]).

    Heuristic web-text quality (Gopher/C4-style rules, re-expressed as a
    smooth score): penalize very short docs, high punctuation/digit density,
    low vocabulary diversity, and near-zero stopword share.
    """
    # IN <literal set> predicate, not array_contains over a 170-element
    # array literal (O(|words|·170) probes — VERDICT r3 next #8): the
    # optimizer compiles the IN to an O(1) InSet hash probe, same idiom as
    # text/catalyst.py nostem_tokens.
    stops = [w for w in sorted(STOPWORDS_EN) if "'" not in w]
    lowered = F.lower(F.col(text_col))
    words = F.regexp_extract_all(lowered, F.lit(_WORD_RE), 0)
    nw = F.greatest(F.size(words), F.lit(1)).cast("double")
    stop_ratio = F.size(F.filter(words, lambda w: w.isin(*stops))) / nw
    distinct_ratio = F.size(F.array_distinct(words)) / nw
    punct_ratio = F.length(F.regexp_replace(lowered, "[a-z0-9\\s]", "")) / F.greatest(
        F.length(F.col(text_col)), F.lit(1)
    ).cast("double")
    digit_ratio = F.length(F.regexp_replace(lowered, "[^0-9]", "")) / F.greatest(
        F.length(F.col(text_col)), F.lit(1)
    ).cast("double")
    length_term = F.least(F.size(words) / F.lit(100.0), F.lit(1.0))
    quality = (
        F.lit(0.3) * length_term
        + F.lit(0.2) * F.least(stop_ratio * 5, F.lit(1.0))
        + F.lit(0.3) * distinct_ratio
        + F.lit(0.2) * (F.lit(1.0) - F.least((punct_ratio + digit_ratio) * 2, F.lit(1.0)))
    )
    return docs.select(
        "doc_id",
        F.round(stop_ratio, 9).alias("stop_ratio"),
        F.round(distinct_ratio, 9).alias("distinct_ratio"),
        F.round(punct_ratio, 9).alias("punct_ratio"),
        F.round(digit_ratio, 9).alias("digit_ratio"),
        F.round(quality, 9).alias("quality"),
    )


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """→ per-doc repetition signals (the Gopher repetition rules, Rae et al.
    2021 Table A1 — the standard within-document quality filters a crawl
    pipeline applies before training):

      n_lines             non-empty (after trim) line count
      dup_line_frac       (n_lines − distinct lines) / n_lines
      dup_line_char_frac  chars in repeated line occurrences / line chars
      top_bigram          most frequent word 2-gram (ties → lexicographic min)
      top_bigram_count    its occurrence count (0 when < 2 words)
      top_bigram_frac     2·count / word_tokens — token share of the top 2-gram

    ZERO-shuffle per-doc map: line dedup is array_distinct, and the top
    2-gram comes from a max-run fold over the SORTED gram array (one linear
    pass; sorted order makes the tie-break the lexicographic min for free) —
    the same sorted-RLE idiom as build/postings.surface_term_counts, so no
    explode → groupBy round trip per doc. Intermediates are materialized as
    projected columns (never inlined into a HOF lambda — re-evaluation trap,
    CLAUDE.md).
    """
    lowered = F.lower(F.col(text_col))
    d = (
        docs.withColumn(
            "_lines",
            F.filter(
                F.transform(F.split(F.col(text_col), "\n"), lambda l: F.trim(l)),
                lambda l: F.length(l) > 0,
            ),
        )
        .withColumn("_dlines", F.array_distinct(F.col("_lines")))
        .withColumn("_words", F.regexp_extract_all(lowered, F.lit(_WORD_RE), 0))
    )
    d = d.withColumn(
        "_sgrams",
        F.when(
            F.size("_words") >= 2,
            F.sort_array(
                F.zip_with(
                    F.slice("_words", 1, F.size("_words") - 1),
                    F.slice("_words", 2, F.size("_words") - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    zero = F.lit(0).cast("long")
    acc0 = F.struct(
        F.lit("").alias("prev"), zero.alias("run"), zero.alias("best"),
        F.lit("").alias("bgram"),
    )

    def _step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        better = run > acc["best"]  # strict >: first (lexicographic-min) max wins
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, x).otherwise(acc["bgram"]).alias("bgram"),
        )

    d = d.withColumn("_top", F.aggregate("_sgrams", acc0, _step))
    line_chars = F.aggregate("_lines", zero, lambda a, l: a + F.length(l))
    dline_chars = F.aggregate("_dlines", zero, lambda a, l: a + F.length(l))
    n_lines = F.size("_lines").cast("long")
    nl1 = F.greatest(n_lines, F.lit(1)).cast("double")
    return d.select(
        "doc_id",
        n_lines.alias("n_lines"),
        F.round((n_lines - F.size("_dlines")) / nl1, 9).alias("dup_line_frac"),
        F.round(
            (line_chars - dline_chars)
            / F.greatest(line_chars, F.lit(1)).cast("double"),
            9,
        ).alias("dup_line_char_frac"),
        F.col("_top")["bgram"].alias("top_bigram"),
        F.col("_top")["best"].alias("top_bigram_count"),
        F.round(
            F.col("_top")["best"] * 2
            / F.greatest(F.size("_words"), F.lit(1)).cast("double"),
            9,
        ).alias("top_bigram_frac"),
    )


def gopher_rules(
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_stop_ratio: float = 0.02,
    max_symbol_ratio: float = 0.25,
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_top_bigram_frac: float = 0.20,
) -> dict[str, "F.Column"]:
    """The Gopher/C4-style keep rules as named boolean Columns over a frame
    carrying the per-doc stats (token_stats ⋈ quality_scores ⋈
    repetition_stats columns). This is the SCALE path: a 100 TB pipeline
    computes the stats once (curate.py's ``stats`` op persists exactly that
    join), then filtering is a plain predicate over the stats table — no
    recomputation, no extra pass. Thresholds default to the published
    Gopher Table-A1 values where our stats map directly; ``min_stop_ratio``
    replaces Gopher's "≥2 distinct stop words" with the ratio our
    quality_scores already computes.
    """
    symbol_ratio = (F.col("punct_chars") + F.col("digit_chars")) / F.greatest(
        F.col("n_chars"), F.lit(1)
    ).cast("double")
    return {
        "words_ok": F.col("word_tokens").between(min_words, max_words),
        "word_len_ok": F.col("mean_word_len").between(
            min_mean_word_len, max_mean_word_len
        ),
        "stop_ok": F.col("stop_ratio") >= min_stop_ratio,
        "symbol_ok": symbol_ratio <= max_symbol_ratio,
        "line_rep_ok": (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("dup_line_char_frac") <= max_dup_line_char_frac),
        "bigram_rep_ok": F.col("top_bigram_frac") <= max_top_bigram_frac,
    }


def quality_filter(docs: DataFrame, text_col: str = "text", **thresholds) -> DataFrame:
    """→ (doc_id, <rule flags…>, keep): the composed Gopher keep/drop
    decision. Convenience form: joins the three per-doc stat frames on
    doc_id and applies ``gopher_rules``. The joins are the gate-scale
    convenience — see ``gopher_rules`` for the persist-stats-once pattern a
    real pipeline uses instead.
    """
    stats = (
        token_stats(docs, text_col)
        .join(quality_scores(docs, text_col).select("doc_id", "stop_ratio"), "doc_id")
        .join(
            repetition_stats(docs, text_col).select(
                "doc_id", "dup_line_frac", "dup_line_char_frac", "top_bigram_frac"
            ),
            "doc_id",
        )
    )
    rules = gopher_rules(**thresholds)
    keep = None
    for col in rules.values():
        keep = col if keep is None else (keep & col)
    return stats.select(
        "doc_id",
        *[col.alias(name) for name, col in rules.items()],
        keep.alias("keep"),
    )


def langid_heuristic(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """→ (doc_id, lang_pred, lang_hits): argmax of profile-stopword hits.

    Ties (including zero hits everywhere) resolve to 'und' unless exactly one
    language leads. n-gram-free heuristic: function-word hit counts are the
    strongest cheap signal for European languages.
    """
    lowered = F.lower(F.col(text_col))
    words = F.regexp_extract_all(lowered, F.lit(_WORD_RE), 0)
    hit_cols = []
    for lang, profile in sorted(LANG_PROFILES.items()):
        arr = F.array(*[F.lit(w) for w in profile])
        hit_cols.append(
            F.struct(
                F.size(F.filter(words, lambda w: F.array_contains(arr, w))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    hits = F.array(*hit_cols)
    best = F.array_max(hits)  # struct compare: by hits, then lang desc? (hits, lang) lexicographic
    n_best = F.size(F.filter(hits, lambda s: s["hits"] == best["hits"]))
    return docs.select(
        "doc_id",
        F.when((best["hits"] > 0) & (n_best == 1), best["lang"]).otherwise(F.lit("und")).alias(
            "lang_pred"
        ),
        best["hits"].cast("long").alias("lang_hits"),
    )
