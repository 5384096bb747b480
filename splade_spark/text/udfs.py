"""Arrow-batched pandas UDF wrappers around the pure text functions.

All per-row compute in the engine goes through these (BASELINE.json
input_hint: "vectorized pandas/Arrow UDFs (no per-row Python) throughout").
Column math (tf/idf/impact) deliberately does NOT live here — it is plain
Catalyst Column expressions so whole-stage codegen keeps it JVM-side
(SURVEY.md §4). Tokenization itself is Catalyst too (text/catalyst.py);
the UDFs below cover only what Catalyst cannot express: HTML extraction,
NFC normalization of the non-ASCII tail, and Porter2 over the distinct-term
relation (recursive splitting runs inside the chunker, build/chunker.py).
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from splade_spark.config import AnalyzerConfig
from splade_spark.text.analyzer import analyze_series, _stem_cached
from splade_spark.text.extractor import extract_text_bytes


def extract_text_udf():
    """binary html → string text (scalar pandas UDF)."""

    @F.pandas_udf(StringType())
    def _extract(html: pd.Series) -> pd.Series:
        return html.map(extract_text_bytes)

    return _extract


def analyze_udf(cfg: AnalyzerConfig = AnalyzerConfig()):
    """string text → array<string> analyzed tokens (full pandas analyzer).

    Reference implementation for tests/small inputs (e.g. query encoding);
    the index-build hot path uses text/catalyst.py + stem_udf instead.
    """

    @F.pandas_udf(ArrayType(StringType()))
    def _analyze(text: pd.Series) -> pd.Series:
        return analyze_series(text, cfg)

    return _analyze


def normalize_text(t: str | None) -> str | None:
    """``NFC(t).lower()`` when t contains non-ASCII, else None (no-op marker).

    The frozen analyzer's NFC+lower can diverge from Catalyst ``lower`` only
    on non-ASCII input (e.g. U+0130 full case mapping), so ASCII rows skip
    Python entirely and are lowered JVM-side (text/catalyst.py).
    """
    if t is None or t.isascii():
        return None
    return unicodedata.normalize("NFC", t).lower()


def normalized_or_null_udf():
    """string text → NFC+lowered text for non-ASCII rows, NULL for ASCII rows.

    Compose with ``F.coalesce(norm, text)`` before Catalyst tokenization.
    """

    @F.pandas_udf(StringType())
    def _norm(text: pd.Series) -> pd.Series:
        return text.map(normalize_text)

    return _norm


def stem_udf():
    """string term → Porter2-stemmed term. Apply to the DISTINCT-term relation
    (build/postings.py stem_map_from_terms), never per token occurrence."""

    @F.pandas_udf(StringType())
    def _stem(terms: pd.Series) -> pd.Series:
        return terms.map(lambda t: _stem_cached(t) if t is not None else None)

    return _stem
