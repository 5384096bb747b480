"""Analyzer — tokenize / normalize / stopword-filter / stem.

Frozen spec (FIXTURES.md §3), standing in for milvus-model's
``build_default_analyzer(language="en")`` used inside ``BM25SparseEmbedding``
(fit sites /root/reference/main.py:64, /root/reference/eval.py:105,
/root/reference/ingest.py:124):

    1. NFC normalize
    2. lowercase, tokenize on ``[a-z0-9]+``
    3. drop frozen English stopwords (stopwords_en.py)
    4. Porter2 stem (porter2.py) — skippable via AnalyzerConfig(stem=False)
       for the SQL-expressible oracle mode

The same pure function backs: the Spark pandas UDF (Arrow-batched, no per-row
Python at the Spark level), the single-process pandas oracle, and golden tests.
"""

from __future__ import annotations

import re
import unicodedata
from functools import lru_cache

import pandas as pd

from splade_spark.config import AnalyzerConfig
from splade_spark.text import porter2
from splade_spark.text.stopwords_en import STOPWORDS_EN

_TOKEN_RE = re.compile("[a-z0-9]+")


@lru_cache(maxsize=1 << 20)
def _stem_cached(tok: str) -> str:
    return porter2.stem(tok)


def analyze_text(text: str | None, cfg: AnalyzerConfig = AnalyzerConfig()) -> list[str]:
    """Analyze one string → token list. Pure, deterministic."""
    if not text:
        return []
    s = unicodedata.normalize("NFC", text).lower()
    toks = [t for t in _TOKEN_RE.findall(s) if t not in STOPWORDS_EN]
    if cfg.stem:
        toks = [_stem_cached(t) for t in toks]
    return toks


def analyze_series(texts: pd.Series, cfg: AnalyzerConfig = AnalyzerConfig()) -> pd.Series:
    """Vectorized (Arrow-batch) analyzer for pandas UDFs: Series[str] → Series[list[str]].

    Uses pandas vectorized string ops for normalize/lower and a cached stemmer
    so repeated tokens (Zipfian corpora) stem once per batch.
    """
    lowered = texts.fillna("").str.normalize("NFC").str.lower()
    sw = STOPWORDS_EN
    token_lists = lowered.str.findall(_TOKEN_RE).map(lambda ts: [t for t in ts if t not in sw])
    if cfg.stem:
        token_lists = token_lists.map(lambda ts: [_stem_cached(t) for t in ts])
    return token_lists
