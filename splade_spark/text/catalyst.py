"""Catalyst-native tokenization — the JVM fast path of the frozen analyzer.

The frozen analyzer spec (text/analyzer.py, FIXTURES.md §3) is
NFC → lower → tokenize ``[a-z0-9]+`` → stopword filter → (optional Porter2).
Everything except NFC-of-non-ASCII and Porter2 is expressible as built-in
Catalyst expressions, which keeps the token stream inside whole-stage codegen
— no Python object is ever created per token. This is the round-2 scaling
fix (VERDICT.md "Next round" #1): the round-1 pandas-UDF analyzer dominated
build cost with ~2.5× busy-core inflation at 16-way.

Division of labor:

* ``normalized_or_null_udf`` (text/udfs.py) — emits ``NFC(text).lower()``
  ONLY for rows containing non-ASCII (where Java and Python case/normal
  forms could diverge); ASCII rows — the overwhelming web-corpus majority —
  pass through as NULL and are lowered by Catalyst ``lower``. Exact parity
  with ``analyze_text`` for every input, Python cost only on the non-ASCII
  tail.
* ``nostem_tokens`` (here) — ``lower`` → ``regexp_extract_all`` →
  higher-order ``filter`` with an ``IN <stopword set>`` predicate (the
  optimizer compiles the 170-literal IN to an O(1) InSet hash probe).
* Porter2 stemming — NOT per token: applied once per DISTINCT term via a
  broadcast join against ``stem_map_from_terms`` (build/postings.py), since tf of
  stemmed terms is the same multiset whether stemming happens before or
  after counting.

Equivalence with the pandas analyzer is pinned by
tests/test_analyzer.py::TestCatalystParity over ASCII, accented, and
mixed-unicode inputs.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from splade_spark.text.stopwords_en import STOPWORDS_EN

_SW = sorted(STOPWORDS_EN)


def nostem_tokens(text_col: Column) -> Column:
    """string column (NFC'd or ASCII) → array<string> NOSTEM analyzer tokens.

    Input must be NFC-normalized-and-Python-lowered where non-ASCII (use
    ``F.coalesce(normalized_or_null_udf()(c), c)``); ``lower`` here is
    idempotent on that and handles the ASCII fast path.
    """
    # NULL text analyzes to no tokens (pandas analyzer parity), not NULL
    toks = F.regexp_extract_all(
        F.lower(F.coalesce(text_col, F.lit(""))), F.lit("[a-z0-9]+"), 0
    )
    return F.filter(toks, lambda t: ~t.isin(*_SW))
