"""Engine configuration — frozen constants from the reference's pinned deps.

BM25 parameters k1=1.5, b=0.75, epsilon=0.25 are the milvus-model 0.2.5
defaults used by the reference via langchain-milvus==0.1.4
(/root/reference/requirements.txt:78,91,140; fit sites /root/reference/main.py:64,
/root/reference/eval.py:105, /root/reference/ingest.py:124).

Chunking chunk_size=1000 / chunk_overlap=100 mirrors
RecursiveCharacterTextSplitter at /root/reference/ingest.py:90-91.

Top-k defaults: k=5 (/root/reference/main.py:26), k=3 (/root/reference/eval.py:34);
RRF k=60 (/root/reference/retrievers.py:135).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class AnalyzerConfig:
    """Frozen analyzer spec (FIXTURES.md §3).

    stem=True  → Porter2 (Snowball English), vendored pure-Python port.
    stem=False → tokenize+stopwords only; this mode is SQL-expressible and
                 used for the DuckDB oracle gate (no stemmer exists in the
                 sandboxed DuckDB — fts extension cannot be downloaded).
    """

    stem: bool = True


@dataclass(frozen=True)
class EngineConfig:
    # BM25 (milvus-model 0.2.5 defaults)
    k1: float = 1.5
    b: float = 0.75
    epsilon: float = 0.25

    # chunking (reference ingest.py:90-91)
    chunk_size: int = 1000
    chunk_overlap: int = 100

    # posting-block codec (FIXTURES.md §6)
    block_size: int = 128

    # segmenting: max chunk-docs per segment (bounds applyInPandas group memory)
    segment_max_docs: int = 50_000

    # query defaults
    top_k: int = 5
    rrf_k: int = 60

    analyzer: AnalyzerConfig = field(default_factory=AnalyzerConfig)

    def with_analyzer(self, **kw) -> "EngineConfig":
        from dataclasses import replace

        return replace(self, analyzer=AnalyzerConfig(**{**self.analyzer.__dict__, **kw}))


DEFAULT = EngineConfig()
# Oracle-gate config: no stemming (DuckDB-expressible), everything else identical.
NOSTEM = EngineConfig().with_analyzer(stem=False)
