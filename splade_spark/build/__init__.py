from splade_spark.build.chunker import chunk_pages, docs_from_chunks  # noqa: F401
from splade_spark.build.stats import build_dictionary, fit_corpus  # noqa: F401
from splade_spark.build.postings import term_freqs, term_rows, doc_impacts  # noqa: F401
