#!/usr/bin/env python
"""spark-submit entrypoint: the training-data curation pipeline over a
documents table — the ops a crawl→training-set flow runs between ingest and
index/train.

    spark-submit --py-files splade_spark.zip scripts/curate.py \\
        --input docs.parquet --output out_dir --ops stats,dedup \\
        [--budget-tokens N] [--seq-tokens S] [--source-cap N] \\
        [--mix src0=0.5,src1=0.5 --mix-total N] [--uniform-n N]

--input: parquet with at least (doc_id, text[, source]).
--ops (comma list, any order; each writes out_dir/<op>.parquet):
  stats    token_stats + quality_scores + repetition_stats + langid, joined
  dedup    exact duplicate groups (canonical_id per digest)
  neardup  MinHash near-dup pairs + connected-component clusters
  sample   the requested samplers (whichever of --budget-tokens,
           --source-cap, --mix/--mix-total, --uniform-n are given)
  pack     concat-and-chunk sequences (--seq-tokens, default 2048)
  vocab    KMV distinct-token estimates, global + per-source
  filter   Gopher keep/drop flags + the kept documents
  split    deterministic train/val/test assignment (98/1/1)
  decontaminate  training docs overlapping --eval-input (fingerprint join)

Prints one JSON line: rows written per output. Ops compose the same public
functions the driver entries check against DuckDB — this script is plumbing,
not new semantics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# importable both via spark-submit --py-files and as a plain local script
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OPS = ("stats", "dedup", "neardup", "sample", "pack", "vocab", "filter", "split",
       "decontaminate")


def main(argv: list[str] | None = None, spark=None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--ops", default="stats")
    ap.add_argument("--budget-tokens", type=int, default=None)
    ap.add_argument("--seq-tokens", type=int, default=2048)
    ap.add_argument("--source-cap", type=int, default=None)
    ap.add_argument("--mix", default=None,
                    help="comma list key=weight, e.g. web=0.6,code=0.4")
    ap.add_argument("--mix-total", type=int, default=None)
    ap.add_argument("--uniform-n", type=int, default=None)
    ap.add_argument("--eval-input", default=None,
                    help="eval-set parquet for the decontaminate op")
    ap.add_argument("--min-shared", type=int, default=2,
                    help="decontaminate: min shared fingerprints to report")
    args = ap.parse_args(argv)
    # validate everything before any Spark work: a bad call fails fast
    ops = [o.strip() for o in args.ops.split(",") if o.strip()]
    unknown = [o for o in ops if o not in OPS]
    if unknown:
        ap.error(f"unknown op(s) {unknown}; choose from {list(OPS)}")
    if (args.mix is None) != (args.mix_total is None):
        ap.error("--mix and --mix-total go together")
    if "decontaminate" in ops and args.eval_input is None:
        ap.error("--ops decontaminate requires --eval-input")
    weights = None
    if args.mix is not None:
        try:
            weights = {
                k: float(v) for k, v in (kv.split("=", 1) for kv in args.mix.split(","))
            }
        except ValueError:
            ap.error(f"--mix must be key=weight[,key=weight...], got {args.mix!r}")

    from pyspark.sql import Observation, SparkSession, functions as F

    owns_spark = spark is None
    if owns_spark:
        spark = SparkSession.builder.appName("splade-curate").getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(args.input)
    written: dict[str, int] = {}

    def _write(name: str, df) -> None:
        # the row count rides the write job as an observed aggregate
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(
            os.path.join(args.output, f"{name}.parquet")
        )
        written[name] = int(obs.get["n"])

    for op in ops:
        if op == "stats":
            from splade_spark.curation import (
                langid_heuristic, quality_scores, repetition_stats, token_stats,
            )

            joined = (
                token_stats(docs)
                .join(quality_scores(docs), "doc_id")
                .join(repetition_stats(docs), "doc_id")
                .join(langid_heuristic(docs), "doc_id")
            )
            _write("stats", joined)
        elif op == "dedup":
            from splade_spark.curation import exact_dups

            _write("dedup", exact_dups(docs))
        elif op == "neardup":
            from splade_spark.build.chunker import attach_tokens
            from splade_spark.curation import (
                minhash_near_dup_pairs, near_dup_clusters,
            )
            from splade_spark.text.udfs import normalized_or_null_udf

            # shingling consumes the frozen token stream: derive the norm
            # column first (non-ASCII rows only) so tokenization matches the
            # engine's analyzer exactly, then attach tokens
            toked = attach_tokens(
                docs.withColumn("norm", normalized_or_null_udf()(F.col("text")))
            )
            pairs = minhash_near_dup_pairs(toked, threshold=0.5)
            _write("neardup_pairs", pairs)
            _write("neardup_clusters", near_dup_clusters(toked.select("doc_id"), pairs))
        elif op == "sample":
            from splade_spark.curation import (
                capped_per_key_sample, mixture_sample, token_budget_sample,
                uniform_sample,
            )

            if args.budget_tokens is not None:
                _write("sample_budget", token_budget_sample(docs, args.budget_tokens))
            if args.source_cap is not None:
                _write("sample_capped", capped_per_key_sample(docs, cap=args.source_cap))
            if weights is not None:
                _write("sample_mix", mixture_sample(docs, weights, args.mix_total))
            if args.uniform_n is not None:
                _write("sample_uniform", uniform_sample(docs, args.uniform_n))
        elif op == "pack":
            from splade_spark.curation import pack_token_sequences

            _write("pack", pack_token_sequences(docs, args.seq_tokens))
        elif op == "vocab":
            from splade_spark.curation import (
                kmv_distinct_tokens, kmv_distinct_tokens_by_key,
            )

            _write("vocab_global", kmv_distinct_tokens(docs))
            if "source" in docs.columns:
                _write("vocab_by_source", kmv_distinct_tokens_by_key(docs))
        elif op == "filter":
            from splade_spark.curation import quality_filter

            qf = quality_filter(docs)
            _write("quality_filter", qf)
            _write(
                "kept_docs",
                docs.join(qf.filter(F.col("keep")).select("doc_id"), "doc_id"),
            )
        elif op == "split":
            from splade_spark.curation import split_assign

            _write("split", split_assign(docs))
        elif op == "decontaminate":
            from splade_spark.curation import decontamination_pairs

            evals = spark.read.parquet(args.eval_input)
            _write(
                "decontamination",
                decontamination_pairs(docs, evals, min_shared=args.min_shared),
            )

    print(json.dumps({"written": written}), flush=True)
    if owns_spark:
        spark.stop()
    return written


if __name__ == "__main__":
    main()
    sys.exit(0)
