"""curate.py CLI regression: every op wires to the public functions and
writes the expected outputs (the spark-submit smoke, in-process)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

from tests.conftest import SF_SMALL  # noqa: E402


def test_curate_all_ops(spark, tmp_path):
    import curate

    out = str(tmp_path / "out")
    written = curate.main(
        [
            "--input", f"{SF_SMALL}/documents.parquet",
            "--output", out,
            "--ops", "stats,dedup,sample,pack,vocab,filter,split,decontaminate",
            "--budget-tokens", "500",
            "--source-cap", "3",
            "--mix", "src0=0.5,src1=0.5",
            "--mix-total", "6",
            "--uniform-n", "10",
            "--seq-tokens", "64",
            "--eval-input", f"{SF_SMALL}/documents.parquet",
            "--min-shared", "16",
        ],
        spark=spark,
    )
    n_docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    assert written["stats"] == n_docs and written["dedup"] == n_docs
    assert written["sample_mix"] == 6 and written["sample_uniform"] == 10
    assert written["sample_budget"] > 0 and written["sample_capped"] > 0
    assert written["pack"] > 0 and written["vocab_global"] == 1
    assert written["quality_filter"] == n_docs and written["split"] == n_docs
    assert written["kept_docs"] <= n_docs
    assert written["vocab_by_source"] > 0
    # corpus decontaminated against itself: every doc matches at least itself
    assert written["decontamination"] >= n_docs
    # stats joins the four per-doc frames without row loss
    stats = spark.read.parquet(os.path.join(out, "stats.parquet"))
    assert {"word_tokens", "quality", "dup_line_frac", "lang_pred"} <= set(stats.columns)


@pytest.mark.parametrize("bad", [
    ["--ops", "stats,nosuchop"],
    ["--ops", "sample", "--mix", "src0=0.5"],
    ["--ops", "sample", "--mix-total", "6"],
    ["--ops", "sample", "--mix", "src0", "--mix-total", "6"],
    ["--ops", "decontaminate"],
])
def test_curate_rejects_bad_arguments_before_reading(spark, tmp_path, bad):
    """Bad op lists and argument pairings are usage errors raised before the
    input is read: the input path here does not exist."""
    import curate

    missing = str(tmp_path / "no_such_input.parquet")
    with pytest.raises(SystemExit) as exc:
        curate.main(["--input", missing, "--output", str(tmp_path / "out"), *bad], spark=spark)
    assert exc.value.code == 2
