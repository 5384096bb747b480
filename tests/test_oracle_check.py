"""The local oracle gate compares result types, not only rendered values.

DuckDB 1.0 types a windowed ``sum`` over BIGINT as HUGEINT (arrow
``decimal128(38, 0)``); its values render exactly like Spark's longs, so
only the type comparison in ``scripts/oracle_check.py`` can see it.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

import __spark_entry__ as entry  # noqa: E402
from oracle_check import type_mismatches  # noqa: E402
from tests.conftest import SF_SMALL  # noqa: E402


def test_token_budget_sample_types_checked(spark):
    schema = entry.queries()["token_budget_sample"](spark, SF_SMALL).schema
    sql = entry.oracle_sql()["token_budget_sample"]
    uncast = sql.replace("CURRENT ROW))::BIGINT", "CURRENT ROW))")
    assert uncast != sql

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_SMALL}/documents.parquet')"
    )
    assert type_mismatches(schema, con.execute(sql).arrow().schema) == []
    bad = type_mismatches(schema, con.execute(uncast).arrow().schema)
    assert len(bad) == 1 and bad[0].startswith("cum_tokens:") and "decimal128(38, 0)" in bad[0]
