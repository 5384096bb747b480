"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__.py`` on Spark at sf0.01
and its ``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count, schema (column names sorted), column types, and an
order-insensitive value hash (rows rendered with columns sorted by name,
row-lines sorted, md5 of the blob) — the comparison shape the driver records
in CORRECTNESS_r{N}.json, plus types: the DuckDB side is fetched as arrow,
so a HUGEINT (arrow ``decimal128(38, 0)``) where Spark has a ``long`` fails
here even when every value renders the same. Exits 1 on any mismatch.

Usage: python scripts/oracle_check.py [entry ...]   (default: all)
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _hash_rows(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(_render(r[i]) for i in order) for r in rows
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def type_mismatches(spark_schema, arrow_schema) -> list[str]:
    """Columns whose DuckDB arrow type is not the arrow form of the Spark
    type (long↔int64, int↔int32, double↔float64, string↔string, …)."""
    from pyspark.sql.pandas.types import to_arrow_type

    want = {f.name: to_arrow_type(f.dataType) for f in spark_schema.fields}
    return [
        f"{f.name}: spark {want[f.name]} oracle {f.type}"
        for f in arrow_schema
        if f.name in want and not f.type.equals(want[f.name])
    ]


def _render(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def main() -> None:
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    only = set(sys.argv[1:])

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .appName("oracle_check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        rec = {"rows_match": None, "schema_match": None, "types_match": None, "hash_match": None}
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            if name not in oracles:
                print(f"{name:24s} rows-only: {len(s_rows)} rows")
                continue
            o = con.execute(oracles[name]).arrow()
            o_cols = o.column_names
            o_rows = [tuple(r.values()) for r in o.to_pylist()]
            rec["rows_match"] = len(s_rows) == len(o_rows)
            rec["schema_match"] = sorted(s_cols) == sorted(o_cols)
            bad_types = type_mismatches(sdf.schema, o.schema)
            rec["types_match"] = not bad_types
            rec["hash_match"] = (
                rec["schema_match"]
                and _hash_rows(s_cols, s_rows) == _hash_rows(o_cols, o_rows)
            )
            ok = all(rec.values())
            print(
                f"{name:24s} {'OK' if ok else 'FAIL'}  "
                f"spark={len(s_rows)} oracle={len(o_rows)} "
                f"schema={rec['schema_match']} types={rec['types_match']} "
                f"hash={rec['hash_match']}"
            )
            if not ok:
                failures.append(name)
                if not rec["schema_match"]:
                    print(f"  spark cols:  {sorted(s_cols)}")
                    print(f"  oracle cols: {sorted(o_cols)}")
                for m in bad_types:
                    print(f"  type {m}")
        except Exception as e:  # noqa: BLE001 — report and continue like the driver
            failures.append(name)
            print(f"{name:24s} ERR  {type(e).__name__}: {e}")
    print(json.dumps({"failures": failures}))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
