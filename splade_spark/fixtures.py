"""Frozen reference query set (FIXTURES.md §5).

Deterministically generated (seed=42) from the sf0.01 corpus vocabulary —
2-5-token queries, 5 queries with one OOV token, 2 fully-OOV queries (must
return zero hits per SURVEY.md §2.3 B9). Replaces the reference's
irreproducible LLM-generated testset.csv (/root/reference/dataset_test.py:71-91).

FROZEN: regenerating requires a documented spec change; the same literal list
is embedded in the DuckDB oracle SQL (__spark_entry__.py).
"""

import pyarrow as pa

FROZEN_QUERIES: list[tuple[int, str]] = [
    (0, 'a sort'),
    (1, 'dup dup column sort'),
    (2, 'slow sort'),
    (3, 'query key'),
    (4, 'a batch'),
    (5, 'dup order row'),
    (6, 'part data'),
    (7, 'dup line query fast stream'),
    (8, 'spark stream'),
    (9, 'small key group'),
    (10, 'column data window spark'),
    (11, 'big batch join big'),
    (12, 'the hash row fast'),
    (13, 'sort line'),
    (14, 'vector join'),
    (15, 'part filter'),
    (16, 'query data small batch'),
    (17, 'slow dup'),
    (18, 'batch the dup the'),
    (19, 'join fast'),
    (20, 'scan table hash customer hash'),
    (21, 'data slow fast small'),
    (22, 'row scan'),
    (23, 'part sort dup'),
    (24, 'line join fast'),
    (25, 'slow group table'),
    (26, 'dup table'),
    (27, 'stream group'),
    (28, 'fast batch data vector window'),
    (29, 'data scan merge join'),
    (30, 'column fast column dup sort'),
    (31, 'sort query key value'),
    (32, 'hash dup column order merge'),
    (33, 'spark agg'),
    (34, 'column scan'),
    (35, 'stream slow key'),
    (36, 'join join'),
    (37, 'order fast part the window'),
    (38, 'slow sort'),
    (39, 'slow value'),
    (40, 'spark scan group big'),
    (41, 'key customer line a'),
    (42, 'order spark customer order'),
    (43, 'zzoov43 the scan'),
    (44, 'spark zzoov44 hash'),
    (45, 'merge big group zzoov45 a'),
    (46, 'query zzoov46 value'),
    (47, 'batch spark merge table zzoov47'),
    (48, 'zzoovalpha zzoovbeta'),
    (49, 'qqunknown wwmissing xxabsent'),
]


def queries_df(spark):
    ids, texts = zip(*FROZEN_QUERIES)
    return spark.createDataFrame(
        pa.table({"query_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})
    )
