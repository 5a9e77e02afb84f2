"""RANGE partition configs over string keys, against the DuckDB mirror.

KeyRangeFilter parses string keys as longs; a key that does not parse
never matches. Under ANSI casts a plain cast of such a key raises, so
compile_config must use the gated parse the range filter uses.
Whitespace-padded keys are left out: DuckDB's TRY_CAST trims them and
Java's parseLong does not.
"""

from __future__ import annotations

import duckdb

from databus_spark.plans.filterconfig import compile_config, oracle_predicate

_CONFIG = {
    "customer": {"partitionType": "RANGE", "size": 1000, "partitions": "[0,2-3]"},
    "orders": {"partitionType": "MOD", "numBuckets": 4, "buckets": "[1]"},
}

_ROWS = [
    # (source, key_num, key_str)
    ("customer", None, "Customer#1"),
    ("customer", None, "17"),
    ("customer", None, "1500"),
    ("customer", None, "2999"),
    ("customer", None, "-5"),
    ("customer", None, "+12"),
    ("customer", None, "1-2"),
    ("customer", None, "99999999999999999999"),
    ("customer", None, ""),
    ("customer", None, None),
    ("customer", 3500, None),
    ("customer", 250, "x"),
    ("orders", None, "Order#7"),
    ("orders", 5, None),
    ("nation", None, "Nation#1"),
]


def test_range_config_on_string_keys_matches_duckdb(spark):
    df = spark.createDataFrame(_ROWS, "source string, key_num long, key_str string")
    got = sorted(
        ((r.source, r.key_num, r.key_str) for r in df.where(compile_config(_CONFIG)).collect()),
        key=repr,
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (source VARCHAR, key_num BIGINT, key_str VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", _ROWS)
    want = sorted(
        con.execute(
            f"SELECT source, key_num, key_str FROM t WHERE {oracle_predicate(_CONFIG)}"
        ).fetchall(),
        key=repr,
    )
    assert got == want
    assert ("customer", None, "17") in got
    assert ("customer", None, "Customer#1") not in got
