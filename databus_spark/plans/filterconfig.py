"""JSON subscription-filter config -> Catalyst predicate compiler.

The reference configures per-source key partition filters as JSON and
builds a DbusKeyCompositeFilter from it (reference: databus-core-impl/
.../databus2/core/filter/KeyFilterConfigJSONFactory.java,
KeyFilterConfigHolder.java:41-58 — partition types NONE | RANGE | MOD,
DbusKeyCompositeFilter.java). Example config (FIXTURES.md §4):

    {"orders":   {"partitionType": "MOD",   "numBuckets": 8, "buckets": "[0-3,5]"},
     "customer": {"partitionType": "RANGE", "size": 1000,    "partitions": "[0,2-3]"}}

Semantics mirrored exactly:
- MOD:   abs(key) % numBuckets in the listed bucket ranges; string keys
         bucket by Java String.hashCode (KeyModFilter.java:55-79).
- RANGE: key in [id*size, (id+1)*size) for each listed partition id
         (KeyRangeFilter.java:25-60); a string key that does not parse
         as a long never matches. The parse is key_range_filter's gated
         one, so it cannot fail under ANSI casts; whitespace-padded
         keys, which DuckDB's TRY_CAST trims and Java's parseLong
         rejects, are left out of the oracle's claim.
- Sources not present in the config are allowed (composite filter
  returns allow-all for unknown source ids).

``compile_config`` emits a single Column predicate; ``oracle_predicate``
emits the equivalent DuckDB WHERE clause so configs are oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from databus_spark.functions.hashes import java_hash_sql
from databus_spark.operators.filters import _parsed_long_key, disjunction, key_mod_bucket


def parse_ranges(spec: str) -> list[tuple[int, int]]:
    """'[0-3,5]' -> [(0, 4), (5, 6)] — half-open [lo, hi) ranges."""
    body = spec.strip().lstrip("[").rstrip("]")
    out: list[tuple[int, int]] = []
    for piece in body.split(","):
        piece = piece.strip()
        if not piece:
            continue
        if "-" in piece:
            lo, hi = piece.split("-")
            out.append((int(lo), int(hi) + 1))
        else:
            out.append((int(piece), int(piece) + 1))
    return out


def _range_pred(value: Column, ranges: list[tuple[int, int]]) -> Column:
    return disjunction(*[(value >= lo) & (value < hi) for lo, hi in ranges])


def compile_source_config(cfg: dict) -> Column:
    ptype = cfg["partitionType"].upper()
    if ptype == "NONE":
        return F.lit(True)
    if ptype == "MOD":
        bucket = F.pmod(key_mod_bucket(), F.lit(int(cfg["numBuckets"])))
        return _range_pred(bucket, parse_ranges(cfg["buckets"]))
    if ptype == "RANGE":
        size = int(cfg["size"])
        key = _parsed_long_key()
        scaled = [(lo * size, hi * size) for lo, hi in parse_ranges(cfg["partitions"])]
        return key.isNotNull() & _range_pred(key, scaled)
    raise ValueError(f"unknown partitionType {ptype!r}")


def compile_config(config: dict[str, dict]) -> Column:
    """Composite per-source predicate; unlisted sources pass."""
    pred = F.lit(True)
    listed = F.col("source").isin(list(config))
    per_source = F.lit(False)
    for source, cfg in config.items():
        per_source = per_source | ((F.col("source") == source) & compile_source_config(cfg))
    return (~listed) | per_source


# --- DuckDB oracle mirror ---------------------------------------------------

_MOD_BUCKET_SQL = (
    "(CASE WHEN key_num IS NOT NULL THEN abs(key_num) "
    "ELSE abs(CAST({jh} AS BIGINT)) END % {n})"
)


def _ranges_sql(value_sql: str, ranges: list[tuple[int, int]]) -> str:
    parts = [f"({value_sql} >= {lo} AND {value_sql} < {hi})" for lo, hi in ranges]
    return "(" + " OR ".join(parts) + ")"


def oracle_source_predicate(cfg: dict) -> str:
    ptype = cfg["partitionType"].upper()
    if ptype == "NONE":
        return "TRUE"
    if ptype == "MOD":
        bucket = _MOD_BUCKET_SQL.format(jh=java_hash_sql("key_str"), n=int(cfg["numBuckets"]))
        return _ranges_sql(bucket, parse_ranges(cfg["buckets"]))
    if ptype == "RANGE":
        size = int(cfg["size"])
        key = "coalesce(key_num, TRY_CAST(key_str AS BIGINT))"
        scaled = [(lo * size, hi * size) for lo, hi in parse_ranges(cfg["partitions"])]
        return f"({key} IS NOT NULL AND {_ranges_sql(key, scaled)})"
    raise ValueError(f"unknown partitionType {ptype!r}")


def oracle_predicate(config: dict[str, dict]) -> str:
    names = ", ".join(f"'{s}'" for s in config)
    per_source = " OR ".join(
        f"(source = '{s}' AND {oracle_source_predicate(cfg)})" for s, cfg in config.items()
    )
    return f"((source NOT IN ({names})) OR {per_source})"
