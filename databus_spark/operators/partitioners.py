"""Producer-side partition routing (SURVEY §2.11 producer UDFs).

Reference parity:
  PartitionFunction                             <- databus2-relay-impl/
      .../producers/PartitionFunction.java
  DbusHashPartitionRouter (key hash -> partition) <- core/DbusHashPartitionRouter.java

The hash router must agree with the consumer-side KeyModFilter so a
producer routing to partition p and a consumer subscribing to bucket p
see the same rows — hence the same bit-exact Java hashCode expression.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from databus_spark.operators.filters import KEY_HASH_COL, ROUTE_COL, key_mod_bucket


def hash_router(n_partitions: int) -> Column:
    """abs(numeric key | java hash of string key) % n — consistent with
    KeyModFilter bucketing, so routing and subscription compose."""
    return F.pmod(key_mod_bucket(), F.lit(n_partitions)).cast("int")


def with_key_hash(df, hash_col: str = KEY_HASH_COL):
    """Materialize the subscription hash itself — abs(numeric key |
    Java String.hashCode) — as an envelope column: the middle staging
    tier between an unstaged log and a routed layout.

    A routed layout (``with_route_partition``) freezes ONE bucket count
    at ingest and serves only subscriptions whose modulus divides it
    (by directory pruning — the fastest tier). The materialized hash
    serves ANY modulus as one stored-column pmod: no per-row re-hash at
    scan time, and when the key is consumed only by the subscription
    predicate, column pruning drops the key strings from the scan
    entirely. Cost: 8 bytes/row in the staged file. Reference parity:
    the relay also hashes once, event-entry-side
    (core/DbusHashPartitionRouter.java), never per subscription."""
    return df.withColumn(hash_col, key_mod_bucket())


def with_route_partition(df, n_buckets: int = 8, route_col: str = ROUTE_COL):
    """Materialize the producer's routed bucket as an envelope column.

    The reference computes the route ONCE, producer-side, when the event
    enters the buffer (DbusHashPartitionRouter); consumers then subscribe
    by bucket id without re-hashing. Materializing it here gives the same
    economics: the Java-hashCode fold is paid once at ingest, and every
    key-mod subscription downstream becomes a plain int predicate the
    parquet scan can prune on (see filters.key_mod_subscription)."""
    return df.withColumn(route_col, hash_router(n_buckets))
