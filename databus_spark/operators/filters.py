"""Server-side subscription filter algebra.

The reference evaluates ``DbusFilter.allow(event)`` during the buffer
scan, before any network write (reference: databus-core-impl/.../databus2/
core/filter/DbusFilter.java; applied at core/DbusEventBuffer.java:2536).
Here every filter is a Catalyst ``Column`` predicate, so Catalyst pushes
it into the parquet scan (PushedFilters) — the engine-native version of
"filter before the wire".

Filter parity map (file refs are the reference implementations):
  allow_all                  <- AllowAllDbusFilter.java
  source_filter              <- SourceDbusFilter.java (srcId set)
  physical_partition_filter  <- PhysicalPartitionDbusFilter.java (wildcard=None)
  key_range_filter           <- KeyRangeFilter.java:25-60 (min <= key < max)
  key_mod_filter             <- KeyModFilter.java:34-79; string keys hash via
                                bit-exact Java String.hashCode (:72-78)
  conjunction                <- ConjunctionDbusFilter.java
  FilterToSQL analog         <- Catalyst pushdown handles it (FilterToSQL.java:27-90)
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F

from databus_spark.functions.hashes import java_string_hashcode


def allow_all() -> Column:
    return F.lit(True)


def source_filter(source_ids: Iterable[int]) -> Column:
    return F.col("source_id").isin(list(source_ids))


def physical_partition_filter(part_ids: Iterable[int] | None) -> Column:
    """None = ALL_PARTITIONS_WILDCARD (PhysicalPartition.java wildcard)."""
    if part_ids is None:
        return F.lit(True)
    return F.col("part_id").isin(list(part_ids))


def _looks_numeric(c: Column) -> Column:
    """Cheap sign/digit char-map test gating the string->long cast.

    try_cast on a NON-numeric string is served by an internal exception
    per row (~0.5 us) — on a mostly-string-keyed log that was 5x the
    whole scan (measured: try_cast alone 0.59 s vs 0.11 s scan at sf0.1).
    A translate() char-map pass is ~free (0.10 s) and skips the cast for
    every string that cannot parse; only a malformed-but-digit-shaped
    string (e.g. "1-2", 19-digit overflow) still pays the exception, and
    its try_cast NULL falls through to the same branch the gate predicts.
    Bonus parity: Java's Long.parseLong does NOT trim, so gating also
    stops Spark's cast from accepting " 42" the reference would hash
    (KeyModFilter.java:60-76 / KeyRangeFilter.java:40-55 both parseLong).
    The <=19-length bound keeps every accepted literal within long range
    pre-overflow-check; longer digit strings throw in parseLong too.
    """
    return (
        (F.length(c) >= 1)
        & (F.length(c) <= 19)
        & (F.translate(c, "+-0123456789", "") == "")
    )


def _parsed_long_key() -> Column:
    """Key as long: key_num when set, else key_str parsed as long (or
    NULL), with the exception-free gate above.

    Mirrors KeyRangeFilter.java:40-55 — string keys are parsed as longs,
    non-numeric strings never match a range filter. Whitespace-padded
    keys are the one known divergence from the DuckDB oracles'
    TRY_CAST, which trims them: the gate rejects " 42" as Java's
    parseLong does, so no oracle-checked fixture carries padded keys.
    """
    s = F.col("key_str")
    return F.coalesce(
        F.col("key_num"), F.when(_looks_numeric(s), s.try_cast("long"))
    )


def key_range_filter(min_key: int, max_key: int) -> Column:
    """min <= key < max on the numeric key (KeyRangeFilter.java:25-60)."""
    k = _parsed_long_key()
    return k.isNotNull() & (k >= min_key) & (k < max_key)


def key_mod_bucket() -> Column:
    """The bucket expression of KeyModFilter: abs(numeric key) else
    abs(Java hashCode of the string key) — KeyModFilter.java:55-79.

    The reference first tries Long.parseLong on string keys and only
    hashes strings that don't parse (KeyModFilter.java:60-76), so a
    string-keyed source with numeric-string keys buckets by the parsed
    value — matched here via the gated parse before the hashCode
    fallback. Single-coalesce form: each sub-expression evaluates at
    most once per row, lazily left-to-right.
    """
    return F.abs(
        F.coalesce(
            _parsed_long_key(),
            java_string_hashcode(F.col("key_str")).cast("long"),
        )
    )


# the envelope columns a staged log may carry (partitioners.with_key_hash,
# partitioners.with_route_partition): the materialized key_mod_bucket()
# and the producer's routed bucket
KEY_HASH_COL = "key_hash"
ROUTE_COL = "route_partition"


def _bucket_range(
    b: Column, num_buckets: int, min_bucket: int, max_bucket: int
) -> Column:
    """min_bucket <= b < max_bucket for a bucket b in [0, num_buckets).

    Single-bound fast path: b is a pmod (or a routed bucket), never
    negative, so min_bucket <= 0 needs only one comparison — which
    matters for the per-row tier, where each comparison re-evaluates the
    string-key hash (no CSE across the two predicate branches)."""
    if min_bucket <= 0:
        return b < max_bucket
    if max_bucket >= num_buckets:
        return b >= min_bucket
    return (b >= min_bucket) & (b < max_bucket)


def key_mod_filter(num_buckets: int, min_bucket: int, max_bucket: int) -> Column:
    """min_bucket <= abs(key) % num_buckets < max_bucket (KeyModFilter.java:34-79).

    CONTRACT NOTE (string keys at scale): this per-row form is the
    compatibility FALLBACK, for logs that were staged without routing.
    Subscriptions should go through ``subscribe_key_mod``, which routes
    to the materialized layout when available and WARNS
    (UnroutedKeyModWarning) when it must fall back to this scan.
    The preferred scale path for string-keyed mod subscriptions is
    ``key_mod_subscription`` over a route-materialized layout
    (stage_changelog(..., route_buckets=N)): the Java-hashCode bucket is
    computed ONCE at ingest and becomes a partition directory, so the
    subscription is directory pruning (measured ~0.65x an unfiltered
    scan) AND skips even reading the key column. The fallback itself is
    now cheap: java_string_hashcode dispatches to the JVM's intrinsic
    String.hashCode via reflect (~1.3x an unfiltered scan at 2M rows,
    down from 3-4x for the per-codepoint Catalyst fold), so an unrouted
    scan is a usable path, not a trap — the warning remains because the
    routed layout still wins and prunes I/O. Bench reports the fallback
    as keymod_hash_overhead_ratio. Plan guard:
    tests/test_plans.py::test_key_mod_subscription_prunes_partitions.
    """
    b = F.pmod(key_mod_bucket(), F.lit(num_buckets))
    return _bucket_range(b, num_buckets, min_bucket, max_bucket)


def key_mod_filter_staged(num_buckets: int, min_bucket: int, max_bucket: int) -> Column:
    """``key_mod_filter`` over the MATERIALIZED hash column
    (partitioners.with_key_hash): identical bucket function, zero
    per-row hashing. Serves ANY modulus (unlike the routed layout,
    which needs ``num_buckets`` to divide the staged bucket count) —
    the middle subscription tier for string-keyed sources whose logs
    were staged with the hash column."""
    b = F.pmod(F.col(KEY_HASH_COL), F.lit(num_buckets))
    return _bucket_range(b, num_buckets, min_bucket, max_bucket)


def key_mod_subscription(
    num_buckets: int, min_bucket: int, max_bucket: int, route_buckets: int
) -> Column:
    """KeyModFilter over the MATERIALIZED route column — the scale path.

    When the producer routed events into ``route_buckets`` buckets at
    ingest (partitioners.with_route_partition), a consumer's key-mod
    subscription needs no per-row hash: for ``num_buckets ==
    route_buckets`` it is a direct range predicate on the route column
    (partition-prunable / parquet min-max skippable); for any
    ``num_buckets`` dividing ``route_buckets`` it is one int pmod.
    Equivalence: route = H % R and R % N == 0 imply H % N == route % N.
    """
    if route_buckets % num_buckets != 0:
        raise ValueError(
            f"num_buckets={num_buckets} must divide route_buckets={route_buckets} "
            "for a pushable subscription; re-subscribe via key_mod_filter instead"
        )
    b = F.col(ROUTE_COL)
    if num_buckets != route_buckets:
        b = F.pmod(b, F.lit(num_buckets))
    return _bucket_range(b, num_buckets, min_bucket, max_bucket)


class UnroutedKeyModWarning(UserWarning):
    """A key-mod subscription fell back to the per-row hash scan."""


class StagedHashMismatchWarning(UserWarning):
    """A column named like the staged key hash failed the sampled
    consistency probe against key_mod_bucket() and was NOT trusted."""


def subscribe_key_mod(
    df,
    num_buckets: int,
    min_bucket: int,
    max_bucket: int,
    route_buckets: int | None = None,
):
    """The ENFORCED key-mod subscription entry point (DataFrame-level).

    Three tiers, fastest available wins:
    1. the materialized route column (directory-pruned, ~0.65x an
       unfiltered scan) when the log was staged with routing and the
       subscription modulus divides the staged bucket count;
    2. the materialized hash column (partitioners.with_key_hash): one
       stored-column pmod, ANY modulus, no per-row re-hash. Guarded by
       a sampled consistency probe — presence of a column NAME is not
       evidence it holds the subscription hash;
    3. the per-row ``key_mod_filter`` scan, with UnroutedKeyModWarning —
       for string keys the fallback re-hashes every row at scan time,
       which is the cost this contract exists to surface.
    Reference semantics: KeyModFilter.java:34-79; routing equivalence
    as in ``key_mod_subscription``.
    """
    import warnings

    def _hash_tier_ok() -> bool:
        """Sampled consistency probe: the stored column against
        key_mod_bucket() on the first 64 rows (one bounded job, ~ms).
        Before it, the hash tier auto-activated on the COLUMN NAME
        alone, so an input carrying an unrelated ``key_hash`` column
        was silently filtered on it (r13 ADVICE). A sample cannot prove
        the whole column, but an unrelated or stale-geometry column
        disagrees immediately."""
        if KEY_HASH_COL not in df.columns:
            return False
        rows = (
            df.select((F.col(KEY_HASH_COL) == key_mod_bucket()).alias("_ok"))
            .limit(64)
            .collect()
        )
        if all(r["_ok"] for r in rows):
            return True
        warnings.warn(
            f"column '{KEY_HASH_COL}' failed the sampled consistency probe "
            "against key_mod_bucket() — it is not this subscription's "
            "staged hash; falling back to the per-row hash scan",
            StagedHashMismatchWarning,
            stacklevel=3,
        )
        return False

    if ROUTE_COL in df.columns and route_buckets is not None:
        if route_buckets % num_buckets == 0:
            return df.where(
                key_mod_subscription(num_buckets, min_bucket, max_bucket, route_buckets)
            )
        # incompatible modulus: the staged hash column (any-modulus
        # tier) still avoids the per-row re-hash if present and trusted
        if _hash_tier_ok():
            return df.where(key_mod_filter_staged(num_buckets, min_bucket, max_bucket))
        warnings.warn(
            f"num_buckets={num_buckets} does not divide route_buckets="
            f"{route_buckets} and no trusted staged '{KEY_HASH_COL}' column "
            "exists; key-mod subscription falls back to the per-row hash "
            "scan — restage with a compatible bucket count or with_key_hash",
            UnroutedKeyModWarning,
            stacklevel=2,
        )
    elif _hash_tier_ok():
        # middle tier: hash materialized at ingest (with_key_hash) —
        # one stored-column pmod, any modulus, no per-row re-hash
        return df.where(key_mod_filter_staged(num_buckets, min_bucket, max_bucket))
    else:
        warnings.warn(
            "key-mod subscription over an unrouted log falls back to a "
            "per-row Java-hashCode scan (string keys: ~1.3-4x an "
            "unfiltered scan); stage with stage_changelog(..., "
            "route_buckets=N) for the directory-pruned path, or "
            "with_key_hash for the any-modulus stored-hash path",
            UnroutedKeyModWarning,
            stacklevel=2,
        )
    return df.where(key_mod_filter(num_buckets, min_bucket, max_bucket))


def conjunction(*preds: Column) -> Column:
    out = F.lit(True)
    for p in preds:
        out = out & p
    return out


def disjunction(*preds: Column) -> Column:
    out = F.lit(False)
    for p in preds:
        out = out | p
    return out
