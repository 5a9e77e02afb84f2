"""Changelog compaction: latest-row-per-key, the heart of the bootstrap applier.

The reference maintains snapshot tables by replaying the change log with
``INSERT ... ON DUPLICATE KEY UPDATE`` — last writer (highest SCN) wins
per key (reference: databus-bootstrap-producer/.../BootstrapApplierThread.java:850;
intra-txn merge: databus2-relay-impl/.../producers/gg/DBUpdatesMergeUtils.java).

``latest_by_key`` is groupBy(key).agg(max_by(struct(*), scn)): partial
aggregation runs map-side (combiner), so at 100 TB the shuffle carries
one row per key per input partition, not the whole log. SCNs are unique
per key in this engine (event windows are totally ordered per
partition), so the latest row is well defined.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def latest_by_key(
    log: DataFrame, key_cols: Sequence[str] = ("source", "key_str"), order_col: str = "scn"
) -> DataFrame:
    """Latest event per key via max_by — map-side combinable."""
    others = [c for c in log.columns if c not in key_cols]
    packed = log.groupBy(*key_cols).agg(
        F.max_by(F.struct(*others), F.col(order_col)).alias("_latest")
    )
    return packed.select(*key_cols, *[F.col(f"_latest.{c}").alias(c) for c in others])


def snapshot(
    log: DataFrame,
    key_cols: Sequence[str] = ("source", "key_str"),
    payload_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Reconstruct the current table state from a change log.

    Latest event per key, tombstones (DELETE) removed — exactly what the
    reference's applier leaves in ``tab_<srcid>``.
    """
    latest = latest_by_key(log, key_cols)
    live = latest.where(F.col("opcode") != "DELETE")
    if payload_cols is not None:
        live = live.select(*key_cols, "scn", *payload_cols)
    return live


def snapshot_diff(
    log: DataFrame,
    scn_a: int,
    scn_b: int,
    key_cols: Sequence[str] = ("source", "key_str"),
) -> DataFrame:
    """Per-key difference between the reconstructed states at two SCN
    cutoffs — the bootstrap-vs-relay consistency audit shape: what a
    consumer that bootstrapped at scn_a must replay to reach scn_b.

    INSERT = key live only at b; DELETE = live only at a (tombstoned in
    between); UPDATE = live at both with a newer winning scn at b.
    Unchanged keys are dropped. One plan: two latest-per-key compactions
    (each map-side combinable) + one full-outer join on the key — all
    three legs shuffle on the same key columns, so at scale the join
    reuses the aggregation partitioning (no extra exchange).
    """
    a = latest_by_key(log.where(F.col("scn") <= scn_a), key_cols).where(
        F.col("opcode") != "DELETE"
    )
    b = latest_by_key(log.where(F.col("scn") <= scn_b), key_cols).where(
        F.col("opcode") != "DELETE"
    )
    a_sel = a.select(*key_cols, F.col("scn").alias("scn_a"))
    b_sel = b.select(*key_cols, F.col("scn").alias("scn_b"))
    joined = a_sel.join(b_sel, list(key_cols), "full_outer")
    change = (
        F.when(F.col("scn_a").isNull(), F.lit("INSERT"))
        .when(F.col("scn_b").isNull(), F.lit("DELETE"))
        .when(F.col("scn_b") != F.col("scn_a"), F.lit("UPDATE"))
    )
    return (
        joined.withColumn("change_type", change)
        .where(F.col("change_type").isNotNull())
        .select(*key_cols, "change_type", "scn_a", "scn_b")
    )


def snapshot_diff_oracle_sql(
    changelog_sql: str,
    scn_a: int,
    scn_b: int,
    key_cols: Sequence[str] = ("source", "key_str"),
) -> str:
    keys = ", ".join(key_cols)
    state = """
        SELECT {keys}, scn FROM (
            SELECT {keys}, scn, opcode,
                   row_number() OVER (PARTITION BY {keys} ORDER BY scn DESC) AS _rn
            FROM ({log}) WHERE scn <= {cut}
        ) WHERE _rn = 1 AND opcode <> 'DELETE'
    """
    a = state.format(keys=keys, log=changelog_sql, cut=scn_a)
    b = state.format(keys=keys, log=changelog_sql, cut=scn_b)
    key_coalesce = ", ".join(f"COALESCE(a.{k}, b.{k}) AS {k}" for k in key_cols)
    on = " AND ".join(f"a.{k} = b.{k}" for k in key_cols)
    return f"""
        SELECT {key_coalesce},
               CASE WHEN a.scn IS NULL THEN 'INSERT'
                    WHEN b.scn IS NULL THEN 'DELETE'
                    WHEN b.scn <> a.scn THEN 'UPDATE' END AS change_type,
               a.scn AS scn_a, b.scn AS scn_b
        FROM ({a}) a FULL OUTER JOIN ({b}) b ON {on}
        WHERE (a.scn IS NULL OR b.scn IS NULL OR b.scn <> a.scn)
    """


def snapshot_oracle_sql(
    changelog_sql: str,
    key_cols: Sequence[str] = ("source", "key_str"),
    payload_cols: Sequence[str] | None = None,
) -> str:
    """DuckDB oracle for ``snapshot`` over a changelog CTE body."""
    keys = ", ".join(key_cols)
    cols = f"{keys}, scn" + ("" if payload_cols is None else ", " + ", ".join(payload_cols))
    return f"""
        SELECT {cols}
        FROM (
            SELECT *, row_number() OVER (PARTITION BY {keys} ORDER BY scn DESC) AS _rn
            FROM ({changelog_sql})
        )
        WHERE _rn = 1 AND opcode <> 'DELETE'
    """
