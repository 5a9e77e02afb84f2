"""Envelope stream sources.

The reference ingests changes from DB pollers / binlog tails into relay
ring buffers and clients pull from them (SURVEY §2.1 S1-S12). Spark
replaces the transport entirely: a source is anything `readStream` can
tail. Two sources here:

* ``stage_changelog`` + ``changelog_stream`` — persist a deterministic
  changelog as a sequence of scn-ordered parquet files, then tail it as
  a file-source micro-batch stream (maxFilesPerTrigger=1 => one "event
  window group" per micro-batch). The analog of the relay buffer being
  drained in windowed chunks (DbusEventBuffer.streamEvents
  WINDOW_AT_TIME mode, core/DbusEventBuffer.java:2198-2201).

* ``rate_envelope_stream`` — synthetic deterministic-rate generator on
  the built-in rate source; the analog of DatabusEventRandomProducer
  (core/util/DatabusEventRandomProducer.java:46,173-210).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from databus_spark.envelope import ENVELOPE_COLS


def stage_changelog(
    log: DataFrame,
    stage_dir: str,
    n_chunks: int = 8,
    order_col: str = "scn",
    route_buckets: int | None = None,
    first_chunk: int = 1,
    part_dirs: bool = False,
    key_hash: bool = False,
) -> None:
    """TEST-FIXTURE / STAGING ONLY — not a production write path. Write a
    changelog as n_chunks scn-range files so a file stream replays it in
    SCN order, whole windows per chunk (never splitting a txn window
    across chunks — rows of one scn share one chunk).

    The global ntile window + per-chunk coalesce(1) below funnel through
    a single task — acceptable for staging test replays, a driver-width
    bottleneck at scale. The ntile form is used because chunk count and
    window-atomicity must be byte-deterministic for the replay tests.

    With ``route_buckets`` set, the producer's hash route is materialized
    and the layout becomes chunk=<i>/route_partition=<p>/ — key-mod
    subscriptions then prune whole directories at the scan (the relay's
    "filter before the wire", paid zero times instead of per-event).

    With ``part_dirs`` the physical partition becomes a directory level
    too (chunk=<i>/part_id=<k>/...), mirroring the reference's
    per-physical-partition buffers (DbusEventBufferMult) — a
    physical-partition subscription then also prunes at the scan."""
    if route_buckets is not None:
        from databus_spark.operators.partitioners import with_route_partition

        log = with_route_partition(log, route_buckets)
    if key_hash:
        # the any-modulus middle tier: the subscription hash stored as a
        # plain column (8 bytes/row), so downstream key-mod filters are
        # one stored-column pmod — see partitioners.with_key_hash
        from databus_spark.operators.partitioners import with_key_hash

        log = with_key_hash(log)
    chunked = log.withColumn("_chunk", F.ntile(n_chunks).over(Window.orderBy(order_col)))
    # ntile can split a txn window across chunks; snap each scn to its min chunk
    snap = F.min("_chunk").over(Window.partitionBy(order_col))
    chunked = chunked.withColumn("_chunk", snap)
    dirs = (["part_id"] if part_dirs else []) + (
        ["route_partition"] if route_buckets is not None else []
    )
    for i in range(1, n_chunks + 1):
        part = chunked.where(F.col("_chunk") == i).drop("_chunk")
        writer = part.coalesce(1).write.mode("overwrite")
        if dirs:
            writer = writer.partitionBy(*dirs)
        writer.parquet(os.path.join(stage_dir, f"chunk={first_chunk + i - 1:05d}"))


def changelog_stream(
    spark: SparkSession, stage_dir: str, schema, files_per_trigger: int = 1
) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(stage_dir + "/chunk=*")
    )


def rate_envelope_stream(
    spark: SparkSession, rows_per_second: int = 1000, n_keys: int = 1000
) -> DataFrame:
    """Deterministic synthetic envelope stream from the rate source.

    Key = value % n_keys, scn = value, ~5% DELETEs — same spirit as the
    reference's random producer but reproducible (pure functions of
    `value`, no RNG state).
    """
    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    v = F.col("value")
    return rate.select(
        v.alias("scn"),
        F.col("timestamp").alias("ts"),
        F.when(v % 20 == 19, "DELETE").otherwise("UPSERT").alias("opcode"),
        F.lit("synthetic").alias("source"),
        F.lit(99).alias("source_id"),
        (v % 4).cast("int").alias("part_id"),
        (v % n_keys).alias("key_num"),
        (v % n_keys).cast("string").alias("key_str"),
        F.lit(True).alias("txn_end"),
        (v * 7 % 1000).cast("double").alias("payload_value"),
    )


def envelope_schema_of(log: DataFrame):
    return log.schema


__all__ = [
    "stage_changelog",
    "changelog_stream",
    "rate_envelope_stream",
    "envelope_schema_of",
    "ENVELOPE_COLS",
]
