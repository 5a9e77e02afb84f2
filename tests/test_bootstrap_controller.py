"""Fell-off-relay -> bootstrap -> resume-online handoff (T6), plus the
incremental puller (S1-S3) and relay chaining (S8)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from databus_spark.envelope import ORDERS_PAYLOAD, orders_changelog
from databus_spark.operators.compaction import snapshot as batch_snapshot
from databus_spark.sources.incremental import FileMaxSCNHandler, IncrementalPuller
from databus_spark.store.snapshot import ParquetSnapshotStore
from databus_spark.streaming.controller import BootstrapController, SCNNotFoundError
from databus_spark.streaming.source import changelog_stream, stage_changelog


def _rows(df, cols=("source", "key_str", "scn", *ORDERS_PAYLOAD)):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_fell_off_bootstrap_resume(spark, sf_dir, tmp_path):
    log = orders_changelog(spark, sf_dir)
    stage = str(tmp_path / "stage")
    stage_changelog(log, stage, n_chunks=6)

    # prune the two oldest chunks: the ring buffer overwrote them
    for chunk in ["chunk=00001", "chunk=00002"]:
        shutil.rmtree(f"{stage}/{chunk}")

    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"))
    ctl = BootstrapController(
        spark, log, stage, log.schema, store, sources=["orders"]
    )

    # consumer asks for scn 0 -> no longer retained
    with pytest.raises(SCNNotFoundError):
        ctl.check_availability(0)

    # one retention rule for the controller and the relay facade: a
    # checkpoint at min-1 needs only retained events, one at min-2 fell off
    from databus_spark.serve import RelayFacade

    min_scn = ctl.retained_min_scn()
    relay = RelayFacade(spark, log, retained_min_scn=min_scn)
    for check in (ctl.check_availability, lambda scn: relay.stream_windows(scn, 1)):
        with pytest.raises(SCNNotFoundError):
            check(min_scn - 2)
        check(min_scn - 1)

    applier = ctl.consume_from(0, str(tmp_path / "ckpt"))
    assert ctl.checkpoint.consumption_mode == "ONLINE_CONSUMPTION"

    # final state must be EXACT despite snapshot/stream overlap (idempotent MERGE)
    expected = batch_snapshot(log, key_cols=("source", "key_str"))
    got = store.read().where(F.col("opcode") != "DELETE")
    assert _rows(got) == _rows(expected)
    # bootstrap actually ran (snapshot+catchup phases advanced the ckpt);
    # the online phase then correctly applied nothing new (head == target)
    assert ctl.checkpoint.bootstrap_start_scn > 0
    assert applier.checkpoint.windowScn >= ctl.checkpoint.bootstrap_start_scn


def test_available_scn_streams_without_bootstrap(spark, sf_dir, tmp_path):
    log = orders_changelog(spark, sf_dir)
    stage = str(tmp_path / "stage")
    stage_changelog(log, stage, n_chunks=4)
    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"))
    ctl = BootstrapController(spark, log, stage, log.schema, store, sources=["orders"])

    min_scn = ctl.retained_min_scn()
    ctl.consume_from(min_scn - 1 if min_scn > 0 else 0, str(tmp_path / "ckpt"))
    assert ctl.checkpoint.bootstrap_since_scn == -1  # never bootstrapped


def test_catchup_replays_moving_head(spark, sf_dir, tmp_path):
    """T6: the head moves during the snapshot phase -> catchup replays a
    NON-empty (start, target] range and lands on the oracle state
    (BootstrapProcessor.java:214-273, TargetSCNRequestProcessor.java:47)."""
    from databus_spark.envelope import UPDATE_BASE

    log = orders_changelog(spark, sf_dir).localCheckpoint(eager=True)
    log_dir = str(tmp_path / "logdb")
    # bootstrap DB holds only the insert wave when the snapshot is cut
    log.where(F.col("scn") < UPDATE_BASE).write.mode("append").parquet(log_dir)

    stage = str(tmp_path / "stage")
    stage_changelog(log, stage, n_chunks=4)
    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"))
    ctl = BootstrapController(
        spark,
        lambda: spark.read.schema(log.schema).parquet(log_dir),  # live re-read
        stage,
        log.schema,
        store,
        sources=["orders"],
    )

    ctl.checkpoint.start_bootstrap(0, ["orders"])
    start_scn = ctl.snapshot_phase()
    assert start_scn < UPDATE_BASE
    assert ctl.checkpoint.consumption_mode == "BOOTSTRAP_CATCHUP"

    # the head moves while the consumer is mid-bootstrap: update+delete
    # waves land in the bootstrap DB before catchup starts
    log.where(F.col("scn") >= UPDATE_BASE).write.mode("append").parquet(log_dir)

    target_scn = ctl.catchup_phase(start_scn)
    assert ctl.checkpoint.consumption_mode == "ONLINE_CONSUMPTION"
    assert target_scn > start_scn
    # catchup replayed exactly the (start, target] range, counted by its merge
    replayed = log.where((F.col("scn") > start_scn) & (F.col("scn") <= target_scn)).count()
    assert ctl.last_catchup_rows == replayed > 0

    expected = batch_snapshot(log, key_cols=("source", "key_str"))
    assert _rows(store.read()) == _rows(expected)


def test_bootstrap_delivers_tombstones_for_stale_keys(spark, sf_dir, tmp_path):
    """Keys deleted between the consumer's checkpoint and start_scn are
    absent from the snapshot; bootstrap must merge DELETE tombstones for
    them or they survive forever (reference serves replacement state)."""
    from databus_spark.envelope import UPDATE_BASE

    log = orders_changelog(spark, sf_dir).localCheckpoint(eager=True)
    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"))
    # consumer state as of the insert wave: deleted-later keys still live
    store.merge(log.where(F.col("scn") < UPDATE_BASE))
    pre_keys = {r["key_str"] for r in store.read().select("key_str").collect()}

    stage = str(tmp_path / "stage")
    stage_changelog(log, stage, n_chunks=4)
    ctl = BootstrapController(spark, log, stage, log.schema, store, sources=["orders"])
    ctl.bootstrap(0)

    expected = batch_snapshot(log, key_cols=("source", "key_str"))
    assert _rows(store.read()) == _rows(expected)
    # the o_orderkey % 13 == 0 keys were deleted after the consumer's
    # checkpoint; they were in the pre-state and must be gone now
    post_keys = {r["key_str"] for r in store.read().select("key_str").collect()}
    removed = pre_keys - post_keys
    assert removed and all(int(k) % 13 == 0 for k in removed)


def test_empty_retention_window_raises_scn_not_found(spark, sf_dir, tmp_path):
    log = orders_changelog(spark, sf_dir)
    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"))
    ctl = BootstrapController(
        spark, log, str(tmp_path / "missing_stage"), log.schema, store, ["orders"]
    )
    with pytest.raises(SCNNotFoundError, match="empty"):
        ctl.check_availability(0)


def test_unreadable_chunk_raises_the_read_error_not_scn_not_found(spark, sf_dir, tmp_path):
    """A corrupt chunk is a fault to surface, not an empty window that
    sends the consumer into a full bootstrap."""
    log = orders_changelog(spark, sf_dir)
    chunk = tmp_path / "stage" / "chunk=00001"
    chunk.mkdir(parents=True)
    (chunk / "part-00000.parquet").write_bytes(b"not a parquet file")
    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"))
    ctl = BootstrapController(
        spark, log, str(tmp_path / "stage"), log.schema, store, ["orders"]
    )
    with pytest.raises(Exception) as raised:
        ctl.check_availability(0)
    assert not isinstance(raised.value, SCNNotFoundError)
    assert "parquet" in str(raised.value).lower()


def test_bootstrap_mode_invariant_raises_without_assert(spark, sf_dir, tmp_path):
    """With no sources the snapshot phase never reaches catchup; the
    invariant check raises under ``python -O`` too."""
    from databus_spark.streaming.checkpoint import InvalidCheckpointTransition

    log = orders_changelog(spark, sf_dir)
    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"))
    ctl = BootstrapController(spark, log, str(tmp_path / "stage"), log.schema, store, [])
    with pytest.raises(InvalidCheckpointTransition, match="catchup_phase"):
        ctl.bootstrap(0)


def test_checkpoint_rejects_illegal_transition():
    from databus_spark.streaming.checkpoint import (
        Checkpoint,
        InvalidCheckpointTransition,
    )

    ckpt = Checkpoint().start_bootstrap(5, ["orders"])
    with pytest.raises(InvalidCheckpointTransition):
        ckpt.on_window_end(10)  # online window end during BOOTSTRAP_SNAPSHOT
    with pytest.raises(InvalidCheckpointTransition):
        Checkpoint().advance_after_catchup_phase(10)  # catchup before snapshot


def test_incremental_puller_chunked_and_resumable(spark, sf_dir, tmp_path):
    log = orders_changelog(spark, sf_dir).localCheckpoint(eager=True)
    handler = FileMaxSCNHandler(str(tmp_path / "maxscn.json"))
    puller = IncrementalPuller(lambda: log, handler, max_scn_per_poll=1_000_000_000)

    seen = []
    cycles = puller.drain(lambda b: seen.append(b.count()))
    assert cycles >= 3  # inserts / updates / deletes waves are > 1e9 apart
    assert sum(seen) == log.count()
    assert handler.read() == log.agg(F.max("scn")).collect()[0][0]

    # caught up -> no further batches; new rows resume from the watermark
    assert puller.poll() is None

    # crash before commit -> re-poll replays the same batch (at-least-once)
    handler.write(0)
    b1 = puller.poll()
    n1 = b1.count()
    b2 = puller.poll()  # no commit in between
    assert b2.count() == n1


def test_relay_chaining_stream_of_stream(spark, sf_dir, tmp_path):
    """S8: a downstream relay consumes the upstream applier's output dir."""
    log = orders_changelog(spark, sf_dir)
    up_stage = str(tmp_path / "up")
    stage_changelog(log, up_stage, n_chunks=3)

    # upstream "relay": stream chunks, append them to a downstream dir
    down_dir = str(tmp_path / "down")

    def forward(batch, epoch_id):
        batch.write.mode("append").parquet(down_dir)

    q = (
        changelog_stream(spark, up_stage, log.schema)
        .writeStream.foreachBatch(forward)
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    # downstream consumer: snapshot of the forwarded stream == direct snapshot
    forwarded = spark.read.schema(log.schema).parquet(down_dir)
    assert _rows(batch_snapshot(forwarded, key_cols=("source", "key_str"))) == _rows(
        batch_snapshot(log, key_cols=("source", "key_str"))
    )


def test_mid_bootstrap_crash_resumes_without_rework(spark, sf_dir, tmp_path):
    """Kill the controller after the FIRST source's snapshot committed;
    a fresh controller on the same ckpt_path resumes mid-snapshot-phase:
    the completed source is NOT re-merged, start/target SCNs are the
    pinned ones, and the final store equals the full two-source oracle
    (BootstrapCheckpointHandler.java:90-276 restart keys)."""
    from databus_spark.envelope import customer_changelog
    from databus_spark.streaming.checkpoint import MODE_SNAPSHOT

    orders = orders_changelog(spark, sf_dir)
    customer = customer_changelog(spark, sf_dir)
    # envelope columns differ by payload; union on the shared envelope cols
    shared = [c for c in orders.columns if c in customer.columns]
    log = orders.select(*shared).unionByName(customer.select(*shared)).localCheckpoint(
        eager=True
    )

    stage = str(tmp_path / "stage")
    stage_changelog(log, stage, n_chunks=4)
    ckpt_path = str(tmp_path / "app_ckpt.json")
    sources = ["orders", "customer"]

    class _CrashAfterFirstMerge(ParquetSnapshotStore):
        def __init__(self, *a, **k):
            super().__init__(*a, **k)
            self.merges = 0

        def merge(self, batch):
            if self.merges >= 1:
                raise RuntimeError("simulated crash mid-bootstrap")
            out = super().merge(batch)
            self.merges += 1
            return out

    snap_dir = str(tmp_path / "snap")
    crashing = _CrashAfterFirstMerge(spark, snap_dir)
    ctl1 = BootstrapController(
        spark, log, stage, log.schema, crashing, sources=sources, ckpt_path=ckpt_path
    )
    with pytest.raises(RuntimeError):
        ctl1.bootstrap(0)
    # the crash happened after source[0]'s snapshot committed + persisted
    assert ctl1.checkpoint.consumption_mode == MODE_SNAPSHOT
    assert ctl1.checkpoint.bootstrap_snapshot_source_index == 1
    pinned_start = ctl1.checkpoint.bootstrap_start_scn
    assert pinned_start > 0

    class _CountingStore(ParquetSnapshotStore):
        def __init__(self, *a, **k):
            super().__init__(*a, **k)
            self.merged_sources = []

        def merge(self, batch):
            self.merged_sources.append(
                sorted(r["source"] for r in batch.select("source").distinct().collect())
            )
            return super().merge(batch)

    store2 = _CountingStore(spark, snap_dir)
    ctl2 = BootstrapController(
        spark, log, stage, log.schema, store2, sources=sources, ckpt_path=ckpt_path
    )
    # restored checkpoint is mid-bootstrap; resume, don't restart
    assert ctl2.checkpoint.consumption_mode == MODE_SNAPSHOT
    assert ctl2.checkpoint.bootstrap_snapshot_source_index == 1
    ctl2.bootstrap(0)

    # source[0] ('orders') was never re-snapshotted on resume: every
    # snapshot-phase merge batch involves only 'customer' (catchup batches
    # may involve either; snapshot batches come first)
    assert store2.merged_sources[0] == ["customer"]
    assert ["orders"] not in store2.merged_sources[:1]
    assert ctl2.checkpoint.consumption_mode == "ONLINE_CONSUMPTION"
    assert ctl2.checkpoint.bootstrap_start_scn == pinned_start

    # final state == oracle over both sources
    expected = batch_snapshot(log, key_cols=("source", "key_str"))
    got = store2.read().where(F.col("opcode") != "DELETE")
    cols = ("source", "key_str", "scn")
    assert _rows(got, cols) == _rows(expected, cols)
