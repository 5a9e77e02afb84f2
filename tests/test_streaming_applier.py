"""End-to-end streaming: staged changelog -> micro-batches -> MERGE'd snapshot.

The golden flow of SURVEY §7 Phase 1: the streamed, incrementally-MERGEd
snapshot must equal the batch compaction oracle — and must still equal
it after a mid-stream restart (at-least-once replay + idempotent MERGE
= exactly-once state, reference T7/T8 semantics).
"""

from __future__ import annotations

import pytest

from databus_spark.envelope import ORDERS_PAYLOAD, orders_changelog
from databus_spark.operators.compaction import snapshot as batch_snapshot
from databus_spark.operators.filters import key_mod_filter
from databus_spark.store.snapshot import ParquetSnapshotStore
from databus_spark.streaming.applier import StreamingApplier
from databus_spark.streaming.checkpoint import MODE_ONLINE
from databus_spark.streaming.source import changelog_stream, stage_changelog


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture(scope="module")
def staged(spark, sf_dir, tmp_path_factory):
    stage = str(tmp_path_factory.mktemp("stage"))
    log = orders_changelog(spark, sf_dir)
    stage_changelog(log, stage, n_chunks=6)
    return stage, log.schema


def test_streamed_snapshot_equals_batch_compaction(spark, sf_dir, staged, tmp_path):
    stage, schema = staged
    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"), key_cols=("source", "key_str"))
    applier = StreamingApplier(store)
    stream = changelog_stream(spark, stage, schema)
    q = applier.run(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    assert applier.batches_applied >= 2, "expected multiple micro-batches"
    assert applier.checkpoint.consumption_mode == MODE_ONLINE
    assert applier.checkpoint.windowScn > 0

    expected = batch_snapshot(
        orders_changelog(spark, sf_dir), key_cols=("source", "key_str")
    )
    cols = ["source", "key_str", "scn", *ORDERS_PAYLOAD]
    assert _rows(store.read(), cols) == _rows(expected, cols)


def test_restart_resumes_and_converges(spark, sf_dir, staged, tmp_path):
    """Kill after the first micro-batch; a restarted query with the same
    checkpointLocation must drain the rest and converge to the oracle."""
    stage, schema = staged
    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"), key_cols=("source", "key_str"))
    ckpt = str(tmp_path / "ckpt")

    class OneBatchThenStop(StreamingApplier):
        def apply_batch(self, batch, epoch_id):
            super().apply_batch(batch, epoch_id)
            raise RuntimeError("injected failure after first batch")

    failing = OneBatchThenStop(store)
    q = failing.run(changelog_stream(spark, stage, schema), ckpt)
    with pytest.raises(Exception):
        q.awaitTermination(300)
        q.processAllAvailable()
    assert failing.batches_applied == 1

    # restart: same checkpoint dir -> resumes after (or replays) batch 1
    applier = StreamingApplier(store)
    q2 = applier.run(changelog_stream(spark, stage, schema), ckpt)
    q2.awaitTermination(300)

    expected = batch_snapshot(
        orders_changelog(spark, sf_dir), key_cols=("source", "key_str")
    )
    cols = ["source", "key_str", "scn", *ORDERS_PAYLOAD]
    assert _rows(store.read(), cols) == _rows(expected, cols)


def test_subscription_filter_before_sink(spark, sf_dir, staged, tmp_path):
    """Server-side filtering: only the subscribed mod-partition lands."""
    stage, schema = staged
    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"), key_cols=("source", "key_str"))
    applier = StreamingApplier(store, subscription=key_mod_filter(4, 0, 2))
    q = applier.run(changelog_stream(spark, stage, schema), str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    expected = batch_snapshot(
        orders_changelog(spark, sf_dir).where(key_mod_filter(4, 0, 2)),
        key_cols=("source", "key_str"),
    )
    cols = ["source", "key_str", "scn", *ORDERS_PAYLOAD]
    assert _rows(store.read(), cols) == _rows(expected, cols)


def test_merge_idempotent_replay(spark, sf_dir, tmp_path):
    """Replaying the same batch twice converges (T7 rollback/replay)."""
    log = orders_changelog(spark, sf_dir)
    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"), key_cols=("source", "key_str"))
    store.merge(log)
    once = _rows(store.read(), ["key_str", "scn"])
    store.merge(log)  # replay
    assert _rows(store.read(), ["key_str", "scn"]) == once


def test_checkpoint_json_roundtrip():
    from databus_spark.streaming.checkpoint import Checkpoint

    c = Checkpoint().on_window_end(4242, 1355190000000000000)
    c2 = Checkpoint.from_json(c.to_json())
    assert c2 == c
    c.start_bootstrap(4000, ["orders", "customer"])
    c.advance_after_snapshot_phase(4100)
    c.advance_after_snapshot_phase(4100)
    assert c.consumption_mode == "BOOTSTRAP_CATCHUP"
    c.advance_after_catchup_phase(4300)
    c.advance_after_catchup_phase(4300)
    assert c.consumption_mode == "ONLINE_CONSUMPTION"
    assert c.windowScn == 4300


def test_prune_staged_log_retention(spark, sf_dir, tmp_path):
    """BootstrapDBCleaner analog: chunks below the retention floor are
    dropped; remaining chunks still serve scn >= floor completely."""
    from databus_spark.store.snapshot import prune_staged_log

    log = orders_changelog(spark, sf_dir)
    stage = str(tmp_path / "stage")
    stage_changelog(log, stage, n_chunks=5)

    import glob

    from pyspark.sql import functions as F

    floor = 1_000_000_000  # keep updates+deletes, prune insert-only chunks
    pruned = prune_staged_log(stage, floor, spark)
    assert pruned, "expected at least one chunk pruned"
    remaining = spark.read.schema(log.schema).parquet(stage + "/chunk=*")
    kept = remaining.where(F.col("scn") >= floor).count()
    assert kept == log.where(F.col("scn") >= floor).count()


def test_store_optimize_purges_aged_tombstones(spark, sf_dir, tmp_path):
    """OPTIMIZE analog: tombstones at or below the all-consumers horizon
    are purged; live state identical; later replays of post-horizon
    batches still cannot resurrect post-horizon deletes."""
    from pyspark.sql import functions as F

    from databus_spark.store.snapshot import ParquetSnapshotStore

    log = orders_changelog(spark, sf_dir).localCheckpoint(eager=True)
    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"), n_buckets=4)
    store.merge(log)
    before_rows = _rows(store.read(), ["key_str", "scn"])
    v = store._version()
    all_rows = spark.read.parquet(store._data_dir(v))
    n_tombstones = all_rows.where(F.col("opcode") == "DELETE").count()
    assert n_tombstones > 0

    horizon = 2_000_000_700  # part of the delete wave is now aged out
    store.optimize(tombstone_horizon_scn=horizon)
    after_all = spark.read.parquet(store._data_dir(store._version()))
    aged = after_all.where((F.col("opcode") == "DELETE") & (F.col("scn") <= horizon))
    fresh = after_all.where((F.col("opcode") == "DELETE") & (F.col("scn") > horizon))
    assert aged.count() == 0
    assert fresh.count() > 0
    assert _rows(store.read(), ["key_str", "scn"]) == before_rows
    store.vacuum(keep_last=1)


def test_store_lookup_prunes_to_key_buckets(spark, sf_dir, tmp_path):
    """Point reads scan ONLY the requested keys' bucket dirs (the
    bootstrap-DB per-key serving path), and agree with a full-scan
    filter exactly."""
    from pyspark.sql import functions as F

    from databus_spark.store.snapshot import ParquetSnapshotStore

    log = orders_changelog(spark, sf_dir).localCheckpoint(eager=True)
    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"), n_buckets=8)
    store.merge(log)

    keys = store.read().select("source", "key_str").orderBy("key_str").limit(3)
    keys = keys.localCheckpoint(eager=True)
    got = store.lookup(keys)

    # correctness: identical to filtering the full read
    want = store.read().join(keys, ["source", "key_str"], "left_semi")
    assert sorted(_rows(got, ["key_str", "scn"])) == sorted(_rows(want, ["key_str", "scn"]))

    # pruning: only the keys' buckets appear in the scanned files
    want_buckets = {
        r["_bucket"]
        for r in keys.select(
            F.pmod(F.hash("source", "key_str"), F.lit(8)).alias("_bucket")
        ).collect()
    }
    scanned = {f for f in got.inputFiles()}
    scanned_buckets = {
        int(part.split("=", 1)[1])
        for f in scanned
        for part in f.split("/")
        if part.startswith("_bucket=")
    }
    assert scanned_buckets == want_buckets
    assert len(scanned_buckets) < 8  # actually pruned, not a full scan

    # optimize() keeps lookup working over the sorted rewrite
    store.optimize()
    after = store.lookup(keys)
    assert sorted(_rows(after, ["key_str", "scn"])) == sorted(_rows(want, ["key_str", "scn"]))


def test_store_time_travel_versions(spark, sf_dir, tmp_path):
    """Delta time-travel analog: every merge commits a readable version."""
    from pyspark.sql import functions as F

    from databus_spark.store.snapshot import ParquetSnapshotStore

    log = orders_changelog(spark, sf_dir).localCheckpoint(eager=True)
    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"))
    inserts = log.where(F.col("scn") < 1_000_000_000)
    store.merge(inserts)
    store.merge(log.where(F.col("scn") >= 1_000_000_000))

    assert store.versions() == [1, 2]
    v1 = store.read_version(1)
    assert _rows(v1, ["key_str", "scn"]) == _rows(
        batch_snapshot(inserts, key_cols=("source", "key_str")), ["key_str", "scn"]
    )
    assert _rows(store.read_version(2), ["key_str", "scn"]) == _rows(
        batch_snapshot(log, key_cols=("source", "key_str")), ["key_str", "scn"]
    )
    store.vacuum(keep_last=1)
    import pytest

    with pytest.raises(FileNotFoundError):
        store.read_version(1)


def test_merge_retry_ignores_files_of_a_killed_merge(spark, tmp_path):
    """A merge killed mid-write leaves files in the uncommitted v<N+1>;
    the retry must start that directory afresh, never write next to the
    leftovers (they would surface as duplicate rows). Covers the append
    path (v2 after a committed v1) and the fold path (the first merge)."""
    import glob
    import os
    import shutil

    from databus_spark.store.snapshot import ParquetSnapshotStore

    schema = "source string, key_str string, scn long, opcode string, payload string"
    old = spark.createDataFrame(
        [("s", f"k{i}", i + 1, "UPSERT", "old") for i in range(50)], schema
    )
    new = spark.createDataFrame(
        [("s", f"k{i}", i + 1000, "UPSERT", "new") for i in range(50)], schema
    )

    store = ParquetSnapshotStore(spark, str(tmp_path / "a"), n_buckets=3)
    store.merge(old)
    leftover = sorted(glob.glob(f"{store._data_dir(1)}/_bucket=0/*.parquet"))[0]
    os.makedirs(f"{store._data_dir(2)}/_bucket=0")
    shutil.copy(leftover, f"{store._data_dir(2)}/_bucket=0/part-killed.parquet")
    store.merge(new)
    got = store.read().select("key_str", "payload").collect()
    assert len(got) == 50 and {r["payload"] for r in got} == {"new"}

    fresh = ParquetSnapshotStore(spark, str(tmp_path / "b"), n_buckets=3)
    os.makedirs(f"{fresh._data_dir(1)}/_bucket=0")
    shutil.copy(leftover, f"{fresh._data_dir(1)}/_bucket=0/part-killed.parquet")
    fresh.merge(old)
    assert fresh.read().count() == 50
