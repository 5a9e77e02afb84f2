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
    all_rows = spark.read.parquet(store.vstate.dir(store.vstate.current()))
    n_tombstones = all_rows.where(F.col("opcode") == "DELETE").count()
    assert n_tombstones > 0

    horizon = 2_000_000_700  # part of the delete wave is now aged out
    store.optimize(tombstone_horizon_scn=horizon)
    after_all = spark.read.parquet(store.vstate.dir(store.vstate.current()))
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


def _killed_commit_kinds(spark, kind):
    """(make(root), two batches, apply(state, batch, batch_id),
    serve(state), plant(dir, clean twin)) for one versioned state.
    ``plant`` leaves in ``dir`` a parquet file whose rows would show in
    serve() if a version ever read them."""
    import glob
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from databus_spark.operators import joins
    from databus_spark.operators.dedup import dedup_clusters
    from databus_spark.store.snapshot import ParquetSnapshotStore
    from databus_spark.streaming.sketches import (
        StreamingDriftMonitor,
        StreamingEntityResolver,
        StreamingFrequencySketch,
    )

    def rows(df):
        return None if df is None else sorted(tuple(r) for r in df.collect())

    def copy_current(sub):
        # a copy of the twin's committed data: read twice, its rows double
        def plant(d, clean):
            src = os.path.join(clean.vstate.dir(clean.vstate.current()), sub)
            os.makedirs(os.path.join(d, sub))
            shutil.copy(
                sorted(glob.glob(f"{src}/*.parquet"))[0],
                os.path.join(d, sub, "part-killed.parquet"),
            )

        return plant

    if kind == "store":
        schema = "source string, key_str string, scn long, opcode string, payload string"
        batches = [
            spark.createDataFrame(
                [("s", f"k{i}", i + scn0, "UPSERT", tag) for i in range(50)], schema
            )
            for scn0, tag in ((1, "old"), (1000, "new"))
        ]

        def plant_store(d, _clean):
            # a key no batch carries: the store's compaction would hide a
            # duplicate of a batch row, never an extra key
            os.makedirs(f"{d}/_bucket=0")
            stray = {"source": ["s"], "key_str": ["stray"], "scn": [10**6]}
            stray |= {"opcode": ["UPSERT"], "payload": ["stray"]}
            pq.write_table(pa.table(stray), f"{d}/_bucket=0/part-killed.parquet")

        return (
            lambda root: ParquetSnapshotStore(spark, root, n_buckets=3),
            batches,
            lambda st, b, _i: st.merge(b),
            lambda st: rows(st.read()),
            plant_store,
        )
    docs = spark.createDataFrame(
        [
            (i, f"{w} streamed record {i % 4} padded to length", "en", "s", 40)
            for i, w in enumerate(["alpha", "beta", "gamma", "delta"] * 3)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    batches = [docs.where(f"doc_id % 2 = {i}") for i in (0, 1)]
    if kind == "frequency":
        return (
            lambda root: StreamingFrequencySketch(spark, root, "doc_id"),
            batches,
            lambda st, b, i: st.process_batch(b, i),
            lambda st: rows(st.sketch()),
            copy_current(""),
        )
    if kind == "drift":
        return (
            lambda root: StreamingDriftMonitor(spark, root, baseline_docs=docs),
            batches,
            lambda st, b, i: st.process_batch(b, i),
            lambda st: rows(st.counts()),
            copy_current(""),
        )
    base = docs.where("doc_id < 2")
    return (
        lambda root: StreamingEntityResolver(
            spark,
            root,
            base_blocks=joins.fuzzy_join_blocks(base),
            base_labels=dedup_clusters(joins.fuzzy_join_pairs(base)),
        ),
        [docs.where(f"doc_id >= 2 AND doc_id % 2 = {i}") for i in (0, 1)],
        lambda st, b, i: st.process_batch(b, i),
        lambda st: rows(st.labels()),
        copy_current("labels"),
    )


@pytest.mark.parametrize("kind", ["store", "frequency", "drift", "resolver"])
def test_merge_retry_ignores_files_of_a_killed_merge(spark, tmp_path, kind):
    """A commit killed before its _VERSION flip leaves an uncommitted
    v<N+1>/ holding files, an orphan _manifest_v<N+1>.json and a
    _VERSION.tmp. The state must keep serving v<N>, and the retry must
    commit v<N+1> afresh: files written next to the leftovers would
    surface as extra rows, and a read of the orphan manifest would skip
    the batch as a replay. Covers two commits in a row (for the store,
    the first is a fold and the second an append); a clean twin fed the
    same batches is the expected state."""
    import json
    import os

    make, batches, apply, serve, plant = _killed_commit_kinds(spark, kind)
    clean, planted = make(str(tmp_path / "clean")), make(str(tmp_path / "planted"))
    for batch_id, batch in enumerate(batches):
        apply(clean, batch, batch_id)
        n = planted.vstate.current()
        before = serve(planted)
        plant(planted.vstate.dir(n + 1), clean)
        with open(os.path.join(planted.root, f"_manifest_v{n + 1}.json"), "w") as f:
            json.dump({"batch_id": 99, "leaf_floor": 99}, f)
        with open(os.path.join(planted.root, "_VERSION.tmp"), "w") as f:
            f.write("99")

        assert planted.vstate.current() == n
        assert serve(planted) == before
        apply(planted, batch, batch_id)
        assert planted.vstate.current() == n + 1
        assert serve(planted) == serve(clean)
