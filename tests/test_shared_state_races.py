"""Concurrent writers of one shared state.

Every versioned state (the snapshot store, the sketch sinks, the
z-table) has one writer at a time: ``VersionedState.writer()`` holds a
flock on ``root/_LOCK`` from reading the current version to the commit,
and a second writer waits for it. The two single-file states, a
consumer's streaming checkpoint and the trail's SCN index, are each
replaced in one atomic rename, so racing writers leave one writer's
whole file, never a torn one. These tests race real writers on each:

* two processes merging into one snapshot store: every merge returns,
  the versions returned are distinct, and each batch's keys are all in
  the final read (unlocked, the writers committed over each other's
  versions, lost a committed batch and raised on the rest);
* two threads appending to one z-table;
* two processes saving one checkpoint file, and two processes writing
  one trail index, while this process reads the file throughout.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import threading
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BATCHES, KEYS = 6, 200

# each worker waits until every worker has checked in under <go>/, so
# their writes overlap however long each one took to start
_BARRIER = textwrap.dedent(
    """
    import os, time

    def barrier(go, name, n=2):
        open(os.path.join(go, name), "w").close()
        deadline = time.monotonic() + 300
        while len(os.listdir(go)) < n and time.monotonic() < deadline:
            time.sleep(0.01)
    """
)

_MERGE_WORKER = _BARRIER + textwrap.dedent(
    """
    import json, sys
    from databus_spark.session import build_session
    from databus_spark.store.snapshot import ParquetSnapshotStore

    root, name, out, n_batches, n_keys, go = sys.argv[1:7]
    spark = build_session(f"store_race_{name}", cpus=1)
    store = ParquetSnapshotStore(spark, root, n_buckets=4)
    batches = [
        spark.range(int(n_keys)).selectExpr(
            "'s' AS source",
            f"concat('{name}{b}-', id) AS key_str",
            f"CAST({b} * 1000 + id AS LONG) AS scn",
            "'UPSERT' AS opcode",
            "'p' AS payload",
        )
        for b in range(int(n_batches))
    ]
    barrier(go, name)
    results = []
    for b, batch in enumerate(batches):
        try:
            results.append({"batch": b, "version": store.merge(batch).version})
        except Exception as e:
            results.append({"batch": b, "error": f"{type(e).__name__}: {str(e)[:300]}"})
    with open(out, "w") as f:
        json.dump(results, f)
    spark.stop()
    """
)


def _run_racers(tmp_path, script, names, args, timeout_s, on_wait=None):
    """Start one ``python -c script`` per name with argv
    ``args(name) + [go]``, wait for all under one deadline (a deadlocked
    lock fails the test, it does not hang it); each must exit 0.
    ``on_wait`` runs repeatedly while any is alive."""
    go = tmp_path / "go"
    go.mkdir()
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_DRIVER_MEMORY="1g")
    procs = []
    for name in names:
        cwd = tmp_path / f"cwd_{name}"  # each process's derby.log / warehouse
        cwd.mkdir()
        procs.append(
            subprocess.Popen(
                [sys.executable, "-c", script, *args(name), str(go)],
                env=env,
                cwd=cwd,
                stdout=subprocess.PIPE,
                stderr=subprocess.STDOUT,
                text=True,
            )
        )
    deadline = time.monotonic() + timeout_s
    while on_wait is not None and any(p.poll() is None for p in procs):
        if time.monotonic() > deadline:
            break
        on_wait()
        time.sleep(0.002)
    for i, p in enumerate(procs):
        try:
            log, _ = p.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            for q in procs:
                q.kill()
            pytest.fail(f"process {names[i]} still running after {timeout_s} s (lock deadlock?)")
        assert p.returncode == 0, f"process {names[i]} rc={p.returncode}:\n{log[-3000:]}"


def test_two_processes_merge_into_one_store(spark, tmp_path):
    """Two local[1] processes each merge 6 batches of 200 new keys into
    one store root at once. No merge raises, the 12 merges return the
    versions 1..12 once each, and every batch's keys are in the final
    read."""
    from databus_spark.store.snapshot import ParquetSnapshotStore

    root = str(tmp_path / "snap")
    names = ["a", "b"]
    _run_racers(
        tmp_path,
        _MERGE_WORKER,
        names,
        lambda n: [root, n, str(tmp_path / f"{n}.json"), str(BATCHES), str(KEYS)],
        timeout_s=600,
    )
    results = {n: json.loads((tmp_path / f"{n}.json").read_text()) for n in names}
    errors = [
        f"{n} batch {r['batch']}: {r['error']}" for n in names for r in results[n] if "error" in r
    ]
    assert not errors, "\n".join(errors)
    versions = sorted(r["version"] for n in names for r in results[n])
    assert versions == list(range(1, 2 * BATCHES + 1)), versions

    final = ParquetSnapshotStore(spark, root).read().select("key_str").collect()
    final = {r.key_str for r in final}
    missing = {
        f"{n} batch {r['batch']} (v{r['version']})": KEYS - len(
            {f"{n}{r['batch']}-{i}" for i in range(KEYS)} & final
        )
        for n in names
        for r in results[n]
    }
    assert not any(missing.values()), missing
    assert len(final) == 2 * BATCHES * KEYS


def test_two_threads_append_to_one_zorder_table(spark, tmp_path):
    """Two threads of one process append to one z-table at once: the
    writer lock is a flock per open file, so threads exclude each other
    as processes do. Every append commits its own version and no row is
    lost or duplicated."""
    from databus_spark.operators.layout import ZorderTable

    def rows(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS row_id", "CAST(id % 31 AS LONG) AS x", "CAST(id % 17 AS LONG) AS y"
        )

    path = str(tmp_path / "zt")
    ZorderTable(spark, path, "x", "y", rows_per_file=300).write_initial(rows(0, 1000))
    errors = []

    def appender(t):
        table = ZorderTable(spark, path, "x", "y", rows_per_file=300)
        for b in range(3):
            lo = 1000 + (t * 3 + b) * 100
            try:
                table.append(rows(lo, lo + 100))
            except Exception as e:
                errors.append(f"thread {t} batch {b}: {type(e).__name__}: {e}")

    threads = [threading.Thread(target=appender, args=(t,)) for t in range(2)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads), "append deadlocked"
    assert not errors, errors
    t = ZorderTable(spark, path, "x", "y")
    assert t._version() == 7
    got = sorted(r.row_id for r in t.read().select("row_id").collect())
    assert got == list(range(1600))


def _read_while_racing(path, parse):
    """A reader's view during the race: each read of ``path`` must
    parse; returns the number of reads that did."""
    reads = [0]

    def read():
        with open(path) as f:
            parse(f.read())
        reads[0] += 1

    return reads, read


_CHECKPOINT_WORKER = _BARRIER + textwrap.dedent(
    """
    import sys
    from databus_spark.streaming.checkpoint import Checkpoint, FileCheckpointProvider

    path, name, n, go = sys.argv[1:5]
    provider = FileCheckpointProvider(path)
    barrier(go, name)
    base = 1_000_000 if name == "b" else 0
    for i in range(int(n)):
        provider.save(Checkpoint(windowScn=base + i, sources=[name] * 50))
    """
)


def test_two_processes_save_one_checkpoint(tmp_path):
    """Two processes save 300 checkpoints each to one file while this
    process reads it: every read parses, the final file is one writer's
    last checkpoint, and no temp file is left."""
    from databus_spark.streaming.checkpoint import Checkpoint, FileCheckpointProvider

    path = str(tmp_path / "ckpt.json")
    FileCheckpointProvider(path).save(Checkpoint(windowScn=-5))
    n = 300
    reads, read = _read_while_racing(path, Checkpoint.from_json)
    _run_racers(
        tmp_path, _CHECKPOINT_WORKER, ["a", "b"], lambda w: [path, w, str(n)], 120, read
    )
    assert reads[0] > 0
    final = FileCheckpointProvider(path).load()
    assert final.windowScn in (n - 1, 1_000_000 + n - 1), final
    assert final.sources == [("b" if final.windowScn > n else "a")] * 50
    assert sorted(os.listdir(tmp_path / "")) == ["ckpt.json", "cwd_a", "cwd_b", "go"]


_INDEX_WORKER = _BARRIER + textwrap.dedent(
    """
    import json, sys
    from databus_spark.sources.cdc_datasource import _write_index

    trail_dir, name, index, n, go = sys.argv[1:6]
    idx = json.loads(index)
    barrier(go, name)
    for _ in range(int(n)):
        _write_index(trail_dir, idx)
    """
)


def test_two_processes_write_one_trail_index(tmp_path):
    """Two processes rewrite one trail's SCN index while this process
    reads it. Each holds a different partial view, so whichever rename
    lands last drops the other's entry: a lost entry is allowed, since
    ``_select_files`` scans a file with no entry rather than prune it.
    What may not happen is a torn index: every read parses, and the
    final file is one writer's whole index, under which an SCN-range
    file selection still finds every transaction of the range."""
    from databus_spark.sources.cdc_datasource import (
        INDEX_NAME,
        BinlogWriter,
        _read_index,
        _scan_txns,
        _select_files,
        _trail_files,
    )

    trail = str(tmp_path / "trail")
    w = BinlogWriter(trail, max_txns_per_file=10)
    for scn in range(100, 140):
        w.append_txn(scn, scn * 1000, [{"op": "u", "k": scn}])
    full = _read_index(trail)
    files = _trail_files(trail)
    assert len(files) == 4 and set(full) == set(files)
    # a's view lacks the second file's entry, b's the third's
    views = {
        "a": {k: v for k, v in full.items() if k != files[1]},
        "b": {k: v for k, v in full.items() if k != files[2]},
    }
    index_path = os.path.join(trail, INDEX_NAME)
    reads, read = _read_while_racing(index_path, json.loads)
    _run_racers(
        tmp_path,
        _INDEX_WORKER,
        ["a", "b"],
        lambda n: [trail, n, json.dumps(views[n]), "300"],
        120,
        read,
    )
    assert reads[0] > 0
    with open(index_path) as f:
        assert json.load(f) in views.values()
    every = [t["scn"] for t in _scan_txns(trail)]
    for start, end in [(None, None), (109, 125), (115, 119), (125, 139)]:
        picked = [t["scn"] for t in _scan_txns(trail, _select_files(trail, start, end))]

        def in_range(scns, start=start, end=end):
            return [s for s in scns if (start is None or s > start) and (end is None or s <= end)]

        assert in_range(picked) == in_range(every), (start, end)
    assert not [e for e in os.listdir(trail) if e.endswith(".tmp")]
