"""The snapshot store's recorded per-version schema.

Every committed version's manifest (``_manifest_v<N>.json``) carries
the schema a parquet reader would infer for it. Reads build their frames from it, so the
serving path runs no schema-inference job, and merge() refuses a batch
whose columns differ from the state instead of folding it into a
narrower table.
"""

from __future__ import annotations

import datetime
import os

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from databus_spark.store.snapshot import ParquetSnapshotStore
from tests.conftest import count_jobs

_SCHEMA = (
    "source string, key_str string, scn long, opcode string, payload string, ts timestamp"
)


def _batch(spark, keys, scn0, tag):
    """One UPSERT per key; every 3rd payload and every 4th ts is null."""
    rows = [
        (
            "s",
            f"k{i}",
            scn0 + i,
            "UPSERT",
            None if i % 3 == 0 else f"{tag}{i}",
            None if i % 4 == 0 else datetime.datetime(2024, 1, 1, 0, i % 60, 0),
        )
        for i in keys
    ]
    return spark.createDataFrame(rows, _SCHEMA)


def _marker(store, version):
    return StructType.fromJson(store.vstate.manifest(version)["schema"])


def _has_deltas(store, version):
    return store._parquet_bytes(version) > store.vstate.manifest(version)["base_bytes"]


def _state(df):
    return sorted(tuple(r) for r in df.select("key_str", "scn", "payload", "ts").collect())


def test_marker_equals_inferred_schema_on_fold_append_and_optimize(spark, tmp_path):
    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"), n_buckets=4)
    store.merge(_batch(spark, range(200), 1, "a"))  # first version: a fold
    kinds = [_has_deltas(store, 1)]
    for scn0 in range(1000, 9000, 1000):  # append until the deltas fold
        v = store.merge(_batch(spark, range(200), scn0, f"b{scn0}")).version
        kinds.append(_has_deltas(store, v))
        if not kinds[-1]:
            break
    # a fold, at least one append, and a fold over the appended deltas
    assert kinds[0] is False and True in kinds and kinds[-1] is False, kinds
    v = store.optimize()
    for version in store.versions():
        assert _marker(store, version) == spark.read.parquet(store.vstate.dir(version)).schema
    want = _state(_batch(spark, range(200), scn0, f"b{scn0}"))
    assert _state(store.read()) == want
    assert _state(store.read_version(v)) == want


def test_merge_refuses_batches_whose_columns_differ(spark, tmp_path):
    """A batch with an extra column used to be appended and switch the
    read schema; a later batch without ``payload`` then folded the state
    through ``current.select(*batch.columns)`` and dropped ``payload``
    for every key. Both batches are refused now, naming the columns,
    and the state keeps its columns."""
    schema = "source string, key_str string, scn long, opcode string, payload string"
    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"), n_buckets=2)
    b1 = spark.createDataFrame(
        [("s", f"k{i}", i + 1, "UPSERT", f"p{i}") for i in range(200)], schema
    )
    b2 = spark.createDataFrame(
        [("s", f"k{i}", 1000 + i, "UPSERT", f"q{i}", i) for i in range(5)],
        schema + ", extra int",
    )
    b3 = spark.createDataFrame(
        [("s", f"k{i}", 2000 + i, "UPSERT") for i in range(3)],
        "source string, key_str string, scn long, opcode string",
    )
    assert store.merge(b1).version == 1
    with pytest.raises(ValueError, match="extra"):
        store.merge(b2)
    with pytest.raises(ValueError, match="payload"):
        store.merge(b3)
    with pytest.raises(ValueError, match="scn"):
        store.merge(b1.withColumn("scn", F.col("scn").cast("int")))
    assert store.versions() == [1]

    # column order and nullability do not count
    reordered = spark.createDataFrame(
        [("s", "k0", "UPSERT", "r0", 5000)],
        "source string, key_str string, opcode string, payload string, scn long not null",
    )
    assert store.merge(reordered).version == 2

    out = store.read()
    assert out.columns == ["source", "key_str", "scn", "opcode", "payload"]
    rows = out.collect()
    assert len(rows) == 200 and all(r["payload"] is not None for r in rows)
    assert out.where(F.col("key_str") == "k0").collect()[0]["payload"] == "r0"


def test_request_paths_run_no_probe_jobs(spark, tmp_path):
    """An 8-key lookup from a local keys frame (pandas or Arrow, planned
    as a LocalRelation) runs one Spark job, the scan: the keys collect
    without a job and filter the scan as literals. Building read() or
    read_version() on a version with a recorded schema runs none."""
    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"), n_buckets=4)
    store.merge(_batch(spark, range(200), 1, "a"))
    keys = [("s", f"k{i}") for i in range(0, 200, 25)]
    frames = {
        "pandas": spark.createDataFrame(pd.DataFrame(keys, columns=["source", "key_str"])),
        "arrow": spark.createDataFrame(
            pa.table({"source": [s for s, _ in keys], "key_str": [k for _, k in keys]})
        ),
    }
    for name, frame in frames.items():
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation"), plan
        for attempt in ("cold", "warm"):
            table, jobs, _ = count_jobs(
                spark, f"lookup-{name}-{attempt}", lambda f=frame: store.lookup(f).toArrow()
            )
            assert table.num_rows == 8
            assert jobs == 1, (name, attempt, jobs)
    assert count_jobs(spark, "read", store.read)[1] == 0
    assert count_jobs(spark, "read-version", lambda: store.read_version(1))[1] == 0


def test_empty_batch_on_a_fold_due_store_reads_no_state(spark, tmp_path):
    """A fold rewrites the whole state, so an empty batch that arrives
    when a fold is due must be found empty before the state is touched.
    The state's parquet files are zeroed in place first (same sizes, so
    the fold stays due): any read of them fails."""
    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"), n_buckets=4)
    store.merge(_batch(spark, range(200), 1, "a"))
    def fold_due(v):
        return store._parquet_bytes(v) >= 2 * store.vstate.manifest(v)["base_bytes"]

    for scn0 in range(1000, 9000, 1000):
        if fold_due(store.vstate.current()):
            break
        store.merge(_batch(spark, range(200), scn0, f"b{scn0}"))
    v = store.vstate.current()
    assert fold_due(v), "no fold due"
    for dirpath, _dirs, files in os.walk(store.vstate.dir(v)):
        for name in files:
            if name.endswith(".parquet"):
                path = os.path.join(dirpath, name)
                size = os.path.getsize(path)
                with open(path, "r+b") as f:
                    f.write(b"\0" * size)
    empty = _batch(spark, range(200), 1, "c").where(F.col("scn") < 0)
    res, jobs, _ = count_jobs(spark, "empty-fold-due", lambda: store.merge(empty))
    assert res == (v, 0, None)
    assert jobs <= 1, jobs
    assert store.vstate.current() == v
