"""Versioned parquet snapshot store with MERGE (upsert) semantics.

The engine's analog of the reference's bootstrap snapshot tables
``tab_<srcid>`` maintained by ``insert ... on duplicate key update``
(reference: databus-bootstrap-producer/.../BootstrapApplierThread.java:850)
plus their log/applier separation and periodic compaction
(BootstrapDBCleaner.java).

No Delta/Iceberg jars ship in this image, so MERGE is implemented as
merge-on-read over hash-bucketed parquet, committed through the shared
versioned-state protocol (store/versions.py):

    root/
      _VERSION                   <- the committed version N
      _manifest_v<N>.json        <- {"base_bytes": parquet bytes of v<N>'s
                                     compacted base, "schema": its read
                                     schema as StructType JSON}
      v<N>/_bucket=<k>/*.parquet <- base + pending deltas, by key-hash bucket

A version is a compacted base (one row per key) plus the raw batches
appended since — the reference's ``tab_<srcid>`` + ``log_<srcid>``
split, and the delta-files-plus-snapshots state store of Structured
Streaming. merge(batch) hard-links every file of v<N> into v<N+1> and
appends the batch rows: one Spark job, no exchange, no state scan.
Reads resolve the latest row per key over base ∪ deltas. Once v<N>'s
pending delta bytes reach its base bytes, the next merge FOLDS instead:
it writes latest_by_key(v<N> ∪ batch) as v<N+1>'s new base. The rule
has no parameter: a read scans at most ~2x the base in bytes, and each
row is rewritten an amortized O(1) times. Each version's manifest
records its read schema, as Structured Streaming's state store does,
so no read re-derives it from the parquet footers (a Spark job per
read) and a batch whose columns differ from the state is refused
instead of folded into a narrower table. On a cluster this class is
swapped for a one-line ``DeltaTable.merge``; the interface is kept
identical to make that a drop-in (see ``DELTA_MERGE_SQL``).

Idempotence: merge() is last-writer-wins by (key, scn). Replaying a
micro-batch (T7/T8 at-least-once retry) converges to the same state,
which is what makes the streaming applier exactly-once end-to-end.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    IntegerType,
    MapType,
    StructField,
    StructType,
)

from databus_spark.operators.compaction import latest_by_key
from databus_spark.store.versions import VersionedState

# What this store becomes when Delta is on the classpath (kept for parity docs):
DELTA_MERGE_SQL = """
MERGE INTO snapshot s
USING batch b ON s.key_str = b.key_str AND s.source = b.source
WHEN MATCHED AND b.scn > s.scn AND b.opcode = 'DELETE' THEN DELETE
WHEN MATCHED AND b.scn > s.scn THEN UPDATE SET *
WHEN NOT MATCHED AND b.opcode <> 'DELETE' THEN INSERT *
"""

# to_json writes timestamps to the millisecond by default; a key must
# round-trip through from_json exactly, so write every microsecond
_EXACT_JSON = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


class MergeResult(NamedTuple):
    """What merge() committed, with the batch's row count and max SCN
    observed on the write itself. An empty batch commits nothing: its
    ``version`` is the unchanged current one and ``max_scn`` is None."""

    version: int
    rows: int
    max_scn: int | None


class ParquetSnapshotStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_cols: Sequence[str] = ("source", "key_str"),
        n_buckets: int = 16,
    ) -> None:
        self.spark = spark
        self.root = root
        self.key_cols = list(key_cols)
        self.n_buckets = n_buckets
        self.vstate = VersionedState(root)

    def _parquet_bytes(self, version: int) -> int:
        """Parquet bytes of a version (no Spark job). Checksums and
        ``_SUCCESS`` are left out: counting them would make a freshly
        folded version look as if it had pending deltas."""
        total = 0
        for dirpath, _dirs, files in os.walk(self.vstate.dir(version)):
            total += sum(
                os.path.getsize(os.path.join(dirpath, f))
                for f in files
                if f.endswith(".parquet")
            )
        return total

    def _scan(self, version: int, man: dict, paths: Sequence[str] = ()) -> DataFrame:
        """v<N>'s files (or the given bucket dirs of it) under the schema
        its manifest records: building the frame runs no Spark job."""
        reader = self.spark.read.schema(StructType.fromJson(man["schema"]))
        if not paths:
            return reader.parquet(self.vstate.dir(version))
        return reader.option("basePath", self.vstate.dir(version)).parquet(*paths)

    def _commit(self, version: int, base_bytes: int, schema: StructType) -> None:
        self.vstate.commit(version, {"base_bytes": base_bytes, "schema": schema.jsonValue()})

    def _bucket_col(self) -> F.Column:
        return F.pmod(F.hash(*self.key_cols), F.lit(self.n_buckets)).alias("_bucket")

    # -- reads ---------------------------------------------------------------
    def _live(self, df: DataFrame, version: int, man: dict) -> DataFrame:
        """Latest row per key, then tombstones filtered out. Tombstones
        are retained on disk so that a replayed/out-of-order older batch
        cannot resurrect a deleted key — same reason Delta retains
        deletion vectors. A version without pending deltas is already
        one row per key and skips the compaction."""
        if self._parquet_bytes(version) > man["base_bytes"]:
            df = latest_by_key(df, self.key_cols + ["_bucket"]).select(*df.columns)
        return df.where(F.col("opcode") != "DELETE").drop("_bucket")

    def read(self) -> DataFrame | None:
        """Live state of the current version. The frame is built under
        the version's recorded schema, so building it runs no Spark job."""
        v = self.vstate.current()
        if v == 0:
            return None
        man = self.vstate.manifest(v)
        return self._live(self._scan(v, man), v, man)

    def read_version(self, version: int) -> DataFrame:
        """Time travel: read any retained historical version (vacuum
        bounds retention) — the Delta VERSION AS OF analog, free because
        every version is an immutable directory of hard links."""
        if version not in self.versions():
            raise FileNotFoundError(f"version {version} not retained under {self.root}")
        man = self.vstate.manifest(version)
        return self._live(self._scan(version, man), version, man)

    def versions(self) -> list[int]:
        return self.vstate.versions()

    def lookup(self, keys: DataFrame) -> DataFrame | None:
        """Point/multi-key reads that touch ONLY the key's buckets — the
        serving path of the reference's bootstrap DB (per-key state to a
        catching-up consumer) without a full-table scan.

        One collect over the keys frame returns each key with its bucket
        id, computed with the SAME hash expression merge() buckets by.
        Only those _bucket=<k> directories are scanned, filtered by
        ``struct(*key_cols) IN (<the distinct keys>)`` with each key a
        literal of the manifest's key types; past
        ``spark.sql.optimizer.inSetConversionThreshold`` keys Catalyst
        turns the list into a hashed ``InSet``. The filter runs before
        the latest-per-key compaction, so pending deltas cost only the
        matched rows. Pruning happens at the bucket-directory level: a
        struct predicate is not pushed into the parquet scan, so every
        row group of a scanned bucket is read. At 16k buckets over
        100 TB a lookup reads ~1/16000th of the table regardless of
        table size.

        As in an equi-join, a key with a null component matches no row,
        and a key given twice returns its row once.

        One Spark job, the scan, for a local keys frame
        (``createDataFrame`` of a pandas frame or an Arrow table is a
        LocalRelation, which collects without a job); two for a
        distributed one (a list of rows is parallelized), whose collect
        is a job. The scan is built under the version's recorded schema,
        so building it runs none.
        """
        v = self.vstate.current()
        if v == 0:
            return None
        man = self.vstate.manifest(v)
        schema = StructType.fromJson(man["schema"])
        rows = (
            keys.dropna(subset=self.key_cols)
            .select(F.to_json(F.struct(*self.key_cols), _EXACT_JSON), self._bucket_col())
            .collect()
        )
        paths = [
            p
            for b in sorted({r[1] for r in rows})
            if os.path.isdir(p := os.path.join(self.vstate.dir(v), f"_bucket={b}"))
        ]
        if not paths:
            return self._scan(v, man).drop("_bucket").limit(0)
        # The key list is one SQL expression, built by one call: a Column
        # literal per key costs ~10 JVM round trips (23 s for 10k keys).
        # Each key crosses as its to_json text, hex-encoded so that no
        # character needs escaping, and from_json under the manifest's
        # key types makes it a typed literal when constant folding runs.
        key_type = StructType([schema[c] for c in self.key_cols]).simpleString()
        literals = ", ".join(
            f"from_json(CAST(X'{key.encode().hex()}' AS STRING), '{key_type}')"
            for key in sorted({r[0] for r in rows})
        )
        key = ", ".join(f"`{c}`" for c in self.key_cols)
        df = self._scan(v, man, paths).where(F.expr(f"struct({key}) IN ({literals})"))
        return self._live(df, v, man)

    # -- MERGE ----------------------------------------------------------------
    def merge(self, batch: DataFrame) -> MergeResult:
        """Upsert a changelog batch: latest (key, scn) wins, DELETE removes.

        Appends the batch to a hard-linked copy of the current version,
        or folds it into a new compacted base when the current version's
        pending delta bytes are at least its base bytes (and for the
        first version). Tombstones are KEPT (reads hide them) so replayed
        older upserts lose to them. The batch is evaluated once, by the
        write; its row count and max SCN ride that job. An empty batch
        commits no version.

        A batch must carry the state's columns with the same types (in
        any order, nullability aside); otherwise ValueError names the
        differing columns and nothing is written. Writers of one root
        run one at a time, under store/versions.py's writer lock.
        """
        # always (re)derive: an inherited _bucket column from another
        # schema or geometry would route rows into wrong buckets
        batch = batch.withColumn("_bucket", self._bucket_col())
        with self.vstate.writer() as (cur, new_dir):
            schema = man = None
            if cur > 0:
                man = self.vstate.manifest(cur)
                schema = StructType.fromJson(man["schema"])
                _check_columns(schema, batch.schema)
            fold = cur == 0 or self._parquet_bytes(cur) >= 2 * man["base_bytes"]
            # a fold scans and rewrites the whole state: make sure there is
            # a batch to fold first (one short job over the batch alone)
            if fold and cur > 0 and batch.isEmpty():
                return MergeResult(cur, 0, None)
            obs = Observation()
            if fold:
                out = self._fold(cur, man, batch, obs)
                schema = _read_schema(out.schema)
            else:
                for entry in os.listdir(self.vstate.dir(cur)):
                    if entry.startswith("_bucket="):
                        self._link_tree(
                            os.path.join(self.vstate.dir(cur), entry),
                            os.path.join(new_dir, entry),
                        )
                out = batch.observe(obs, *_batch_stats(F.lit(True)))
            out.write.mode("append").partitionBy("_bucket").parquet(new_dir)
            rows, max_scn = obs.get["rows"], obs.get["max_scn"]
            if rows == 0:
                shutil.rmtree(new_dir, ignore_errors=True)
                return MergeResult(cur, 0, None)
            base = self._parquet_bytes(cur + 1) if fold else man["base_bytes"]
            # an append keeps v<N>'s schema: the check made the batch match it
            self._commit(cur + 1, base, schema)
            return MergeResult(cur + 1, rows, max_scn)

    def _fold(self, cur, man, batch=None, obs=None, tombstone_horizon_scn=None) -> DataFrame:
        """The one fold, of merge and optimize: latest_by_key(v<cur> ∪
        batch), one partition per bucket. ``obs`` observes the batch's
        rows ABOVE the union (on a union leg it never fires), told apart
        by a marker column. Tombstones at or below the horizon are
        purged AFTER the compaction: purged first, a DELETE pending in a
        delta would vanish and resurrect the UPSERT beneath it."""
        frame = None
        if cur > 0:
            frame = self._scan(cur, man).withColumn("_in_batch", F.lit(False))
        if batch is not None:
            marked = batch.withColumn("_in_batch", F.lit(True))
            frame = marked if frame is None else frame.select(*marked.columns).unionByName(marked)
            frame = frame.observe(obs, *_batch_stats(F.col("_in_batch")))
        out = latest_by_key(frame.drop("_in_batch"), self.key_cols + ["_bucket"])
        if tombstone_horizon_scn is not None:
            out = out.where(
                ~((F.col("opcode") == "DELETE") & (F.col("scn") <= tombstone_horizon_scn))
            )
        return out.repartition(self.n_buckets, "_bucket")

    @staticmethod
    def _link_tree(src: str, dst: str) -> None:
        os.makedirs(dst, exist_ok=True)
        for name in os.listdir(src):
            s, d = os.path.join(src, name), os.path.join(dst, name)
            if os.path.isdir(s):
                ParquetSnapshotStore._link_tree(s, d)
            else:
                try:
                    os.link(s, d)
                except OSError:
                    shutil.copy2(s, d)

    def optimize(self, tombstone_horizon_scn: int | None = None) -> int:
        """Compaction maintenance (the Delta OPTIMIZE + tombstone-retention
        analog): merge's fold of the current version, with no batch.
        DELETE markers are retained so replayed older batches cannot
        resurrect keys (see _live()). Once every consumer checkpoint has
        passed `tombstone_horizon_scn`, markers at or below it can never
        be contradicted and are purged. Returns the new version."""
        with self.vstate.writer() as (cur, new_dir):
            if cur == 0:
                return 0
            man = self.vstate.manifest(cur)
            out = self._fold(cur, man, tombstone_horizon_scn=tombstone_horizon_scn)
            out.write.mode("append").partitionBy("_bucket").parquet(new_dir)
            self._commit(cur + 1, self._parquet_bytes(cur + 1), _read_schema(out.schema))
            return cur + 1

    def vacuum(self, keep_last: int = 2) -> None:
        """Drop superseded versions (the BootstrapDBCleaner analog)."""
        self.vstate.vacuum(keep_last)


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every nested field, element and value nullable, as
    Spark's file reader returns it (Scala's ``DataType.asNullable``)."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _read_schema(written: StructType) -> StructType:
    """The schema ``spark.read.parquet`` infers for a version written
    from a frame of schema ``written`` with ``partitionBy("_bucket")``:
    the data columns nullable, then ``_bucket`` as a partition integer."""
    data = _nullable(StructType([f for f in written.fields if f.name != "_bucket"]))
    return StructType([*data.fields, StructField("_bucket", IntegerType(), True)])


def _check_columns(state: StructType, batch: StructType) -> None:
    """Refuse a batch whose columns differ from the state's by name or
    data type. Order, nullability and ``_bucket`` are ignored: the
    bootstrap controller's snapshot batches put ``opcode`` last."""

    def types(schema: StructType) -> dict[str, str]:
        # simpleString leaves nested nullability out too
        return {f.name: f.dataType.simpleString() for f in schema.fields if f.name != "_bucket"}

    have, got = types(state), types(batch)
    differ = sorted(n for n in have.keys() | got.keys() if have.get(n) != got.get(n))
    if differ:
        detail = ", ".join(
            f"{n} (store {have.get(n, 'absent')}, batch {got.get(n, 'absent')})" for n in differ
        )
        raise ValueError(f"batch columns differ from the store's: {detail}")


def _batch_stats(in_batch: Column) -> list[Column]:
    """Row count and max SCN of the rows where ``in_batch`` holds —
    fresh aliases per call, because Observation refuses reused ones."""
    return [
        F.count(F.when(in_batch, F.lit(1))).alias("rows"),
        F.max(F.when(in_batch, F.col("scn"))).alias("max_scn"),
    ]


def prune_staged_log(stage_dir: str, retain_from_scn: int, spark: SparkSession) -> list[str]:
    """Retention cleaner for the staged change log (the BootstrapDBCleaner /
    ring-buffer-overwrite analog): drop whole chunks whose max scn is
    below the retention floor. Chunks are never split — a txn window
    lives entirely in one chunk, so pruning preserves window atomicity.
    Returns the pruned chunk dirs."""
    import glob

    pruned = []
    for chunk in sorted(glob.glob(os.path.join(stage_dir, "chunk=*"))):
        try:
            max_scn = spark.read.parquet(chunk).agg(F.max("scn")).collect()[0][0]
        except Exception:
            continue
        if max_scn is not None and max_scn < retain_from_scn:
            shutil.rmtree(chunk)
            pruned.append(chunk)
    return pruned

