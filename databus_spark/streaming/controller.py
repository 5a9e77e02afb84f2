"""Bootstrap handoff controller: fell-off detection -> snapshot ->
catchup -> resume online.

The reference's flow (SURVEY §3.3): a consumer pulls from the relay;
when its checkpoint SCN has been overwritten in the ring buffer the
relay answers SCNNotFound and the client switches to bootstrap —
snapshot phase, then log catchup to targetSCN, then back online
(reference: databus-client-http/.../RelayPullThread.java:104-124,251
SCNNotFound -> BOOTSTRAP; BootstrapPullThread.java; server side
StartSCNRequestProcessor.java:51, TargetSCNRequestProcessor.java:47,
BootstrapProcessor.java:214-273; phase transitions
core/BootstrapCheckpointHandler.java:90-276).

Spark restatement (custom driver-side orchestration — SURVEY §4 lists
this as one of the few pieces Catalyst cannot provide):

  relay retention window  = the staged changelog dir, where old chunks
                            get pruned (OVERWRITE_ON_WRITE ring analog)
  bootstrap snapshot      = batch read of the log-table compaction at
                            start_scn (the applier-maintained state)
  catchup                 = batch read of the log over (start, target]
  resume online           = stream the staged dir filtered to
                            scn > target with a fresh checkpoint

The controller owns an app-level Checkpoint and drives its mode machine
exactly as BootstrapCheckpointHandler does.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databus_spark.operators.bootstrap import bootstrap_state
from databus_spark.store.snapshot import ParquetSnapshotStore
from databus_spark.streaming.applier import StreamingApplier
from databus_spark.streaming.checkpoint import (
    MODE_CATCHUP,
    MODE_ONLINE,
    MODE_SNAPSHOT,
    Checkpoint,
    FileCheckpointProvider,
    SCNNotFoundError,  # re-exported: callers import it from this module
    _require_mode,
    require_retained,
)
from databus_spark.streaming.source import changelog_stream


class BootstrapController:
    def __init__(
        self,
        spark: SparkSession,
        log_table,
        stage_dir: str,
        schema,
        store: ParquetSnapshotStore,
        sources: list[str],
        ckpt_path: str | None = None,
    ) -> None:
        self.spark = spark
        # durable change log (bootstrap DB analog): a DataFrame, or a
        # zero-arg callable returning one — the callable form re-reads a
        # live log so rows staged between the snapshot and catchup phases
        # are visible to catchup (the moving-head case the protocol exists
        # for, TargetSCNRequestProcessor.java:47).
        self.log_table = log_table
        self.stage_dir = stage_dir  # relay retention window (pruned dir)
        self.schema = schema
        self.store = store
        self.sources = sources
        # Durable app-level checkpoint: with ckpt_path set, every phase
        # advance is persisted and a restarted controller resumes
        # mid-bootstrap (BootstrapCheckpointHandler.java:90-276 +
        # FileSystemCheckpointPersistenceProvider semantics).
        self.provider = FileCheckpointProvider(ckpt_path) if ckpt_path else None
        restored = self.provider.load() if self.provider else None
        self.checkpoint = restored if restored is not None else Checkpoint()
        self.last_catchup_rows = 0

    def _persist(self) -> None:
        if self.provider is not None:
            self.provider.save(self.checkpoint)

    def _log(self) -> DataFrame:
        return self.log_table() if callable(self.log_table) else self.log_table

    # -- relay side -----------------------------------------------------------
    def retained_min_scn(self) -> int | None:
        """Smallest SCN still in the retention window (buffer minScn);
        None when the window holds nothing. A chunk that cannot be read
        raises: serving it as an empty window would force a bootstrap."""
        try:
            df = self.spark.read.schema(self.schema).parquet(self.stage_dir)
        except AnalysisException as e:
            if e.getCondition() == "PATH_NOT_FOUND":
                return None
            raise
        return df.agg(F.min("scn")).collect()[0][0]

    def check_availability(self, from_scn: int) -> None:
        """The relay's SCN check: streaming from a pruned SCN raises
        (checkpoint.require_retained); an empty window serves none."""
        min_scn = self.retained_min_scn()
        if min_scn is None:
            raise SCNNotFoundError(
                f"retention window {self.stage_dir} is empty: no SCN is served"
            )
        require_retained(from_scn, min_scn)

    # -- bootstrap orchestration ---------------------------------------------
    def snapshot_phase(self) -> int:
        """Phase 1: serve each source's full state at startSCN
        (StartSCNRequestProcessor + BootstrapProcessor.java:214-243).

        The bootstrap result must be REPLACEMENT state, not a blind
        merge: keys deleted between the consumer's old checkpoint and
        start_scn are absent from the snapshot, and the resumed online
        stream (scn > target) will never deliver those DELETEs again.
        So for every key the consumer's store holds that the snapshot
        lacks, a DELETE tombstone at start_scn is merged alongside."""
        ckpt = self.checkpoint
        log = self._log()
        # startSCN = max applied scn of the bootstrap DB
        # (StartSCNRequestProcessor) — fetched ONCE per bootstrap and
        # pinned in the checkpoint, so a crash-resumed snapshot phase
        # serves the remaining sources at the SAME scn as the completed
        # ones (a moving head lands in the catchup phase instead).
        # An empty bootstrap DB serves empty state at SCN 0 (every key the
        # consumer still holds gets tombstoned below) instead of crashing
        # on a None max.
        if ckpt.bootstrap_start_scn >= 0:
            start_scn = ckpt.bootstrap_start_scn
        else:
            head = log.agg(F.max("scn")).collect()[0][0]
            start_scn = int(head) if head is not None else 0
            ckpt.bootstrap_start_scn = start_scn
            self._persist()

        # resume after the last source whose snapshot already committed
        for src in self.sources[ckpt.bootstrap_snapshot_source_index:]:
            state = bootstrap_state(
                log.where(F.col("source") == src),
                start_scn,
                start_scn,
                key_cols=("source", "key_str"),
            ).withColumn("opcode", F.lit("UPSERT"))
            batch = state
            existing = self.store.read()
            if existing is not None:
                stale = (
                    existing.where(F.col("source") == src)
                    .join(
                        state.select(*self.store.key_cols),
                        list(self.store.key_cols),
                        "left_anti",
                    )
                    .withColumn("opcode", F.lit("DELETE"))
                    .withColumn("scn", F.lit(start_scn).cast("long"))
                )
                batch = state.unionByName(stale)
            self.store.merge(batch)
            ckpt.advance_after_snapshot_phase(start_scn)
            self._persist()  # crash here -> restart skips this source
        return start_scn

    def catchup_phase(self, start_scn: int) -> int:
        """Phase 2: replay the log over (startSCN, targetSCN], where
        targetSCN is the CURRENT head — re-read at catchup time, so a head
        that moved during the snapshot phase yields a non-empty replay
        (TargetSCNRequestProcessor.java:47, BootstrapProcessor.java:244-273)."""
        ckpt = self.checkpoint
        log = self._log()
        # targetSCN is pinned once per catchup phase (and persisted), so a
        # crash-resumed catchup replays the remaining sources to the SAME
        # target as the completed ones.
        if ckpt.bootstrap_target_scn >= 0:
            target_scn = ckpt.bootstrap_target_scn
        else:
            head = log.agg(F.max("scn")).collect()[0][0]
            target_scn = max(head, start_scn) if head is not None else start_scn
            ckpt.bootstrap_target_scn = target_scn
            self._persist()

        self.last_catchup_rows = 0
        for src in self.sources[ckpt.bootstrap_catchup_source_index:]:
            # a head that did not move leaves (start, target] empty: no job.
            # Otherwise the merge counts the rows on its write and commits
            # nothing for a source with none.
            if target_scn > start_scn:
                catchup = log.where(
                    (F.col("source") == src)
                    & (F.col("scn") > start_scn)
                    & (F.col("scn") <= target_scn)
                )
                self.last_catchup_rows += self.store.merge(catchup).rows
            ckpt.advance_after_catchup_phase(target_scn)
            self._persist()
        return target_scn

    def bootstrap(self, since_scn: int) -> None:
        """Snapshot + catchup phases, applied to the consumer's store.

        If the (restored) checkpoint is already mid-bootstrap for the
        same since_scn and source list, the completed phases/sources are
        SKIPPED and work resumes at the persisted (phase, source index) —
        the reference's mid-bootstrap restart keys
        (BootstrapCheckpointHandler.java:90-276, Checkpoint.java:203-211).
        The store's MERGE is idempotent, so re-running the one source
        that was in flight at the crash is safe."""
        ckpt = self.checkpoint
        resuming = (
            ckpt.consumption_mode in (MODE_SNAPSHOT, MODE_CATCHUP)
            and ckpt.bootstrap_since_scn == since_scn
            and ckpt.sources == list(self.sources)
        )
        if not resuming:
            ckpt.start_bootstrap(since_scn, self.sources)
            self._persist()
        if ckpt.consumption_mode == MODE_SNAPSHOT:
            start_scn = self.snapshot_phase()
        else:
            start_scn = ckpt.bootstrap_start_scn
        _require_mode(ckpt.consumption_mode, (MODE_CATCHUP,), "catchup_phase")
        self.catchup_phase(start_scn)
        _require_mode(ckpt.consumption_mode, (MODE_ONLINE,), "bootstrap resume online")
        self._persist()

    # -- consumer entry point -------------------------------------------------
    def consume_from(self, from_scn: int, checkpoint_dir: str) -> StreamingApplier:
        """Resume consumption at from_scn; bootstraps first if the relay
        no longer retains it (the RelayPullThread error edge)."""
        try:
            self.check_availability(from_scn)
        except SCNNotFoundError:
            self.bootstrap(from_scn)
            from_scn = self.checkpoint.windowScn

        applier = StreamingApplier(self.store, subscription=F.col("scn") > from_scn)
        applier.checkpoint = self.checkpoint
        stream = changelog_stream(self.spark, self.stage_dir, self.schema)
        q = applier.run(stream, checkpoint_dir)
        q.awaitTermination(600)
        return applier
