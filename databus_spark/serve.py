"""Relay serving facade: the /sources /register /stream API surface.

The reference relay exposes three HTTP endpoints consumers use in order
(reference: databus2-relay-impl/.../relay/HttpRelay.java:249-269 registers
the processors; SourcesRequestProcessor.java:47, RegisterRequestProcessor.java:57,
ReadEventsRequestProcessor.java:75-240):

  /sources   -> the sourceId<->name registry
  /register  -> schemas for the subscribed sources (writer versions)
  /stream    -> events after a checkpoint, through server-side filters,
                bounded by a byte budget

Spark restatement: the facade answers each call with a DataFrame built
from the same primitives the rest of the engine uses — the transport is
whatever the caller does with the frame (collect for an RPC-sized page,
write for a bulk hand-off). This is the single entry point a reference
client would port against.

The reference relay answers /stream from one in-memory event buffer
(core/DbusEventBuffer.java): it binary-searches its SCN index
(core/ScnIndex.java:42-96) for the checkpoint, then scans forward. The
facade keeps the same two pieces: the log read as ONE partition (the
buffer) and a sorted array of its distinct SCNs (the index), so every
request is one Spark job — a window-atomic page runs one job to read
(its bound comes from the index with none), and a byte-budgeted stream
runs its top-k and running-sum cutoff in one stage of one task.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from databus_spark.catalog import SOURCE_IDS, sources_registry
from databus_spark.plans.filterconfig import compile_config
from databus_spark.sources.schema_registry import SchemaRegistry
from databus_spark.streaming.checkpoint import (
    Checkpoint,
    SCNNotFoundError,
    require_retained,
)

EVENT_HEADER_BYTES = 45  # DbusEventV2 fixed header (DbusEventV2.java:33-90)


class RelayFacade:
    """One relay over one change log: the DbusEventBuffer and its
    ScnIndex, restated as a one-partition frame and a sorted SCN array.

    ``log`` should be a scan of a retained (staged) log. The facade
    reads it through ``coalesce(1)``, so the scan runs in one task and
    every ordered step above it (the byte-budget top-k, the running-sum
    window, the SCN ``distinct``) finds its input on one partition and
    needs no exchange. That one task also runs whatever narrow work sits
    upstream of ``log``, so a log built by an expensive pipeline should
    be staged (written, or checkpointed) first.

    The relay serves the log it was built over: a DataFrame over files
    fixes its file list at construction, and the SCN index, built once
    on the first ``stream_windows`` call, indexes that same frame.
    """

    def __init__(
        self,
        spark: SparkSession,
        log: DataFrame,
        schemas: SchemaRegistry | None = None,
        retained_min_scn: int | None = None,
    ):
        self.spark = spark
        self.log = log.coalesce(1)
        self.schemas = schemas or SchemaRegistry()
        # Oldest scn this relay still holds (its buffer has wrapped past
        # older events). None = full history retained.
        self.retained_min_scn = retained_min_scn
        self._scns: np.ndarray | None = None  # the SCN index, built lazily

    def _scn_index(self) -> np.ndarray:
        """The log's distinct SCNs, sorted: 8 bytes per transaction
        window, built by one job (one task, no exchange) on first use."""
        if self._scns is None:
            table = self.log.select("scn").distinct().toArrow()
            self._scns = np.sort(table.column(0).to_numpy().astype(np.int64))
        return self._scns

    # -- /sources -------------------------------------------------------------
    def sources(self) -> DataFrame:
        return sources_registry(self.spark)

    # -- /register ------------------------------------------------------------
    def register(self, source_names: list[str]) -> DataFrame:
        """Schemas (all versions) for the subscribed sources; consumers
        cache these before streaming (RegisterRequestProcessor)."""
        unknown = [s for s in source_names if s not in SOURCE_IDS]
        if unknown:
            raise KeyError(f"unknown sources: {unknown}")
        rows = [
            (s.schema_id, s.name, s.version, s.ddl)
            for name in source_names
            for s in self.schemas._versions.get(name, [])
        ]
        return self.spark.createDataFrame(
            rows, "schema_id STRING, schema_name STRING, schema_version INT, ddl STRING"
        )

    # -- /stream --------------------------------------------------------------
    def stream(
        self,
        checkpoint: Checkpoint | int,
        sources: list[str] | None = None,
        filter_config: dict | None = None,
        partitions: list[int] | None = None,
        size_bytes: int | None = None,
    ) -> DataFrame:
        """Events after the checkpoint SCN through the server-side filter
        conjunction {source, partition, key filters}, size-bounded —
        ReadEventsRequestProcessor.process semantics as one plan. Over
        the one-partition buffer it is one Spark job; with ``size_bytes``
        that job is one stage of one task, with no exchange."""
        since = checkpoint.windowScn if isinstance(checkpoint, Checkpoint) else int(checkpoint)
        out = self.log.where(F.col("scn") > since)
        pred: Column = F.lit(True)
        if sources is not None:
            pred = pred & F.col("source").isin(sources)
        if partitions is not None:
            pred = pred & F.col("part_id").isin(partitions)
        if filter_config is not None:
            pred = pred & compile_config(filter_config)
        out = out.where(pred)
        if size_bytes is not None:
            # Exact byte-budget cutoff WITHOUT a log-wide global sort:
            # every event costs >= the fixed header, so at most
            # size_bytes/EVENT_HEADER_BYTES rows can ever be admitted —
            # take that many via top-k (TakeOrderedAndProject) first,
            # then run the exact running-size cutoff on the small
            # bounded set. Identical results; the window touches
            # O(budget) rows instead of O(retained log). On the
            # one-partition buffer both run in the scan's own task.
            #
            # The top-k pre-bound equals the unbounded-window form only if
            # the sort key is a unique total order — a duplicate key at
            # the limit boundary could let the limit keep a different tied
            # row than the running sum admits. The changelog builders
            # guarantee (scn, source, key_str) unique; opcode is appended
            # as a defensive tiebreaker so any violation still yields one
            # deterministic order in both the limit and the window.
            order_cols = ["scn", "source", "key_str", "opcode"]
            max_rows = size_bytes // EVENT_HEADER_BYTES + 1
            out = out.orderBy(*order_cols).limit(max_rows)
            row_bytes = (
                EVENT_HEADER_BYTES + F.length("key_str") + F.length("source")
            ).cast("long")
            w = Window.orderBy(*order_cols).rowsBetween(
                Window.unboundedPreceding, 0
            )
            out = (
                out.withColumn("_rb", row_bytes)
                .withColumn("_cum", F.sum("_rb").over(w))
                .where(F.col("_cum") <= size_bytes)
                .drop("_rb", "_cum")
            )
        return out

    def stream_windows(self, since_scn: int, n_windows: int) -> tuple[DataFrame, int]:
        """Window-atomic page: the next `n_windows` COMPLETE txn windows
        after the checkpoint — a transaction is never split across pages,
        so the client's checkpoint always lands on a window boundary
        (the reference only checkpoints at onCheckpoint/window end;
        ReadEventsRequestProcessor serves whole windows the same way).
        Returns (events in (since, boundary], boundary scn); a caught-up
        checkpoint comes back with an empty page.

        The bound is a binary search of the SCN index, as
        DbusEventBuffer.streamEvents seeks its ScnIndex: it runs no Spark
        job once the index exists (the first call builds it with one),
        and reading the page is one job of one task.

        A checkpoint older than the retention window raises
        SCNNotFoundError instead of silently skipping the pruned gap —
        ReadEventsRequestProcessor's SCNNotFound answer, which drives
        the client to another relay or to bootstrap."""
        if self.retained_min_scn is not None:
            require_retained(since_scn, self.retained_min_scn)
        scns = self._scn_index()
        first = int(np.searchsorted(scns, since_scn, "right"))
        last = min(first + n_windows, len(scns))
        if last <= first:
            return self.log.where(F.lit(False)), since_scn
        bound = int(scns[last - 1])
        page = self.log.where((F.col("scn") > since_scn) & (F.col("scn") <= bound))
        return page, bound


class RelayUnavailableError(RuntimeError):
    pass


try:  # Spark job failures on the relay side are retryable against a replica
    from pyspark.errors import PySparkException as _PySparkException
except ImportError:  # pragma: no cover
    _PySparkException = ()

# ConnectionError/TimeoutError are OSError subclasses, listed for clarity.
_FAILOVER_ERRORS = (OSError, ConnectionError, TimeoutError, _PySparkException)


class MultiRelayClient:
    """Relay-list failover: the client owns the checkpoint; each pull
    goes to the current relay, and any relay error rotates to the next
    replica and RETRIES THE SAME PAGE from the same checkpoint — no
    events lost, none duplicated, because the checkpoint only advances
    after the sink lands a complete page.

    Reference parity: DatabusHttpClientImpl keeps a relay server set per
    subscription and RelayPullThread switches relays on connection
    failure, resuming from the client checkpoint
    (databus-client-http/.../DatabusHttpClientImpl.java relay groups;
    RelayPullThread's PICK_SERVER/onServerError transitions).
    """

    def __init__(self, relays: list[RelayFacade], start_scn: int = 0) -> None:
        if not relays:
            raise ValueError("need at least one relay")
        self.relays = relays
        self.active = 0
        self.checkpoint_scn = start_scn
        self._pending = start_scn  # commit() before any pull() is a no-op
        self.failovers = 0

    def pull(self, n_windows: int = 4) -> DataFrame | None:
        """One window-atomic page from the healthy relay, rotating on
        errors. Raises RelayUnavailableError only when EVERY relay fails
        for the same page; raises SCNNotFoundError when every relay has
        pruned past the checkpoint (a replica may retain deeper history,
        so rotation is tried first) — the caller's cue to run the
        bootstrap protocol (BootstrapController), exactly the reference's
        relay-fell-off -> bootstrap transition."""
        fell_off = 0
        for _ in range(len(self.relays)):
            relay = self.relays[self.active]
            try:
                page, bound = relay.stream_windows(self.checkpoint_scn, n_windows)
            except SCNNotFoundError:
                fell_off += 1
                self.active = (self.active + 1) % len(self.relays)
                self.failovers += 1
                continue
            except _FAILOVER_ERRORS:
                # Transport / relay-side failures rotate; programming errors
                # (TypeError, KeyError, ...) propagate instead of being
                # silently retried against every replica.
                self.active = (self.active + 1) % len(self.relays)
                self.failovers += 1
                continue
            if bound == self.checkpoint_scn:
                return None  # caught up
            self._pending = bound
            return page
        if fell_off == len(self.relays):
            raise SCNNotFoundError(
                f"checkpoint {self.checkpoint_scn} below every relay's retention"
            )
        raise RelayUnavailableError(
            f"all {len(self.relays)} relays failed at scn {self.checkpoint_scn}"
        )

    def commit(self) -> None:
        self.checkpoint_scn = self._pending

    def drain(self, sink, n_windows: int = 4) -> int:
        pages = 0
        while True:
            page = self.pull(n_windows)
            if page is None:
                return pages
            sink(page)
            self.commit()
            pages += 1
