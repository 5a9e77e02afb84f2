"""Incremental table puller: the Oracle txlog / JDBC ingest adapter shape.

Reference parity (SURVEY §2.1 S1-S3, §2.10 T12):
  poll loop with scn > lastScn predicate   <- OracleTxlogEventReader.
      generateEventQuery (databus2-relay-impl/.../db/OracleTxlogEventReader.java:613-683)
  chunked pulls bounding each poll          <- chunked-scan queries (:683-723)
  max-SCN probe capping progress            <- getMaxTxlogSCN (:784-810)
  durable SCN watermark                     <- FileMaxSCNHandler / MaxSCNReaderWriter
      (databus2-core/.../seq/FileMaxSCNHandler.java)

Spark restatement: each poll is one declarative incremental read —
``source.where(col(scn) > last).where(col(scn) <= probe_cap)`` — which
Catalyst pushes into the scan (parquet min/max skipping here; with a
real DB swap ``reader`` for ``spark.read.jdbc(partitionColumn=scn,
lower/upper, numPartitions)`` and the same predicates become remote
WHERE clauses — S2's chunking is exactly JDBC partitioned reads).
The watermark file makes polls crash-safe/resumable: at-least-once
emission + idempotent downstream MERGE = exactly once.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from databus_spark.store.versions import write_atomic


class FileMaxSCNHandler:
    """Durable watermark: {'maxScn': N} JSON with atomic replace."""

    def __init__(self, path: str) -> None:
        self.path = path

    def read(self) -> int:
        if not os.path.exists(self.path):
            return -1
        with open(self.path) as f:
            return int(json.load(f)["maxScn"])

    def write(self, scn: int) -> None:
        write_atomic(self.path, json.dumps({"maxScn": int(scn)}))


class IncrementalPuller:
    """Polls an scn-ordered table, emitting bounded envelope batches."""

    def __init__(
        self,
        reader: Callable[[], DataFrame],
        scn_handler: FileMaxSCNHandler,
        scn_col: str = "scn",
        max_scn_per_poll: int | None = None,
    ) -> None:
        self.reader = reader
        self.scn_handler = scn_handler
        self.scn_col = scn_col
        self.max_scn_per_poll = max_scn_per_poll

    def probe_max_scn(self) -> int:
        """A1: select max(scn) — caps the poll so one cycle is bounded."""
        row = self.reader().agg(F.max(self.scn_col)).collect()[0]
        return -1 if row[0] is None else int(row[0])

    def poll(self) -> DataFrame | None:
        """One poll cycle: rows with last < scn <= cap, watermark advanced
        AFTER the batch is handed off (crash -> re-poll -> at-least-once)."""
        last = self.scn_handler.read()
        head = self.probe_max_scn()
        if head <= last:
            return None
        cap = head
        if self.max_scn_per_poll is not None:
            cap = min(head, last + self.max_scn_per_poll)
        batch = self.reader().where(
            (F.col(self.scn_col) > last) & (F.col(self.scn_col) <= cap)
        )
        self._pending_scn = cap
        return batch

    def commit(self) -> None:
        """Advance the watermark after the downstream sink committed."""
        self.scn_handler.write(self._pending_scn)

    def drain(self, sink: Callable[[DataFrame], None]) -> int:
        """Poll until caught up; returns number of poll cycles."""
        cycles = 0
        while True:
            batch = self.poll()
            if batch is None:
                return cycles
            sink(batch)
            self.commit()
            cycles += 1
