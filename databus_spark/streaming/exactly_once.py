"""Exactly-once delivery to NON-idempotent sinks: the epoch ledger.

The MERGE store is idempotent, so at-least-once replay converges for
free. Sinks that append (files, message buses, external APIs) are not —
for those the reference relies on consumer checkpoints + rollback
discipline (ConsumerCallbackResult CHECKPOINT/SKIP_CHECKPOINT,
GenericDispatcher.storeCheckpoint:541-560). The Spark-native equivalent
is a transactional epoch ledger inside foreachBatch:

    if ledger.already_applied(epoch_id): skip   # replayed batch
    sink(batch); ledger.commit(epoch_id)        # commit AFTER the sink

Spark guarantees a replayed micro-batch carries the SAME epoch_id and
the SAME data (offsets come from the checkpoint WAL), which makes the
skip safe. The ledger is a directory of epoch marker files — atomic
create, listable, works on any shared filesystem.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame

from databus_spark.store.versions import write_atomic


class EpochLedger:
    def __init__(self, path: str) -> None:
        self.path = path
        os.makedirs(path, exist_ok=True)

    def already_applied(self, epoch_id: int) -> bool:
        return os.path.exists(os.path.join(self.path, f"epoch-{epoch_id}"))

    def commit(self, epoch_id: int) -> None:
        write_atomic(os.path.join(self.path, f"epoch-{epoch_id}"), "done")


class ExactlyOnceSink:
    """Wraps a non-idempotent batch sink with epoch-ledger dedup."""

    def __init__(self, ledger: EpochLedger, sink: Callable[[DataFrame, int], None]) -> None:
        self.ledger = ledger
        self.sink = sink
        self.applied = 0
        self.skipped = 0

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        if self.ledger.already_applied(epoch_id):
            self.skipped += 1
            return
        self.sink(batch, epoch_id)
        self.ledger.commit(epoch_id)
        self.applied += 1
