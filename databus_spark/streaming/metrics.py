"""Live stream metrics: the DbusEventsStatisticsCollector / UnifiedClientStats
operational layer (SURVEY §2.6 A2-A5, §7 Phase 5).

A StreamingQueryListener collects per-batch progress — input rows, the
triggerExecution duration and the input rate — as the engine's
JMX-mbean analog, and ``summary()`` rolls the history up into batch
count, total rows, total duration and p50/p95/p99 batch duration. It
does not collect the reference's timeLag (SCN or event-time lag) nor
per-source event counts. The listener is push-based like the
reference's internal listeners on the event buffer
(DbusEventsStatisticsCollector registered at append/stream time).
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class BatchMetric:
    query_id: str
    batch_id: int
    num_input_rows: int
    process_ms: float
    input_rps: float
    ts: float = field(default_factory=time.time)


class EngineMetricsListener(StreamingQueryListener):
    """Collects per-batch metrics for every streaming query in the session."""

    def __init__(self) -> None:
        self.batches: list[BatchMetric] = []
        self.started: list[str] = []
        self.terminated: list[str] = []

    def onQueryStarted(self, event) -> None:
        self.started.append(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        dur = p.get("durationMs", {})
        self.batches.append(
            BatchMetric(
                query_id=p.get("id", ""),
                batch_id=p.get("batchId", -1),
                num_input_rows=p.get("numInputRows", 0),
                process_ms=float(dur.get("triggerExecution", 0)),
                input_rps=float(p.get("inputRowsPerSecond", 0.0) or 0.0),
            )
        )

    def onQueryTerminated(self, event) -> None:
        self.terminated.append(str(event.id))

    def onQueryIdle(self, event) -> None:  # pragma: no cover
        pass

    # -- the A2/A4 rollup ----------------------------------------------------
    def summary(self, spark: SparkSession):
        """Mergeable stats over collected batches: totals + latency
        percentiles (percentile_approx = the decaying-reservoir analog)."""
        from pyspark.sql import functions as F

        if not self.batches:
            return None
        df = spark.createDataFrame(
            [(b.query_id, b.batch_id, b.num_input_rows, b.process_ms) for b in self.batches],
            "query_id STRING, batch_id LONG, rows LONG, process_ms DOUBLE",
        )
        return df.agg(
            F.count(F.lit(1)).alias("n_batches"),
            F.sum("rows").alias("total_rows"),
            F.sum("process_ms").alias("total_ms"),
            F.percentile_approx("process_ms", 0.5).alias("p50_ms"),
            F.percentile_approx("process_ms", 0.95).alias("p95_ms"),
            F.percentile_approx("process_ms", 0.99).alias("p99_ms"),
        )
