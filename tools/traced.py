"""Per-span Spark metrics for the measuring tools, through perfbench.tracing.

A tool builds its session with ``TracedRun.conf``, wraps each timed unit
in ``run.tracer.span(name)`` and calls ``finish()`` once the work is done.
``finish()`` stops the session, the one point where the event log is
known to be complete, and attributes every stage to a span: by its job
group, or by interval for stages a stream's own thread submits. The log
lives in a private temporary directory removed at exit, so concurrent
runs never read or delete each other's logs.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.tracing import (  # noqa: E402
    Attribution,
    Span,
    Stage,
    Tracer,
    attribute,
    driver_only_seconds,
    parse_event_log,
)


class TracedRun:
    def __init__(self, name: str) -> None:
        self.event_dir = tempfile.mkdtemp(prefix=f"{name}_events_")
        atexit.register(shutil.rmtree, self.event_dir, True)
        self.conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": self.event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        self.tracer = Tracer(name, enabled=True)
        self.spark = None
        self.by_span: dict[int, Attribution] = {}
        self.stages_by_span: dict[int, list[Stage]] = {}

    def attach(self, spark):
        """Tag the session's jobs with the open span's group."""
        self.spark = spark
        self.tracer.sc = spark.sparkContext
        return spark

    def finish(self) -> list[Stage]:
        """Stop the session and attribute its event log; returns every
        completed stage the log holds."""
        self.spark.stop()
        stages = []
        for path in glob.glob(os.path.join(self.event_dir, "*")):
            with open(path) as f:
                stages.extend(parse_event_log(f))
        shutil.rmtree(self.event_dir, ignore_errors=True)
        spans = self.tracer.spans
        self.by_span = attribute(stages, spans)
        for st in sorted(stages, key=lambda st: st.submit_s):
            for sid in attribute([st], spans):
                self.stages_by_span.setdefault(sid, []).append(st)
        return stages

    def metrics(self, span: Span) -> dict:
        """The span's wall, driver-only time and summed stage metrics."""
        attr = self.by_span.get(span.id)
        return {
            "wall_s": span.end - span.start,
            "driver_only_s": driver_only_seconds(span, attr),
            **(attr or Attribution()).as_metrics(),
        }

    def stages_of(self, span: Span) -> list[Stage]:
        """The span's own stages, in submission order."""
        return self.stages_by_span.get(span.id, [])
