#!/usr/bin/env python
"""Per-stage attribution of the curation family's soak memory (r9 ask #8).

curation_decisions_v2 composes four doc_id-keyed derivations; the x100
soak records one aggregate peak-task-memory number (3.0 GB in r8).
This tool runs each derivation in its own perfbench.tracing span on the
soak-staged corpus and attributes the event log to the spans, so the
peak attributes to a stage instead of a family. Reuses tools/soak10x.py's
fixture.

Usage: python tools/curation_attrib.py [--dir /tmp/databus_soak10x]
       (run after soak10x has staged the target scale)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default="/tmp/databus_soak10x")
    args = ap.parse_args()

    from databus_spark.session import build_session
    from tools.traced import TracedRun

    run = TracedRun("curation_attrib")
    spark = run.attach(build_session("databus_curation_attrib", extra_conf=run.conf))

    from pyspark.sql import functions as F

    from databus_spark.operators import text
    from databus_spark.operators.dedup import decontaminate
    from databus_spark.registry import _v1_decisions

    docs = (
        spark.read.parquet(os.path.join(args.dir, "documents.parquet"))
        .select("doc_id", "text")
        .localCheckpoint(eager=False)
    )
    corpus = docs.where(F.col("doc_id") % 17 != 0)
    benchmark = docs.where(F.col("doc_id") % 17 == 0)

    stages = {
        "v1_signals": lambda: _v1_decisions(corpus),
        "decontaminate_8gram": lambda: decontaminate(corpus, benchmark),
        "lm_train_score": lambda: text.lm_quality_score(docs),
    }
    for name, fn in stages.items():
        with run.tracer.span(name):
            fn().write.format("noop").mode("overwrite").save()
        span = run.tracer.spans[-1]
        print(f"{name}: {span.end - span.start:.2f}s", flush=True)
    run.finish()

    out = {}
    for span in run.tracer.spans:
        m = run.metrics(span)
        out[span.name] = {
            "wall_s": round(m["wall_s"], 2),
            "peak_task_mem_mb": round(m["peak_execution_memory"] / 1e6, 1),
            "shuffle_mb": round(m["shuffle_write_bytes"] / 1e6, 1),
            "spill_mb": round(m["spill_bytes"] / 1e6, 1),
            "n_tasks": m["tasks"],
        }
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
