#!/usr/bin/env python
"""Per-query Spark attribution for registry queries: a sweep over the
whole registry, or the stage timeline of a few queries.

Runs every selected query once untimed, outside any span, so fixture
staging and first-touch costs never land in a timed run (host_ab.py's
protocol). Then runs each query the bench way (clear caches, build,
noop sink) ``--runs`` times in one session, each run inside its own
perfbench.tracing span, and reports each query's last run: wall, jobs,
stages, tasks, executor CPU, shuffle read/write, spill, peak execution
memory, driver_only_s (wall minus the union of its stage intervals,
i.e. planning, analysis and the gaps between jobs), the NARROW stages
(<= 2 tasks and >= 0.4 executor CPU-s: a per-row stage running serial
on a wide box) and one timeline row per stage, in seconds from the
run's start, with the gap before it in which no stage ran.

Usage: python tools/opt_sweep.py [out.json] [--queries a,b,c] [--runs N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.traced import TracedRun  # noqa: E402


def warm_up(probe, names: list[str]) -> None:
    """One untimed run of each query, outside any span: a sweep's
    numbers then do not depend on what earlier runs left in the temp
    dir. A failure here is left for the timed runs to record."""
    for name in names:
        probe.clear()
        try:
            probe.queries[name](probe.spark, probe.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:  # noqa: BLE001 - time_queries records it
            pass


def time_queries(probe, tracer, names: list[str], runs: int) -> tuple[dict, dict]:
    """Run each query ``runs`` times, one span per run. Returns each
    query's last span and the errors of the queries that failed."""
    spans, errors = {}, {}
    for i, name in enumerate(names):
        try:
            for _ in range(runs):
                probe.clear()
                with tracer.span(name):
                    probe.queries[name](probe.spark, probe.sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                spans[name] = tracer.spans[-1]
        except Exception as e:  # noqa: BLE001 - one failing query must not end the sweep
            spans.pop(name, None)
            errors[name] = {"error": str(e)[:200]}
            print(f"[{i + 1}/{len(names)}] {name}: ERROR {e}", flush=True)
            continue
        wall = spans[name].end - spans[name].start
        print(f"[{i + 1}/{len(names)}] {name}: {wall:.2f}s", flush=True)
    return spans, errors


def query_record(run: TracedRun, span) -> dict:
    rows, prev_end = [], span.start
    for st in run.stages_of(span):
        rows.append({
            "stage": st.stage_id,
            "job": st.job_id,
            "start_s": round(st.submit_s - span.start, 3),
            "end_s": round(st.complete_s - span.start, 3),
            "gap_s": round(max(0.0, st.submit_s - prev_end), 3),
            "tasks": st.tasks,
            "cpu_s": round(st.executor_cpu_s, 2),
            "shuffle_read_bytes": st.shuffle_read_bytes,
            "shuffle_write_bytes": st.shuffle_write_bytes,
        })
        prev_end = max(prev_end, st.complete_s)
    rec = {k: round(v, 3) if isinstance(v, float) else v for k, v in run.metrics(span).items()}
    rec["narrow"] = [r for r in rows if r["tasks"] <= 2 and r["cpu_s"] >= 0.4]
    rec["timeline"] = rows
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("out", nargs="?", default=os.path.join(tempfile.gettempdir(), "opt_sweep.json"))
    ap.add_argument("--queries", help="comma-separated query names (default: every query, sorted)")
    ap.add_argument("--runs", type=int, default=1, help="timed runs per query; the last one is reported")
    args = ap.parse_args()
    from tools.opt_probe import Probe

    run = TracedRun("opt_sweep")
    p = Probe(extra_conf=run.conf)
    run.attach(p.spark)
    names = args.queries.split(",") if args.queries else sorted(p.queries)
    warm_up(p, names)
    spans, results = time_queries(p, run.tracer, names, args.runs)
    run.finish()
    for name, span in spans.items():
        rec = results[name] = query_record(run, span)
        flag = " NARROW" if rec["narrow"] else ""
        print(
            f"{name}: {rec['wall_s']:.2f}s jobs={rec['jobs']} stages={rec['stages']}"
            f" tasks={rec['tasks']} driver_only={rec['driver_only_s']:.2f}s{flag}",
            flush=True,
        )
    with open(args.out, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    print("WROTE", args.out, flush=True)


if __name__ == "__main__":
    main()
