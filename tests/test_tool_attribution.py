"""The measuring tools attribute through perfbench.tracing: every stage of
a sweep's event log lands on exactly one query, and each query's job
count matches what Spark's own status tracker holds for its span."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = ["revenue_by_nation", "snapshot_orders"]

SWEEP = """
import json, sys
sys.path.insert(0, {root!r})
from tools.opt_probe import Probe
from tools.opt_sweep import query_record, time_queries
from tools.traced import TracedRun

run = TracedRun("opt_sweep")
p = Probe({sf_dir!r}, extra_conf=run.conf)
run.attach(p.spark)
spans, errors = time_queries(p, run.tracer, {names!r}, 1)
tracker = p.spark.sparkContext.statusTracker()
tracked = {{n: len(tracker.getJobIdsForGroup(f"span-{{s.id}}")) for n, s in spans.items()}}
stages = run.finish()
print("RESULT " + json.dumps({{
    "errors": errors,
    "tracked": tracked,
    "records": {{n: query_record(run, s) for n, s in spans.items()}},
    "stages": sorted([st.stage_id, st.attempt] for st in stages),
    "owned": {{n: [[st.stage_id, st.attempt] for st in run.stages_of(s)] for n, s in spans.items()}},
}}))
"""


def _run(script: str) -> subprocess.CompletedProcess:
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2"}
    return subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, env=env, capture_output=True, text=True,
        timeout=900,
    )


def test_sweep_attributes_every_stage_to_one_query(sf_dir):
    out = _run(SWEEP.format(root=ROOT, sf_dir=sf_dir, names=QUERIES))
    assert out.returncode == 0, out.stderr[-3000:]
    line = next(ln for ln in out.stdout.splitlines() if ln.startswith("RESULT "))
    res = json.loads(line[len("RESULT "):])
    assert res["errors"] == {}
    assert sorted(res["records"]) == QUERIES

    owned = sorted(key for keys in res["owned"].values() for key in keys)
    assert res["stages"], "the event log holds no stage"
    assert owned == res["stages"]  # each stage once, none outside a query
    for name, rec in res["records"].items():
        assert rec["jobs"] == res["tracked"][name] > 0, name
        assert rec["stages"] == len(res["owned"][name]) == len(rec["timeline"])
        assert rec["tasks"] == sum(r["tasks"] for r in rec["timeline"])
        assert 0 <= rec["driver_only_s"] <= rec["wall_s"]


def test_every_tool_imports_without_starting_spark():
    """Catches a perfbench API change before a tool breaks. A fresh
    process, since a tool may set environment variables at import."""
    names = sorted(
        os.path.splitext(os.path.basename(p))[0] for p in glob.glob(os.path.join(ROOT, "tools", "*.py"))
    )
    script = (
        "import importlib, sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        f"for name in {names!r}:\n"
        "    importlib.import_module('tools.' + name)\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._active_spark_context is None\n"
    )
    out = _run(script)
    assert out.returncode == 0, out.stderr[-3000:]
