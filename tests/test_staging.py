"""The shared-fixture staging protocol (`registry._staged_artifact`).

Every /tmp fixture a query stages (routed and key-hash changelogs, the
z-table, OCF files, trail files) goes through one locked,
marker-by-rename protocol, and the JDBC txlog lives in a per-process
in-memory Derby database. These tests pin the failure modes that
protocol exists for:

* two fresh processes sharing one empty TMPDIR run every fixture query
  at once, and each result must equal its DuckDB oracle (the race
  produced crashes AND wrong rows, so a row count is not enough);
* a stager killed mid-build must neither block the next caller nor leave
  a directory the next caller reuses;
* a failing build leaves no marker, and a change to the code that
  builds an artifact forces a rebuild.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import tempfile
import textwrap
import threading
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_SMALL = "/root/testdata/sf0.001"

FIXTURE_QUERIES = [
    "jdbc_txlog_pull",
    "trail_file_seek",
    "avro_ocf_roundtrip",
    "filter_keymod_subscribe",
    "filter_keymod_staged_hash",
    "zorder_box_read",
]

_RACE_WORKER = textwrap.dedent(
    """
    import json, sys
    from databus_spark.registry import ORACLES, QUERIES
    from databus_spark.session import build_session
    from tests.oracle_utils import compare, duck_connect

    sf, out, names = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
    spark = build_session("staging_race", cpus=2)
    con = duck_connect(sf)
    failures = []
    for name in names:
        try:
            compare(QUERIES[name](spark, sf), con, ORACLES[name])
        except Exception as e:
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:400]}")
    with open(out, "w") as f:
        json.dump(failures, f)
    spark.stop()
    """
)


def test_two_processes_share_one_empty_tmpdir(tmp_path):
    """Both processes stage into the same fresh TMPDIR at the same time
    and must both return oracle-exact results for every fixture query."""
    shared_tmp = tmp_path / "tmp"
    shared_tmp.mkdir()
    env = dict(
        os.environ,
        TMPDIR=str(shared_tmp),
        # Python workers import databus_spark (mapInPandas readers)
        PYTHONPATH=REPO,
        SPARK_DRIVER_MEMORY="1g",
    )
    procs = []
    for i in range(2):
        out = tmp_path / f"result{i}.json"
        cwd = tmp_path / f"cwd{i}"  # each process's derby.log / warehouse
        cwd.mkdir()
        procs.append(
            (
                out,
                subprocess.Popen(
                    [sys.executable, "-c", _RACE_WORKER, SF_SMALL, str(out),
                     ",".join(FIXTURE_QUERIES)],
                    env=env,
                    cwd=cwd,
                    stdout=subprocess.PIPE,
                    stderr=subprocess.STDOUT,
                    text=True,
                ),
            )
        )
    deadline = time.monotonic() + 900  # a deadlocked stage lock fails, not hangs
    report = []
    for i, (out, p) in enumerate(procs):
        try:
            log, _ = p.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            for _o, q in procs:
                q.kill()
            pytest.fail(f"process {i} still running after 900 s (stage lock deadlock?)")
        if not out.exists():
            report.append(f"process {i} rc={p.returncode} wrote no result:\n{log[-3000:]}")
            continue
        failures = json.loads(out.read_text())
        report.extend(f"process {i}: {f}" for f in failures)
    assert not report, "\n".join(report)


_KILLED_STAGER = textwrap.dedent(
    """
    import os, sys, time
    from databus_spark.registry import _staged_artifact

    ready = sys.argv[1]

    def build(d):
        os.makedirs(d)
        with open(os.path.join(d, "partial"), "w") as f:
            f.write("half")
        open(ready, "w").close()
        time.sleep(600)

    _staged_artifact("databus_crash", "key", "fp", build)
    """
)


def _call_with_timeout(fn, seconds: float):
    box: dict = {}

    def run():
        try:
            box["value"] = fn()
        except BaseException as e:  # surfaced to the caller below
            box["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"_staged_artifact still blocked after {seconds} s"
    if "error" in box:
        raise box["error"]
    return box["value"]


def _good_build(d: str) -> None:
    os.makedirs(d)
    with open(os.path.join(d, "payload"), "w") as f:
        f.write("ok")


def test_stager_killed_inside_build_leaves_nothing_reused(tmp_path, monkeypatch):
    from databus_spark.registry import _staged_artifact

    ready = tmp_path / "ready"
    p = subprocess.Popen(
        [sys.executable, "-c", _KILLED_STAGER, str(ready)],
        env=dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=REPO),
    )
    try:
        deadline = time.monotonic() + 120
        while not ready.exists():
            assert p.poll() is None, "stager exited before reaching build"
            assert time.monotonic() < deadline, "stager never reached build"
            time.sleep(0.05)
    finally:
        p.send_signal(signal.SIGKILL)
        p.wait()

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    art = _call_with_timeout(
        lambda: _staged_artifact("databus_crash", "key", "fp", _good_build),
        60,
    )
    assert os.path.dirname(art) == str(tmp_path)
    assert sorted(os.listdir(art)) == ["_COMPLETE", "payload"]


def test_failed_build_leaves_no_marker(tmp_path, monkeypatch):
    from databus_spark.registry import _staged_artifact

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def bad_build(d):
        os.makedirs(d)
        with open(os.path.join(d, "payload"), "w") as f:
            f.write("half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        _staged_artifact("databus_fail", "key", "fp", bad_build)
    (art,) = [p for p in tmp_path.iterdir() if p.is_dir()]
    assert not (art / "_COMPLETE").exists()

    calls = []

    def build(d):
        calls.append(d)
        _good_build(d)

    assert _staged_artifact("databus_fail", "key", "fp", build) == str(art)
    assert len(calls) == 1
    assert (art / "payload").read_text() == "ok"


def test_code_digest_forces_rebuild(tmp_path, monkeypatch):
    """The marker holds the content fingerprint and the digest of the
    code that builds the artifact: same content under the same code is
    reused, and a change to either rebuilds. The digest hashes sources,
    not where they sit, so an identical copy of a tree shares the
    artifact."""
    from databus_spark import registry

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(registry, "_CODE_DIGESTS", {})
    calls = []

    def source_tree(name: str, const: int) -> str:
        root = tmp_path / name
        (root / "operators").mkdir(parents=True)
        (root / "__init__.py").write_text("")
        (root / "operators" / "geometry.py").write_text(f"N_CELLS = {const}\n")
        return str(root)

    def package_digest(name: str, const: int) -> str:
        return registry._package_digest(source_tree(name, const))

    def outside_build(name: str, tag: str):
        """A build defined in a file outside the package (a bench or
        tool script)."""
        path = tmp_path / f"{name}.py"
        path.write_text(f"def build(d):\n    calls.append({tag!r})\n    good(d)\n")
        ns = {"calls": calls, "good": _good_build}
        exec(compile(path.read_text(), str(path), "exec"), ns)
        return ns["build"]

    def build(d):
        calls.append(d)
        _good_build(d)

    def stage(fp: str = "fp", b=build) -> str:
        return registry._staged_artifact("databus_code", "key", fp, b)

    monkeypatch.setattr(registry, "_PKG_DIGEST", package_digest("a", 8))
    stage()
    stage()
    assert len(calls) == 1
    monkeypatch.setattr(registry, "_PKG_DIGEST", package_digest("copy_of_a", 8))
    stage()
    assert len(calls) == 1
    monkeypatch.setattr(registry, "_PKG_DIGEST", package_digest("edited", 16))
    stage()
    assert len(calls) == 2
    stage()
    assert len(calls) == 2
    stage("fp2")
    assert len(calls) == 3

    # the build's own file, when it sits outside the package
    stage("fp2", outside_build("tool", "v1"))
    assert len(calls) == 4
    stage("fp2", outside_build("tool_copy", "v1"))
    assert len(calls) == 4
    stage("fp2", outside_build("tool_edited", "v2"))
    assert calls[-1] == "v2" and len(calls) == 5
