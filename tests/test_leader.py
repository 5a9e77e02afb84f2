"""Leader election on an expiring file lease (T15).

Reference analog: the group-leader module's ZK-backed
GroupLeadershipSession — acquire / heartbeat-renew / release / takeover
of a dead leader — restated on the shared filesystem.
"""

from __future__ import annotations

import json
import time

from databus_spark.streaming.leader import LeaderLease


def test_single_acquire_and_mutual_exclusion(tmp_path):
    p = str(tmp_path / "lease")
    a = LeaderLease(p, "node-a", lease_ms=60_000)
    b = LeaderLease(p, "node-b", lease_ms=60_000)
    assert a.try_acquire()
    assert a.holder() == "node-a"
    assert not b.try_acquire(), "second node must not steal a live lease"
    assert b.holder() == "node-a"
    assert a.try_acquire(), "holder re-acquiring its own live lease is fine"


def test_release_hands_off_immediately(tmp_path):
    p = str(tmp_path / "lease")
    a = LeaderLease(p, "node-a", lease_ms=60_000)
    b = LeaderLease(p, "node-b", lease_ms=60_000)
    assert a.try_acquire()
    b.release()  # non-holder release is a no-op
    assert a.holder() == "node-a"
    a.release()
    assert a.holder() is None
    assert b.try_acquire()
    assert a.holder() == "node-b"


def test_expired_lease_taken_over(tmp_path):
    p = str(tmp_path / "lease")
    a = LeaderLease(p, "node-a", lease_ms=50)
    b = LeaderLease(p, "node-b", lease_ms=60_000)
    assert a.try_acquire()
    time.sleep(0.08)  # a's lease lapses (dead leader)
    assert a.holder() is None
    assert b.try_acquire(), "standby must take over an expired lease"
    assert b.holder() == "node-b"
    # the dead leader's renew sees the loss and must stand down
    assert not a.renew()


def test_renew_extends_and_blocks_takeover(tmp_path):
    p = str(tmp_path / "lease")
    a = LeaderLease(p, "node-a", lease_ms=150)
    b = LeaderLease(p, "node-b", lease_ms=60_000)
    assert a.try_acquire()
    for _ in range(4):  # heartbeat across > one lease term
        time.sleep(0.05)
        assert a.renew()
        assert not b.try_acquire()
    assert a.holder() == "node-a"


def test_corrupt_lease_file_is_recoverable(tmp_path):
    p = str(tmp_path / "lease")
    with open(p, "w") as f:
        f.write("{not json")
    a = LeaderLease(p, "node-a", lease_ms=60_000)
    assert a.holder() is None
    assert a.try_acquire()
    assert json.load(open(p))["node_id"] == "node-a"


def test_lease_write_removes_temp_files_of_dead_writers(tmp_path):
    """A writer killed inside write_atomic leaves its per-writer temp
    file next to the lease. The next write of the lease removes it once
    that pid is gone, and leaves a live writer's alone."""
    import os
    import subprocess
    import threading

    p = str(tmp_path / "lease")
    lease = LeaderLease(p, "node-a", lease_ms=60_000)
    assert lease.try_acquire()  # an exclusive create, no temp file
    dead = subprocess.Popen(["true"])
    dead.wait()
    killed = f"{p}.{dead.pid}.1.tmp"
    live = f"{p}.{os.getpid()}.{threading.get_ident() + 1}.tmp"
    for path in (killed, live):
        with open(path, "w") as f:
            f.write("{")
    assert lease.renew()
    assert sorted(os.listdir(tmp_path)) == sorted(["lease", os.path.basename(live)])
