"""Leader election via an expiring file lease (SURVEY §2.10 T15).

The reference elects a cluster leader through ZooKeeper/Helix
(databus group-leader module: GroupLeadershipSession / acquire-release
around a ZK ephemeral node). A Spark deployment usually doesn't need
one — the driver is a natural singleton — but multi-driver setups
(several ingest pipelines sharing one staging tree, blue/green relay
pairs) still want a single writer. This restates the election on the
coordination primitive such deployments already share: the filesystem
(HDFS/NFS/object-store mount), as an expiring lease file.

Protocol:
- acquire: atomically create the lease file (O_CREAT|O_EXCL). If it
  exists, read it — a live lease loses, an EXPIRED lease may be taken
  over by atomic-rename replacement.
- fencing: every mutation is confirmed by re-reading the file and
  checking the holder id; a takeover race (two nodes replacing an
  expired lease concurrently) resolves to whichever replacement landed
  last, and the loser's confirm read tells it so. Holders must treat a
  failed renew() as immediate loss of leadership.
- renew: the holder extends expiry before it lapses (heartbeat).
- release: the holder deletes the file, letting a standby acquire
  without waiting out the lease.

The same interface maps onto ZK ephemeral nodes or the Kubernetes
Lease API in deployments that have them; tests exercise the file form.
"""

from __future__ import annotations

import json
import os
import time

from databus_spark.store.versions import write_atomic


class LeaderLease:
    def __init__(self, path: str, node_id: str, lease_ms: int = 5000) -> None:
        self.path = path
        self.node_id = node_id
        self.lease_ms = lease_ms

    # -- internals ------------------------------------------------------------
    def _now_ms(self) -> int:
        return int(time.time() * 1000)

    def _read(self) -> dict | None:
        try:
            with open(self.path) as f:
                d = json.load(f)
            return {"node_id": str(d["node_id"]), "expires_ms": int(d["expires_ms"])}
        except (FileNotFoundError, json.JSONDecodeError, KeyError, TypeError, ValueError):
            return None

    def _payload(self) -> str:
        return json.dumps(
            {"node_id": self.node_id, "expires_ms": self._now_ms() + self.lease_ms}
        )

    def _confirmed(self) -> bool:
        cur = self._read()
        return cur is not None and cur["node_id"] == self.node_id

    # -- protocol -------------------------------------------------------------
    def holder(self) -> str | None:
        """Current live holder's node id, or None (absent/expired/corrupt)."""
        cur = self._read()
        if cur is None or cur["expires_ms"] <= self._now_ms():
            return None
        return cur["node_id"]

    def try_acquire(self) -> bool:
        # fresh acquisition: atomic exclusive create
        try:
            fd = os.open(self.path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
            try:
                os.write(fd, self._payload().encode())
            finally:
                os.close(fd)
            return self._confirmed()
        except FileExistsError:
            pass
        cur = self._read()
        if cur is not None and cur["expires_ms"] > self._now_ms():
            return cur["node_id"] == self.node_id  # re-acquire own live lease
        # expired (or corrupt) lease: take over by atomic replacement, then
        # confirm — a concurrent takeover may have landed after ours
        write_atomic(self.path, self._payload())
        return self._confirmed()

    def renew(self) -> bool:
        """Extend the lease; False means leadership is LOST (expired and
        taken, or the file changed hands) and the caller must stop acting
        as leader immediately."""
        cur = self._read()
        if cur is None or cur["node_id"] != self.node_id:
            return False
        if cur["expires_ms"] <= self._now_ms():
            # our own lease lapsed: re-acquire rather than silently extend
            return self.try_acquire()
        write_atomic(self.path, self._payload())
        return self._confirmed()

    def release(self) -> None:
        """Drop leadership if held; a non-holder release is a no-op."""
        cur = self._read()
        if cur is not None and cur["node_id"] == self.node_id:
            try:
                os.unlink(self.path)
            except FileNotFoundError:
                pass
