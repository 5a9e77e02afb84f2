"""Consumer checkpoint model — JSON-compatible with the reference's shape.

Mirrors Checkpoint.java (reference: databus-core-impl/.../core/
Checkpoint.java:154-260) and the consumption-mode state machine
DbusClientMode.java:23-33 (INIT / ONLINE_CONSUMPTION / BOOTSTRAP_SNAPSHOT
/ BOOTSTRAP_CATCHUP), plus the bootstrap phase-advance rules of
BootstrapCheckpointHandler.java:90-276.

Spark's own offset tracking lives in the streaming checkpointLocation;
this app-level checkpoint is what consumers persist/exchange (the
analog of CheckpointPersistenceProvider), and what the bootstrap
controller (streaming/controller.py) advances.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field

from databus_spark.store.versions import write_atomic


MODE_INIT = "INIT"
MODE_ONLINE = "ONLINE_CONSUMPTION"
MODE_SNAPSHOT = "BOOTSTRAP_SNAPSHOT"
MODE_CATCHUP = "BOOTSTRAP_CATCHUP"


class InvalidCheckpointTransition(Exception):
    """Illegal consumption-mode transition (the reference throws
    InvalidEventException / asserts in BootstrapCheckpointHandler).
    A real exception — not ``assert`` — so ``python -O`` cannot strip
    the guard and let an illegal transition corrupt the checkpoint."""


class SCNNotFoundError(Exception):
    """Consumer checkpoint SCN no longer in the retention window."""


def require_retained(since_scn: int, retained_min_scn: int) -> None:
    """The relay's retention rule (ReadEventsRequestProcessor's
    SCNNotFound path). A consumer at since_scn needs the events strictly
    GREATER than since_scn, so since_scn == retained_min_scn - 1 is
    still fully served and must not force a needless bootstrap; any
    older checkpoint would silently skip the pruned gap, so it raises."""
    if since_scn < retained_min_scn - 1:
        raise SCNNotFoundError(
            f"checkpoint {since_scn} below retained min {retained_min_scn}"
        )


def _require_mode(actual: str, allowed: tuple[str, ...], op: str) -> None:
    if actual not in allowed:
        raise InvalidCheckpointTransition(
            f"{op} is illegal in mode {actual} (allowed: {', '.join(allowed)})"
        )


@dataclass
class Checkpoint:
    consumption_mode: str = MODE_INIT
    windowScn: int = -1
    prevScn: int = -1
    tsNsecs: int = 0
    # bootstrap fields (Checkpoint.java:203-211)
    bootstrap_since_scn: int = -1
    bootstrap_start_scn: int = -1
    bootstrap_target_scn: int = -1
    bootstrap_snapshot_source_index: int = 0
    bootstrap_catchup_source_index: int = 0
    snapshot_offset: int = -1
    storage_cluster_name: str = ""
    sources: list[str] = field(default_factory=list)

    # -- JSON round trip ------------------------------------------------------
    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "Checkpoint":
        d = json.loads(s)
        return cls(**{k: v for k, v in d.items() if k in cls.__dataclass_fields__})

    # -- mode transitions (BootstrapCheckpointHandler semantics) --------------
    def on_window_end(self, scn: int, ts_nsecs: int = 0) -> "Checkpoint":
        _require_mode(self.consumption_mode, (MODE_INIT, MODE_ONLINE), "on_window_end")
        self.prevScn = self.windowScn
        self.windowScn = scn
        self.tsNsecs = ts_nsecs
        self.consumption_mode = MODE_ONLINE
        return self

    def start_bootstrap(self, since_scn: int, sources: list[str]) -> "Checkpoint":
        """SCN fell off the retention window -> bootstrap (RelayPullThread.java:104-124)."""
        self.consumption_mode = MODE_SNAPSHOT
        self.bootstrap_since_scn = since_scn
        self.sources = list(sources)
        self.bootstrap_snapshot_source_index = 0
        self.bootstrap_catchup_source_index = 0
        self.bootstrap_start_scn = -1
        self.bootstrap_target_scn = -1
        self.snapshot_offset = -1
        return self

    def advance_snapshot_offset(self, offset: int) -> "Checkpoint":
        _require_mode(self.consumption_mode, (MODE_SNAPSHOT,), "advance_snapshot_offset")
        self.snapshot_offset = offset
        return self

    def advance_after_snapshot_phase(self, start_scn: int) -> "Checkpoint":
        """Snapshot of current source done (BootstrapCheckpointHandler.java:161-176)."""
        _require_mode(
            self.consumption_mode, (MODE_SNAPSHOT,), "advance_after_snapshot_phase"
        )
        self.bootstrap_start_scn = start_scn
        self.bootstrap_snapshot_source_index += 1
        self.snapshot_offset = -1
        if self.bootstrap_snapshot_source_index >= len(self.sources):
            self.consumption_mode = MODE_CATCHUP
            self.bootstrap_catchup_source_index = 0
        return self

    def advance_after_catchup_phase(self, target_scn: int) -> "Checkpoint":
        _require_mode(
            self.consumption_mode, (MODE_CATCHUP,), "advance_after_catchup_phase"
        )
        self.bootstrap_target_scn = target_scn
        self.bootstrap_catchup_source_index += 1
        if self.bootstrap_catchup_source_index >= len(self.sources):
            # resume online from the bootstrap target
            self.consumption_mode = MODE_ONLINE
            self.prevScn = self.windowScn
            self.windowScn = target_scn
        return self


class FileCheckpointProvider:
    """Durable app-level checkpoint storage — the analog of the
    reference's FileSystemCheckpointPersistenceProvider
    (databus-client-common/.../checkpoint/
    FileSystemCheckpointPersistenceProvider.java): the consumer persists
    its Checkpoint after every phase advance, so a crash mid-bootstrap
    resumes at the last completed (phase, source index) instead of
    restarting the whole bootstrap. Atomic via temp-file rename."""

    def __init__(self, path: str) -> None:
        self.path = path

    def load(self) -> Checkpoint | None:
        import os

        if not os.path.exists(self.path):
            return None
        with open(self.path) as f:
            return Checkpoint.from_json(f.read())

    def save(self, ckpt: Checkpoint) -> None:
        write_atomic(self.path, ckpt.to_json())
