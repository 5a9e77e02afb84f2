"""Custom Python streaming DataSource for CDC feeds (SURVEY §2.1 S4).

The reference tails a MySQL binlog with Open Replicator: row events are
buffered per transaction and emitted as an SCN-stamped event window at
commit, UPDATE/WRITE/DELETE rows becoming UPSERT/DELETE envelope events
(reference: databus2-relay/databus2-event-producer-or/.../ORListener.java:274-345
row-event conversion, :590-610 transaction framing into windows;
OpenReplicatorEventProducer seeks the binlog by file/offset).

Spark restatement — a first-class pyspark 4.x streaming ``DataSource``
(not a staged-file stand-in): Structured Streaming asks this source for
offsets, plans one ``InputPartition`` per physical partition, and workers
deserialize the trail in parallel. Offsets are a per-partition
``{part_id: last_committed_scn}`` map, checkpointed by Spark, so restart
resumes each partition exactly after its last committed SCN —
exactly-once delivery without the file-source indirection.

Trail format (the binlog stand-in a producer writes; no MySQL in the
image): a directory of rotating ``binlog.NNNNNN.jsonl`` files, one JSON
line per TRANSACTION::

    {"scn": 1042, "ts_ms": 1700000000000, "events": [
        {"op": "UPSERT", "source": "orders", "source_id": 1, "part_id": 3,
         "key_num": 7, "key_str": "7", "payload": {...}}, ...]}

The transaction is the atomic unit (a txn line is written whole), so a
reader never observes half a window — the same invariant the reference
gets from binlog commit framing.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Iterator, Tuple

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition
from pyspark.sql.types import StructType

from databus_spark.store.versions import write_atomic

FORMAT_NAME = "databus_cdc"

# Generic CDC envelope: payload stays a JSON document (schema-registry
# decode is a downstream operator — sources/schema_registry.py), so one
# source class serves every table.
CDC_SCHEMA_DDL = (
    "scn BIGINT, ts TIMESTAMP, opcode STRING, source STRING, source_id INT, "
    "part_id INT, key_num BIGINT, key_str STRING, txn_end BOOLEAN, payload STRING"
)


# -- producer side (test/tooling): the binlog writer -------------------------
INDEX_NAME = "binlog.index.json"


class BinlogWriter:
    """Appends transaction lines to a rotating binlog trail, maintaining a
    per-file SCN index sidecar ``binlog.index.json``::

        {"binlog.000001.jsonl": {"first_scn": 7, "last_scn": 1042}, ...}

    The sidecar is what lets the reader seek by SCN instead of rescanning
    the whole trail every trigger — the analog of the reference's
    (file, offset) binlog position seek (TrailFilePositionSetter /
    OpenReplicatorEventProducer start-position logic), restated for an
    SCN-addressed trail. Written via temp-file rename so readers never
    observe a torn index.

    Crash-window contract: append_txn writes the data line BEFORE the
    index update, so a producer crash in between leaves the newest
    file's entry PRESENT but one txn stale (and a file missing from the
    index entirely when the crash precedes its first index write).
    Readers therefore treat the newest trail file as unindexed — always
    scanned, never pruned, its entry never trusted for the head — which
    covers both cases; older files can no longer be appended to, so
    their entries are exact.
    """

    def __init__(self, trail_dir: str, max_txns_per_file: int = 1000) -> None:
        self.trail_dir = trail_dir
        self.max_txns_per_file = max_txns_per_file
        os.makedirs(trail_dir, exist_ok=True)
        existing = _trail_files(trail_dir)
        self._index = int(existing[-1].rsplit(".", 2)[-2]) if existing else 1
        self._txns_in_file = 0
        self._idx = _read_index(trail_dir)

    def _path(self) -> str:
        return os.path.join(self.trail_dir, f"binlog.{self._index:06d}.jsonl")

    def rotate(self) -> None:
        self._index += 1
        self._txns_in_file = 0

    def append_txn(self, scn: int, ts_ms: int, events: list[dict]) -> None:
        """One committed transaction = one atomic line (ORListener's
        buffer-until-commit framing)."""
        if self._txns_in_file >= self.max_txns_per_file:
            self.rotate()
        line = json.dumps(
            {"scn": scn, "ts_ms": ts_ms, "events": events}, sort_keys=True
        )
        with open(self._path(), "a") as f:
            f.write(line + "\n")
        self._txns_in_file += 1
        name = os.path.basename(self._path())
        ent = self._idx.get(name)
        if ent is None:
            self._idx[name] = {"first_scn": int(scn), "last_scn": int(scn)}
        else:
            ent["first_scn"] = min(ent["first_scn"], int(scn))
            ent["last_scn"] = max(ent["last_scn"], int(scn))
        _write_index(self.trail_dir, self._idx)


def _trail_files(trail_dir: str) -> list[str]:
    try:
        names = os.listdir(trail_dir)
    except FileNotFoundError:
        return []
    return sorted(n for n in names if n.startswith("binlog.") and n.endswith(".jsonl"))


def _read_index(trail_dir: str) -> dict[str, dict]:
    """Load the SCN index sidecar, degrading PER ENTRY: a truncated /
    non-JSON file yields {} (full scan), and an individually malformed
    entry (missing/non-numeric scn fields) is dropped so only ITS file
    degrades to a scan — the index is an optimization, never a
    correctness dependency, so corruption can only cost I/O."""
    try:
        with open(os.path.join(trail_dir, INDEX_NAME)) as f:
            raw = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return {}
    if not isinstance(raw, dict):
        return {}
    out: dict[str, dict] = {}
    for name, ent in raw.items():
        try:
            out[name] = {
                "first_scn": int(ent["first_scn"]),
                "last_scn": int(ent["last_scn"]),
            }
        except (KeyError, TypeError, ValueError):
            continue
    return out


def _write_index(trail_dir: str, idx: dict[str, dict]) -> None:
    write_atomic(os.path.join(trail_dir, INDEX_NAME), json.dumps(idx, sort_keys=True))


def _select_files(
    trail_dir: str, start_scn: int | None = None, end_scn: int | None = None
) -> list[str]:
    """Index-pruned file list for an (start, end] SCN range: files whose
    SCN bracket falls entirely outside the range are skipped without
    being opened. Unindexed files are conservatively kept (scanned), and
    so is the NEWEST file regardless of its entry — its last_scn may be
    one txn stale (producer crashed between the data append and the
    index write), so pruning it could hide a committed transaction."""
    idx = _read_index(trail_dir)
    files = _trail_files(trail_dir)
    out = []
    for i, name in enumerate(files):
        ent = idx.get(name)
        if ent is not None and i < len(files) - 1:
            if start_scn is not None and int(ent["last_scn"]) <= start_scn:
                continue
            if end_scn is not None and int(ent["first_scn"]) > end_scn:
                continue
        out.append(name)
    return out


def _scan_txns(
    trail_dir: str, files: list[str] | None = None, on_corrupt: str = "fail"
) -> Iterator[dict]:
    """Commit-ordered transaction scan across rotated files (file names
    sort in rotation order; scn is monotone across a trail).

    on_corrupt: 'fail' raises on an unparseable/shapeless line (default:
    a torn trail is an ingest emergency, not something to paper over);
    'skip' drops the line and keeps draining — the poison-pill escape
    hatch, mirroring the reference producer's handling of trail parse
    errors (it logs and advances rather than wedging the relay). A
    half-written LAST line (producer crashed mid-append) is the one case
    'fail' also tolerates: the line has no trailing newline yet, so it
    is not a committed transaction."""
    for name in _trail_files(trail_dir) if files is None else files:
        with open(os.path.join(trail_dir, name)) as f:
            pending = f.readlines()
        for i, line in enumerate(pending):
            is_last = i == len(pending) - 1
            stripped = line.strip()
            if not stripped:
                continue
            if is_last and not line.endswith("\n"):
                # torn tail: append_txn writes line+newline atomically
                # enough that a missing newline means an uncommitted txn
                continue
            try:
                txn = json.loads(stripped)
                txn["scn"], txn["events"]  # shape check
            except (json.JSONDecodeError, KeyError, TypeError):
                if on_corrupt == "skip":
                    continue
                raise ValueError(
                    f"corrupt trail line in {name!r} (line {i + 1}); "
                    "pass .option('on_corrupt', 'skip') to drop it"
                )
            yield txn


# -- consumer side: the streaming reader -------------------------------------
@dataclass
class BinlogPartition(InputPartition):
    part_id: int
    start_scn: int
    end_scn: int
    trail_dir: str
    n_parts: int
    on_corrupt: str = "fail"


class CdcBinlogStreamReader(DataSourceStreamReader):
    """Per-partition (part_id, scn) offset bookkeeping.

    `latestOffset` advances each physical partition to the max committed
    SCN among transactions containing events routed to it; `partitions`
    plans one InputPartition per advanced partition; workers replay
    exactly the (start, end] SCN range for their partition.
    """

    def __init__(self, options) -> None:
        self.trail_dir = options.get("path")
        if not self.trail_dir:
            raise ValueError("databus_cdc requires .option('path', <trail dir>)")
        self.n_parts = int(options.get("parts", "4"))
        self.start_scn = int(options.get("start_scn", "-1"))
        self.on_corrupt = options.get("on_corrupt", "fail")
        if self.on_corrupt not in ("fail", "skip"):
            raise ValueError("on_corrupt must be 'fail' or 'skip'")

    def initialOffset(self) -> dict:
        return {str(p): self.start_scn for p in range(self.n_parts)}

    def latestOffset(self) -> dict:
        """Trail head from the SCN index sidecar — O(#files) sidecar
        lookups per trigger instead of an O(trail) rescan. The NEWEST
        file is always scanned (never trusted from the index): its entry
        can be one committed txn stale when the producer crashed between
        the data append and the index write, and trusting it would make
        that txn invisible until the next append. Unindexed files (crash
        before the first index write) are scanned too. Every partition
        advances to the head: a partition with no events in the range
        plans an (index-pruned) no-op task, and exactly-once holds
        because the next start is the committed end."""
        idx = _read_index(self.trail_dir)
        head = self.start_scn
        files = _trail_files(self.trail_dir)
        scan = []
        for i, name in enumerate(files):
            ent = idx.get(name)
            newest = i == len(files) - 1
            if ent is not None and not newest:
                head = max(head, int(ent["last_scn"]))
            else:
                scan.append(name)
        for txn in _scan_txns(self.trail_dir, scan, self.on_corrupt):
            head = max(head, int(txn["scn"]))
        return {str(p): head for p in range(self.n_parts)}

    def partitions(self, start: dict, end: dict):
        out = []
        for p in range(self.n_parts):
            s = int(start.get(str(p), self.start_scn))
            e = int(end.get(str(p), self.start_scn))
            if e > s:
                out.append(
                    BinlogPartition(
                        p, s, e, self.trail_dir, self.n_parts, self.on_corrupt
                    )
                )
        return out

    def read(self, partition: BinlogPartition) -> Iterator[Tuple]:
        """Worker-side replay of one physical partition's SCN range.

        The last event of a transaction FOR THIS PARTITION carries
        txn_end=True — the per-buffer end-of-window marker the reference
        appends when it closes a window (DbusEventBuffer EOP event).

        Files are pruned by the SCN index before being opened: a resumed
        stream with a deep trail reads only files overlapping
        (start, end], not the whole history."""
        p = partition.part_id
        files = _select_files(partition.trail_dir, partition.start_scn, partition.end_scn)
        for txn in _scan_txns(partition.trail_dir, files, partition.on_corrupt):
            scn = int(txn["scn"])
            if not (partition.start_scn < scn <= partition.end_scn):
                continue
            mine = [
                ev
                for ev in txn["events"]
                if int(ev["part_id"]) % partition.n_parts == p
            ]
            if not mine:
                continue
            ts = datetime.fromtimestamp(int(txn["ts_ms"]) / 1000.0, tz=timezone.utc)
            ts = ts.replace(tzinfo=None)  # session tz is UTC; emit naive UTC
            for i, ev in enumerate(mine):
                payload = ev.get("payload")
                yield (
                    scn,
                    ts,
                    ev["op"],
                    ev.get("source"),
                    int(ev.get("source_id", -1)),
                    p,
                    int(ev["key_num"]) if ev.get("key_num") is not None else None,
                    ev.get("key_str"),
                    i == len(mine) - 1,
                    json.dumps(payload, sort_keys=True) if payload is not None else None,
                )

    def commit(self, end: dict) -> None:
        # Trail retention is a producer-side policy (BinlogWriter keeps
        # files until pruned); nothing to release on the consumer.
        pass


class CdcBinlogDataSource(DataSource):
    """spark.readStream.format("databus_cdc").option("path", dir).load()"""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        return CDC_SCHEMA_DDL

    def streamReader(self, schema: StructType) -> CdcBinlogStreamReader:
        return CdcBinlogStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(CdcBinlogDataSource)


def changelog_to_binlog(log_df, trail_dir: str, payload_cols, n_files: int = 3) -> int:
    """TEST-FIXTURE ONLY — NOT an engine path. Materialize a deterministic
    changelog DataFrame as a binlog trail: rows sharing an SCN form one
    transaction (the envelope's txn framing inverted). Returns the number
    of transactions written.

    This collects the whole changelog to the driver and writes
    single-threaded, which is fine for building small test trails but
    would never scale: a production binlog producer is the upstream
    database itself (the reference's OpenReplicatorEventProducer tails a
    live MySQL), so the engine never *writes* binlogs at scale — it only
    reads them (CdcBinlogStreamReader, partitioned per trail file). If a
    distributed trail-writing path were ever needed, it would be
    df.repartitionByRange("scn").foreachPartition(writer) with one trail
    file per partition."""
    rows = log_df.collect()
    by_scn: dict[int, list] = {}
    for r in rows:
        by_scn.setdefault(r["scn"], []).append(r)
    scns = sorted(by_scn)
    per_file = max(1, (len(scns) + n_files - 1) // n_files)
    writer = BinlogWriter(trail_dir, max_txns_per_file=per_file)
    for scn in scns:
        txn_rows = sorted(by_scn[scn], key=lambda r: (r["part_id"], r["key_str"]))
        ts_val = txn_rows[0]["ts"]
        if isinstance(ts_val, datetime):
            ts_ms = int(ts_val.replace(tzinfo=timezone.utc).timestamp() * 1000)
        else:  # DateType envelope (orders): midnight UTC
            ts_ms = int(
                datetime(ts_val.year, ts_val.month, ts_val.day, tzinfo=timezone.utc).timestamp()
                * 1000
            )
        events = []
        for r in txn_rows:
            payload = {}
            for c in payload_cols:
                v = r[c]
                if hasattr(v, "isoformat"):
                    v = v.isoformat()
                payload[c] = v
            events.append(
                {
                    "op": r["opcode"],
                    "source": r["source"],
                    "source_id": r["source_id"],
                    "part_id": r["part_id"],
                    "key_num": r["key_num"],
                    "key_str": r["key_str"],
                    "payload": payload,
                }
            )
        writer.append_txn(scn, ts_ms, events)
    return len(scns)
