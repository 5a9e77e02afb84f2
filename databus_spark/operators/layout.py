"""Data-layout operators: Z-order (Morton) clustering for
multi-dimensional scan pruning.

Beyond-reference capability. The reference serves single-key streams,
so physical order = SCN order is enough; an analytics corpus at 100 TB
is queried along SEVERAL axes at once (user AND time, source AND key
range). Parquet scan pruning is driven by per-file/row-group min-max
stats, which only help along the sort order — sorting by `a` destroys
locality in `b`. Z-ordering interleaves the bits of both keys so that
files hold compact ranges in EVERY interleaved dimension: a predicate
on either axis (or both) overlaps a small fraction of files, and the
engine's ordinary min-max skipping does the rest. (The same layout
trick Delta/Iceberg expose as OPTIMIZE ZORDER BY — restated here as a
plain column + repartitionByRange write, no table format required.)

Determinism: the z-key is pure integer bit math (no floats, no RNG), so
the DuckDB oracle reproduces it exactly.

Scale shape: computing the key is map-side; laying out the table is ONE
range shuffle (repartitionByRange on the z-key) — the same cost as any
sorted write — after which every multi-dim slice query is pruned at the
scan. Re-clustering after appends is incremental: only files whose
z-range overlaps the new data need rewriting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Z_BITS = 16  # bits kept per dimension (32-bit z-key for 2 dims)
ZB_BITS = 8  # bucket bits per dimension after min-max normalization


def minmax_bucket(c: Column, cmin: Column, cmax: Column, bits: int = ZB_BITS) -> Column:
    """Normalize a dimension into [0, 2^bits) by min-max scaling:
    floor((x - min) * 2^bits / (max - min + 1)). REQUIRED before
    interleaving: raw dimensions of different magnitudes (user ids vs
    epoch hours) would otherwise let the wider one own all the high
    z bits and the narrower one contribute nothing to file layout.
    The numerator stays far below 2^53, so the double division is exact
    and floor() agrees across engines."""
    span = (cmax - cmin + F.lit(1)).cast("double")
    return F.floor((c - cmin).cast("double") * (1 << bits) / span).cast("long")


def minmax_bucket_sql(c: str, cmin: str, cmax: str, bits: int = ZB_BITS) -> str:
    return (
        f"CAST(floor(CAST(({c}) - ({cmin}) AS DOUBLE) * {1 << bits}"
        f" / CAST(({cmax}) - ({cmin}) + 1 AS DOUBLE)) AS BIGINT)"
    )


def zorder_key(x: Column, y: Column, bits: int = Z_BITS) -> Column:
    """Morton-interleave the low `bits` of two non-negative int columns:
    bit i of x lands at position 2i, bit i of y at 2i+1. Values are
    masked into range first (callers normally pass pre-bucketed
    dimensions, e.g. pmod(hash(user), 2^16) and a time bucket).
    """
    xm = F.pmod(x.cast("long"), F.lit(1 << bits))
    ym = F.pmod(y.cast("long"), F.lit(1 << bits))
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(xm, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(ym, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def zorder_key_sql(x: str, y: str, bits: int = Z_BITS) -> str:
    """DuckDB twin of zorder_key (same masked bit interleave)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x}) % {1 << bits}) >> {i} & 1) * {1 << (2 * i)}")
        terms.append(f"((({y}) % {1 << bits}) >> {i} & 1) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


def zorder_layout(
    df: DataFrame, x_col: str, y_col: str, n_files: int = 32, bits: int = ZB_BITS
) -> DataFrame:
    """Cluster `df` for multi-dim pruning: min-max-bucket both
    dimensions (one tiny agg, broadcast back), interleave, then ONE
    range shuffle so each output partition (= output file on write)
    covers a compact, disjoint z-range — and therefore a compact
    rectangle-ish region in (x, y) space. Write with .write.parquet()
    as usual; the min-max stats parquet already keeps per
    file/row-group make every x-slice, y-slice, or box query skip
    non-overlapping files.
    """
    mm = df.agg(
        F.min(x_col).alias("_xmin"),
        F.max(x_col).alias("_xmax"),
        F.min(y_col).alias("_ymin"),
        F.max(y_col).alias("_ymax"),
    )
    keyed = df.crossJoin(F.broadcast(mm)).withColumn(
        "z",
        zorder_key(
            minmax_bucket(F.col(x_col), F.col("_xmin"), F.col("_xmax"), bits),
            minmax_bucket(F.col(y_col), F.col("_ymin"), F.col("_ymax"), bits),
            bits,
        ),
    ).drop("_xmin", "_xmax", "_ymin", "_ymax")
    return keyed.repartitionByRange(n_files, "z").sortWithinPartitions("z")


# ---------------------------------------------------------------------------
# Incremental z-order maintenance
# ---------------------------------------------------------------------------
# Re-clustering a 100 TB table for every append is a non-starter; the
# table-format answer (Delta/Iceberg OPTIMIZE) is incremental: keep a
# manifest of per-file z-intervals, rewrite ONLY the files whose
# interval the new batch touches, link the rest forward untouched.
# Restated here over plain parquet + a JSON manifest:
#
# - bucketing bounds are FROZEN at table creation (else appends would
#   shift min/max and silently re-key history); out-of-bounds values
#   clamp into the edge buckets, exactly like a table format's
#   clustering metadata.
# - the manifest (file -> [zlo, zhi], plus bounds) is driver-side state
#   of manifest scale — file counts, not rows — the same footprint a
#   Delta transaction log costs.
# - overlap detection runs IN SPARK (batch rows joined to the broadcast
#   interval list), so the driver never sees data rows; it collects
#   only the distinct set of touched file ids.

import os as _os
import uuid as _uuid

from databus_spark.store.versions import VersionedState as _VersionedState
from databus_spark.store.versions import exclusive as _exclusive


class ZorderTable:
    """Parquet table kept z-clustered across appends.

    write_initial(df) lays the table out and freezes the bucketing
    bounds; append(df) rewrites only the files whose z-interval the
    batch overlaps. Each version's manifest commits through
    store/versions.py, the crash-atomic commit and writer lock every
    versioned state (the snapshot store, the streaming sketch sinks)
    uses.
    """

    def __init__(self, spark, path: str, x_col: str, y_col: str,
                 bits: int = ZB_BITS, rows_per_file: int = 250_000):
        self.spark, self.path = spark, path
        self.x_col, self.y_col, self.bits = x_col, y_col, bits
        self.rows_per_file = rows_per_file
        self.vstate = _VersionedState(path)

    # -- manifest / version plumbing ---------------------------------------
    def _version(self) -> int:
        return self.vstate.current()

    def manifest(self) -> dict:
        return self.vstate.manifest(self.vstate.current())

    # -- keying with frozen bounds -----------------------------------------
    def _keyed(self, df: DataFrame, bounds: dict) -> DataFrame:
        x = F.greatest(F.least(F.col(self.x_col), F.lit(bounds["xmax"])), F.lit(bounds["xmin"]))
        y = F.greatest(F.least(F.col(self.y_col), F.lit(bounds["ymax"])), F.lit(bounds["ymin"]))
        return df.withColumn(
            "z",
            zorder_key(
                minmax_bucket(x, F.lit(bounds["xmin"]), F.lit(bounds["xmax"]), self.bits),
                minmax_bucket(y, F.lit(bounds["ymin"]), F.lit(bounds["ymax"]), self.bits),
                self.bits,
            ),
        )

    def _write_files(self, keyed: DataFrame, out_dir: str) -> list[dict]:
        """Range-write keyed rows as z-sorted files; returns their
        manifest entries (driver reads only per-file min/max scalars)."""
        n = max(1, int(keyed.count() / self.rows_per_file) or 1)
        sub = _os.path.join(out_dir, f"w{_uuid.uuid4().hex[:8]}")
        (keyed.repartitionByRange(n, "z").sortWithinPartitions("z")
              .write.parquet(sub))
        # ONE job computes every file's stats (groupBy input_file_name)
        # — a per-file agg loop would cost a driver-side job per file,
        # quadratic pain at table-format file counts
        rows = (
            self.spark.read.parquet(sub)
            .groupBy(F.input_file_name().alias("_f"))
            .agg(
                F.min("z"), F.max("z"), F.count(F.lit(1)),
                F.min(self.x_col), F.max(self.x_col),
                F.min(self.y_col), F.max(self.y_col),
            )
            .collect()
        )
        entries = []
        for r in sorted(rows, key=lambda r: r[1]):  # order by zlo
            fp = r[0]
            for prefix in ("file://", "file:"):
                if fp.startswith(prefix):
                    fp = fp[len(prefix):]
                    break
            entries.append({
                "file": _os.path.relpath(fp, self.path),
                "zlo": int(r[1]), "zhi": int(r[2]),
                # dimension bounding box: manifest-level pruning for
                # read_box without decoding Morton intervals (the
                # BIGMIN refinement drops in here if ever needed)
                "xlo": int(r[4]), "xhi": int(r[5]),
                "ylo": int(r[6]), "yhi": int(r[7]),
            })
        return entries

    # -- public API ---------------------------------------------------------
    def write_initial(self, df: DataFrame) -> None:
        with self.vstate.writer() as (v, new_dir):
            mm = df.agg(
                F.min(self.x_col), F.max(self.x_col),
                F.min(self.y_col), F.max(self.y_col),
            ).collect()[0]
            if mm[0] is None:
                raise ValueError(
                    "write_initial needs at least one row: the clustering "
                    "bounds freeze at creation and an empty table has none"
                )
            bounds = {"xmin": int(mm[0]), "xmax": int(mm[1]),
                      "ymin": int(mm[2]), "ymax": int(mm[3])}
            entries = self._write_files(self._keyed(df, bounds), new_dir)
            self.vstate.commit(v + 1, {"bounds": bounds, "files": entries})

    def append(self, df: DataFrame) -> dict:
        """Incrementally cluster a new batch: only files whose
        z-interval the batch touches are rewritten; disjoint appends
        rewrite nothing. Returns {'rewritten': n, 'kept': m}."""
        with self.vstate.writer() as (v, new_dir):
            man = self.vstate.manifest(v)
            bounds = man["bounds"]
            keyed = self._keyed(df, bounds).localCheckpoint(eager=False)
            # pure-JVM VALUES LocalRelation, not createDataFrame-from-rows:
            # the latter plans the broadcast side as a pickled Python RDD
            # whose first evaluation spawns a non-Arrow worker (the
            # dim_df/sources_registry trap; all-integer literals here)
            touched: set[int] = set()
            if man["files"]:  # empty table: nothing to rewrite, VALUES needs >=1 row
                rows_sql = ", ".join(
                    f"({i}, {int(e['zlo'])}, {int(e['zhi'])})"
                    for i, e in enumerate(man["files"])
                )
                ival_df = F.broadcast(
                    self.spark.sql(
                        "SELECT CAST(col1 AS INT) AS fid, CAST(col2 AS LONG) AS zlo, "
                        f"CAST(col3 AS LONG) AS zhi FROM (VALUES {rows_sql})"
                    )
                )
                touched = {
                    r["fid"]
                    for r in keyed.join(
                        ival_df,
                        (F.col("z") >= F.col("zlo")) & (F.col("z") <= F.col("zhi")),
                    ).select("fid").distinct().collect()
                }
            kept, rewrite_files = [], []
            for i, e in enumerate(man["files"]):
                (rewrite_files if i in touched else kept).append(e)
            union = keyed
            if rewrite_files:
                old = self.spark.read.parquet(
                    *[_os.path.join(self.path, e["file"]) for e in rewrite_files]
                )
                union = old.unionByName(keyed)
            entries = kept + self._write_files(union, new_dir)
            entries.sort(key=lambda e: e["zlo"])
            self.vstate.commit(v + 1, {"bounds": bounds, "files": entries})
            return {"rewritten": len(rewrite_files), "kept": len(kept)}

    def read(self) -> DataFrame:
        man = self.manifest()
        return self.spark.read.parquet(
            *[_os.path.join(self.path, e["file"]) for e in man["files"]]
        )

    def vacuum(self) -> dict:
        """Delete everything the CURRENT version does not reference:
        superseded data files (append rewrites leave the old copies on
        disk), stale ``_manifest_v*.json``, orphaned ``*.tmp``, and
        emptied version directories. Mirrors the snapshot store's
        retention contract.

        Crash-safe by construction: vacuum only ever deletes paths
        absent from the manifest that ``_VERSION`` points at, and never
        touches ``_VERSION`` or the live manifest — a crash mid-vacuum
        leaves the table fully readable with some garbage remaining,
        which the next vacuum collects. It runs under the writer lock
        (store/versions.py), so it never observes a half-committed
        version, and skips manifests and version dirs NEWER than
        _VERSION: a crashed append's orphans are collected only once a
        later commit supersedes them. Returns removal counts.
        """
        with _exclusive(self.vstate.lock_path):
            v = self.vstate.current()
            man = self.vstate.manifest(v)
            referenced = {
                _os.path.normpath(_os.path.join(self.path, e["file"]))
                for e in man["files"]
            }
            # sidecars that must survive alongside a referenced file
            keep_sidecars = set()
            for fp in referenced:
                d, base = _os.path.split(fp)
                keep_sidecars.add(_os.path.join(d, "_SUCCESS"))
                keep_sidecars.add(_os.path.join(d, "._SUCCESS.crc"))
                keep_sidecars.add(_os.path.join(d, f".{base}.crc"))

            removed = {"data_files": 0, "manifests": 0, "tmp": 0, "dirs": 0}
            for name in _os.listdir(self.path):
                full = _os.path.join(self.path, name)
                if name.endswith(".tmp") and _os.path.isfile(full):
                    _os.remove(full)
                    removed["tmp"] += 1
                elif name.startswith("_manifest_v") and name.endswith(".json"):
                    try:
                        mv = int(name[len("_manifest_v"):-len(".json")])
                    except ValueError:
                        continue
                    # mv < v, not mv != v: a manifest NEWER than _VERSION is
                    # a crashed append's — never collect ahead of the
                    # version pointer
                    if mv < v:
                        _os.remove(full)
                        removed["manifests"] += 1
            for name in _os.listdir(self.path):
                full = _os.path.join(self.path, name)
                if not (name.startswith("v") and name[1:].isdigit() and _os.path.isdir(full)):
                    continue
                if int(name[1:]) > v:
                    continue  # a crashed append's version dir — same rule as manifests
                for root, dirs, files in _os.walk(full, topdown=False):
                    for f in files:
                        fp = _os.path.normpath(_os.path.join(root, f))
                        if fp in referenced or fp in keep_sidecars:
                            continue
                        _os.remove(fp)
                        removed["data_files"] += 1
                    if not _os.listdir(root):
                        _os.rmdir(root)
                        removed["dirs"] += 1
            return removed

    def read_box(
        self,
        x_range: tuple[int, int] | None = None,
        y_range: tuple[int, int] | None = None,
    ) -> tuple[DataFrame, dict]:
        """Box/slice query with MANIFEST-level file pruning: only files
        whose per-dimension bounding box intersects the requested
        ranges are listed at all (the z layout is what makes those
        boxes compact in BOTH dimensions), then the residual predicate
        runs as an ordinary pushed-down parquet filter. Returns
        (DataFrame, {'files_read': n, 'files_total': m}) so callers —
        and tests — can see the pruning actually happen."""
        man = self.manifest()
        picked = []
        for e in man["files"]:
            if x_range is not None and (e["xhi"] < x_range[0] or e["xlo"] > x_range[1]):
                continue
            if y_range is not None and (e["yhi"] < y_range[0] or e["ylo"] > y_range[1]):
                continue
            picked.append(e)
        stats = {"files_read": len(picked), "files_total": len(man["files"])}
        if not picked:
            empty = self.read().limit(0)
            return empty, stats
        df = self.spark.read.parquet(
            *[_os.path.join(self.path, e["file"]) for e in picked]
        )
        if x_range is not None:
            df = df.where(F.col(self.x_col).between(*x_range))
        if y_range is not None:
            df = df.where(F.col(self.y_col).between(*y_range))
        return df, stats
