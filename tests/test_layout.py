"""Z-order layout: key correctness + the multi-dimensional locality the
layout exists to buy, measured from real parquet file stats."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from databus_spark.catalog import load_table
from databus_spark.operators.layout import zorder_key, zorder_layout


def test_zorder_key_bit_interleave(spark):
    """z(x=0b11, y=0b01) = x bits at even positions (0,2), y bit at
    position 1 -> 0b0111 = 7; a few more hand-checked points."""
    df = spark.createDataFrame(
        [(3, 1), (0, 0), (1, 0), (0, 1), (5, 2)], ["x", "y"]
    ).select(zorder_key(F.col("x"), F.col("y")).alias("z"))
    got = [r["z"] for r in df.collect()]
    # interleave(x,y) with x at even bits: (3,1)->7, (0,0)->0, (1,0)->1,
    # (0,1)->2, (5,2)->0b011001 = 25? check: x=101 -> bits0,2 -> 1+16=17;
    # y=010 -> bit1 -> position 3 -> 8; 17+8=25.
    assert got == [7, 0, 1, 2, 25]


def _file_spans(paths, col):
    spans = []
    for p in paths:
        t = pq.read_table(p, columns=[col])
        vals = t.column(col).to_pylist()
        spans.append((min(vals), max(vals)))
    return spans


def test_zorder_layout_multi_dim_locality(spark, sf_dir, tmp_path):
    """After one z-range shuffle, every output file covers a compact
    slice of BOTH dimensions — the property parquet min-max pruning
    needs. Checked against the degenerate baseline (sorting by time
    only, which leaves full user-range in every file)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hour")
    )
    out = str(tmp_path / "zorder")
    zorder_layout(e, "user_id", "hour", n_files=8).write.parquet(out)
    files = sorted(glob.glob(os.path.join(out, "*.parquet")))
    assert len(files) >= 4

    # z ranges must be disjoint and ordered (range partition + sort)
    z_spans = sorted(_file_spans(files, "z"))
    for (lo1, hi1), (lo2, hi2) in zip(z_spans, z_spans[1:]):
        assert hi1 <= lo2, "file z-ranges overlap"

    n_users = e.select("user_id").distinct().count()
    hours = e.agg(F.min("hour"), F.max("hour")).collect()[0]
    hour_span_total = hours[1] - hours[0] + 1

    user_spans = _file_spans(files, "user_id")
    hour_spans = _file_spans(files, "hour")
    avg_user_cov = sum(hi - lo + 1 for lo, hi in user_spans) / len(files) / n_users
    avg_hour_cov = sum(hi - lo + 1 for lo, hi in hour_spans) / len(files) / hour_span_total
    # each file sees a bounded window of each dimension, not the whole
    # range: with 8 files and 2 interleaved dims, expect ~sqrt(1/8) ~ 0.35
    # coverage per dim; assert a loose 0.8 so only total locality loss fails
    assert avg_user_cov < 0.8, f"no user locality: {avg_user_cov}"
    assert avg_hour_cov < 0.8, f"no hour locality: {avg_hour_cov}"

    # degenerate baseline: time-sorted layout leaves every file covering
    # (essentially) the full user range
    base = str(tmp_path / "bytime")
    e.repartitionByRange(8, "hour").sortWithinPartitions("hour").write.parquet(base)
    bfiles = sorted(glob.glob(os.path.join(base, "*.parquet")))
    buser = _file_spans(bfiles, "user_id")
    base_user_cov = sum(hi - lo + 1 for lo, hi in buser) / len(bfiles) / n_users
    assert avg_user_cov < base_user_cov, (
        "z-order should beat single-dim sort on the non-sorted dimension"
    )


def test_zorder_table_incremental_append(spark, sf_dir, tmp_path):
    """Incremental maintenance: a batch overlapping one z-region
    rewrites only the touched files; a batch beyond the clustered
    bounds clamps into the edge bucket; read() always returns exactly
    the union of everything appended; manifest intervals stay ordered."""
    from databus_spark.operators.layout import ZorderTable

    base = spark.range(0, 4000).selectExpr(
        "id AS row_id", "CAST(id % 64 AS LONG) AS x", "CAST(id % 97 AS LONG) AS y"
    )
    t = ZorderTable(spark, str(tmp_path / "zt"), "x", "y", rows_per_file=500)
    t.write_initial(base)
    man0 = t.manifest()
    assert len(man0["files"]) >= 4
    los = [e["zlo"] for e in man0["files"]]
    assert los == sorted(los)

    # targeted append: all rows land in ONE corner of (x, y) space
    corner = spark.range(4000, 4100).selectExpr(
        "id AS row_id", "CAST(0 AS LONG) AS x", "CAST(0 AS LONG) AS y"
    )
    r1 = t.append(corner)
    assert r1["rewritten"] >= 1
    assert r1["kept"] >= len(man0["files"]) - 2, r1  # most files untouched

    # out-of-bounds append clamps into the edge bucket (frozen bounds)
    far = spark.range(4100, 4150).selectExpr(
        "id AS row_id", "CAST(10000 AS LONG) AS x", "CAST(10000 AS LONG) AS y"
    )
    t.append(far)

    got = sorted(r["row_id"] for r in t.read().select("row_id").collect())
    assert got == list(range(0, 4150))

    man = t.manifest()
    assert man["bounds"] == man0["bounds"], "bounds must stay frozen"
    ivs = sorted((e["zlo"], e["zhi"]) for e in man["files"])
    for (lo, hi) in ivs:
        assert lo <= hi


def test_zorder_read_box_prunes_files(spark, sf_dir, tmp_path):
    """A box query must read a strict subset of files via the manifest
    bbox check and still return exactly the rows a full-scan filter
    returns."""
    from pyspark.sql import functions as F

    from databus_spark.operators.layout import ZorderTable

    base = spark.range(0, 8000).selectExpr(
        "id AS row_id", "CAST(id % 101 AS LONG) AS x", "CAST(id % 137 AS LONG) AS y"
    )
    t = ZorderTable(spark, str(tmp_path / "ztb"), "x", "y", rows_per_file=500)
    t.write_initial(base)

    df, stats = t.read_box(x_range=(0, 12), y_range=(0, 16))
    assert stats["files_read"] < stats["files_total"], stats
    want = sorted(
        r["row_id"]
        for r in base.where(F.col("x").between(0, 12) & F.col("y").between(0, 16))
        .select("row_id").collect()
    )
    got = sorted(r["row_id"] for r in df.select("row_id").collect())
    assert got == want

    # a box fully outside the table reads zero files
    empty, st2 = t.read_box(x_range=(500, 600))
    assert st2["files_read"] == 0 and empty.count() == 0


def test_zorder_table_crash_between_manifest_and_version(spark, tmp_path):
    """The commit protocol (manifest atomically, then _VERSION): a crash
    after writing the v2 manifest but before flipping _VERSION must
    leave the table serving v1 intact — an orphan manifest is garbage,
    never corruption."""
    import json
    import os

    from databus_spark.operators.layout import ZorderTable

    base = spark.range(0, 1000).selectExpr(
        "id AS row_id", "CAST(id % 31 AS LONG) AS x", "CAST(id % 17 AS LONG) AS y"
    )
    t = ZorderTable(spark, str(tmp_path / "ztc"), "x", "y", rows_per_file=300)
    t.write_initial(base)
    v1 = t.manifest()

    # simulate the torn commit: orphan v2 manifest exists, _VERSION still 1
    orphan = {"bounds": v1["bounds"], "files": []}
    with open(os.path.join(t.path, "_manifest_v2.json"), "w") as f:
        json.dump(orphan, f)

    assert t._version() == 1
    assert t.manifest() == v1
    assert t.read().count() == 1000

    # the next append supersedes the orphan and commits v2 properly
    t.append(
        spark.range(1000, 1100).selectExpr(
            "id AS row_id", "CAST(1 AS LONG) AS x", "CAST(1 AS LONG) AS y"
        )
    )
    assert t._version() == 2
    assert t.read().count() == 1100


def test_zorder_table_streaming_ingest(spark, tmp_path):
    """Structured Streaming ingest into the z-table: micro-batches land
    via foreachBatch(append); the final table equals the full input and
    stays clustered (ordered, disjoint-on-read manifest intervals is
    not required across appends, but bounds stay frozen and reads are
    exact)."""
    import glob
    import os

    from databus_spark.operators.layout import ZorderTable

    src = str(tmp_path / "src")
    os.makedirs(src)
    full = spark.range(0, 3000).selectExpr(
        "id AS row_id", "CAST(id % 53 AS LONG) AS x", "CAST(id % 71 AS LONG) AS y"
    )
    # three source files -> three-ish micro-batches with maxFilesPerTrigger
    full.where("row_id < 1000").coalesce(1).write.parquet(src + "/p0")
    full.where("row_id >= 1000 AND row_id < 2000").coalesce(1).write.parquet(src + "/p1")
    full.where("row_id >= 2000").coalesce(1).write.parquet(src + "/p2")

    t = ZorderTable(spark, str(tmp_path / "zts"), "x", "y", rows_per_file=500)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.write_initial(full.limit(0))  # frozen bounds need >= 1 row
    t.write_initial(spark.read.parquet(src + "/p0"))

    stream = (
        spark.readStream.schema("row_id LONG, x LONG, y LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/p[12]/")
    )

    def sink(batch_df, batch_id):
        if batch_df.count():
            t.append(batch_df)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(r["row_id"] for r in t.read().select("row_id").collect())
    assert got == list(range(0, 3000))


def test_zorder_table_vacuum(spark, tmp_path):
    """vacuum() removes everything the current version doesn't reference
    — superseded data files, stale manifests, orphaned tmp files — and
    leaves the table's contents bit-identical. A crash mid-vacuum
    (simulated as a partial delete) never touches _VERSION or the live
    manifest, so the table stays readable throughout."""
    import json
    import os

    from databus_spark.operators.layout import ZorderTable

    base = spark.range(0, 2000).selectExpr(
        "id AS row_id", "CAST(id % 64 AS LONG) AS x", "CAST(id % 97 AS LONG) AS y"
    )
    t = ZorderTable(spark, str(tmp_path / "ztv"), "x", "y", rows_per_file=400)
    t.write_initial(base)
    for lo in (2000, 2100):  # two rewriting appends -> superseded files
        t.append(
            spark.range(lo, lo + 100).selectExpr(
                "id AS row_id", "CAST(0 AS LONG) AS x", "CAST(0 AS LONG) AS y"
            )
        )
    # plant an orphaned tmp (torn marker write)
    with open(os.path.join(t.path, "_manifest_v9.json.tmp"), "w") as f:
        json.dump({}, f)

    def parquet_files():
        out = []
        for root, _dirs, files in os.walk(t.path):
            out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
        return set(out)

    before = parquet_files()
    referenced = {
        os.path.normpath(os.path.join(t.path, e["file"])) for e in t.manifest()["files"]
    }
    assert referenced < before, "appends should have left superseded files"
    pre_rows = sorted(r["row_id"] for r in t.read().select("row_id").collect())

    removed = t.vacuum()
    assert removed["data_files"] > 0 and removed["manifests"] >= 2
    assert removed["tmp"] >= 1
    after = parquet_files()
    assert after == referenced, "exactly the referenced files survive"
    # stale manifests gone, live manifest + _VERSION intact
    mans = [n for n in os.listdir(t.path) if n.startswith("_manifest_v") and n.endswith(".json")]
    assert mans == [f"_manifest_v{t._version()}.json"]
    assert sorted(r["row_id"] for r in t.read().select("row_id").collect()) == pre_rows

    # idempotent; and the table still appends + vacuums cleanly after
    assert t.vacuum()["data_files"] == 0
    t.append(
        spark.range(2200, 2300).selectExpr(
            "id AS row_id", "CAST(1 AS LONG) AS x", "CAST(1 AS LONG) AS y"
        )
    )
    t.vacuum()
    got = sorted(r["row_id"] for r in t.read().select("row_id").collect())
    assert got == list(range(0, 2300))


def test_zorder_vacuum_spares_inflight_version(spark, tmp_path):
    """vacuum never collects AHEAD of _VERSION: a manifest or v-dir
    newer than the version pointer is an in-flight (or crashed) append's
    commit-in-progress and must survive, so a writer that crashed
    between writing _manifest_v{v+1} and flipping _VERSION can always be
    re-driven. Mutating ops also hold the <path>/_LOCK flock (r6 advice:
    these tables live in shared /tmp paths across processes)."""
    import json
    import os

    from databus_spark.operators.layout import ZorderTable

    base = spark.range(0, 500).selectExpr(
        "id AS row_id", "CAST(id % 16 AS LONG) AS x", "CAST(id % 23 AS LONG) AS y"
    )
    t = ZorderTable(spark, str(tmp_path / "ztif"), "x", "y", rows_per_file=200)
    t.write_initial(base)
    v = t._version()

    # simulate an append that crashed between manifest write and the
    # _VERSION flip: a NEWER manifest + data dir exist but aren't live
    nm = os.path.join(t.path, f"_manifest_v{v + 1}.json")
    with open(nm, "w") as f:
        json.dump({"bounds": t.manifest()["bounds"], "files": []}, f)
    nd = os.path.join(t.path, f"v{v + 1}")
    os.makedirs(nd, exist_ok=True)
    inflight = os.path.join(nd, "part-inflight.parquet")
    with open(inflight, "w") as f:
        f.write("not yet committed")

    t.vacuum()
    assert os.path.exists(nm), "newer manifest must survive vacuum"
    assert os.path.exists(inflight), "in-flight data files must survive vacuum"

    # writer lock file exists and is flock-able (cross-process guard)
    assert os.path.exists(os.path.join(t.path, "_LOCK"))


def test_zorder_staging_rebuild_does_not_self_deadlock(spark, sf_dir):
    """Round-8 regression: the registry's zorder staging gate held
    zdir+'.lock' while write_initial took the SAME file via
    ZorderTable._write_lock — flock on a second fd of one inode
    self-deadlocks, so the REBUILD path (stale/absent marker) hung
    forever. The table now sits one level inside the staged artifact
    dir, so its writer lock never shares a file with the staging lock;
    this drives the rebuild path under a watchdog."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import signal

    from databus_spark.registry import QUERIES

    for d in _glob.glob(_os.path.join("/tmp", "databus_ztable_*")):
        if _os.path.isdir(d):
            _shutil.rmtree(d, ignore_errors=True)
        else:
            _os.unlink(d)

    def _boom(signum, frame):
        raise TimeoutError("zorder staging rebuild deadlocked")

    old = signal.signal(signal.SIGALRM, _boom)
    signal.alarm(300)
    try:
        assert QUERIES["zorder_box_read"](spark, sf_dir).count() > 0
        # marker now present -> reuse path must also complete
        assert QUERIES["zorder_box_read"](spark, sf_dir).count() > 0
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)
