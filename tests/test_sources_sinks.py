"""Rate envelope source (S9), file-logging consumer (K6), approx-stats
error bounds (A4/A7 approximate variants)."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F


def test_rate_envelope_stream_deterministic_columns(spark, tmp_path):
    """S9: the rate source generates valid envelope rows; payload/opcode
    are pure functions of `value` (reproducible, unlike the reference's
    RNG-state producer)."""
    from databus_spark.streaming.source import rate_envelope_stream

    stream = rate_envelope_stream(spark, rows_per_second=500, n_keys=50)
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_env")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.sql("SELECT count(*) FROM rate_env").collect()[0][0] >= 100:
                break
            time.sleep(0.5)
        rows = spark.sql("SELECT * FROM rate_env").collect()
    finally:
        q.stop()
    assert len(rows) >= 100
    for r in rows[:50]:
        assert r["opcode"] == ("DELETE" if r["scn"] % 20 == 19 else "UPSERT")
        assert r["key_num"] == r["scn"] % 50
        assert r["part_id"] == r["scn"] % 4


def test_file_logging_consumer_tee(spark, sf_dir, tmp_path):
    """K6: tee the stream to JSON files (DatabusFileLoggingConsumer)."""
    from databus_spark.envelope import orders_changelog
    from databus_spark.streaming.source import changelog_stream, stage_changelog

    log = orders_changelog(spark, sf_dir).select(
        "scn", "opcode", "source", "key_str", "o_totalprice"
    )
    stage = str(tmp_path / "stage")
    stage_changelog(log, stage, n_chunks=2)
    out = str(tmp_path / "jsonlog")
    q = (
        changelog_stream(spark, stage, log.schema)
        .writeStream.format("json")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert glob.glob(out + "/*.json")
    back = spark.read.json(out)
    assert back.count() == log.count()
    assert set(back.columns) >= {"scn", "opcode", "source", "key_str"}


def test_approx_stats_error_bounds(spark, sf_dir):
    """approx_stats now emits the bound VERDICT itself (r7: its oracle
    hashes the booleans) — every sketch must land inside its documented
    error bound, and the exact counts must really be exact."""
    from databus_spark.catalog import load_table
    from databus_spark.registry import QUERIES

    rows = {r["event_type"]: r for r in QUERIES["approx_stats"](spark, sf_dir).collect()}
    e = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r
        for r in e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("users"),
        )
        .collect()
    }
    assert rows.keys() == exact.keys()
    for et, a in rows.items():
        x = exact[et]
        assert a["n"] == x["n"]
        assert a["exact_users"] == x["users"]
        assert a["hll_within_bound"] is True
        assert a["p50_within_bound"] is True
        assert a["p99_within_bound"] is True


def test_multimodal_frame_sample_plan_shape(spark, sf_dir):
    """frame_sample: one row per sampled byte offset per payload, plan
    stays JVM-side (no Python for the slicing plan itself)."""
    from databus_spark.operators.multimodal import attach_media, frame_sample

    from databus_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = attach_media(docs)
    frames = frame_sample(media, every_n_bytes=64)
    rows = frames.collect()
    assert len(rows) > 50  # multi-frame docs exist
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append((r["frame_idx"], r["byte_offset"]))
    sizes = {r["doc_id"]: r["meta"]["n_bytes"] for r in media.collect()}
    for doc_id, fr in per_doc.items():
        idxs = sorted(i for i, _ in fr)
        assert idxs == list(range(len(idxs)))  # contiguous frame indices
        assert len(fr) == (sizes[doc_id] - 1) // 64 + 1
        assert all(off == i * 64 for i, off in sorted(fr))
