"""Round-14 additions: dual-class pin evaluation (mechanical restore of
the r11-class pins), staged IVF+SQ8 serving artifact, release-gate
utility report, the merge-on-read snapshot store."""

from __future__ import annotations

import importlib.util
import json
import os as _os

import pytest

from pyspark.sql import functions as F


def _load_bench():
    root = _os.path.join(_os.path.dirname(__file__), "..")
    s = importlib.util.spec_from_file_location(
        "bench_mod_r14", _os.path.join(root, "bench.py")
    )
    bench = importlib.util.module_from_spec(s)
    s.loader.exec_module(bench)
    return bench


# ---------------------------------------------------------------------------
# dual-class pins (r13 verdict next-#1: mechanical restore condition)
# ---------------------------------------------------------------------------


def test_dual_class_pin_selection():
    """A row with target_strict is graded against the host-class floor
    on this host's probe readings and against the r11-class pin when
    the record's probes certify a recovered host — and BOTH
    evaluations ride in-row either way."""
    bench = _load_bench()
    spec = {
        "_strict_if": [
            {"metric": "cal", "op": "<=", "target": 0.4},
            {"metric": "par", "op": "<=", "target": 1.3},
        ],
        "metrics": {
            "thr": {"op": ">=", "target": 1_400_000, "target_strict": 2_000_000},
            "plain": {"op": "<=", "target": 1.2},
        },
        "queries": {
            "q": {"op": "<=", "target": 11.0, "target_strict": 8.5},
        },
    }
    # host-class probes (this host's healthy readings): 1.7M passes the
    # host floor, fails the strict pin — graded host, both recorded
    out = {"cal": 0.45, "par": 1.45, "thr": 1_700_000, "plain": 1.0}
    bench.evaluate_targets(spec, out, {"q": 9.0})
    assert out["strict_pins_applied"] is False
    t = out["targets"]["thr"]
    assert t["pin_class"] == "host" and t["target"] == 1_400_000
    assert t["pass"] is True and t["pass_host"] is True and t["pass_strict"] is False
    assert out["targets"]["query:q"]["pass"] is True
    assert out["targets_failed"] == []
    assert "pin_class" not in out["targets"]["plain"]

    # r11-class probes: the SAME readings now fail — the strict pin
    # re-applied itself, no human in the loop
    out2 = {"cal": 0.34, "par": 1.1, "thr": 1_700_000, "plain": 1.0}
    bench.evaluate_targets(spec, out2, {"q": 9.0})
    assert out2["strict_pins_applied"] is True
    t2 = out2["targets"]["thr"]
    assert t2["pin_class"] == "strict" and t2["target"] == 2_000_000
    assert t2["pass"] is False
    assert out2["targets"]["query:q"]["pass"] is False  # 9.0 > 8.5
    assert sorted(out2["targets_failed"]) == ["query:q", "thr"]

    # an UNMEASURED strict probe is not evidence of a fast host:
    # strict never applies on a partial record
    out3 = {"cal": 0.34, "thr": 1_700_000, "plain": 1.0}
    bench.evaluate_targets(spec, out3, {"q": 9.0})
    assert out3["strict_pins_applied"] is False


# ---------------------------------------------------------------------------
# staged IVF+SQ8 serving artifact (r13 verdict next-#2)
# ---------------------------------------------------------------------------


def test_sq8_ivf_serve_reads_only_probed_cells(spark, sf_dir, tmp_path):
    """File-listing-level pruning: the serve plan's input files touch
    ONLY the probed cells' cell_id=<c> partition directories — at
    nprobe=2 of 8 cells the staged corpus is mostly never opened."""
    from databus_spark.operators import similarity

    emb = spark.read.parquet(str(sf_dir) + "/embeddings.parquet")
    idx = str(tmp_path / "idx")
    similarity.sq8_ivf_index_build(emb, idx)

    q = emb.where(F.col("vec_id") < 3)
    served = similarity.sq8_ivf_serve(spark, idx, q, k=5, nprobe=2)
    # the postings read is path-scoped (spark.read.parquet(*paths) can
    # never read outside its path list); serve exposes that list
    cells_read = set()
    for f in served._sq8_probed_paths:
        part = f.split("/postings/")[1].split("/")[0]
        assert part.startswith("cell_id=")
        cells_read.add(int(part.split("=")[1]))
    n_cells_on_disk = sum(
        1 for d in (tmp_path / "idx" / "postings").iterdir()
        if d.name.startswith("cell_id=")
    )
    assert n_cells_on_disk == similarity.N_CELLS
    assert 0 < len(cells_read) <= 3 * 2  # <= n_queries * nprobe
    assert len(cells_read) < n_cells_on_disk  # real pruning happened

    # and the pruned serve still equals the inline composition at the
    # same dial
    inline = similarity.sq8_ivf_topk(
        emb, n_queries=3, k=5, nprobe=2, check_recall=False
    )
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, inline.collect())
    )


def test_sq8_ivf_serve_delta_and_append(spark, sf_dir, tmp_path):
    """Unindexed deltas merge into every query's candidate set, and
    index append folds them into the staged cells: a delta that is an
    exact copy of each query vector must surface as that query's
    rank-1 neighbor (sim 1.0) through BOTH paths."""
    from databus_spark.operators import similarity

    emb = spark.read.parquet(str(sf_dir) + "/embeddings.parquet")
    idx = str(tmp_path / "idx2")
    similarity.sq8_ivf_index_build(emb, idx)

    delta = emb.where(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    q = emb.where(F.col("vec_id") < 3)

    served = similarity.sq8_ivf_serve(spark, idx, q, k=5, delta_emb=delta)
    top1 = {
        r["query_id"]: r
        for r in served.where(F.col("rank") == 1).collect()
    }
    for qid in (0, 1, 2):
        assert top1[qid]["neighbor_id"] == qid + 100_000
        assert top1[qid]["sim_q8"] == 1.0

    # append the delta into the staged cells; the duplicate now serves
    # from the index itself (no delta arg), and the stats denominator
    # grew (cand_frac is per the enlarged corpus)
    n_before = (
        spark.read.parquet(idx + "/stats").agg(F.sum("n_rows")).collect()[0][0]
    )
    similarity.sq8_ivf_index_append(spark, idx, delta)
    n_after = (
        spark.read.parquet(idx + "/stats").agg(F.sum("n_rows")).collect()[0][0]
    )
    assert n_after == n_before + 3
    served2 = similarity.sq8_ivf_serve(spark, idx, q, k=5)
    top1b = {
        r["query_id"]: r
        for r in served2.where(F.col("rank") == 1).collect()
    }
    for qid in (0, 1, 2):
        assert top1b[qid]["neighbor_id"] == qid + 100_000
        assert top1b[qid]["sim_q8"] == 1.0


# ---------------------------------------------------------------------------
# merge-on-read snapshot store (appended deltas + size-triggered folds)
# ---------------------------------------------------------------------------


def _has_deltas(store, version):
    """The version holds parquet bytes beyond its compacted base."""
    return store._parquet_bytes(version) > store.vstate.manifest(version)["base_bytes"]


def test_merge_on_read_matches_compaction_oracle(spark, sf_dir, tmp_path):
    """After every merge — appended or folded — read() and lookup() equal
    the batch compaction of every row merged so far: upserts, deletes,
    an exact replay and an out-of-order OLDER batch. Each retained
    version still time-travels to its own state across the folds."""
    from databus_spark.envelope import orders_changelog
    from databus_spark.operators.compaction import snapshot
    from databus_spark.store.snapshot import ParquetSnapshotStore

    log = orders_changelog(spark, str(sf_dir)).localCheckpoint()
    scns = sorted(r["scn"] for r in log.select("scn").distinct().collect())
    cut1, cut2 = scns[len(scns) // 3], scns[2 * len(scns) // 3]
    b1 = log.where(F.col("scn") <= cut1)
    b2 = log.where((F.col("scn") > cut1) & (F.col("scn") <= cut2))
    b3 = log.where(F.col("scn") > cut2)
    # every 5th key by hash: live, updated and deleted keys alike
    keys = (
        log.select("source", "key_str")
        .distinct()
        .where(F.pmod(F.hash("source", "key_str"), F.lit(5)) == 0)
        .localCheckpoint()
    )
    cols = ["source", "key_str", "scn", "opcode"]

    def rows(df):
        return sorted(map(tuple, df.select(*cols).collect()))

    store = ParquetSnapshotStore(spark, str(tmp_path / "mor"), n_buckets=4)
    merged, expected, kinds = None, {}, []
    for batch in (b1, b2, b2, b3, b1):  # b2 replayed; b1 replayed out of order
        version = store.merge(batch).version
        kinds.append(_has_deltas(store, version))
        merged = batch if merged is None else merged.unionByName(batch)
        want = snapshot(merged)
        expected[version] = rows(want)
        assert rows(store.read()) == expected[version]
        assert rows(store.lookup(keys)) == rows(want.join(keys, ["source", "key_str"], "left_semi"))
    # both shapes were exercised: a fold after the first version, and appends
    assert kinds[0] is False and True in kinds and False in kinds[1:]
    assert expected[1] and expected[5]
    for version, want_rows in expected.items():
        assert rows(store.read_version(version)) == want_rows


def test_optimize_folds_before_tombstone_purge(spark, tmp_path):
    """A DELETE pending in a delta above an older UPSERT in the base must
    survive optimize(tombstone_horizon_scn=...) as a deleted key: purging
    tombstones before the latest-per-key fold would resurrect it."""
    from databus_spark.store.snapshot import ParquetSnapshotStore

    schema = "source string, key_str string, scn long, opcode string, payload string"
    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"), n_buckets=4)
    store.merge(spark.createDataFrame(
        [("s", f"k{i}", 10 + i, "UPSERT", f"v{i}") for i in range(20)], schema
    ))
    store.merge(spark.createDataFrame([("s", "k3", 100, "DELETE", None)], schema))
    assert _has_deltas(store, 2)  # the DELETE is pending, the UPSERT is base

    v = store.optimize(tombstone_horizon_scn=1000)
    assert not _has_deltas(store, v)
    live = {r["key_str"] for r in store.read().collect()}
    assert live == {f"k{i}" for i in range(20)} - {"k3"}
    # the aged tombstone itself is gone from disk
    on_disk = spark.read.parquet(store.vstate.dir(v))
    assert on_disk.where(F.col("opcode") == "DELETE").count() == 0


# ---------------------------------------------------------------------------
# hybrid BM25 + ANN retrieval (RRF)
# ---------------------------------------------------------------------------


def test_hybrid_rrf_fusion_semantics(spark, sf_dir):
    """Every fused row's rrf_micro is exactly the bigint RRF of the leg
    ranks it carries (single-leg hits score one term, both-leg hits
    two), self-hits never surface, and both legs actually contribute
    on the fixture."""
    from databus_spark.registry import QUERIES

    rows = QUERIES["hybrid_rrf_topk"](spark, str(sf_dir)).collect()
    assert rows
    for r in rows:
        expect = 0
        if r["lex_rank"] is not None:
            assert 1 <= r["lex_rank"] <= 20
            expect += 10**9 // (60 + r["lex_rank"])
        if r["vec_rank"] is not None:
            assert 1 <= r["vec_rank"] <= 20
            expect += 10**9 // (60 + r["vec_rank"])
        assert expect > 0  # at least one leg surfaced the doc
        assert r["rrf_micro"] == expect
        assert r["doc_id"] != r["query_id"]
    assert any(r["lex_rank"] is not None for r in rows)
    assert any(r["vec_rank"] is not None for r in rows)
    # within each query, rank order follows (rrf desc, doc_id asc)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        keys = [(-r["rrf_micro"], r["doc_id"]) for r in rs]
        assert keys == sorted(keys), q


# ---------------------------------------------------------------------------
# fuzzy-join blocking bounds (r13 verdict next-#3: pin the hole shut)
# ---------------------------------------------------------------------------


def test_linkage_bounds_record_pinned():
    """The committed x100 blocking probe record satisfies the pinned
    bounds: cap-dropped pair mass < 0.5% of uncapped and CI-sampled
    true-pair recall >= 0.99. Regenerate with
    ``python tools/linkage_recall_probe.py --assert-bounds`` (which
    exits nonzero on violation) after any blocking change."""
    root = _os.path.join(_os.path.dirname(__file__), "..")
    rec = json.load(open(_os.path.join(root, "LINKAGE_BOUNDS.json")))
    assert rec["bounds_ok"] is True
    assert rec["pair_mass"]["cap_dropped_frac"] < 0.005
    assert rec["gram_recall"]["recall"] >= 0.99
    # the sampled CI's lower edge stays clear of free-fall even at the
    # 95% level
    assert rec["gram_recall"]["recall_ci95"][0] >= 0.98
    # the constants in the tool are the constants this test pins
    import importlib.util as _ilu

    s = _ilu.spec_from_file_location(
        "lrp", _os.path.join(root, "tools", "linkage_recall_probe.py")
    )
    lrp = _ilu.module_from_spec(s)
    s.loader.exec_module(lrp)
    assert lrp.MAX_DROPPED_FRAC == 0.005
    assert lrp.MIN_RECALL == 0.99


def test_targets_json_carries_strict_pins():
    """The four host-class re-pins carry their r11-class strict twins
    and the spec carries the probe precondition — the restore clause
    is data, not prose."""
    root = _os.path.join(_os.path.dirname(__file__), "..")
    spec = json.load(open(_os.path.join(root, "TARGETS.json")))
    assert {g["metric"] for g in spec["_strict_if"]} == {
        "calibration_probe_start_s",
        "calibration_probe_end_s",
        "calibration_probe_mid_max_s",
        "parallel_probe_max_s",
    }
    assert spec["metrics"]["apply_rows_per_sec"]["target_strict"] == 2_000_000
    assert spec["metrics"]["stream_apply_rows_per_sec"]["target_strict"] == 20_000
    assert spec["metrics"]["seconds_per_query"]["target_strict"] == 1.5
    assert spec["queries"]["semdedup_survivors_v2"]["target_strict"] == 8.5
    # strict thresholds sit BELOW this host's probes-healthy readings
    # (0.43-0.47 singles, 1.45-1.5 parallel max) so the strict class
    # cannot trip on a good phase of the degraded host
    for g in spec["_strict_if"]:
        if g["metric"].startswith("calibration_probe_") and g["metric"].endswith(
            ("start_s", "end_s")
        ):
            assert g["target"] <= 0.42
        if g["metric"] == "parallel_probe_max_s":
            assert g["target"] <= 1.4
