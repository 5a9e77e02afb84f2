#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Every query is forced through a noop sink (full materialization, no
driver collect), so timings reflect the whole plan — scan, shuffle,
aggregate — not a count-pruned shortcut.
"""

from __future__ import annotations

import json
import os
import sys
import time


# THE idle-box reference band for the calibration probe (single source
# of truth, emitted into every record): min/max probe seconds observed
# for the BLAS-free probe below on an idle box (floor 0.37, min-of-3
# spread 0.37-0.47) plus margin — which happens to coincide with the
# r7-r12 matmul probe's idle readings (0.34-0.56), so historical
# records stay comparable at the gate level. A probe outside this band
# at either end means the record was contended.
IDLE_PROBE_REF_S = (0.25, 0.60)

# INFORMATIONAL ceiling for the median-based parallel scaling ratio
# (32-way fixed-work wall / single-probe wall; healthy band on this
# host class 2.2-3.0 — the single probe runs at single-core turbo
# while 32-wide load drops to all-core frequency — vs 6.3-16.7 in
# degraded phases: 63% kernel time + 9% steal under 32-wide load that
# the 1-thread probe cannot see). The GATE is the absolute wall
# (PARALLEL_WALL_REF_S below): a worst/best ratio across different
# moments of the run tripped on a provably healthy record.
PARALLEL_SCALING_REF = 4.0
_PAR_N = 32
_MID_PROBE_EVERY = 10  # queries between mid-run box-health samples

# Healthy ceiling for the parallel probe's ABSOLUTE fixed-work wall
# (32 copies of _probe_work, seconds). Idle-box measurements: 0.80-1.34
# across starts/mids/ends of healthy runs; degraded phases read
# 2.6-7.5. The absolute wall replaces the scaling RATIO as the gate:
# the ratio divided the worst parallel wall by the best single sample
# from a DIFFERENT moment of the run, so one lucky single sample
# (deeper turbo) could trip the gate on a healthy record (measured:
# 1.343/0.332 = 4.05 on a run whose every parallel sample was
# healthy). Fixed work means the wall needs no denominator.
PARALLEL_WALL_REF_S = 1.8


def _probe_work(_i: int = 0) -> float:
    """Fixed CPU work, deliberately BLAS-free and cache-resident (64k
    int64 LCG, 512 KiB working set, pure numpy elementwise). The
    r12/early-r13 probe was an 800x800 float matmul, which OpenBLAS
    (built MAX_THREADS=2) ran 2-threaded: the single probe read ~2.1x
    faster than one core's worth of work while the 32-way probe ran 64
    threads on 32 CPUs, so the scaling ratio measured BLAS
    oversubscription (~5-7 on a HEALTHY box) stacked on box health,
    and a cold first sample paid OpenBLAS thread spin-up (0.7-1.5 s on
    a provably idle box). This work runs one thread always, cold ==
    warm (measured 0.101 cold / 0.097-0.109 warm at 1/4 size), and
    stays in L2 so it measures CPU capability, not memory bandwidth."""
    import numpy as np

    a = np.arange(65_536, dtype=np.int64)
    t0 = time.time()
    for _ in range(6_000):
        a = (a * 1103515245 + 12345) & 0x7FFFFFFF
    return time.time() - t0


def _parallel_probe_s() -> float:
    """Wall seconds for _PAR_N copies of the fixed-work probe run
    concurrently in separate processes (fork; no JVM involvement) —
    the box's PARALLEL capability, which a 1-thread probe cannot see."""
    from concurrent.futures import ProcessPoolExecutor

    with ProcessPoolExecutor(_PAR_N) as ex:
        t0 = time.time()
        list(ex.map(_probe_work, range(_PAR_N)))
        return round(time.time() - t0, 3)


def _bandwidth_probe_gbps(_samples: int = 3) -> float:
    """Best-of-3 single-thread triad-SHAPED probe (100 MB fp64 a + s*b):
    the memory-bandwidth dimension that the cache-resident CPU probes
    above cannot see, and the one a Spark shuffle actually feels.
    Recorded (not gated) from r13 so future rounds can tell a
    bandwidth-degraded host from a CPU-degraded one.

    ACCOUNTING NOTE (r13 ADVICE): this is a RELATIVE index, not an
    absolute STREAM number. numpy evaluates `a + 2.5 * b` as two
    elementwise ops with a materialized temporary, so true memory
    traffic is ~5 arrays per iteration while the figure below counts 3
    — the absolute GB/s understates real bandwidth by ~40%. The
    divisor is kept at 3 ON PURPOSE: every committed record since r13
    used it, and the probe's only job is round-over-round comparability
    on the same formula (this host class reads ~4.5-5 by this index)."""
    import numpy as np

    a = np.arange(12_500_000, dtype=np.float64)
    b = np.ones_like(a)
    best = float("inf")
    for _ in range(_samples):
        t0 = time.time()
        c = a + 2.5 * b
        c[::4096].sum()
        best = min(best, time.time() - t0)
    return round(3 * a.nbytes / best / 1e9, 2)


def _calibration_probe_s() -> float:
    """Fixed-work single-thread CPU probe (_probe_work): its wall time
    depends only on box contention, never on the engine, so a drifted
    value flags a loaded-box record. Idle-box reference:
    IDLE_PROBE_REF_S.

    MIN of 3 samples: with the old matmul work a single cold sample
    paid OpenBLAS thread spin-up + the CPU governor's frequency ramp
    and read 0.7-1.5 s on a PROVABLY idle box, which would trip the
    box gate on a perfectly valid record. The BLAS-free work has no
    cold-start artifact (cold == warm), but min-of-3 is kept: it
    reads the box's turbo-frequency floor, which is the stable
    quantity the band was calibrated on, and sustained contention
    elevates the minimum too — the gate's purpose survives.

    One UNTIMED warm-up call precedes the samples: at process start
    the CPU governor sits at a low frequency and all three timed
    samples of a min-of-3 ran inside the ramp (start probes read a
    reproducible 0.63-0.65 on an idle box — two records tripped their
    own gate on it — while every later probe in the same process read
    0.35-0.48). ~0.4 s of sustained load reaches the governor's
    steady state before anything is measured."""
    _probe_work()
    best = float("inf")
    for _ in range(3):
        best = min(best, _probe_work())
    return round(best, 3)


def _cmp(value, op, target):
    if value is None:
        return None  # metric absent from the record: unmeasured, not failed
    return value <= target if op == "<=" else value >= target


def _gates_unmet(row: dict, out: dict) -> str | None:
    """Evaluate a row's valid_if precondition(s). Returns the first
    unmet gate as a string, else None. valid_if is one gate object or
    a list of them; each gate checks a top-level record field (so box
    health — the calibration probes — can gate any wall/throughput
    row: r12 committed a record whose six misses were a degraded box,
    and a record that can't tell box from code is not evidence)."""
    gates = row.get("valid_if")
    if gates is None:
        return None
    if isinstance(gates, dict):
        gates = [gates]
    for gate in gates:
        gv = out.get(gate["metric"])
        ok = _cmp(gv, gate["op"], gate["target"])
        if ok is not True:
            why = "unmeasured" if gv is None else "unmet"
            return f"{gate['metric']}={gv} (need {gate['op']} {gate['target']}) {why}"
    return None


def _strict_applies(spec: dict, out: dict) -> bool:
    """True when the record's own probes certify an r11-class host
    (spec ``_strict_if`` preconditions all met), in which case every
    dual-pinned row is graded against its ``target_strict``. This is
    the MECHANICAL restore condition for the late-r13 host-class
    re-pins (r13 verdict #1): the prose clause 'restore the old pin
    when probes match the r11-class floor' is now evaluated on every
    record, so a recovered host automatically re-grades against the
    r11-class pins and an engine regression cannot hide under the soft
    host-class floor. An unmeasured probe reads as NOT met (strict
    grading needs positive evidence of a fast host)."""
    gates = spec.get("_strict_if") or []
    return bool(gates) and all(
        _cmp(out.get(g["metric"]), g["op"], g["target"]) is True for g in gates
    )


def _verdict(value, row: dict, out: dict, strict_applies: bool = False) -> dict:
    target = row["target"]
    entry = {"value": value, "op": row["op"], "target": target}
    if "target_strict" in row:
        # dual-class pin: report BOTH evaluations, grade on the class
        # the probes selected (host-class floor vs r11-class strict)
        entry["pin_class"] = "strict" if strict_applies else "host"
        entry["target_host"] = row["target"]
        entry["target_strict"] = row["target_strict"]
        entry["pass_host"] = _cmp(value, row["op"], row["target"])
        entry["pass_strict"] = _cmp(value, row["op"], row["target_strict"])
        if strict_applies:
            target = row["target_strict"]
            entry["target"] = target
    unmet = _gates_unmet(row, out)
    if unmet is not None:
        entry["pass"] = None  # precondition unmet: measurement invalid
        entry["invalid"] = unmet
    else:
        entry["pass"] = _cmp(value, row["op"], target)
        if entry["pass"] is None:
            entry["invalid"] = "metric absent from record (unmeasured)"
    return entry


def evaluate_targets(spec: dict, out: dict, timings: dict) -> dict:
    """Evaluate every TARGETS.json row against the record `out` and
    write targets / targets_failed / targets_invalid into it. Module-
    level (not buried in main) so the gate mechanics — None-guarded
    comparisons, single-or-list valid_if, invalid-vs-fail, dual-class
    pin selection — are unit-testable without a Spark session
    (tests/test_round13_ops.py)."""
    strict = _strict_applies(spec, out)
    out["strict_pins_applied"] = strict
    if spec.get("_strict_if"):
        out["strict_if"] = spec["_strict_if"]
    verdicts = {}
    for name, row in spec.get("metrics", {}).items():
        verdicts[name] = _verdict(out.get(name), row, out, strict)
    for name, row in spec.get("queries", {}).items():
        verdicts[f"query:{name}"] = _verdict(timings.get(name), row, out, strict)
    out["targets"] = verdicts
    out["targets_failed"] = sorted(
        n for n, v in verdicts.items() if v["pass"] is False
    )
    # rows whose measurement-validity gate tripped (box contended, metric
    # unmeasured): visible in the record, distinct from a real miss
    out["targets_invalid"] = sorted(
        n for n, v in verdicts.items() if v["pass"] is None
    )
    return verdicts


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    # Validity guard (round-7 post-mortem: a loaded box drifted ~120
    # untouched queries +0.3-0.6 s and tanked two throughput records by
    # 30% — the record itself must carry the evidence to tell noise from
    # regression). Load average at start, again at end, plus a
    # fixed-work calibration probe at both ends.
    load_start = os.getloadavg()
    calib_start_s = _calibration_probe_s()
    par_start_s = _parallel_probe_s()
    bw_start_gbps = _bandwidth_probe_gbps()

    # Stage each synthetic changelog to parquet ONCE and let every query
    # read the staged copy (envelope._staged) — queries then time the
    # operator over its real input (the relay's persisted buffer), not 70
    # repeated fixture derivations. Correctness runs (pytest, the driver)
    # leave this off and derive from base tables every time.
    os.environ.setdefault("DATABUS_CACHE_CHANGELOGS", "1")

    from databus_spark.session import build_session

    spark = build_session("databus_spark_bench", cpus=cpus)

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    # timed in sorted-name order: the cold-JVM positions stay on the same
    # queries whatever the _WINDOW rotation (queries() keeps the window
    # order for the oracle check)
    headline = sorted(queries)

    def clear_caches() -> None:
        """Drop cached/checkpointed blocks between queries so one query's
        storage pressure doesn't evict another's localCheckpoint blocks."""
        spark.catalog.clearCache()
        try:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for rdd in list(jmap.values()):
                rdd.unpersist(True)  # blocking: blocks actually freed
            spark._jvm.System.gc()
        except Exception:
            pass

    # Untimed warm-up: the first job in a fresh JVM pays JIT/codegen init
    # (~4-5 s) that would otherwise be billed to whichever query runs first.
    queries["max_scn_probe"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # ... and the first Arrow/pandas-UDF job pays the Python-worker spawn
    # (~1-3 s) — warm it too, or the first mapInPandas query in rotation
    # order absorbs it (r6: media_features billed 1.4 s of worker spawn)
    spark.range(64).repartition(8).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    # Pre-stage EVERY changelog variant (untimed). _staged writes the
    # parquet stage on a variant's first use, so without this the one-time
    # staging of a ~1.8M-row changelog lands inside whichever query touches
    # that variant first (r4: schema_key_compaction billed 2.6 s of
    # lineitem:True staging). Calling each builder is enough — the staging
    # write is an eager action inside _staged.
    from databus_spark import envelope as _env

    _env.orders_changelog(spark, sf_dir)
    _env.customer_changelog(spark, sf_dir)
    _env.lineitem_changelog(spark, sf_dir, with_schema_key=False)
    _env.lineitem_changelog(spark, sf_dir, with_schema_key=True)
    _env.multi_source_changelog(spark, sf_dir)

    # The external-source queries stage their fixtures eagerly inside the
    # query BUILDER, so one untimed call here keeps that one-time cost out
    # of their timings: trail, OCF and JSONL files are staged once per
    # TMPDIR, and the in-memory Derby txlog is seeded once per process
    # (this call is that process's seed).
    for _fixture_q in (
        "jdbc_txlog_pull",
        "trail_file_seek",
        "avro_ocf_roundtrip",
        "jsonl_ingest_audit",
        # stage-once artifacts (content-fingerprinted /tmp dirs): the
        # z-table and the base near-dup index — their queries measure
        # the serving path, not the one-time ingest materialization
        "zorder_box_read",
        "dedup_incremental_near",
        # the PQ family shares one staged codes+codebook index (the
        # FAISS build-once shape); stage it untimed so the first PQ
        # query in rotation doesn't absorb the corpus encode
        "ann_pq_topk",
        # the AVI/PNG/WAV corpora are staged binary fixtures: the
        # measured path is scan + decode + hash, not fixture encoding
        "media_video_frames",
        "media_dhash_dedup",
        "media_audio_fp_dedup",
        # the image cluster query serves from the staged dHash pair
        # index (media_dhash_near_pairs stays unstaged + timed)
        "media_dhash_clusters",
        # the tokenizer rule table is trained once and staged; encode
        # measures the APPLY fold, learn stays a separately timed row
        "bpe_encode_corpus",
        # the cluster family shares one staged LSH candidate-pair index
        # (dedup_minhash_lsh itself stays unstaged so pair-generation
        # cost remains a visible row)
        "dedup_cluster_survivors",
        # trained k-means models are staged per geometry (k8 and k32);
        # the queries measure the assignment/serve path, not training
        "kmeans_centroids",
        "semdedup_trained",
        # the incremental-substring base window-hash index
        "exactsubstr_incremental",
        # the incremental-embedding base cell index (base-trained
        # centroids + rank-1 assignment) and the 128-cell eval model
        # the survivors_v2/recall_eval rows serve from
        "semdedup_incremental",
        "semdedup_survivors_v2",
        # the staged DSIR importance estimator (train-once weights)
        "dsir_incremental",
        # the staged record-linkage artifact (capped block table + base
        # cluster labels): built once at ingest in production, so the
        # timed rows measure the delta-probe / merge paths
        "fuzzy_join_incremental",
        # the staged BM25 inverted index (bucket-partitioned postings +
        # corpus scalars + query workload): the timed row measures the
        # partition-pruned serve path, not the ingest-time index build
        "bm25_incremental",
        # the keyhash-staged changelog parquet (content-fingerprinted):
        # the timed row measures the stored-column pmod subscription,
        # not the one-time staging write
        "filter_keymod_staged_hash",
        # the staged IVF+SQ8 serving index (cell_id-partitioned codes):
        # the timed row measures probe + pruned-cell scoring, not the
        # one-time corpus quantize/assign
        "ann_sq8_ivf_serve",
        # the route-materialized changelog stage: the timed row measures
        # the directory-pruned subscription, not the one-time staging
        "filter_keymod_subscribe",
        # the staged base dHash band index: the timed row measures the
        # delta decode + probe, not the one-time base decode + hash
        "media_dhash_incremental",
    ):
        if _fixture_q in queries:
            queries[_fixture_q](spark, sf_dir)

    timings: dict[str, float] = {}
    total = 0.0
    # Mid-run box-health timeline: every _MID_PROBE_EVERY queries, one
    # warm single-thread sample (~0.4 s) AND one 32-way parallel probe
    # (~1 s healthy). Both are needed: this host oscillates between
    # good and bad phases on a minutes timescale, and in a bad phase
    # the single-thread probe still reads in-band (0.35-0.48) while
    # identical shuffle-heavy queries run 3-10x slow — only the
    # parallel probe sees the degradation (healthy 1.3-3.1x the single
    # floor vs 6.3-16.7 in bad phases; the "63% kernel + 9% steal
    # under 32-wide load" signature). End-only probes proved blind
    # twice this round: runs read healthy at BOTH ends while mid-suite
    # stretches ran 2-6x their committed times. Probes run OUTSIDE the
    # per-query timers — they cost real time, never timed seconds.
    probe_timeline: list[float] = []
    par_timeline: list[float] = []
    for qi, name in enumerate(headline):
        if qi % _MID_PROBE_EVERY == 0:
            probe_timeline.append(round(_probe_work(), 3))
            par_timeline.append(_parallel_probe_s())
        clear_caches()
        t0 = time.time()
        df = queries[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        timings[name] = round(dt, 3)
        total += dt
    probe_timeline.append(round(_probe_work(), 3))
    par_timeline.append(_parallel_probe_s())

    # Headline throughput: change-stream apply — full multi-source changelog
    # compacted to latest-state (the reference's applier hot path).
    from databus_spark.envelope import multi_source_changelog
    from databus_spark.operators.compaction import latest_by_key

    log = multi_source_changelog(spark, sf_dir)
    n_changes = log.count()
    # best-of-3: the single-shot number mixed first-execution codegen
    # with the steady-state rate (measured spread on one box: 202k cold
    # -> 790k warm rows/s), making round-over-round records incomparable.
    # The first (cold) run is still billed to the suite wall.
    apply_secs = float("inf")
    for _i in range(3):
        t0 = time.time()
        latest_by_key(log).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        if _i == 0:
            timings["apply_multi_source"] = round(dt, 3)
            total += dt
        apply_secs = min(apply_secs, dt)

    # --- BASELINE.md target metrics -------------------------------------
    # 1. filtered-subscription overhead vs unfiltered scan (target <= 1.2x),
    # measured over a STAGED envelope (the consumer's real input: the relay
    # persists events once; consumers scan the staged log, they don't
    # recompute the changelog). The key-mod subscription uses the
    # route_partition column materialized at ingest, so it prunes whole
    # bucket directories; the per-row Java-hashCode path is kept as a
    # separate diagnostic (what a consumer pays WITHOUT routed staging).
    import shutil
    import tempfile

    from databus_spark.operators.filters import (
        key_mod_filter,
        key_mod_filter_staged,
        key_mod_subscription,
        physical_partition_filter,
    )
    from databus_spark.streaming.source import stage_changelog as _stage

    routed_dir = tempfile.mkdtemp(prefix="bench_routed_")
    # part_dirs: physical partitions are directory levels (the reference's
    # per-partition buffers), so the physical-partition subscription below
    # is directory pruning, not a per-row predicate over every file.
    #
    # REPLICATED x32 (r10 verdict #1, re-sized r11): the raw sf0.1
    # staged scan finished in ~0.09 s, so every ratio below divided by
    # scheduler noise — the keymod string-hash diagnostic drifted
    # 1.46 -> 1.504 across rounds on a 0.087 s denominator (per-run
    # band 1.23-1.81). The first fix (x8) aimed at a 0.5-0.8 s
    # denominator but the OS page cache serves the staged parquet at
    # ~0.27 s, still inside single-GC-pause territory (measured 1.42 vs
    # 1.87 across two idle runs — a 100 ms numerator swing). x32 puts
    # the denominator at ~1 s where a pause is <10% of a sample. scn is
    # re-disambiguated per replica; filter selectivity and key
    # distribution are unchanged (keys replicate verbatim), so the
    # ratios measure the same thing.
    from pyspark.sql import functions as _F

    biglog = (
        log.crossJoin(spark.range(32).select(_F.col("id").alias("_rep")))
        .withColumn("scn", _F.col("scn") * 32 + _F.col("_rep"))
        .drop("_rep")
    )
    _stage(biglog, routed_dir, n_chunks=4, route_buckets=8, part_dirs=True, key_hash=True)
    staged = spark.read.parquet(routed_dir)

    def best_of_each(dfs, n: int = 4) -> list[float]:
        # These scans finish in ~1 s, so a single GC pause doubles a
        # sample; best-of-4 keeps the RATIO metrics below out of the noise.
        # INTERLEAVED rounds (r14 measurement fix): every leg here feeds a
        # ratio whose denominator is unfiltered_s. The seven rejected r14
        # records pinned a failure mode sequential sampling cannot survive:
        # the host throws short multi-second scheduling storms at random
        # points (OPTIMIZATION_r14.md, burst-position analysis), and with
        # per-leg sequential best-of-4 one storm covers ALL of a leg's
        # samples while the denominator's window stays clean — the ratio
        # then fails its target with in-band bracketing probes (rejected
        # a1/a3: keymod_staged_hash 2.5-3.0 vs 0.93-0.96 warm). Sampling
        # the legs round-robin bounds a storm to one sample per leg, and
        # the per-leg min survives. Per-leg sample count and the reported
        # fields are unchanged.
        best = [float("inf")] * len(dfs)
        for _ in range(n):
            for i, df in enumerate(dfs):
                clear_caches()
                t0 = time.time()
                df.write.format("noop").mode("overwrite").save()
                best[i] = min(best[i], time.time() - t0)
        return best

    best_of_each([staged], 2)  # warm-up (JIT + file listing)
    # the staged-hash middle tier (r13): same buckets over the key_hash
    # column materialized at ingest — one stored-column pmod per row,
    # zero hashing. That is the TARGET row for string-keyed key-mod
    # subscriptions without a routed layout; the reflect fallback
    # (key_mod_filter) stays an ungated informational field (its
    # numerator is a 32-wide pure-CPU scan, maximally sensitive to host
    # phase — readings 1.9-3.7 straddled the band on probes-healthy runs).
    (
        unfiltered_s,
        filtered_s,
        keymod_s,
        keymod_hash_s,
        keymod_staged_s,
    ) = best_of_each(
        [
            staged,
            staged.where(physical_partition_filter([0, 1])),
            staged.where(key_mod_subscription(8, 0, 4, route_buckets=8)),
            staged.where(key_mod_filter(8, 0, 4)),
            staged.where(key_mod_filter_staged(8, 0, 4)),
        ]
    )
    shutil.rmtree(routed_dir, ignore_errors=True)

    # 2. bootstrap snapshot+catchup wall time at this SF
    from databus_spark.operators.bootstrap import bootstrap_state

    # best-of-2 (r14 measurement fix): this was the one single-shot
    # target row; a host scheduling storm landing inside its ~1.2 s
    # window failed the <=2.0 s target with in-band bracketing probes
    # (rejected record a1: 2.53 vs 1.21 committed). Same rationale as
    # the documented best-of-3 apply throughput above.
    bootstrap_s = float("inf")
    for _ in range(2):
        clear_caches()
        t0 = time.time()
        bootstrap_state(log, 1_000_000_500, 6_000_000_000).write.format("noop").mode(
            "overwrite"
        ).save()
        bootstrap_s = min(bootstrap_s, time.time() - t0)

    # 3. streaming micro-batch latency: drain a staged changelog via the
    # foreachBatch MERGE applier, p50 trigger-to-commit from the listener
    import tempfile

    from databus_spark.envelope import orders_changelog
    from databus_spark.store.snapshot import ParquetSnapshotStore
    from databus_spark.streaming.applier import StreamingApplier
    from databus_spark.streaming.metrics import EngineMetricsListener
    from databus_spark.streaming.source import changelog_stream, stage_changelog

    clear_caches()
    tmp = tempfile.mkdtemp(prefix="bench_stream_")
    olog = orders_changelog(spark, sf_dir)
    stage_changelog(olog, f"{tmp}/stage", n_chunks=8)
    listener = EngineMetricsListener()
    spark.streams.addListener(listener)
    t0 = time.time()
    applier = StreamingApplier(ParquetSnapshotStore(spark, f"{tmp}/snap"))
    q = applier.run(changelog_stream(spark, f"{tmp}/stage", olog.schema), f"{tmp}/ck")
    q.awaitTermination(480)
    stream_apply_s = time.time() - t0
    spark.streams.removeListener(listener)
    batch_ms = sorted(b.process_ms for b in listener.batches if b.num_input_rows > 0)
    p50_batch_ms = batch_ms[len(batch_ms) // 2] if batch_ms else None

    # 4. BM25 staged-serve vs from-scratch rebuild on the SAME workload
    # (r12 verdict #7: the suite's bm25_incremental vs bm25_topk rows
    # measure different work — serve answers base ∪ delta from the
    # staged partition-pruned index + a delta explode; the rebuild leg
    # recomputes postings over the whole unioned corpus for the same
    # staged query set. Same output by the additivity argument the
    # oracle checks; the ratio is the staged path's actual win.)
    #
    # REPLICATED x16: at raw sf0.1 the rebuild's full corpus explode is
    # ~2 s and the serve path's FIXED overheads (64-bucket dir listing,
    # checkpoints, the delta union) make the ratio read 1.09 — a
    # small-denominator artifact, the same class as the r10 keymod
    # band (a first measured run of this leg proved it). The staged
    # path's win scales with corpus size while serve cost stays
    # query-bound, so the measurement replicates the corpus (doc_ids
    # remapped, texts verbatim: vocabulary and df shape preserved) and
    # stages its index ONCE under the content-keyed marker protocol.
    from databus_spark.operators import dedup as _dedup
    from databus_spark.operators import text as _text
    from databus_spark.registry import _content_fingerprint, _staged_artifact, load_table

    BM25X = 16
    _base = load_table(spark, sf_dir, "documents")
    _basex = (
        _base.crossJoin(spark.range(BM25X).select(_F.col("id").alias("_rep")))
        .select(
            (_F.col("doc_id") * BM25X + _F.col("_rep")).alias("doc_id"),
            "text",
        )
    )

    _idx = _staged_artifact(
        "databus_bm25x",
        f"{sf_dir}|x{BM25X}",
        _content_fingerprint(_base, "doc_id", "n_chars"),
        lambda d: _text.bm25_index_build(_basex, d),
    )
    _qt = _text.bm25_index_read(spark, _idx)[2]
    _delta = _dedup.documents_with_dups(spark, sf_dir).where(
        _F.col("doc_id") >= 1_000_000
    )
    _unionx = _basex.unionByName(_delta.select("doc_id", "text"))

    def _bm25_serve_leg():
        return _text.bm25_serve(*_text.bm25_index_read(spark, _idx), delta_docs=_delta)

    def _bm25_rebuild_leg():
        return _text.bm25_serve(
            _text.bm25_postings(_unionx), _text.bm25_corpus_stats(_unionx), _qt
        )

    def _best_pair(mk_a, mk_b, n: int = 3) -> tuple[float, float]:
        # interleaved serve/rebuild sampling (r14 measurement fix, same
        # storm rationale as best_of_each): with the two legs sampled
        # sequentially, a storm covering one leg's whole window pushed
        # ann_serve_ratio to 1.172 in rejected record a6 (the serve leg
        # read 2.3x its warm probe while the rebuild leg stayed clean;
        # warm-probe ratio 0.93). Round-robin bounds a storm to one
        # sample per leg; n=3 so the pair tolerates one storm per leg.
        best_a = best_b = float("inf")
        for _ in range(n):
            clear_caches()
            t0 = time.time()
            mk_a().write.format("noop").mode("overwrite").save()
            best_a = min(best_a, time.time() - t0)
            clear_caches()
            t0 = time.time()
            mk_b().write.format("noop").mode("overwrite").save()
            best_b = min(best_b, time.time() - t0)
        return best_a, best_b

    bm25_serve_s, bm25_rebuild_s = _best_pair(_bm25_serve_leg, _bm25_rebuild_leg)

    # 5. ANN staged-index serve vs inline rebuild on the SAME workload
    # (r13 verdict next-#2, mirroring the bm25_serve_ratio discipline):
    # serve answers the 10-query batch from the cell_id-partitioned
    # staged index (probe -> open only probed cells -> integer dots);
    # the rebuild leg recomputes centroids + assignment + quantization
    # inline for the same batch (sq8_ivf_topk, check_recall=False —
    # the deployment shape, no float-instrumentation leg in either
    # side). Same output by the serve==inline construction the oracle
    # checks. Self-normalizing ratio, both legs one process: no box
    # gate. No corpus replication needed: the rebuild leg's corpus
    # work is ~3-5 s at sf0.1, well clear of the r10 small-denominator
    # class.
    from databus_spark.operators import similarity as _sim
    from databus_spark.registry import _staged_sq8ivf_index

    _annidx = _staged_sq8ivf_index(spark, sf_dir)  # staged untimed
    _embf = load_table(spark, sf_dir, "embeddings")

    def _ann_serve_leg():
        return _sim.sq8_ivf_serve(
            spark, _annidx, _embf.where(_F.col("vec_id") < 10), k=5
        )

    def _ann_rebuild_leg():
        return _sim.sq8_ivf_topk(_embf, n_queries=10, k=5, check_recall=False)

    ann_serve_s, ann_rebuild_s = _best_pair(_ann_serve_leg, _ann_rebuild_leg)

    out = {
        "metric": "headline_suite_wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(headline),
        "changelog_rows": n_changes,
        "apply_rows_per_sec": round(n_changes / max(apply_secs, 1e-9), 1),
        "unfiltered_scan_s": round(unfiltered_s, 3),
        "filter_overhead_ratio": round(filtered_s / max(unfiltered_s, 1e-9), 3),
        "keymod_filter_overhead_ratio": round(keymod_s / max(unfiltered_s, 1e-9), 3),
        # diagnostic: per-row Java-hashCode filtering WITHOUT routed staging —
        # the cost route_partition materialization removes (not a target metric)
        "keymod_hash_overhead_ratio": round(keymod_hash_s / max(unfiltered_s, 1e-9), 3),
        # staged-hash subscription tier (stored-column pmod; the target
        # row replacing the reflect diagnostic as of late r13)
        "keymod_staged_hash_overhead_ratio": round(
            keymod_staged_s / max(unfiltered_s, 1e-9), 3
        ),
        "bootstrap_wall_s": round(bootstrap_s, 3),
        "bm25_serve_s": round(bm25_serve_s, 3),
        "bm25_rebuild_s": round(bm25_rebuild_s, 3),
        "bm25_serve_ratio": round(bm25_serve_s / max(bm25_rebuild_s, 1e-9), 3),
        "ann_serve_s": round(ann_serve_s, 3),
        "ann_rebuild_s": round(ann_rebuild_s, 3),
        "ann_serve_ratio": round(ann_serve_s / max(ann_rebuild_s, 1e-9), 3),
        "stream_apply_wall_s": round(stream_apply_s, 3),
        "stream_apply_rows_per_sec": round(applier.rows_applied / max(stream_apply_s, 1e-9), 1),
        "microbatch_p50_ms": p50_batch_ms,
        "n_microbatches": applier.batches_applied,
        # validity guard: 1-min load avg should be ~0 at start on an idle
        # box; calibration probe should sit inside IDLE_PROBE_REF_S at
        # BOTH ends, or the record is contended
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "calibration_probe_start_s": calib_start_s,
        "calibration_probe_end_s": _calibration_probe_s(),
        "idle_probe_ref_s": list(IDLE_PROBE_REF_S),
        "parallel_probe_start_s": par_start_s,
        "parallel_probe_end_s": _parallel_probe_s(),
        "parallel_scaling_ref": PARALLEL_SCALING_REF,
        # mid-run box-health timelines (one warm single-thread sample +
        # one 32-way parallel probe per _MID_PROBE_EVERY queries): a
        # burst localizes WHICH stretch of the suite was contended, and
        # the parallel timeline catches the bad-phase mode the single
        # probe cannot see (identical shuffle queries 3-10x slow while
        # single-thread reads in-band)
        "calibration_probe_mid_s": probe_timeline,
        "calibration_probe_mid_max_s": max(probe_timeline),
        "parallel_probe_mid_s": par_timeline,
        "bandwidth_probe_start_gbps": bw_start_gbps,
        "bandwidth_probe_end_gbps": _bandwidth_probe_gbps(),
    }
    # The GATED parallel signal: worst absolute 32-way fixed-work wall
    # seen ANYWHERE in the run (start, every mid sample, end) vs
    # PARALLEL_WALL_REF_S. (Worst-end alone passed on runs whose
    # mid-suite stretches were provably degraded; a ratio against the
    # best single sample tripped on a healthy run when one single
    # sample caught deeper turbo.)
    out["parallel_probe_max_s"] = round(
        max(
            out["parallel_probe_start_s"],
            out["parallel_probe_end_s"],
            *par_timeline,
        ),
        3,
    )
    out["parallel_wall_ref_s"] = PARALLEL_WALL_REF_S
    # informational only: median-based scaling ratio (stable against
    # single-sample luck in either dimension)
    _meds = sorted(
        [out["calibration_probe_start_s"], out["calibration_probe_end_s"]]
        + probe_timeline
    )
    _medp = sorted(
        [out["parallel_probe_start_s"], out["parallel_probe_end_s"]]
        + par_timeline
    )
    out["parallel_scaling_ratio"] = round(
        _medp[len(_medp) // 2] / max(_meds[len(_meds) // 2], 1e-9), 2
    )
    # --- the authoritative target table (TARGETS.json, r11 verdict #5) --
    # Every self-set watchpoint lives in ONE loaded file and the record
    # carries its own pass/fail — a miss prints the miss instead of
    # hiding in a drifting SCALE.md prose section.
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "TARGETS.json")) as f:
        spec = json.load(f)

    out["seconds_per_query"] = round(total / max(len(headline), 1), 3)
    evaluate_targets(spec, out, timings)

    # Full result (all per-query timings) goes to a file AND one full JSON
    # line; the LAST stdout line is a compact (<1 KB) headline so the
    # driver's tail-window always parses structured numbers (r1-r4 the
    # ~4 KB single line was tail-truncated and parsed as null).
    # the harness's own content digest, so a "did bench.py change?"
    # question is answerable from the record instead of re-derived
    # (r14's PERF got it wrong)
    import hashlib as _hl

    with open(os.path.abspath(__file__), "rb") as _bf:
        out["bench_py_md5"] = _hl.md5(_bf.read()).hexdigest()[:12]

    with open(os.path.join(here, "bench_queries.json"), "w") as f:
        json.dump(out, f, indent=2, sort_keys=True)
    print(json.dumps(out))
    # the full per-target table stays in the file + full line; the
    # compact tail line carries only the failure list (size budget)
    compact = {k: v for k, v in out.items() if k not in ("queries", "targets")}
    compact["queries"] = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:8])
    # never let a name DROP from the printed map round-over-round (r15,
    # verdict #7: r14's PERF read slowest-8 churn as "dropped_from_
    # bench" — three queries "disappeared" because they got FASTER).
    # The previous round's printed rows ride along with their fresh
    # timings, so a map diff against the prior record sees only
    # additions; the full 173-row map stays in bench_queries.json (the
    # stable pointer below) because a ~5 KB tail line would cross the
    # r1-r4 tail-window truncation threshold that motivated the compact
    # line in the first place.
    _PREV_PRINTED = (
        "release_gate_utility", "semdedup_survivors_v2",
        "curation_decisions_v3", "release_gate", "dedup_sketch_eval",
        "record_linkage_incremental", "fuzzy_join_docs",
        "dedup_simhash_pairs",
    )
    for _name in _PREV_PRINTED:
        if _name in timings:
            compact["queries"].setdefault(_name, timings[_name])
    compact["queries_truncated_to_slowest"] = 8
    compact["all_queries_file"] = "bench_queries.json"
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
