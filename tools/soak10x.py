#!/usr/bin/env python
"""10x scale soak: measure the headline families at sf0.1 and at a
10x-replicated corpus, recording wall, shuffle bytes, and peak task
memory per family (VERDICT r7 ask #6 — convert SCALE.md's
extrapolations into measured scaling exponents).

Replication is STRUCTURE-PRESERVING, not naive copy: replica i rotates
each document's token list by 7*i+3 and its embedding components by i.
Token rotation keeps unigram stats identical but decorrelates shingle
adjacency, and component rotation keeps within-replica cosine geometry
exact while decorrelating cross-replica vectors — so each replica is an
isomorphic copy of the corpus with DISJOINT similarity structure, the
same shape a real 10x crawl drawn from one distribution has. Naive
copies would instead hand every doc 9 exact dups and blow every cluster
up 10x, measuring a workload that does not exist at scale.

Usage: python tools/soak10x.py [--families f1,f2] [--scale 10]
Writes SOAK_{scale}X.json at the repo root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SOAK_DIR = "/tmp/databus_soak10x"
REPLICA_STRIDE = 100_000_000

# (stage, source dir) -> artifact dir, filled by the families' prestages
_STAGED: dict[tuple[str, str], str] = {}


def _stage(name: str, sf_dir: str, fingerprint: str, build) -> None:
    """Stage one derived soak input through the shared staging protocol
    (registry._staged_artifact: flock, a marker of content fingerprint
    and code digest written by rename) and remember its directory for
    the family that reads it.
    The soak fixture dir holds the x10 corpus one run and the x100 corpus
    the next (build_soak_fixture rebuilds it in place per --scale), so
    the key is the source's content, never its path alone."""
    from databus_spark.registry import _staged_artifact

    _STAGED[name, sf_dir] = _staged_artifact(
        f"databus_soak_{name}", sf_dir, fingerprint, build
    )


def _orders_fingerprint(spark, sf_dir: str) -> str:
    from databus_spark.registry import _content_fingerprint, load_table

    return _content_fingerprint(
        load_table(spark, sf_dir, "orders"), "o_orderkey", "o_totalprice"
    )


def build_soak_fixture(spark, scale: int) -> None:
    """Stage the 10x documents/embeddings/orders parquet (one-time)."""
    from pyspark.sql import functions as F

    marker = os.path.join(SOAK_DIR, f"_COMPLETE_{scale}")
    if os.path.exists(marker):
        return
    shutil.rmtree(SOAK_DIR, ignore_errors=True)
    os.makedirs(SOAK_DIR, exist_ok=True)

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))

    reps = spark.range(scale).select(F.col("id").cast("int").alias("rep"))

    # token rotation by (7*rep+3) %% n: same tokens, shifted adjacency
    toks = F.split(F.col("text"), "\\s+")
    n = F.greatest(F.size(toks), F.lit(1))
    k = (F.lit(7) * F.col("rep") + F.lit(3)) % n
    rotated = F.when(F.col("rep") == 0, F.col("text")).otherwise(
        F.array_join(
            F.concat(F.slice(toks, k + 1, n - k), F.slice(toks, 1, k)), " "
        )
    )
    docs10 = (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("rep").cast("long") * REPLICA_STRIDE).alias("doc_id"),
            rotated.alias("text"),
            *[c for c in docs.columns if c not in ("doc_id", "text")],
        )
    )
    docs10.repartition(32).write.parquet(os.path.join(SOAK_DIR, "documents.parquet"))

    # embedding component rotation by rep: exact within-replica geometry
    dim = len(emb.select("embedding").first()["embedding"])
    rot = F.when(F.col("rep") == 0, F.col("embedding")).otherwise(
        F.concat(
            F.slice(F.col("embedding"), (F.col("rep") % dim) + 1, dim - (F.col("rep") % dim)),
            F.slice(F.col("embedding"), 1, F.col("rep") % dim),
        )
    )
    emb10 = emb.crossJoin(F.broadcast(reps)).select(
        (F.col("vec_id") + F.col("rep").cast("long") * REPLICA_STRIDE).alias("vec_id"),
        rot.alias("embedding"),
        *[c for c in emb.columns if c not in ("vec_id", "embedding")],
    )
    emb10.repartition(32).write.parquet(os.path.join(SOAK_DIR, "embeddings.parquet"))

    o10 = orders.crossJoin(F.broadcast(reps)).select(
        (F.col("o_orderkey") + F.col("rep").cast("long") * 10_000_000).alias("o_orderkey"),
        *[c for c in orders.columns if c != "o_orderkey"],
    ).drop("rep")
    o10.repartition(32).write.parquet(os.path.join(SOAK_DIR, "orders.parquet"))

    with open(marker, "w") as f:
        f.write(str(scale))


# ---------------------------------------------------------------------------
# Families: each takes (spark, docs, emb, sf_dir_for_changelogs) and runs
# the family's headline plan to a noop sink.
# ---------------------------------------------------------------------------

def fam_minhash_clusters(spark, docs, emb, sf_dir):
    from databus_spark.operators import dedup

    pairs = dedup.minhash_lsh_pairs(docs, k=5, threshold=0.5)
    dedup.dedup_clusters_star(pairs).write.format("noop").mode("overwrite").save()


def fam_semdedup(spark, docs, emb, sf_dir):
    from databus_spark.operators import similarity

    # cells scale with the corpus (target ~1.5k vectors/cell): at fixed
    # SEM_CELLS the 100x corpus outgrows MAX_BUCKET_VECS in EVERY cell
    # and the cap silently drops all pair work — "fast" but measuring
    # nothing. This knob is exactly what a 100 TB deployment tunes.
    n = emb.count()
    cells = max(similarity.SEM_CELLS, n // 1500)
    similarity.semdedup_survivors(emb, n_cells=cells).write.format("noop").mode(
        "overwrite"
    ).save()


def fam_ann_ivfpq(spark, docs, emb, sf_dir):
    from databus_spark.operators import similarity

    cb = similarity._pq_codebook(emb, "vec_id", "embedding")
    codes = similarity.pq_encode(emb, cb, "vec_id", "embedding")
    codes.write.format("noop").mode("overwrite").save()


def fam_sq8_ivf(spark, docs, emb, sf_dir):
    """IVF+SQ8 serving composition in its SCALE shape (check_recall=
    False — no exact float reference scan, the fixture-only
    instrumentation). Replica component-rotation decorrelates
    cross-replica vectors, so the same assign/probe dial faces a 10x
    corpus with 10x-denser cells; wall and shuffle bytes should scale
    ~linearly with the scanned candidate mass."""
    from databus_spark.operators import similarity

    similarity.sq8_ivf_topk(
        emb, n_queries=10, k=5, check_recall=False
    ).write.format("noop").mode("overwrite").save()


def fam_curation(spark, docs, emb, sf_dir):
    # registry query: loads documents from sf_dir (soak dir has them)
    from databus_spark.registry import QUERIES

    QUERIES["curation_decisions_v2"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()


def fam_exact_dedup(spark, docs, emb, sf_dir):
    from databus_spark.operators import dedup

    dedup.exact_dedup(docs).write.format("noop").mode("overwrite").save()


def _salted_docs(docs):
    """Per-replica token salt for the SLIDING-WINDOW families: the
    standard replica token ROTATION preserves every window that misses
    the cut point, so a rotated xN corpus is ~99% window-duplicated
    (measured at x100: 23.3M of 23.6M windows removable) — a stress
    bound, not a representative scale point. Prefixing each token with
    its replica id removes cross-replica window dups while keeping each
    replica's internal dup structure exactly the base corpus's, so dup
    incidence stays ~9% of docs at any scale. Applied to x1 too (a
    uniform prefix is content-neutral) for apples-to-apples."""
    from pyspark.sql import functions as F

    rep = F.expr(f"doc_id div {REPLICA_STRIDE}")
    toks = F.split(F.trim(F.regexp_replace("text", r"\s+", " ")), " ")
    salted = F.array_join(
        F.transform(toks, lambda t: F.concat(F.lit("r"), rep, F.lit("_"), t)), " "
    )
    return docs.select("doc_id", salted.alias("text"))


def fam_exactsubstr(spark, docs, emb, sf_dir):
    # no cap knob to outgrow: occurrence counting is a pure agg and the
    # join-back is 1:1 — the family the scale-knob comment above does
    # NOT apply to, which is itself worth measuring
    from databus_spark.operators import dedup

    dedup.exactsubstr_dedup(_salted_docs(docs).localCheckpoint()).write.format(
        "noop"
    ).mode("overwrite").save()


def _web_corpus(docs):
    """win=50-scale LONG-DOCUMENT corpus (books/code files — the shape
    where the pre-filter matters: n_windows ~ n_tokens per doc and dup
    docs rare): 12 fixture docs concatenate into one ~650-token doc,
    every token prefixed with its group id so cross-group window dups
    vanish by construction, and ~1 in 7 docs carries one of three fixed
    60-token boilerplate paragraphs (head or tail varies) — the
    controlled dup structure. Two rejected shapes, both measured: raw
    12-doc concat (fixture dup content scattered -> 60% of mega-docs
    were candidates, pruning collapsed) and page-sized docs (windows/doc
    ~ 15, brute shuffle already tiny, carriers held most window mass).
    Deterministic, so the prefilter and brute legs see identical bytes."""
    from pyspark.sql import functions as F

    gid = F.expr("doc_id div 12")
    toks = F.split(F.trim(F.regexp_replace("text", r"\s+", " ")), " ")
    salted = F.array_join(
        F.transform(toks, lambda t: F.concat(F.lit("g"), gid, F.lit("_"), t)), " "
    )
    grouped = (
        docs.select(gid.alias("doc_id"), salted.alias("_t"))
        .groupBy("doc_id")
        .agg(F.array_join(F.collect_list("_t"), " ").alias("_body"))
    )
    variants = [
        F.lit(" ".join(f"bp{v}x{i}" for i in range(60))) for v in range(3)
    ]
    bp = (
        F.when(F.col("doc_id") % 3 == 0, variants[0])
        .when(F.col("doc_id") % 3 == 1, variants[1])
        .otherwise(variants[2])
    )
    carrier = F.col("doc_id") % 7 == 0
    head = F.col("doc_id") % 2 == 0
    text = (
        F.when(carrier & head, F.concat_ws(" ", bp, F.col("_body")))
        .when(carrier, F.concat_ws(" ", F.col("_body"), bp))
        .otherwise(F.col("_body"))
    )
    return grouped.select("doc_id", text.alias("text"))


def _prestage_web(spark, docs, emb, sf_dir):
    """Corpus derivation (group/salt/concat HOFs) is one-time staging,
    not the measured operator — written once per source content."""
    from databus_spark.registry import _text_fingerprint

    def build(d):
        _web_corpus(docs).repartition(32).write.parquet(os.path.join(d, "web"))

    _stage("web", sf_dir, _text_fingerprint(docs), build)


def _read_web(spark, sf_dir):
    return spark.read.parquet(os.path.join(_STAGED["web", sf_dir], "web"))


def fam_exactsubstr_web(spark, docs, emb, sf_dir):
    # the paper-granularity leg (win=50): the winnowing pre-filter
    # auto-engages (k=34/w=17, ~1/9 selection density, 34-token anchor)
    from databus_spark.operators import dedup

    dedup.exactsubstr_dedup(_read_web(spark, sf_dir), win=50).write.format(
        "noop"
    ).mode("overwrite").save()


fam_exactsubstr_web.prestage = _prestage_web


def fam_exactsubstr_web_brute(spark, docs, emb, sf_dir):
    from databus_spark.operators import dedup

    dedup.exactsubstr_dedup(
        _read_web(spark, sf_dir), win=50, prefilter=False
    ).write.format("noop").mode("overwrite").save()


fam_exactsubstr_web_brute.prestage = _prestage_web


def fam_exactsubstr_brute(spark, docs, emb, sf_dir):
    # the pre-filter's control leg: identical output, no winnowing
    # candidate pass — the pair of records is the measured shuffle
    # saving (r8 verdict ask #3)
    from databus_spark.operators import dedup

    dedup.exactsubstr_dedup(
        _salted_docs(docs).localCheckpoint(), prefilter=False
    ).write.format("noop").mode("overwrite").save()


def fam_dsir(spark, docs, emb, sf_dir):
    # weight table is O(256) regardless of corpus size; the measured
    # question is the feature-explode agg + broadcast-join scaling
    from databus_spark.operators import shards

    shards.dsir_doc_scores(docs).write.format("noop").mode("overwrite").save()


def fam_batch_apply(spark, docs, emb, sf_dir):
    from databus_spark.envelope import orders_changelog
    from databus_spark.operators.compaction import latest_by_key

    log = orders_changelog(spark, sf_dir)
    latest_by_key(log).write.format("noop").mode("overwrite").save()


# Streaming-family measurement fixes (r14, both bit the r13 record):
# 1. stage_changelog is one-time test staging (its own docstring: a
#    driver-width ntile/coalesce(1) funnel, "not a production write
#    path") yet it ran INSIDE the timed wall and — worse — inside the
#    job group, while the actual micro-batch MERGE jobs ran on the
#    stream-execution thread, OUTSIDE the thread-local job group. The
#    committed pre-r14 stream_apply soak rows therefore timed staging +
#    drain but attributed ONLY the staging shuffle (x1 79 MB / x100
#    9.5 GB — byte-identical across engine changes because staging
#    never changed). Staging now prestages untimed under a content
#    marker, and the micro-batch jobs (which carry the stream's run-id
#    group) are attributed to the leg's span by their submission time,
#    so the recorded shuffle/mem is the applier's. The stage is keyed on
#    the orders content: a path-keyed marker once served the x10 staging
#    to an 'x100' stream_apply run (it read 15.5 s / 507 MB, the x10
#    numbers).
def _prestage_stream(spark, docs, emb, sf_dir):
    from databus_spark.envelope import orders_changelog
    from databus_spark.streaming.source import stage_changelog

    def build(d):
        stage_changelog(
            orders_changelog(spark, sf_dir), os.path.join(d, "stage"), n_chunks=8
        )

    _stage("stream", sf_dir, _orders_fingerprint(spark, sf_dir), build)


def _stream_stage_dir(sf_dir: str) -> str:
    return os.path.join(_STAGED["stream", sf_dir], "stage")


def _drain(spark, store, stage_sf: str, ckpt: str) -> None:
    """Drain the staged orders log of ``stage_sf`` into ``store`` through
    the streaming applier. A drain still running after 1800 s is
    stopped and raises, so no leg is timed on a half-drained stream."""
    from databus_spark.envelope import orders_changelog
    from databus_spark.streaming.applier import StreamingApplier
    from databus_spark.streaming.source import changelog_stream

    olog = orders_changelog(spark, stage_sf)
    stream = changelog_stream(spark, _stream_stage_dir(stage_sf), olog.schema)
    q = StreamingApplier(store).run(stream, ckpt)
    if not q.awaitTermination(1800):
        q.stop()
        raise TimeoutError(f"stream drain of {stage_sf} still running after 1800 s")


def fam_stream_apply(spark, docs, emb, sf_dir):
    from databus_spark.store.snapshot import ParquetSnapshotStore

    with tempfile.TemporaryDirectory(prefix="soak_stream_") as tmp:
        _drain(spark, ParquetSnapshotStore(spark, f"{tmp}/snap"), sf_dir, f"{tmp}/ck")


fam_stream_apply.prestage = _prestage_stream


def fam_stream_apply_unbucketed(spark, docs, emb, sf_dir):
    # the bucketing control (r8 verdict ask #7): n_buckets=1 makes every
    # merge rewrite the WHOLE table — per-task state and shuffle against
    # the 16-bucket leg is the measured headroom of the bucketed store
    from databus_spark.store.snapshot import ParquetSnapshotStore

    with tempfile.TemporaryDirectory(prefix="soak_stream_ub_") as tmp:
        store = ParquetSnapshotStore(spark, f"{tmp}/snap", n_buckets=1)
        _drain(spark, store, sf_dir, f"{tmp}/ck")


fam_stream_apply_unbucketed.prestage = _prestage_stream


# -- big-state streaming MERGE: small batches into a large snapshot ------
# The x1/xN stream_apply legs replay a FIXED 8-chunk log, so batch size
# grows with scale. The production steady state is the opposite shape:
# a trigger-bounded SMALL batch merging into a LARGE accumulated
# snapshot. This family pins that regime: it drains the SAME small
# sf0.1-sized changelog (8 x ~23k-row batches, rep-0 keys ⊂ the big
# corpus keyspace so updates are real) into a link-copied clone of a big
# prestaged snapshot, so the merge-on-read appends and the size-triggered
# fold are what it measures.
def _prestage_bigstate(spark, docs, emb, sf_dir):
    from databus_spark.envelope import orders_changelog
    from databus_spark.store.snapshot import ParquetSnapshotStore

    _prestage_stream(spark, docs, emb, SF_DIR)  # the small drain log

    def build(d):
        store = ParquetSnapshotStore(spark, os.path.join(d, "base"))
        store.merge(orders_changelog(spark, sf_dir))  # one big v1 seed

    _stage("bigstate", sf_dir, _orders_fingerprint(spark, sf_dir), build)


def fam_stream_bigstate(spark, docs, emb, sf_dir):
    from databus_spark.store.snapshot import ParquetSnapshotStore

    with tempfile.TemporaryDirectory(prefix="soak_bigstate_") as tmp:
        ParquetSnapshotStore._link_tree(
            os.path.join(_STAGED["bigstate", sf_dir], "base"), f"{tmp}/snap"
        )
        _drain(spark, ParquetSnapshotStore(spark, f"{tmp}/snap"), SF_DIR, f"{tmp}/ck")


fam_stream_bigstate.prestage = _prestage_bigstate


def fam_media_dhash(spark, docs, emb, sf_dir):
    """The Python-codec path at scale: staged PNG corpus -> real decode
    -> dHash -> banded hamming near pairs. Decode is map-side
    Arrow-batched work and the fixture's per-group pseudo-random
    hashes keep band buckets tiny at any SF (ramp-phase fixtures collapse to
    140 classes and trip MAX_BAND_DOCS at 10x), so this measures
    codec + pair-gen scaling, parallelizable by adding executors."""
    from databus_spark.operators.dedup import bithash_near_pairs
    from databus_spark.operators.multimodal import image_dhash, synth_phash_corpus
    from databus_spark.registry import _staged_media_corpus

    media = _staged_media_corpus(spark, sf_dir, "databus_phash", synth_phash_corpus)
    bithash_near_pairs(image_dhash(media), "dhash", 56, 2).write.format(
        "noop"
    ).mode("overwrite").save()


def _prestage_media(spark, docs, emb, sf_dir):
    from databus_spark.operators.multimodal import synth_phash_corpus
    from databus_spark.registry import _staged_media_corpus

    _staged_media_corpus(spark, sf_dir, "databus_phash", synth_phash_corpus)


fam_media_dhash.prestage = _prestage_media


def fam_fuzzy_join(spark, docs, emb, sf_dir):
    """Blocked fuzzy join at its deployed defaults (lang + first-token
    composite block key, LINK_MAX_BLOCK cap). Blocked-ER cost is
    sum(C(block,2)), so the scaling story has two regimes: while block
    key diversity grows with the corpus (organic data), block
    populations hold and cost is ~linear; once the key space saturates
    (the rotated-replica fixture pins it at 31 first tokens — measured:
    uncapped composite pairs 13.3k at x1 -> 137M at x100, quadratic),
    the POPULATION CAP is what bounds the work, trading recall for a
    hard per-block cost ceiling exactly like MAX_SHINGLE_DF. The soak
    wall therefore measures the capped operator; the dropped-block
    fraction at each scale is recorded next to it in SCALE.md."""
    from pyspark.sql import functions as F

    from databus_spark.operators import joins

    keyed = docs.withColumn(
        "_bc", F.concat_ws("|", "lang", F.split_part(F.col("text"), F.lit(" "), F.lit(1)))
    )
    joins.fuzzy_join_pairs(keyed, block_col="_bc").write.format(
        "noop"
    ).mode("overwrite").save()


def fam_corpus_drift(spark, docs, emb, sf_dir):
    from databus_spark.operators import text

    text.corpus_drift(docs).write.format("noop").mode("overwrite").save()


def fam_bm25(spark, docs, emb, sf_dir):
    from databus_spark.operators import text

    text.bm25_topk(docs).write.format("noop").mode("overwrite").save()


def fam_bm25_serve(spark, docs, emb, sf_dir):
    """The staged-index serve leg vs fam_bm25's per-query rebuild: the
    inverted index is built once at ingest (prestage, untimed); the
    timed leg serves the query workload plus a FIXED 50-doc delta, so
    its corpus-size term is only the bucket-pruned postings of the
    query vocabulary — the scale argument for staging the index at all
    (the rebuild re-tokenizes the whole corpus per query batch)."""
    from pyspark.sql import functions as F

    from databus_spark.operators import text

    postings, stats, queries = text.bm25_index_read(spark, _STAGED["bm25idx", sf_dir])
    text.bm25_serve(
        postings, stats, queries, delta_docs=docs.where(F.col("doc_id") < 50)
    ).write.format("noop").mode("overwrite").save()


def _prestage_bm25_serve(spark, docs, emb, sf_dir):
    from databus_spark.operators import text
    from databus_spark.registry import _text_fingerprint

    _stage(
        "bm25idx",
        sf_dir,
        _text_fingerprint(docs),
        lambda d: text.bm25_index_build(docs, d),
    )


fam_bm25_serve.prestage = _prestage_bm25_serve


def fam_semdedup_incremental(spark, docs, emb, sf_dir):
    # registry query: stages the base cell index once (prestage), the
    # timed leg is the rolling-ingest probe against it
    from databus_spark.registry import QUERIES

    QUERIES["semdedup_incremental"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()


def _prestage_seminc(spark, docs, emb, sf_dir):
    from databus_spark.registry import QUERIES

    QUERIES["semdedup_incremental"](spark, sf_dir).count()


fam_semdedup_incremental.prestage = _prestage_seminc


FAMILIES = {
    "minhash_clusters": fam_minhash_clusters,
    "fuzzy_join": fam_fuzzy_join,
    "corpus_drift": fam_corpus_drift,
    "bm25": fam_bm25,
    "bm25_serve": fam_bm25_serve,
    "semdedup_incremental": fam_semdedup_incremental,
    "stream_apply_unbucketed": fam_stream_apply_unbucketed,
    "stream_bigstate": fam_stream_bigstate,
    "media_dhash": fam_media_dhash,
    "stream_apply": fam_stream_apply,
    "semdedup": fam_semdedup,
    "ann_ivfpq_build": fam_ann_ivfpq,
    "sq8_ivf": fam_sq8_ivf,
    "curation_v2": fam_curation,
    "exact_dedup": fam_exact_dedup,
    "exactsubstr": fam_exactsubstr,
    "exactsubstr_brute": fam_exactsubstr_brute,
    "exactsubstr_web": fam_exactsubstr_web,
    "exactsubstr_web_brute": fam_exactsubstr_web_brute,
    "dsir": fam_dsir,
    "batch_apply": fam_batch_apply,
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--families", default=",".join(FAMILIES))
    ap.add_argument("--scale", type=int, default=10)
    ap.add_argument(
        "--repeats", type=int, default=1,
        help="min-of-N wall per leg: sub-second family walls make "
             "single-shot exponents noise-dominated on a shared host",
    )
    args = ap.parse_args()
    fams = [f for f in args.families.split(",") if f in FAMILIES]

    from databus_spark.session import build_session
    from tools.traced import TracedRun

    run = TracedRun("soak10x")
    spark = run.attach(build_session("databus_soak10x", extra_conf=run.conf))

    t0 = time.time()
    build_soak_fixture(spark, args.scale)
    stage_s = round(time.time() - t0, 1)

    def load(dirpath):
        return (
            spark.read.parquet(os.path.join(dirpath, "documents.parquet")),
            spark.read.parquet(os.path.join(dirpath, "embeddings.parquet")),
        )

    results: dict[str, dict] = {"_staging_s": stage_s, "_scale": args.scale}
    fastest = {}  # (family, leg) -> span of the min-wall repeat
    for fam in fams:
        fn = FAMILIES[fam]
        for label, dirpath in (("x1", SF_DIR), (f"x{args.scale}", SOAK_DIR)):
            docs, emb = load(dirpath)
            spark.catalog.clearCache()
            # one-time fixture staging stays OUT of the timed wall
            getattr(fn, "prestage", lambda *a: None)(spark, docs, emb, dirpath)
            if label == "x1":
                # warm-up: one untimed x1 run outside any span, so the
                # family's own plans, codegen and Python workers are warm
                # before either leg is timed (a generic warm-up left x1
                # reading slower than x2)
                fn(spark, docs, emb, dirpath)
            for _rep in range(args.repeats):
                with run.tracer.span(f"{fam}:{label}"):
                    fn(spark, docs, emb, dirpath)
            span = min(run.tracer.named(f"{fam}:{label}"), key=lambda s: s.end - s.start)
            fastest[fam, label] = span
            wall = round(span.end - span.start, 2)
            results.setdefault(fam, {})[label] = {"wall_s": wall}
            print(f"{fam} {label}: {wall}s", flush=True)
        w1 = results[fam]["x1"]["wall_s"]
        wN = results[fam][f"x{args.scale}"]["wall_s"]
        import math

        results[fam]["scaling_exponent"] = round(
            math.log(max(wN, 1e-9) / max(w1, 1e-9)) / math.log(args.scale), 3
        )

    run.finish()
    for (fam, label), span in fastest.items():
        m = run.metrics(span)
        results[fam][label].update({
            "shuffle_read_b": m["shuffle_read_bytes"],
            "shuffle_write_b": m["shuffle_write_bytes"],
            "peak_task_mem_b": m["peak_execution_memory"],
            "n_tasks": m["tasks"],
            "spill_b": m["spill_bytes"],
        })

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = os.path.join(here, f"SOAK_{args.scale}X.json")
    # MERGE with any prior record: a --families subset run must not
    # clobber families measured earlier (bit r8: a 2-family run erased
    # the 8-family record)
    merged = {}
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                merged = json.load(f)
        except ValueError:
            merged = {}
    merged.update(results)
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=2, sort_keys=True)
    print(json.dumps({k: v for k, v in results.items() if not k.startswith("_")}, indent=2))


if __name__ == "__main__":
    main()
