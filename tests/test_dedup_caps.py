"""Hot-bucket cap behavior for the banded-LSH pair generators.

A degenerate corpus (many near-identical boilerplate docs) collapses
entire document sets onto one band bucket; the MAX_BAND_DOCS cap must
drop such buckets from candidate generation (exact clones that big are
exact_dedup's job) while leaving normal-sized buckets fully paired.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databus_spark.operators import dedup


def _clone_corpus(spark, n, text="the same boilerplate text repeated across the corpus forever and ever"):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(text).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("clone").alias("source"),
        F.length(F.lit(text)).alias("n_chars"),
    )


def test_minhash_hot_bucket_capped(spark):
    over = _clone_corpus(spark, dedup.MAX_BAND_DOCS + 50)
    # every clone lands in the same band buckets -> population > cap -> dropped
    assert dedup.minhash_lsh_pairs(over, k=3).count() == 0

    under = _clone_corpus(spark, 12)
    # 12 identical docs = C(12,2) pairs at est_jaccard 1.0
    assert dedup.minhash_lsh_pairs(under, k=3).count() == 12 * 11 // 2


def test_simhash_hot_bucket_capped(spark):
    over = _clone_corpus(spark, dedup.MAX_BAND_DOCS + 50)
    assert dedup.simhash_near_pairs(over).count() == 0

    under = _clone_corpus(spark, 12)
    pairs = dedup.simhash_near_pairs(under)
    assert pairs.count() == 12 * 11 // 2
    assert pairs.agg(F.max("hamming")).collect()[0][0] == 0


def test_pair_gen_emits_ordered_unique_pairs(spark):
    under = _clone_corpus(spark, 8)
    rows = dedup.minhash_lsh_pairs(under, k=3).collect()
    seen = set()
    for r in rows:
        assert r.doc_a < r.doc_b
        assert (r.doc_a, r.doc_b) not in seen
        seen.add((r.doc_a, r.doc_b))


def test_embedding_bucket_cap(spark):
    """A monoculture of identical embeddings lands in one bucket per
    table; beyond MAX_BUCKET_VECS the bucket is dropped from pair
    generation, below it every pair is emitted."""
    from databus_spark.operators import similarity

    def clones(n):
        vec = [1.0] * 64
        return spark.createDataFrame(
            [(i, vec) for i in range(n)], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
        )

    small = clones(12)
    assert similarity.embedding_near_pairs(small).count() == 12 * 11 // 2

    # monkeypatch-free: exercise the cap with a tiny threshold override
    orig = similarity.MAX_BUCKET_VECS
    similarity.MAX_BUCKET_VECS = 10
    try:
        assert similarity.embedding_near_pairs(clones(12)).count() == 0
    finally:
        similarity.MAX_BUCKET_VECS = orig


def test_star_connected_components_deep_chain(spark):
    """Large-star/small-star converges in O(log diameter) rounds: a
    200-edge path graph (diameter 200) must resolve to one cluster well
    inside 50 rounds — min-label propagation would need ~200."""
    from pyspark.sql import functions as F

    pairs = spark.range(200).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    out = dedup.dedup_clusters_star(pairs).collect()
    assert len(out) == 201
    assert all(r.cluster_id == 0 for r in out)
    assert sum(r.is_survivor for r in out) == 1


def test_star_matches_union_find_on_real_pairs(spark, sf_dir):
    """Both component paths agree exactly on the minhash candidate graph
    (same labels, same survivors): dedup_clusters takes the <=cap driver
    union-find branch here, dedup_clusters_star the distributed loop."""
    pairs = dedup.minhash_lsh_pairs(
        dedup.documents_with_dups(spark, sf_dir), k=5
    ).localCheckpoint(eager=True)
    a = {r.doc_id: (r.cluster_id, r.is_survivor) for r in dedup.dedup_clusters(pairs).collect()}
    b = {r.doc_id: (r.cluster_id, r.is_survivor) for r in dedup.dedup_clusters_star(pairs).collect()}
    assert a == b and len(a) > 0


def test_hybrid_dispatch_boundary(spark, sf_dir):
    """The hybrid's two branches are equivalent ACROSS the dispatch
    boundary: forcing the cap to 0 sends the same pair set down the
    >cap star branch, and the output must match the union-find branch
    row for row (r10 verdict #4 — the >cap path is now star, and the
    dispatch itself is pinned by this test)."""
    pairs = dedup.minhash_lsh_pairs(
        dedup.documents_with_dups(spark, sf_dir), k=5
    ).localCheckpoint(eager=True)
    below = {
        r.doc_id: (r.cluster_id, r.is_survivor)
        for r in dedup.dedup_clusters(pairs).collect()
    }
    orig = dedup.DEDUP_CC_DRIVER_CAP
    dedup.DEDUP_CC_DRIVER_CAP = 0  # every edge set is now >cap
    try:
        above = {
            r.doc_id: (r.cluster_id, r.is_survivor)
            for r in dedup.dedup_clusters(pairs).collect()
        }
    finally:
        dedup.DEDUP_CC_DRIVER_CAP = orig
    assert below == above and len(below) > 0


def test_cdc_chunks_resync_after_insertion(spark):
    """THE content-defined-chunking property: a single token inserted at
    the front shifts every fixed window, but CDC boundaries
    re-synchronize — the edited copy still shares its unchanged tail
    chunk with the original (both engines agree; the oracle pair runs
    in test_registry_oracles)."""
    from databus_spark.operators.dedup import cdc_chunk_profile

    base = ("the quick brown fox jumps over the lazy dog and runs far away "
            "into the deep dark forest tonight")
    docs = spark.createDataFrame(
        [(0, base), (1, "oops " + base), (2, "nothing in common here at all")],
        "doc_id BIGINT, text STRING",
    )
    out = {r["doc_id"]: r for r in cdc_chunk_profile(docs).collect()}
    assert out[0]["n_dup_chunks"] >= 1, "original lost its shared tail chunk"
    assert out[1]["n_dup_chunks"] >= 1, "edited copy lost its shared tail chunk"
    assert out[2]["n_dup_chunks"] == 0
    # dup_fraction is the micro-unit floor-divided ratio
    r = out[0]
    assert r["dup_fraction"] == (r["n_dup_chunks"] * 1_000_000 // r["n_chunks"]) / 1_000_000


def test_cdc_chunks_short_and_tiny_docs(spark):
    """Docs shorter than the rolling window produce exactly one chunk
    (the whole document) instead of throwing on the ANSI element_at."""
    from databus_spark.operators.dedup import cdc_chunk_profile

    docs = spark.createDataFrame(
        [(0, "one"), (1, "two words"), (2, "a b c")],
        "doc_id BIGINT, text STRING",
    )
    out = {r["doc_id"]: r["n_chunks"] for r in cdc_chunk_profile(docs).collect()}
    assert out[0] == 1 and out[1] == 1 and out[2] >= 1


def test_decision_log_consistent_with_survivor_corpus(spark, sf_dir):
    """The decision log's 'keep' set must equal the survivor corpus
    exactly (two independent compositions of the same stages), and
    every dropped doc must point at a survivor that is itself kept."""
    from databus_spark.registry import QUERIES

    dl = {r["doc_id"]: r for r in QUERIES["dedup_decision_log"](spark, sf_dir).collect()}
    kept = {d for d, r in dl.items() if r["decision"] == "keep"}
    sc = {r["doc_id"] for r in QUERIES["dedup_survivor_corpus"](spark, sf_dir).collect()}
    assert kept == sc
    for d, r in dl.items():
        if r["decision"] == "keep":
            assert r["survivor_id"] == d
        else:
            s = r["survivor_id"]
            assert s != d
            # survivor_id is resolved transitively in the engine, so
            # the governance invariant holds DIRECTLY: the doc a
            # dropped row points at is always kept, no chain-chasing
            assert dl[s]["decision"] == "keep"
            assert s < d  # resolution only ever walks down doc_ids


def test_bithash_near_pairs_pigeonhole_recall(spark):
    """The generic banded hamming pair-gen: every pair within
    max_hamming is found (pigeonhole — d differing bits can't touch
    all d+1 bands), pairs beyond it are filtered, hamming is exact."""
    from databus_spark.operators.dedup import bithash_near_pairs, hash_band_layout

    # layout partitions all bits
    for n_bits, d in ((56, 2), (64, 3), (32, 1)):
        layout = hash_band_layout(n_bits, d)
        assert sum(w for _, w in layout) == n_bits
        assert len(layout) == d + 1
        offs = [o for o, _ in layout]
        assert offs == sorted(offs) and offs[0] == 0

    base = 0x00F0F0F0F0F0F0
    rows = [
        (0, base),
        (1, base ^ 0b11),            # d=2 in band 0
        (2, base ^ (1 << 20) ^ (1 << 40)),  # d=2 spread over two bands
        (3, base ^ (1 << 54) ^ (1 << 55)),  # d=2 in the tail remainder
        (4, base ^ (1 << 5) ^ (1 << 25) ^ (1 << 45)),  # d=3: beyond threshold
        (5, base),                   # exact dup
    ]
    sig = spark.createDataFrame(rows, "doc_id BIGINT, h BIGINT")
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in bithash_near_pairs(sig, "h", 56, max_hamming=2).collect()
    }
    assert got[(0, 1)] == 2 and got[(0, 2)] == 2 and got[(0, 3)] == 2
    assert got[(0, 5)] == 0 and got[(1, 5)] == 2
    assert not any(4 in p for p in got)


def test_bithash_probe_returns_base_ids_past_2_40(spark):
    """The bit-hash delta probe ranks matches by (hamming, base id), not
    by a packed key, so a base doc_id >= 2^40 comes back as matched_base
    instead of overflowing the key."""
    big = (1 << 40) + 7
    h = 0x00F0F0F0F0F0F0
    base = spark.createDataFrame(
        [(big, h ^ 0b1), (big + 1, h ^ 0b111), (3, h ^ (1 << 30) ^ (1 << 31))],
        "doc_id BIGINT, h BIGINT",
    )
    delta = spark.createDataFrame([(1, h), (2, h ^ (1 << 50) ^ 0xFF)], "doc_id BIGINT, h BIGINT")
    bands = dedup.bithash_bands(base, "h", 56, 2, "base_doc")
    got = {
        r["doc_id"]: r
        for r in dedup.incremental_bithash_dedup(delta, bands, 56, hash_col="h").collect()
    }
    # doc 3 is also within 2 bits, but big is closer (hamming 1)
    assert got[1]["matched_base"] == big and got[1]["best_hamming"] == 1
    assert not got[1]["is_new"]
    assert got[2]["is_new"] and got[2]["matched_base"] is None


def test_packed_key_width_guard(spark):
    """packed_key must raise inside codegen on out-of-range ids (silent
    aliasing of two distinct (high, low) pairs is corruption, not an
    error state the pipeline can observe) and stay exact in range."""
    from pyspark.errors import SparkRuntimeException

    df = spark.range(1).select(
        dedup.packed_key(F.lit(3), F.lit(5), 32, "t").alias("k")
    )
    assert df.collect()[0]["k"] == (3 << 32) + 5

    # low part overflows its 32-bit field -> loud error
    bad_low = spark.range(1).select(
        dedup.packed_key(F.lit(1), F.lit(1 << 32), 32, "t").alias("k")
    )
    with pytest.raises(SparkRuntimeException, match="packed key overflow"):
        bad_low.collect()

    # high part would shift past 63 bits -> loud error
    bad_high = spark.range(1).select(
        dedup.packed_key(F.lit(1 << 31), F.lit(0), 32, "t").alias("k")
    )
    with pytest.raises(SparkRuntimeException, match="packed key overflow"):
        bad_high.collect()

    # negative ids are out of contract too
    bad_neg = spark.range(1).select(
        dedup.packed_key(F.lit(1), F.lit(-1), 32, "t").alias("k")
    )
    with pytest.raises(SparkRuntimeException, match="packed key overflow"):
        bad_neg.collect()
