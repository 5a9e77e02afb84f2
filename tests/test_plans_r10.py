"""r10 plan guards.

The r10 soak attribution found Catalyst broadcasting a CORPUS side:
an exploded token stream's static size estimate is its parquet scan's
(~30 MB), so under the broadcast threshold the planner built a 3.1 GB
single-task HashedRelation from 27M exploded rows (lm_quality_score;
the curation family's long-standing x100 memory mystery). The guard
below pins the whole registry clean: no static plan may broadcast a
subtree that contains a Generate (explode/posexplode) — row counts
after a Generate are unknowable statically, so broadcasting one is
never a safe planner choice at scale. Legitimate broadcasts (dim
tables, agg outputs, vocab tables) have no Generate beneath them.
"""

from __future__ import annotations

import pytest


def _depth(s: str) -> int:
    return len(s) - len(s.lstrip(" :+-*("))


_REDUCERS = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "Exchange hashpartitioning",
    "TakeOrderedAndProject",
    "CollectLimit",
    "GlobalLimit",
    "Window",
    "Join",  # a join's output is no longer the raw exploded stream
)


def _broadcast_over_generate(plan: str) -> bool:
    """True iff some BroadcastExchange subtree contains a Generate with
    NO cardinality-reducing operator on the path between them — i.e.
    the raw exploded stream itself is the build side. An aggregate /
    exchange / limit between means the build side is a derived table
    (vocab, shingle set, dim) whose size no longer scales with the
    explode."""
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        d0 = _depth(ln)
        stack: list[tuple[int, str]] = []
        for l2 in lines[i + 1 :]:
            if not l2.strip():
                continue
            d = _depth(l2)
            if d <= d0:
                break
            while stack and stack[-1][0] >= d:
                stack.pop()
            if "Generate" in l2 and not any(
                any(r in t for r in _REDUCERS) for _, t in stack
            ):
                return True
            stack.append((d, l2))
    return False


# Broadcasts that ARE a raw Generate but with bounded fan-out by
# construction: the PQ serve path broadcasts the asymmetric distance
# table — explode of a CONSTANT M-length sub-distance array over
# (filtered query set x codebook), i.e. n_queries * K * M rows, all
# design constants. Anything new lands here only with a size argument.
_BOUNDED_GENERATE_BROADCASTS = {
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "ann_ivfpq_rerank_topk",
    # dedup._lsh_bands (the one band-row builder of both LSH families)
    # emits its band keys via explode of a CONSTANT (max_hamming+1)-
    # element struct array (was an equivalent max_hamming+1-branch
    # union, which this heuristic could not see). The broadcast side
    # here is the incoming DELTA batch's band rows — delta_rows x 3,
    # bounded by ingest batch size by construction.
    "media_dhash_incremental",
}


def test_no_query_broadcasts_an_exploded_side(spark, sf_dir):
    from databus_spark.registry import QUERIES

    offenders = []
    for name, fn in QUERIES.items():
        if name in _BOUNDED_GENERATE_BROADCASTS:
            continue
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if _broadcast_over_generate(plan):
            offenders.append(name)
    assert not offenders, offenders


def test_guard_detects_the_lm_shape(spark):
    """Planted positive/negative pair: broadcasting the EXPLODED side
    must trip the detector; broadcasting the vocab table (the fix) must
    not."""
    from pyspark.sql import functions as F

    docs = spark.range(64).select(
        F.col("id").alias("doc_id"),
        F.array(*[F.lit(f"t{i}") for i in range(8)]).alias("toks"),
    )
    toks = docs.select("doc_id", F.explode("toks").alias("tok"))
    tf = toks.groupBy("tok").count()

    bad = tf.join(F.broadcast(toks), "tok")  # the hazard, forced
    assert _broadcast_over_generate(
        bad._jdf.queryExecution().executedPlan().toString()
    )

    good = toks.join(F.broadcast(tf), "tok")  # the lm fix's shape
    assert not _broadcast_over_generate(
        good._jdf.queryExecution().executedPlan().toString()
    )
