"""Integer-exact distributed Lloyd k-means: convergence and plan pins.

All arithmetic is fixed-point bigint (quantize -> exact distances ->
floor-division means), so both engines produce bit-identical centroids
— the cross-engine-reproducible restatement of the clustering stage
SemDeDup/IVF pipelines assume. Oracle parity is covered by the
parametrized registry sweep; these tests pin the algorithm's semantics.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _emb(spark, sf_dir):
    return spark.read.parquet(sf_dir + "/embeddings.parquet")


def _inertia(spark, sf_dir, n_iter: int) -> int:
    from databus_spark.operators import similarity as S

    asg = S.kmeans_assign(_emb(spark, sf_dir), n_iter=n_iter)
    return asg.agg(F.sum("dist")).collect()[0][0]


def test_lloyd_inertia_non_increasing(spark, sf_dir):
    """Each Lloyd round must not increase total inertia (the classic
    convergence invariant; floor-rounded integer means keep it on this
    fixture — any violation would mean assignment/update disagree)."""
    vals = [_inertia(spark, sf_dir, n) for n in range(4)]
    assert all(a >= b for a, b in zip(vals, vals[1:])), vals
    # and training actually moves: round 0 (init) -> round 3 improves
    assert vals[3] < vals[0]


def test_kmeans_deterministic_and_all_cells_live(spark, sf_dir):
    from databus_spark.operators import similarity as S

    c1 = sorted(
        (r["cell_id"], tuple(r["cent"]))
        for r in S.kmeans_lloyd(_emb(spark, sf_dir)).collect()
    )
    c2 = sorted(
        (r["cell_id"], tuple(r["cent"]))
        for r in S.kmeans_lloyd(_emb(spark, sf_dir)).collect()
    )
    assert c1 == c2
    assert [c for c, _ in c1] == list(range(8))
    # centroids live in the shifted fixed-point domain [0, 2e6]
    assert all(0 <= x <= 2_000_000 for _, cent in c1 for x in cent)


def test_kmeans_assignment_is_nearest_centroid(spark, sf_dir):
    """Cross-check one round-trip: every vector's recorded dist equals
    the exact squared L2 to its assigned centroid, and no other
    centroid is strictly closer (ties resolve to the lower cell)."""
    from databus_spark.operators import similarity as S

    emb = _emb(spark, sf_dir)
    cent = {r["cell_id"]: r["cent"] for r in S.kmeans_lloyd(emb).collect()}
    rows = S.kmeans_assign(emb).collect()
    for r in rows[:50]:
        dists = {
            c: sum((x - y) * (x - y) for x, y in zip(r["qv"], v))
            for c, v in cent.items()
        }
        best = min((d, c) for c, d in dists.items())
        assert (best[1], best[0]) == (r["cell_id"], r["dist"])


def test_kmeans_plan_broadcasts_centroids(spark, sf_dir):
    """The per-round distance stage must broadcast the centroid frame
    (never shuffle the corpus to meet it) and reduce the x k scoring
    fan-out with a map-side partial min."""
    from databus_spark.registry import QUERIES

    plan = (
        QUERIES["kmeans_assign_summary"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan[:800]
    assert "partial_min" in plan, "argmin lost map-side combine:\n" + plan[:800]
    assert "SortMergeJoin" not in plan


def test_semdedup_trained_consistent_with_fast_variant(spark, sf_dir):
    """The trained-cell variant must agree with the hash-sample variant
    on the INVARIANTS (every vector present exactly once, survivors =
    cluster minima, cluster members co-cell) even though cell
    boundaries differ. Measured co-location recall of true cosine>=0.4
    pairs on this fixture: hash-sample 0.34, trained 0.29 — comparable;
    the trained variant's value is paper parity (SemDeDup clusters with
    k-means), not fixture-recall superiority."""
    from databus_spark.operators import similarity as S

    emb = spark.read.parquet(sf_dir + "/embeddings.parquet")
    rows = S.semdedup_survivors(
        emb, n_cells=S.SEM_TRAINED_K, trained=True, n_iter=S.SEM_TRAINED_ITER
    ).collect()
    assert len(rows) == emb.count()
    by_cluster = {}
    cells = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r["vec_id"])
        cells[r["vec_id"]] = r["cell_id"]
        assert r["is_survivor"] == (r["cluster_id"] == r["vec_id"])
    for cid, members in by_cluster.items():
        assert cid == min(members)  # survivor is the min-id member
        # transitive groups never span cells (pairs are within-cell)
        assert len({cells[m] for m in members}) == 1


def test_semdedup_multiprobe_supersets_single_probe_pairs(spark, sf_dir):
    """Multi-probe invariants: one output row per vector; survivors are
    cluster minima; and the pair set STRICTLY contains the single-probe
    pair set (probing a second cell can only add candidate pairs, never
    lose one — rank-1 cells are identical in both variants). Measured
    co-location recall of true cosine>=0.4 pairs at sf0.01: 0.34
    single-probe -> 0.56 multi-probe."""
    from databus_spark.operators import similarity as S

    emb = spark.read.parquet(sf_dir + "/embeddings.parquet")
    single = {
        (r["vec_id"], r["cluster_id"])
        for r in S.semdedup_survivors(emb).collect()
    }
    rows = S.semdedup_survivors(emb, n_probe=S.SEM_NPROBE).collect()
    assert len(rows) == emb.count()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r["vec_id"])
        assert r["is_survivor"] == (r["cluster_id"] == r["vec_id"])
    for cid, members in by_cluster.items():
        assert cid == min(members)
    # every single-probe merge survives under multi-probe: a vector
    # clustered away from itself in single stays clustered (possibly
    # into a larger group) in multi
    single_merged = {v for v, c in single if v != c}
    multi_merged = {r["vec_id"] for r in rows if not r["is_survivor"]}
    # survivors can change (a former survivor may merge into a lower id)
    assert single_merged <= multi_merged | {
        min(m) for m in by_cluster.values()
    }


def test_staged_centroids_equal_inline_training(spark, sf_dir):
    """The staged-model serve path (registry._staged_kmeans) must be
    result-identical to inline training — training is deterministic, so
    staging is a pure materialization."""
    from databus_spark import registry
    from databus_spark.operators import similarity as S

    emb = spark.read.parquet(sf_dir + "/embeddings.parquet")
    staged = registry._staged_kmeans(spark, sf_dir, S.KM_K, S.KM_ITER)
    inline = S.kmeans_lloyd(emb, k=S.KM_K, n_iter=S.KM_ITER)
    a = {(r["cell_id"], tuple(r["cent"])) for r in staged.collect()}
    b = {(r["cell_id"], tuple(r["cent"])) for r in inline.collect()}
    assert a == b and a
    # and assignment through the staged model matches inline assignment
    sa = {(r["vid"], r["cell_id"], r["dist"])
          for r in S.kmeans_assign(emb, centroids=staged).collect()}
    ia = {(r["vid"], r["cell_id"], r["dist"]) for r in S.kmeans_assign(emb).collect()}
    assert sa == ia


def test_ann_recall_eval_reconciles_with_pair_sets(spark, sf_dir):
    """The recall rows must reconcile exactly with the pair sets they
    score, and ivf/lsh recall must be positive on the fixture."""
    from databus_spark.operators import similarity as S

    emb = spark.read.parquet(sf_dir + "/embeddings.parquet")
    truth = {(r["query_id"], r["neighbor_id"]) for r in S.cosine_topk(emb).collect()}
    rows = {r["method"]: r for r in S.ann_recall_eval(emb).collect()}
    assert set(rows) == {"ivf", "lsh"}
    for method, fn in (("ivf", S.ivf_topk), ("lsh", S.lsh_topk)):
        pred = {(r["query_id"], r["neighbor_id"]) for r in fn(emb).collect()}
        r = rows[method]
        assert r["n_truth"] == len(truth)
        assert r["hits"] == len(truth & pred)
        assert r["recall_micro"] == 1_000_000 * r["hits"] // max(r["n_truth"], 1)
        assert r["hits"] > 0
