"""Spark job counts of the SemDeDup, k-means, ANN, hybrid and BM25 rows.

At fixture scale these families' walls are dominated by job scheduling,
not by data work, so a refactor that adds a job is a measurable slowdown
even when its rows are identical. Each row runs once to stage its
artifacts, then once more under a job group; the warm count must stay
at or below the bound measured on the layout that preceded the shared
operator: the four SemDeDup survivors bodies for the SemDeDup rows, the
ANN bodies with their own probe, rank and IVF+SQ8 copies for the ANN
and hybrid rows, and the separate inline and staged BM25 bodies for the
BM25 rows (sf0.001).
"""

from __future__ import annotations

import pytest

from tests.conftest import count_jobs

_WARM_JOBS = {
    "semdedup_survivors": 16,
    "semdedup_multiprobe": 16,
    "semdedup_trained": 17,
    "semdedup_survivors_v2": 19,
    "semdedup_recall_eval": 9,
    "semdedup_incremental": 12,
    "kmeans_assign_summary": 8,
    "ann_cosine_topk": 6,
    "ann_filtered_topk": 10,
    "ann_ivf_topk": 10,
    "ann_ivfpq_rerank_topk": 20,
    "ann_ivfpq_topk": 17,
    "ann_lsh_topk": 7,
    "ann_pq_topk": 10,
    "ann_recall_eval": 22,
    "ann_sq8_ivf_serve": 13,
    "ann_sq8_ivf_serve_delta": 17,
    "ann_sq8_ivf_topk": 16,
    "ann_sq8_topk": 10,
    "bm25_incremental": 21,
    "bm25_topk": 13,
    "hybrid_rrf_serve": 14,
    "hybrid_rrf_topk": 24,
}


@pytest.mark.parametrize("name", sorted(_WARM_JOBS))
def test_warm_job_count_bounded(spark, sf_dir, name):
    from databus_spark.registry import QUERIES

    def run():
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    run()  # stages the trained model / base index on a cold fixture
    _, jobs, _ = count_jobs(spark, f"semdedup-jobs-{name}", run)
    assert jobs <= _WARM_JOBS[name], (name, jobs)
