"""Generate PLANS.md: formatted physical plans of headline queries.

Usage: python tools/dump_plans.py
"""
import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

HEADLINE = [
    ("snapshot_orders", "K4/A6 compaction: single shuffle, partial max_by"),
    ("filter_keymod_longkey", "F6 pushdown: zero exchanges, scan-level predicate + pruned ReadSchema"),
    ("revenue_by_nation", "star join: dims broadcast, no sort-merge"),
    ("returned_items_topk", "top-k via TakeOrderedAndProject, filter pushed to scan"),
    ("bootstrap_snapshot_catchup", "J3/J4: SCN range predicates pushed into both scans"),
    ("stream_fetch_bounded", "L3: distributed top-k bound before the exact running-size window"),
    ("dedup_exact", "one shuffle on md5 content hash"),
    ("dedup_simhash_pairs", "banded LSH pair-gen from capped posting lists: ZERO joins"),
    ("decontaminate_vs_benchmark", "benchmark gram set broadcast; corpus streams map-side"),
    ("ann_ivf_topk", "IVF: broadcast centroids, map-side max_by assignment"),
    ("ann_pq_topk", "PQ: broadcast codebooks/ADC, partial min_by encoding"),
    ("mixture_temperature_sample", "group rates broadcast; corpus side never shuffles"),
    ("snapshot_diff", "full-outer join reuses the two compactions' partitioning: 2 exchanges"),
    ("sparse_tfidf_pairs", "sparse cosine: decimal sums, posting-list pair-gen"),
    ("zorder_events_key", "Z-order keying: scalar min/max broadcast, events never shuffle"),
    ("decontaminate_bloom", "Bloom positions broadcast; probe stream carries hex slices, never gram text"),
    ("dedup_span_windows", "substring-dup profile: one uniform window-text shuffle + stats join-back"),
    ("ann_ivfpq_topk", "IVF prune then PQ ADC: every dimension table broadcast, corpus never shuffles"),
    ("media_png_probe", "real PNG decode: pure mapInPandas chain, zero exchanges"),
    ("hll_distinct_users", "HLL: (grp, register) partial-max shuffle, exact decimal harmonic sum"),
    ("cm_frequency_profile", "Count-Min: d*w counter agg, broadcast sketch lookup"),
    ("train_split_assign", "content-hash split: pure projection, zero exchanges"),
    ("bpe_pair_counts", "BPE merge ranking: one count shuffle + TakeOrdered, no self-join"),
    ("ann_filtered_topk", "filtered ANN: predicate on the index side before the cell join"),
    ("semdedup_survivors", "SemDeDup: map-side cell assignment, capped within-cell pair join"),
    ("dedup_incremental_near", "delta vs base LSH index: one band-key equi-join, base never re-deduped"),
    ("data_expectations", "guardrail suite: anti-joins + aggs reduced to one-row verdicts"),
    ("approx_quantiles_binned", "binned quantiles: scalar min/max broadcast, 64-row quantile math"),
    ("exactsubstr_dedup", "ExactSubstr: codegen window hashing, 1:1 hash join-back, per-doc HOF cut (no token explode)"),
    ("exactsubstr_incremental", "delta vs staged base window-hash set: one 8-byte equi-join"),
    ("dsir_doc_scores", "DSIR: one feature-stream checkpoint, 256-row weight table broadcast back"),
    ("dsir_select_topk", "DSIR top-k: TakeOrderedAndProject, never a global sort"),
    ("semdedup_multiprobe", "multi-probe cells: broadcast-scored top-2 collect, capped pair join"),
    ("kmeans_assign_summary", "k-means serve path: staged centroids broadcast, partial_min argmin"),
    ("mixture_waterfill", "water-fill: corpus-side count agg only; window math over the n-source frame"),
    ("fuzzy_join_docs", "blocked fuzzy join: explicit keyed repartition pins the quadratic DP stage at full width (AQE sizes by bytes and serialized it); capped block-local self-join, codegen levenshtein"),
    ("fuzzy_join_incremental", "delta vs staged base block index: one (block,bucket) equi-join, base never re-blocked"),
    ("corpus_drift", "drift KL: one corpus explode+agg; vocab/bins/totals all broadcast back onto a slices x bins grid"),
    ("bm25_incremental", "BM25 serve: bucket-pruned postings scan filtered to the observed query terms; delta explode pruned map-side; base never rescanned"),
    ("release_gate", "curation + k-anonymity: QI group counts shuffle once, verdict joins back on the QI key"),
    ("ann_sq8_ivf_serve", "staged IVF+SQ8 serve: path-scoped read of probed cell partitions only, broadcast query probes, exact integer dots"),
    ("weighted_sample_topk", "A-ES weighted sample: TakeOrderedAndProject top-n, never a global sort"),
    ("hybrid_rrf_topk", "hybrid RRF: two bounded top-20 legs (bucket-pruned BM25, broadcast-query cosine) fused by one tiny full-outer join; bigint rank arithmetic"),
    ("release_gate_utility", "suppression-cost report: one map-combinable per-lang agg over the gate verdict, exact scaled-div fractions"),
]

sf = "/root/testdata/sf0.001"
HEADER = """# PLANS — physical-plan evidence for headline queries

Generated from `.explain("formatted")` at sf0.001, local[8]
(regenerate with `python tools/dump_plans.py` after plan-affecting
changes). The shapes asserted here are pinned by `tests/test_plans.py`;
this file is the human-readable audit trail. Exchange/Join/codegen
shapes are identical at every SF — only row counts differ.
"""


def main() -> None:
    from databus_spark.registry import QUERIES
    from databus_spark.session import build_session

    spark = build_session("plans", cpus=8)
    out = [HEADER]
    for name, why in HEADLINE:
        df = QUERIES[name](spark, sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        text = buf.getvalue()
        # keep the operator tree, drop the verbose per-node detail section
        tree = text.split("\n\n")[0]
        out.append(f"## {name}\n\n*{why}*\n\n```\n{tree}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("written", sum(len(s) for s in out))


if __name__ == "__main__":
    main()
