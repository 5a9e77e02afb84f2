"""Driver contract for the spark-graft builder (PySpark target).

entry() runs the flagship pipeline; queries()/oracle_sql() expose every
implemented operator with its DuckDB oracle (see databus_spark.registry).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: change-stream -> subscription filter -> compacted snapshot.

    The minimum end-to-end databus slice (SURVEY.md §7 Phase 1): a
    deterministic change log derived from sf0.001 orders, filtered by a
    mod-partition subscription, compacted to latest-state per key.
    """
    from pyspark.sql import functions as F

    from databus_spark.envelope import ORDERS_PAYLOAD, orders_changelog
    from databus_spark.operators.compaction import snapshot
    from databus_spark.operators.filters import key_mod_filter

    log = orders_changelog(spark, "/root/testdata/sf0.001")
    subscribed = log.where(key_mod_filter(4, 0, 2))
    return snapshot(subscribed, key_cols=("key_str",), payload_cols=ORDERS_PAYLOAD)


# The driver's correctness gate checks the FIRST 50 queries in dict order.
# Rotation rule (stable since r8): (a) NEW queries and queries whose
# engine path changed this round go first; (b) then whatever has never
# been externally checked or is oldest-green, oldest first. The merge
# gate is still a FULL local run over all registered queries at sf0.01,
# so rotation never leaves a query locally unchecked. The first
# _WINDOW_SIZE names are the driver-checked window; a test pins
# len(_WINDOW) == _WINDOW_SIZE and uniqueness of _PRIORITY.
_WINDOW_SIZE = 50

_WINDOW = [
    # One writer per versioned state: every row whose closure reaches
    # registry._staged_artifact (its lock is now versions.exclusive) or
    # the z-table (its writes now go through VersionedState.writer()).
    "dedup_incremental_near",
    "dedup_cluster_star",
    "dedup_cluster_survivors",
    "dedup_decision_log",
    "dedup_survivor_corpus",
    "media_dhash_near_pairs",
    "media_dhash_clusters",
    "media_dhash_incremental",
    "media_decision_log",
    "media_audio_near_pairs",
    "bm25_incremental",
    "dsir_incremental",
    "exactsubstr_incremental",
    "fuzzy_join_incremental",
    "record_linkage_incremental",
    "semdedup_survivors_v2",
    "semdedup_trained",
    "ann_ivfpq_rerank_topk",
    "ann_ivfpq_topk",
    "ann_pq_topk",
    "ann_sq8_ivf_serve",
    "ann_sq8_ivf_serve_delta",
    "avro_ocf_roundtrip",
    "bpe_encode_corpus",
    "hybrid_rrf_serve",
    "jsonl_ingest_audit",
    "kmeans_assign_summary",
    "kmeans_centroids",
    "media_audio_fp_dedup",
    "media_dhash_dedup",
    "media_video_frames",
    "semdedup_incremental",
    "semdedup_recall_eval",
    "trail_file_seek",
    "zorder_box_read",
    "filter_keymod_staged_hash",
    "filter_keymod_subscribe",
    "jdbc_txlog_pull",
    "sql_txlog_pull",
    "zorder_events_key",
    # The last slots go to the most recently rotated earlier changes
    # (one banded-LSH pipeline); the rest of the previous window heads
    # _REST.
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "dedup_sketch_eval",
    "dedup_ngram_jaccard",
    "sparse_tfidf_pairs",
    "contamination_fraction",
    "curation_decisions_v2",
    "curation_decisions_v3",
    "decontaminate_bloom",
    "decontaminate_vs_benchmark",
]

# below the 50-row window this round (all still verified locally by the
# full sf0.01 oracle sweep), never-checked first then oldest external
# green first — next round's rotation reads top-down:
_REST = [
    "dedup_canonical",
    "dedup_cdc_chunks",
    "dedup_exact",
    "dedup_incremental",
    "dedup_span_windows",
    "exactsubstr_dedup",
    "exactsubstr_spans",
    "exactsubstr_stats",
    "record_linkage_clusters",
    "release_gate",
    "release_gate_utility",
    "semdedup_multiprobe",
    "semdedup_survivors",
    "simhash_sketch",
    "text_novelty",
    "filter_keymod_longkey",
    "filter_keymod_strkey",
    "schema_evolution_decode",
    "bpe_learn_merges",
    "bm25_topk",
    "hybrid_rrf_topk",
    "ann_cosine_topk",
    "ann_filtered_topk",
    "ann_ivf_topk",
    "ann_lsh_topk",
    "ann_recall_eval",
    "ann_sq8_ivf_topk",
    "ann_sq8_topk",
    "filter_composite_json",
    "filter_keyrange",
    "bootstrap_snapshot_catchup",
    "buffer_info",
    "checkpoint_mult_fetch",
    "cube_rollup",
    "dtail_json",
    "event_metadata_extract",
    "events_as_changelog_state",
    "max_scn_probe",
    "null_rate_profile",
    "opcode_transitions",
    "partition_spread_per_source",
    "per_source_stats",
    "pricing_summary",
    "schema_key_compaction",
    "schema_key_filter",
    "snapshot_customer",
    "snapshot_diff",
    "snapshot_orders",
    "source_registry_join",
    "sql_surface_window_stats",
    "stream_fetch_bounded",
    "txn_window_stats",
    "media_wav_probe",
    "filter_payload_fields",
    "keyset_page",
    "partition_router",
    "corpus_drift",
    "media_png_resize",
    "approx_quantiles_binned",
    "approx_stats",
    "boilerplate_strip",
    "cm_frequency_profile",
    "hll_distinct_users",
    "k_anonymity_audit",
    "media_jpeg_probe",
    "returned_items_topk",
    "revenue_by_nation",
    "running_account_balance",
    "sessionize",
    "structure_profile",
    "supplier_profit_by_nation",
    "text_compressibility",
    "text_token_stats",
    "time_window_sliding",
    "time_window_tumbling",
    "train_split_assign",
    "urgent_orders_shipped",
    "dsir_doc_scores",
    "dsir_feature_weights",
    "dsir_select_topk",
    "lag_percentiles",
    "mixture_temperature_sample",
    "mixture_waterfill",
    "mixture_waterfill_sample",
    "per_group_quota",
    "repetition_filter",
    "retention_cohorts",
    "scalar_functions",
    "sequence_packing",
    "skew_salted_agg",
    "stratified_sample",
    "text_fingerprint",
    "text_lang_id",
    "text_quality",
    "tfidf_top_terms",
    "topk_orders_per_segment",
    "value_histogram",
    "weighted_sample_topk",
    "xml_trail_parse",
    "bpe_learn_merges_batched",
    "quality_topk_per_lang",
    "bpe_pair_counts",
    "curation_decisions",
    "lm2_quality_score",
    "lm_quality_score",
    "as_of_join_events",
    "avro_binary_decode",
    "chunk_documents",
    "dedup_embedding_cosine",
    "json_props_extract",
    "pii_redact",
    "oov_rate",
    "pivot_events_daily",
    "vocab_top_terms",
    "media_png_probe",
    "funnel_conversion",
    "hash_sample",
    "key_skew_profile",
    "length_histogram",
    "media_features",
    "fuzzy_join_docs",
    "data_expectations",
    "event_rate_anomaly",
]

_PRIORITY = _WINDOW + _REST


def _ordered(mapping: dict) -> dict:
    head = {k: mapping[k] for k in _PRIORITY if k in mapping}
    tail = {k: v for k, v in mapping.items() if k not in head}
    return {**head, **tail}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from databus_spark.registry import QUERIES

    return _ordered(dict(QUERIES))


def oracle_sql() -> dict[str, str]:
    from databus_spark.registry import ORACLES

    return _ordered(dict(ORACLES))
