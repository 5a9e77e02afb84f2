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
    # One versioned-state commit protocol: ZorderTable commits through
    # store/versions.py and bpe_learn_merges is the batched learner at
    # one rule per round, so these 3 rows run changed code
    # (tools/window_manifest.py affected_queries vs the parent tree).
    # Rule (a) puts them first.
    "bpe_learn_merges",
    "zorder_box_read",
    "zorder_events_key",
    # BM25 fold (an earlier change): bm25_topk is bm25_serve's pipeline
    # with no staged base, the query terms ride one eager checkpoint, and
    # the staged index has one writer and one reader.
    "bm25_incremental",
    "bm25_topk",
    "hybrid_rrf_serve",
    "hybrid_rrf_topk",
    # ANN fold (the previous change): the ANN family's bodies share one
    # probe-cell rule, one rank rule and the IVF+SQ8 pieces.
    "ann_cosine_topk",
    "ann_filtered_topk",
    "ann_ivf_topk",
    "ann_ivfpq_rerank_topk",
    "ann_ivfpq_topk",
    "ann_lsh_topk",
    "ann_pq_topk",
    "ann_recall_eval",
    "ann_sq8_ivf_serve",
    "ann_sq8_ivf_serve_delta",
    "ann_sq8_ivf_topk",
    "ann_sq8_topk",
    # RANGE filter configs parse string keys through the gated parse
    # (compile_source_config), and key_range_filter lost its wrapper.
    "filter_composite_json",
    "filter_keyrange",
    # compaction.py lost latest_by_key_window and with it an import, so
    # every row whose closure reaches the module is a changed unit.
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
    # With 63 rows changed since the committed manifest and 50 slots,
    # the window is spent on changed rows only: the 43 above, then the
    # 7 most recently rotated of the earlier changes (the SemDeDup
    # unification). The earliest rotated (filter_keymod_longkey/strkey,
    # then the staging round, audioop, kmeans_assign_summary, then the
    # staged-changelog cleanup) sit at the FRONT of _REST, first in line
    # next round.
    "kmeans_centroids",
    "semdedup_incremental",
    "semdedup_multiprobe",
    "semdedup_recall_eval",
    "semdedup_survivors",
    "semdedup_survivors_v2",
    "semdedup_trained",
]

# below the 50-row window this round (all still verified locally by the
# full sf0.01 oracle sweep), never-checked first then oldest external
# green first — next round's rotation reads top-down:
_REST = [
    "filter_keymod_longkey",
    "filter_keymod_strkey",
    "avro_ocf_roundtrip",
    "filter_keymod_staged_hash",
    "filter_keymod_subscribe",
    "jdbc_txlog_pull",
    "sql_txlog_pull",
    "trail_file_seek",
    "media_wav_probe",
    "kmeans_assign_summary",
    "filter_payload_fields",
    "keyset_page",
    "partition_router",
    "corpus_drift",
    "dedup_span_windows",
    "exactsubstr_incremental",
    "jsonl_ingest_audit",
    "media_audio_fp_dedup",
    "media_dhash_dedup",
    "media_png_resize",
    "media_video_frames",
    "approx_quantiles_binned",
    "approx_stats",
    "boilerplate_strip",
    "cm_frequency_profile",
    "dedup_cdc_chunks",
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
    "text_novelty",
    "text_token_stats",
    "time_window_sliding",
    "time_window_tumbling",
    "train_split_assign",
    "urgent_orders_shipped",
    "decontaminate_vs_benchmark",
    "dedup_exact",
    "dedup_ngram_jaccard",
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
    "schema_evolution_decode",
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
    "contamination_fraction",
    "decontaminate_bloom",
    "quality_topk_per_lang",
    "sparse_tfidf_pairs",
    "bpe_encode_corpus",
    "bpe_pair_counts",
    "curation_decisions",
    "curation_decisions_v2",
    "dsir_incremental",
    "exactsubstr_dedup",
    "exactsubstr_spans",
    "exactsubstr_stats",
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
    "simhash_sketch",
    "vocab_top_terms",
    "media_png_probe",
    "funnel_conversion",
    "hash_sample",
    "key_skew_profile",
    "length_histogram",
    "media_features",
    "dedup_simhash_pairs",
    "dedup_sketch_eval",
    "fuzzy_join_docs",
    "fuzzy_join_incremental",
    "record_linkage_clusters",
    "record_linkage_incremental",
    "release_gate",
    "release_gate_utility",
    "dedup_cluster_star",
    "dedup_cluster_survivors",
    "dedup_decision_log",
    "dedup_incremental_near",
    "dedup_survivor_corpus",
    "curation_decisions_v3",
    "data_expectations",
    "dedup_canonical",
    "dedup_incremental",
    "event_rate_anomaly",
    "media_audio_near_pairs",
    "media_decision_log",
    "media_dhash_clusters",
    "media_dhash_incremental",
    "media_dhash_near_pairs",
    "dedup_minhash_lsh",
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
