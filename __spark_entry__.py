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
    # staging round: the seven fixture queries moved onto the one staging
    # protocol (_staged_artifact; Derby per-process in memory) are the
    # changed engine paths (tools/window_manifest.py affected_queries vs
    # the committed manifest), so rule (a) puts them first. They displace
    # the last seven rows of the r15 window, which go to the back of
    # _REST as the newest external greens.
    "avro_ocf_roundtrip",
    "filter_keymod_staged_hash",
    "filter_keymod_subscribe",
    "jdbc_txlog_pull",
    "sql_txlog_pull",
    "trail_file_seek",
    "zorder_box_read",
    # audioop removal: parse_media_meta's WAV RMS moved onto numpy
    # (pcm_rms), so media_wav_probe is a changed path too; it displaces
    # the window's last row, media_png_probe, to the back of _REST.
    "media_wav_probe",
    # SemDeDup unification: affected_queries vs the committed manifest
    # adds the eight rows whose path runs through the one
    # semdedup_survivors operator or the shared k-means pieces. They
    # displace the window's last eight rows, which go to the back of
    # _REST as the newest external greens.
    "kmeans_assign_summary",
    "kmeans_centroids",
    "semdedup_incremental",
    "semdedup_multiprobe",
    "semdedup_recall_eval",
    "semdedup_survivors",
    "semdedup_survivors_v2",
    "semdedup_trained",
    # staged-changelog cleanup: envelope._staged now removes its
    # per-process stage root at exit, and every changelog-fixture query
    # runs through it, so affected_queries vs the committed manifest
    # adds these 23 rows. They displace the window's last 23 unchanged
    # rows, which go to the back of _REST as the newest external greens.
    "bootstrap_snapshot_catchup",
    "buffer_info",
    "event_metadata_extract",
    "filter_composite_json",
    "filter_keyrange",
    "filter_payload_fields",
    "keyset_page",
    "max_scn_probe",
    "null_rate_profile",
    "opcode_transitions",
    "partition_router",
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
    # round 15 (optimization round 2): tools/window_manifest.py
    # affected_queries vs the committed r14 manifest reads 25 changed
    # query paths (the LSH band explode: minhash/simhash/bithash/near-
    # index family; the serve-collect Observation batching: sq8_ivf /
    # bm25 / hybrid serve rows; the shared-groups + overlapped-
    # construction work: record_linkage / release_gate / curation_v3
    # compositions). Rule (a): all 25 changed rows take slots, ordered
    # oldest-external-green first (the 13 sitting in _REST since r13 or
    # earlier, then the 12 re-checked in r14). Rule (b): the remaining
    # 25 slots go to the head of the r14 _REST — the r10 cohort
    # (checkpoint_mult_fetch, dtail_json, max_scn_probe, ...) that r14's
    # 71-row overflow could not fit, exactly as that round's log
    # promised. Unchanged r14-window rows (ann family, bpe, curation
    # v1/v2, exactsubstr, kmeans, semdedup) are the NEWEST external
    # greens and rotate to the back of _REST.
    "media_audio_near_pairs",
    "media_decision_log",
    "media_dhash_clusters",
    "media_dhash_incremental",
    "media_dhash_near_pairs",
    "dedup_minhash_lsh",
    "checkpoint_mult_fetch",
    "cube_rollup",
    "dtail_json",
    "filter_keymod_longkey",
    "filter_keymod_strkey",
]

# below the 50-row window this round (all still verified locally by the
# full sf0.01 oracle sweep), never-checked first then oldest external
# green first — next round's rotation reads top-down:
_REST = [
    "zorder_events_key",
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
    "bm25_topk",
    "boilerplate_strip",
    "cm_frequency_profile",
    "dedup_cdc_chunks",
    "events_as_changelog_state",
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
    "ann_cosine_topk",
    "ann_sq8_ivf_topk",
    "ann_sq8_topk",
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
    "ann_lsh_topk",
    "bpe_learn_merges",
    "bpe_learn_merges_batched",
    "contamination_fraction",
    "decontaminate_bloom",
    "quality_topk_per_lang",
    "sparse_tfidf_pairs",
    "ann_filtered_topk",
    "ann_ivf_topk",
    "ann_ivfpq_rerank_topk",
    "ann_ivfpq_topk",
    "ann_pq_topk",
    "ann_recall_eval",
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
    "ann_sq8_ivf_serve",
    "ann_sq8_ivf_serve_delta",
    "hybrid_rrf_serve",
    "hybrid_rrf_topk",
    "release_gate_utility",
    "dedup_cluster_star",
    "dedup_cluster_survivors",
    "dedup_decision_log",
    "dedup_incremental_near",
    "dedup_survivor_corpus",
    "bm25_incremental",
    "curation_decisions_v3",
    "data_expectations",
    "dedup_canonical",
    "dedup_incremental",
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
