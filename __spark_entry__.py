"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` /
``oracle_sql()`` expose the full inventory from ``cdc_spark.queries``
(one entry per operator in SURVEY.md §2).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cdc_spark.queries import REGISTRY

_SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shape pricing summary) on sf0.001."""
    from cdc_spark.queries.relational import q01_pricing_summary

    return q01_pricing_summary(spark, _SF0001)


# Rotated for round 13: the driver samples a 50-row prefix, so the
# ordering below IS the gate. Tier 0 (_R13_PREFIX) is exactly 50
# entries, in the r12 verdict's priority order: the seven r6-era
# re-gates the round-12 prefix could not hold (tx17-tx19, tx21-tx24,
# staged last round as _R13_NEXT), dd05 (its shared LSH operator
# gained the two sf10 repartitions in round 12 AFTER the entry's r11
# driver row — the exact freshness gap the verdict flagged, and the
# class the new fingerprint ledger now catches mechanically), dd20 +
# dd21 (changed THIS round: Hamming-1 multiprobe sizing replaces the
# k>12 table-count clamp; dd21 additionally gained the radius column
# and the n_exact>0 recall_ok guard — r12 ADVICE), then 40 freshness
# re-gates from the 46-entry r10-era cohort (oldest driver rows) in
# gate order. The 6 cohort entries the prefix cannot hold (tx07-tx12)
# are staged in _R14_NEXT for round 14; dp01/dp02 are rows-only by
# design and never take a hash-gate slot. After this rotation every
# oracled entry's driver row matches its current plan+oracle or is
# staged next — now enforced by tests/registry_fingerprints.json.
_R13_PREFIX = (
    # the seven r6-era re-gates deferred by the round-12 prefix
    "tx17_unigram_logprob",
    "tx18_curation_pipeline",
    "tx19_quality_percentile_prune",
    "tx21_bigram_logprob",
    "tx22_blocklist_filter",
    "tx23_intradoc_dedup",
    "tx24_lexicon_sentiment",
    # r12 plan change (two repartitions in the shared LSH operator)
    # after the entry's r11 driver row
    "dd05_embedding_neardup",
    # changed this round: multiprobe sizing (k>12 un-clamp) + the
    # dd21 radius column / recall_ok n_exact guard
    "dd20_production_neardup",
    "dd21_production_recall_eval",
    # ADDED this round: the forced-radius-1 multiprobe parity pin —
    # gives the driver a hash row on the multiprobe plan shape at
    # every SF (before dd22 it had gated rows only at the 537k-vector
    # CLAMP_GATE corpus); displaces tx06 to _R14_NEXT
    "dd22_multiprobe_neardup",
    # 40 r10-era freshness re-gates (oldest driver rows, gate order;
    # tx07-tx12 deferred to round 14)
    "q112_cms_heavy_hitters",
    "st30_streaming_heavy_hitters",
    "q113_salted_skew_join",
    "cdc02_events_merge",
    "cdc03_snapshot_diff",
    "cdc04_log_compaction",
    "cdc05_outbox_route",
    "cdc06_schema_evolution",
    "cdc07_dedup_at_least_once",
    "cdc08_wide_type_decode",
    "cdc09_pipeline_e2e",
    "cdc10_pgoutput_binary",
    "cdc11_incremental_apply",
    "cdc12_scd2_history",
    "cdc13_ivm_agg",
    "cdc14_txn_barrier",
    "cdc15_replication_progress",
    "cdc16_maxwell_roundtrip",
    "dd01_exact_dedup",
    "dd02_ngram_jaccard",
    "dd06_dedup_clusters",
    "dd07_url_dedup",
    "pu01_grouped_map_centroids",
    "pu02_grouped_agg_mad",
    "st01_stream_tumbling",
    "st02_stream_sessions",
    "st03_stream_dedup",
    "st04_stream_static_join",
    "st05_continuous_rollup",
    "st07_stream_stream_join",
    "st08_cdc_pipeline_bucketed",
    "st09_stream_ivm_agg",
    "st10_stream_outer_join",
    "st11_timeout_sessions",
    "tx01_language_id",
    "tx02_quality_score",
    "tx03_token_stats",
    "tx04_tfidf_top_terms",
    # oracle changed this round (fp/banded AS MATERIALIZED — the
    # sf10 gate's sixth catch: DuckDB re-inlined the 26M-shingle md5
    # pipeline into six references and spilled >70 GB); hash output
    # unchanged, but the freshness invariant wants a driver row on
    # the current oracle text — displaces tx05 to _R14_NEXT
    "dd04_simhash",
)

# Round-14 rotation: _R14_NEXT (staged last round, 48 entries — every
# entry whose plan was rebuilt in the round-13 optimization pass plus
# the eight deferred r10-era re-gates) becomes the gate prefix, plus
# q106 (its exact-rank pass moved to the deterministic-slice bucket
# path THIS round — sampled range partitioning and the checkpoint
# layout pin dropped; output bit-identical, gated at 3 SFs) and ss08
# (oldest unchanged driver row, r12 cohort, freshness re-gate) to
# fill the 50 slots. Entries changed this round that already sit in
# this prefix: ss10 (keyword arm reverted to the r12 corpus-dfs form
# per the r13 verdict — the A/B regression reproduced), dd13
# (insert-only generational append), the state-table closure (FS
# seam + generation lists), the ivf builds (conditional _spread).
_R14_PREFIX = (
    # changed this round: bucketed exact-rank pass
    "q106_mergeable_quantile_sketch",
    # the 48 entries staged as _R14_NEXT by round 13
    "tx05_fingerprint",
    "tx06_quality_filter",
    "tx07_hash_split",
    "tx08_repetition_stats",
    "tx09_stratified_sample",
    "tx10_pii_redaction",
    "tx11_decontamination",
    "tx12_chunking",
    "cdc01_golden_replay",
    "cdc19_version_diff_feed",
    "cdc20_stream_binary_wire",
    "cdc21_wal2json_v2",
    "cdc22_bidirectional_origin_filter",
    "cdc23_checkpoint_resume",
    "cdc24_multi_table_demux",
    "cdc28_as_of_lsn_read",
    "cdc29_vacuum_survivor_state",
    "cdc30_idempotent_consumer",
    "cdc33_consistent_cut_read",
    "dd13_incremental_dedup",
    "io09_bucket_compaction",
    "io10_python_stream_source",
    "q43_snapshot_backfill",
    "st12_incremental_snapshot_stream",
    "st14_change_feed_publication",
    "st16_cdf_consumer_agg",
    "st17_stream_schema_evolution",
    "st22_stream_scd2_build",
    "io24_dynamic_partition_pruning",
    "ss06_ivf_persisted_index",
    "ss16_pq_persisted_index",
    "ss17_ivfpq_index",
    "ss23_filtered_ivfpq_probe",
    "ss25_ivf_sized_serving",
    "st20_stream_vector_index_ingest",
    "dd03_minhash_lsh",
    "dd09_common_ngram_exposure",
    "dd10_aligned_duplicate_spans",
    "dd11_containment_pairs",
    "dd12_semantic_dedup",
    "dd14_incremental_neardup",
    "dd15_fuzzy_decontamination",
    "dd16_quality_keeper_dedup",
    "dd17_minhash_accuracy_eval",
    "dd18_soft_dedup_weights",
    "dd19_jaccard_threshold_curve",
    "mm03_phash_neardup",
    "ss10_hybrid_rrf",
    # oldest unchanged driver row (r12 cohort freshness re-gate)
    "ss08_quantized_rerank",
)

# Round 12's prefix (retained for rank ordering below tier 0/1): the
# driver samples a 50-row prefix, so the ordering below IS the gate.
# Tier 0 (_R12_PREFIX) was exactly 50
# entries, in the r11 verdict's priority order: the two r5-era
# re-gates the round-11 prefix could not hold (ss08/ss09, staged
# last round as _R12_NEXT), the entry ADDED this round (dd21
# production-recall evaluation), every entry whose PLAN OR ORACLE
# changed after its latest driver row — dd20 (round 12: corpus-sized
# table count + restructured gated-VALUES oracle), dd12/ss13 (r11
# norm hoist, rows r10), dp05/mm05 (r10 deterministic-slice bucket
# path, rows r6), tx15/tx20 (r8 rebuilds, rows r6), dd13 (r10
# PartitionFilter assert, rows r6) — then ss24/ss25/io26 (r10/r11
# rows, but the sf10 gate work changed them this round: the
# streaming-argmax oracle restructure and the creationSideThreshold
# stand-in — plan-predates-row freshness outranks cohort staleness)
# and 36 freshness re-gates drawn from the 43-entry r6-era cohort
# (oldest oracled driver rows). The 7 cohort entries the prefix
# cannot hold (tx17/tx18/tx19 displaced by the freshness swaps +
# tx21-tx24) are staged in _R13_NEXT for round 13; dp01/dp02 are
# rows-only by design and never take a hash-gate slot. After this
# rotation every oracled entry's driver row matches its current
# plan+oracle or is staged next.
_R12_PREFIX = (
    # the two r5-era re-gates deferred by the round-11 prefix
    "ss08_quantized_rerank",
    "ss09_filtered_topk",
    # added this round: sized-LSH recall evaluation (never gated)
    "dd21_production_recall_eval",
    # changed this round: sized table count + restructured oracle
    "dd20_production_neardup",
    # r11 norm-hoist plan change (rows r10)
    "dd12_semantic_dedup",
    "ss13_knn_graph",
    # r10 deterministic-slice bucket path (rows r6)
    "dp05_curriculum_order",
    "mm05_interleaved_packing",
    # r8 rebuilds (rows r6)
    "tx15_seeded_corpus_shuffle",
    "tx20_link_pagerank",
    # r10 mechanism-assert change (row r6)
    "dd13_incremental_dedup",
    # 36 r6-era freshness re-gates (oldest driver rows, gate order;
    # tx17-tx19 + tx21-tx24 deferred to round 13)
    "cdc26_lsn_gap_audit",
    "dd08_boilerplate_ratio",
    "dd09_common_ngram_exposure",
    "dd10_aligned_duplicate_spans",
    "dd11_containment_pairs",
    "dd14_incremental_neardup",
    "dp06_epoch_shuffles",
    "io09_bucket_compaction",
    "io10_python_stream_source",
    "io11_csv_dead_letter",
    "io12_dynamic_partition_overwrite",
    "io13_incremental_file_discovery",
    "io14_parquet_bloom_filter",
    "mm04_audio_frame_energy",
    "pu03_python_udtf",
    "pu04_arrow_scalar_udf",
    "pu05_cogrouped_asof",
    "q74_series_similarity",
    "q77_association_rules",
    "q79_session_paths",
    "q84_column_profile",
    "ss03_ivf_topk",
    "ss06_ivf_persisted_index",
    "ss10_hybrid_rrf",
    "ss11_mips_topk",
    "ss12_ann_recall_eval",
    "ss14_centroid_drift",
    "st12_incremental_snapshot_stream",
    "st13_stream_scd2_enrich",
    "st14_change_feed_publication",
    "st15_stream_trending",
    "st16_cdf_consumer_agg",
    "st17_stream_schema_evolution",
    "st18_stream_file_sink",
    "st19_late_data_drop",
    "tx16_temperature_mixture",
    # three r10/r11-gated entries whose PLAN OR ORACLE changed this
    # round — plan-predates-row freshness outranks the r6 cohort's
    # last slots (tx17/tx18/tx19, deferred): ss24/ss25 carry the sf10
    # gate's streaming-argmax oracle restructure, io26 the
    # creationSideThreshold stand-in the sf10 gate caught missing
    "ss24_ivf_sized_nlist",
    "ss25_ivf_sized_serving",
    "io26_runtime_bloom_join_filter",
)

_R11_PREFIX = (
    # 3 round-10 additions — never driver-gated, first in line
    # (st32 rebuilt this round: compaction + DPP + ordered shards)
    "st31_salted_stream_enrichment",
    "ss24_ivf_sized_nlist",
    "st32_streaming_semantic_dedup",
    # the two r4-era re-gates deferred by the round-10 prefix
    "tx13_unicode_normalize",
    "tx14_url_domain_stats",
    # added this round
    "dd20_production_neardup",
    "ss25_ivf_sized_serving",
    # rebuilt this round: bounded-sample recall demo (oracle CHANGED)
    "dd05_embedding_neardup",
    # 42 r5-era freshness re-gates (oldest oracled driver rows, gate
    # order; ss08/ss09 deferred to round 12)
    "cdc17_incremental_snapshot",
    "cdc18_dead_letter_routing",
    "cdc19_version_diff_feed",
    "cdc20_stream_binary_wire",
    "cdc21_wal2json_v2",
    "cdc22_bidirectional_origin_filter",
    "cdc23_checkpoint_resume",
    "cdc24_multi_table_demux",
    "cdc25_tombstone_retention",
    "dp04_length_bucket_batching",
    "io01_jsonl_roundtrip",
    "io02_csv_roundtrip",
    "io03_orc_roundtrip",
    "io04_partitioned_pruned_read",
    "io05_bucketed_colocated_join",
    "io06_sorted_zonemap_read",
    "io07_schema_evolution_read",
    "io08_python_datasource",
    "mm01_multimodal_features",
    "mm02_resize_frame_sample",
    "mm03_phash_neardup",
    "q56_asof_forward",
    "q57_lateral_topk",
    "q58_asof_hotkey_bucketed",
    "q59_gap_fill_locf",
    "q60_ohlc_downsample",
    "q62_bounded_collect_topn",
    "q63_sole_late_supplier",
    "q64_small_qty_revenue",
    "q65_dormant_rich_customers",
    "q66_top_revenue_supplier",
    "q67_order_count_distribution",
    "q68_product_type_profit",
    "q69_important_stock",
    "q70_shipmode_priority",
    "q71_promotion_suppliers",
    "q72_time_decayed_engagement",
    "ss01_cosine_topk",
    "ss02_ann_lsh_topk",
    "ss04_int8_quantization",
    "ss05_batch_cosine_topk",
    "ss07_matryoshka_rerank",
)

_R10_PREFIX = (
    # 4 round-9 additions — never driver-gated, first in line
    "q112_cms_heavy_hitters",
    "st30_streaming_heavy_hitters",
    "io26_runtime_bloom_join_filter",
    "q113_salted_skew_join",
    # rebuilt this round: sized-k semantic dedup (oracle CHANGED)
    "dd12_semantic_dedup",
    # 45 r4-era freshness re-gates (oldest driver rows, gate order)
    "cdc02_events_merge",
    "cdc03_snapshot_diff",
    "cdc04_log_compaction",
    "cdc05_outbox_route",
    "cdc06_schema_evolution",
    "cdc07_dedup_at_least_once",
    "cdc08_wide_type_decode",
    "cdc09_pipeline_e2e",
    "cdc10_pgoutput_binary",
    "cdc11_incremental_apply",
    "cdc12_scd2_history",
    "cdc13_ivm_agg",
    "cdc14_txn_barrier",
    "cdc15_replication_progress",
    "cdc16_maxwell_roundtrip",
    "dd01_exact_dedup",
    "dd02_ngram_jaccard",
    "dd05_embedding_neardup",
    "dd06_dedup_clusters",
    "dd07_url_dedup",
    "pu01_grouped_map_centroids",
    "pu02_grouped_agg_mad",
    "st01_stream_tumbling",
    "st02_stream_sessions",
    "st03_stream_dedup",
    "st04_stream_static_join",
    "st05_continuous_rollup",
    "st07_stream_stream_join",
    "st08_cdc_pipeline_bucketed",
    "st09_stream_ivm_agg",
    "st10_stream_outer_join",
    "st11_timeout_sessions",
    "tx01_language_id",
    "tx02_quality_score",
    "tx03_token_stats",
    "tx04_tfidf_top_terms",
    "tx05_fingerprint",
    "tx06_quality_filter",
    "tx07_hash_split",
    "tx08_repetition_stats",
    "tx09_stratified_sample",
    "tx10_pii_redaction",
    "tx11_decontamination",
    "tx12_chunking",
    # rebuilt this round: sized-partition KNN graph (oracle CHANGED)
    # — outranks the last r4 freshness slot (tx13, deferred to r11)
    "ss13_knn_graph",
)


# Entries changed AFTER the round-14 prefix was cut, staged for the
# next rotation (the fingerprint ledger fails any drifted entry
# missing from _R14_PREFIX and this tier): the r13-gated closure of
# the round-14 state-table work — the FS seam + insert-only
# generation lists (streaming/state.py) drift every entry built on
# BucketedStateTable, and the q112/st30 empty-input coalesce(sum,0)
# hardening drifts those two (all re-verified oracle-green at
# sf0.01/sf0.1 this round; outputs bit-identical).
_R15_NEXT: tuple[str, ...] = (
    "q112_cms_heavy_hitters",
    "st30_streaming_heavy_hitters",
    "cdc06_schema_evolution",
    "cdc09_pipeline_e2e",
    "cdc10_pgoutput_binary",
    "cdc11_incremental_apply",
    "cdc13_ivm_agg",
    "cdc14_txn_barrier",
    "cdc15_replication_progress",
    "cdc16_maxwell_roundtrip",
    "dd06_dedup_clusters",
    "st08_cdc_pipeline_bucketed",
    "st09_stream_ivm_agg",
    # the one-fold / one-state-table refactor: apply_changes and
    # agg_delta_from_batch share one fold text, BucketedStateTable
    # replaces the snapshot table under st05/io18 and scans a batch
    # once, and the fingerprint walker now unwraps property accessors
    # (cdc08 gains the registry's type helper) — every drifted entry
    # re-verified oracle-green at sf0.01
    "cdc01_golden_replay",
    "cdc08_wide_type_decode",
    "cdc19_version_diff_feed",
    "cdc20_stream_binary_wire",
    "cdc21_wal2json_v2",
    "cdc22_bidirectional_origin_filter",
    "cdc23_checkpoint_resume",
    "cdc24_multi_table_demux",
    "cdc28_as_of_lsn_read",
    "cdc29_vacuum_survivor_state",
    "cdc30_idempotent_consumer",
    "cdc33_consistent_cut_read",
    "dd13_incremental_dedup",
    "io09_bucket_compaction",
    "io10_python_stream_source",
    "io18_write_audit_publish",
    "q43_snapshot_backfill",
    "st05_continuous_rollup",
    "st12_incremental_snapshot_stream",
    "st14_change_feed_publication",
    "st16_cdf_consumer_agg",
    "st17_stream_schema_evolution",
    "st22_stream_scd2_build",
    # evaluate-once applies (the touched-bucket scan checkpoints the
    # batch) drift every state-closure entry above again; the IVF/PQ
    # builders' _spread now reads maxPartitionBytes with unit suffixes
    # — these six were last gated in the r14 prefix
    "ss06_ivf_persisted_index",
    "ss16_pq_persisted_index",
    "ss17_ivfpq_index",
    "ss23_filtered_ivfpq_probe",
    "ss25_ivf_sized_serving",
    "st20_stream_vector_index_ingest",
)

_R10_RANK = {n: i for i, n in enumerate(_R10_PREFIX)}
_R11_RANK = {n: i for i, n in enumerate(_R11_PREFIX)}
_R12_RANK = {n: i for i, n in enumerate(_R12_PREFIX)}
_R13_RANK = {n: i for i, n in enumerate(_R13_PREFIX)}
_R14_RANK = {n: i for i, n in enumerate(_R14_PREFIX)}
_R15_RANK = {n: i for i, n in enumerate(_R15_NEXT)}

# Stable aliases for the CURRENT round's 50-slot gate prefix and the
# tier staged for the NEXT rotation — tests pin the contract through
# these names so a rotation cannot silently break them
# (tests/test_registry_contract.py).
GATE_PREFIX = _R14_PREFIX
NEXT_TIER = _R15_NEXT


def _rank(name: str) -> tuple[int, int, str]:
    if name in _R14_RANK:
        return (0, _R14_RANK[name], name)
    if name in _R15_RANK:
        return (1, _R15_RANK[name], name)
    if name in _R13_RANK:
        return (2, _R13_RANK[name], name)
    if name in _R12_RANK:
        return (3, _R12_RANK[name], name)
    if name in _R11_RANK:
        return (4, _R11_RANK[name], name)
    if name in _R10_RANK:
        return (5, _R10_RANK[name], name)
    return (6, 0, name)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {
        name: REGISTRY[name].fn for name in sorted(REGISTRY, key=_rank)
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for every SQL-expressible query."""
    return {
        name: REGISTRY[name].oracle
        for name in sorted(REGISTRY, key=_rank)
        if REGISTRY[name].oracle is not None
    }
