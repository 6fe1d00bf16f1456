"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The actual inventory lives in ``etl_cortex_spark.queries`` — one
(Spark builder, DuckDB oracle SQL) pair per SURVEY.md §2 row.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_cortex_spark.queries import ORACLE, QUERIES  # noqa: E402

# The driver samples the first N registry entries per round, so the
# registry is served in a rotation (VERDICT.md round-1 next-round #1,
# continued every round):
#
#   1. entries with NO official CORRECTNESS record yet (streaming ones
#      first — they are the environment-sensitive tier),
#   2. entries whose implementation changed since their last record
#      (_REVERIFY_NOW, maintained by hand per round),
#   3. recorded entries, least-recently-verified first (round-3 ADVICE:
#      never pin recorded entries to the tail permanently, or a
#      regression in an old query would stay invisible forever).
#
# The record rounds are read from the committed CORRECTNESS_r*.json
# files at import, so this ordering updates itself every round with no
# hand-kept name lists.

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))

# Entries fixed/changed since their last green record → re-verify ASAP,
# mapped to the round the fix landed. The boost expires by itself once a
# CORRECTNESS file from that round (or later) records the entry again.
# The round-5/6 backlog was fully consumed by CORRECTNESS_r06 (r6
# verdict #2), so the dict was emptied and re-seeded with round-7
# changes only — the rotation below is otherwise purely
# least-recently-verified.
_REVERIFY_NOW: dict[str, int] = {
    # (Every round-18 seed was recorded green in CORRECTNESS_r18, so
    # every prior boost expired and was removed. Round-10 verdict #4
    # standing rule: keep this dict MINIMAL.)
    #
    # Round 19 NEW entries (unrecorded — tier 0 of the rotation
    # regardless; listed for the audit trail): tail across compaction
    # boundaries, the tail as a registered streaming DataSource, and
    # the IVF semantic-dedup probe + its ε-recall audit. All four
    # verified green against their DuckDB oracles at sf0.001 AND
    # sf0.01 this session.
    "stream_snapshot_tail_across": 19,
    "pyds_stream_snapshot_tail": 19,
    "d25_semantic_dedup_probe": 19,
    "d25_semantic_probe_recall": 19,
    "scale_snapshot_cdf_rollback": 19,
    "pyds_stream_snapshot_tail_dist": 19,
    "pyds_batch_snapshot_pruned": 19,
    "scale_snapshot_clone": 19,
    "scale_snapshot_rename": 19,
    "scale_snapshot_drop_column": 19,
    "scale_snapshot_constraints": 19,
    "scale_snapshot_analyze": 19,
    # snapshot_changes_cdf gained the file-drop retraction branch — its
    # direct oracle entry re-verifies the edited function end-to-end.
    "scale_snapshot_changes_cdf": 19,
    # Round 19 MODIFIED write/read paths: tiered AUTO segment
    # consolidation runs inside snapshot_append / snapshot_merge_mor /
    # snapshot_publish (tail planning gained the file-level fallback
    # for consolidated name lists), snapshot_compact stamps
    # `operation: compact`, the recent_batches migration now
    # BACKFILLS pre-18 stamps (floor 0), and apply_cdf_to_rollup
    # validates _change_type. These exercise the edited functions
    # end-to-end — seeded for official records on the new code.
    "stream_snapshot_tail": 19,
    "stream_snapshot_tail_mv": 19,
    "scale_snapshot_cdf_mv": 19,
    "stream_snapshot_ingest": 19,
    "stream_snapshot_upsert": 19,
    "stream_snapshot_wap": 19,
    "scale_snapshot_compact": 19,
    "scale_snapshot_zorder_compact": 19,
    "scale_snapshot_compact_small_files": 19,
    # Round 19 guard-state change (bounded applied.json replacing
    # one-file-per-batch): every apply_merge_commit-protocol sink.
    "stream_foreach_batch_upsert": 19,
    "stream_cms_sketch": 19,
    "stream_bloom_membership": 19,
    "stream_hll_distinct": 19,
    "stream_kmv_quantile": 19,
    # Round 19 OPTIMIZATION pass: gram repetition signals rewritten
    # sort+run-length (textops.top_ngram_frac / dup_ngram_frac, exact
    # equality pinned old-vs-new) — re-verify the one entry built on
    # them end-to-end.
    "d04_repetition_signals": 19,
    # Round 19 OPTIMIZATION pass: c19 split into two aggregates (the
    # acd+countDistinct Expand pathology), fuzzy_join refine-before-
    # distinct + probe-spread repartition.
    "c19_approx_count_distinct": 19,
    "d26_fuzzy_entity_match": 19,
    "d31_entity_clusters": 19,
}

# Round 21: the presentation sorts left the registry (outputs are
# unordered; only the SEMANTIC_SORTS of tests/test_plans.py keep a root
# sort), and the AllPairs dedup paths now filter on the exact jaccard.
# Every entry whose plan or oracle changed re-verifies on the new code.
_REVERIFY_NOW.update(dict.fromkeys("""
    b01_csv_scan b08_date_range_filter b11_sql_passthrough
    b12_histogram b13_timeseries_daily b13c_resample_interpolate
    b15_scd2_history b16_batch_sessionization b17_merge_upsert
    b18_funnel_steps b19_cohort_retention b20_anomaly_zscore
    b21_transition_matrix b22_incremental_agg b23_cdc_diff
    b24_experiment_report b25_heatmap_2d b26_rfm_segments
    b27_rolling_wau b28_twap b29_equidepth_histogram b30_anomaly_mad
    b32_point_in_time_join c03_json_scan c04_inmemory_registration
    c10_join_inner_agg c12_join_semi c14_theta_range_join
    c15_broadcast_join c17_tpch_q1 c18_count_distinct c20_having
    c22_conditional_agg c23_stat_aggs c24_collect_set c25_pivot
    c39_values_inline c49_column_profile c50_lateral_topk
    c52_quality_checks c53_rolling_time_window c54_corr_matrix
    c55_grouped_trend c56_set_ops_all c58_try_arithmetic
    c59_referential_integrity c60_grouping_sets c61_percentile_disc
    c64_ordered_listagg c65_recursive_cte c66_window_ignore_nulls
    c68_null_safe_join c69_variant_semistructured
    c70_lateral_column_alias c73_execute_immediate
    c74_parameterized_sql c75_collated_comparison c76_xml_roundtrip
    c77_try_arithmetic c78_window_exclude_current
    d02_containment_pairs d02_group_rep_pairs d02_group_rep_survivors
    d02_incremental_lsh_probe d02_lsh_recall_audit
    d02_minhash_lsh_ml_pairs d02_minhash_lsh_pairs
    d02_near_dedup_minhash d02_near_dedup_survivors
    d02_prefix_probe_pairs d02_simhash_candidates
    d02_simhash_recall_audit d03_matryoshka_recall
    d04_repetition_signals d04_token_stats d05_avi_container_features
    d05_avi_frame_decode d05_color_jpeg_decode_features
    d05_gif_decode_features d05_image_decode_features
    d05_image_resize_features d05_jpeg_decode_features
    d05_mjpeg_frame_decode d05_mp2_sample_decode d05_mp3_frame_walk
    d05_mp3_scalefactor_decode d05_mp3_sideinfo
    d05_png_decode_features d05_progressive_jpeg_decode_features
    d05_rice_residual_decode d05_rle8_delta_decode
    d05_tar_shard_manifest d05_wav_decode_features d101_bitext_margin
    d103_domain_blocklist d104_calibration_audit d105_psi_drift
    d106_encode_to_ids d108_dedup_composition_drift
    d109_encoding_audit d10_training_prep_pipeline d110_warc_ingest
    d111_ccnet_buckets d112_source_quality_deciles d113_ccnet_chain
    d113_lang_id d11_stratified_sample d12_semantic_contamination
    d12_semantic_contamination_lsh d13_pack_sequences
    d14_gopher_quality_flags d15_line_dedup_boilerplate
    d16_embedding_quantize_int8 d17_trigram_lm_score d18_chunk_overlap
    d19_phrase_search d20_dup_ngram_flags d24_centroid_assign
    d24_kmeans_sizes d25_semantic_dedup d25_semantic_dedup_probe
    d26_fuzzy_entity_match d27_pagerank_trade d28_tfidf_knn
    d29_frame_sample_plan d30_audio_chunk_plan d31_entity_clusters
    d33_udtf_sentences d34_winsorize_audit d36_triangle_count
    d37_pq_encode d38_hash_split d39_bfs_hops d52_mixture_sample
    d52b_weighted_priority_sample d53_markup_strip d54_url_normalize
    d62_split_leakage d72_cc_star d76_label_propagation
    d77_market_basket d78_group_impute d79_image_tile_plan
    d81_exact_stratified_split d82_concat_chunk_packing
    d83_preference_pairs d84_tokenizer_fertility d85_curriculum_order
    d86_temperature_mix_plan d87_incremental_exact_dedup
    d88_distinctive_terms d89_winnowing_fingerprints
    d91_bloom_decontaminate d96_contrastive_negatives
    flagship_events_medallion pyds_stream_snapshot_changes
    pyds_stream_synthetic_docs pyds_synthetic_docs_scan
    scale_binned_range_join scale_bucketed_incremental
    scale_bucketed_join scale_cdc_apply_ooo
    scale_changes_downstream_agg scale_cms_frequency
    scale_delete_propagation scale_dynamic_partition_pruning
    scale_file_skipping scale_heavy_hitters_two_scan
    scale_hll_sketch_rollup scale_incremental_join scale_mv_rewrite
    scale_salted_agg scale_sample_quantile_rollup
    scale_snapshot_bucket_layout scale_snapshot_cdf_mv
    scale_snapshot_cdf_rollback scale_snapshot_constraints
    scale_snapshot_cow_delete scale_snapshot_delete_pos
    scale_snapshot_hidden_partitioning scale_snapshot_history
    scale_snapshot_merge scale_snapshot_merge_mor
    scale_snapshot_mor_delete scale_snapshot_partition_evolution
    scale_snapshot_rename scale_snapshot_rollback
    scale_snapshot_row_lineage scale_snapshot_schema_evolution
    scale_snapshot_tags scale_snapshot_time_travel scale_zorder_key
    stream_bloom_membership stream_cms_sketch stream_snapshot_tail_mv
    stream_snapshot_upsert stream_static_join stream_stream_full_join
    stream_stream_join stream_stream_left_join
    tpch_q11_important_stock tpch_q12_priority_by_returnflag
    tpch_q13_customer_distribution tpch_q15_top_supplier
    tpch_q16_parts_supplier_relationship tpch_q20_potential_promotion
    tpch_q22_global_sales_opportunity tpch_q4_priority_check
    tpch_q5_local_supplier_volume tpch_q7_volume_shipping
    tpch_q8_market_share tpch_q9_product_type_profit
""".split(), 21))

# Round 22: the MinHash-LSH verify step filters on the exact jaccard
# (minhash_lsh_pairs, minhash_lsh_probe and the entries built on them,
# plus d02_incremental_lsh_probe's oracle), and stream_cms_sketch's
# builder has its own name.
_REVERIFY_NOW.update(dict.fromkeys("""
    d02_incremental_lsh_probe d02_lsh_recall_audit
    d02_minhash_lsh_pairs d02_near_dedup_minhash stream_cms_sketch
""".split(), 22))

# Round 23: the entries whose scratch data changed place. The two pairs
# that shared one path, the DPP entry that no longer reuses its layout,
# file skipping keyed on the full data path, and the six sinks whose
# output now lives under the writing process's pid.
_REVERIFY_NOW.update(dict.fromkeys("""
    scale_snapshot_partition_evolution scale_snapshot_schema_evolution
    d25_semantic_dedup_probe d25_semantic_probe_recall
    scale_dynamic_partition_pruning scale_file_skipping
    sink_parquet_partitioned_roundtrip sink_csv_roundtrip
    sink_orc_roundtrip sink_json_roundtrip sink_text_gzip_roundtrip
    sink_xml_roundtrip
""".split(), 23))


def _last_recorded_round() -> dict[str, int]:
    """name → highest round with an official CORRECTNESS row for it."""
    import glob
    import json
    import re

    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(_REPO_DIR, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                names = json.load(f)
        except Exception:
            continue
        for n in names:
            last[n] = max(last.get(n, 0), rnd)
    return last


def _rotated(d: dict) -> dict:
    last = _last_recorded_round()
    names = list(d)

    def prio(idx_name):
        idx, name = idx_name
        if name not in last:  # never recorded: streams first, then registry order
            return (0, 0 if name.startswith("stream_") else 1, idx)
        if last[name] < _REVERIFY_NOW.get(name, 0):
            return (1, 0, idx)  # fixed after its last record → re-verify
        return (2, last[name], idx)  # least-recently-verified first

    ordered = sorted(enumerate(names), key=prio)
    return {name: d[name] for _, name in ordered}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["flagship_events_medallion"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _rotated(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query; omitted keys get rows-only checks."""
    return _rotated(ORACLE)
