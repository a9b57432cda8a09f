"""Curated fast-subset selection for ``pytest -m fast`` (r13, VERDICT #8).

The driver's VERIFY gate runs the test suite under a time budget it does
not publish; the full 427-test suite takes 14-49 minutes depending on
host load, so two rounds running the gate has returned an unusable
truncated status. This list names one-to-three cheap representatives per
operator family (dedup, similarity, clustering/ANN, graph, text,
multimodal, sketches, profiling, attribution, privacy, maintenance,
stats/experiments, streaming, windows/sessions, pipeline/sink/adapters,
hashing, plan-shape, bench contract) so ``python -m pytest tests/ -m
fast`` finishes in well under 5 minutes and still exercises every
operator module end-to-end on a live Spark session.

``conftest.pytest_collection_modifyitems`` applies the ``fast`` marker
(registered in pyproject.toml) to collected items whose base name (sans
parametrization) appears here. Keep names in sync when renaming tests —
a stale entry selects nothing and silently shrinks coverage, so the
bench-contract test ``test_fast_suite_names_resolve`` asserts every
entry matches a collected test.
"""

FAST_TESTS = frozenset(
    {
        # dedup family
        "test_exact_dedup",
        "test_minhash_lsh_finds_identical",
        "test_simhash_identical_and_different",
        "test_min_label_groups_resolves_components",
        "test_setsim_prefix_pairs_exact_jaccard",
        "test_containment_matches_python_sets",
        "test_dedup_repeated_spans_keeps_owner_only",
        # similarity / ANN / clustering
        "test_cosine_topk",
        "test_embedding_near_dup",
        "test_ivf_with_trained_centroids",
        "test_ivfpq_topk_invariants",
        "test_semdedup_prune_drops_within_cluster_near_dups",
        "test_topk_recall_bruteforce",
        # graph
        "test_triangle_count_k4_with_noise",
        "test_clustering_stats_k4_with_pendant",
        "test_pagerank_fixed_point_invariants",
        "test_personalized_pagerank_localizes_to_seeds",
        "test_k_hop_reach_min_hops",
        "test_bounded_sssp_relaxes_through_cheaper_path",
        "test_kcore_peels_tendrils_keeps_core",
        "test_label_propagation_two_cliques",
        "test_symmetric_edges_both_directions_once",
        # text / tokenization
        "test_token_count",
        "test_language_id",
        "test_bpe_learns_sennrich_example",
        "test_oov_rate_and_ngram_diversity",
        # multimodal
        "test_media_dedup_exact",
        "test_image_features_decode_bmp",
        "test_extract_audio_features",
        # sketches
        "test_hll_estimate_within_error_bound",
        "test_cms_overestimate_guarantee_and_merge",
        "test_kmv_set_estimates_exact_below_k",
        "test_bitmap_algebra_exact_counts",
        "test_exact_quantile_select_matches_bruteforce",
        # profiling
        "test_profile_modes_agree_and_approx_has_no_expand",
        "test_schema_diff_reports_drift",
        # sampling
        "test_hash_sample_deterministic_and_layout_independent",
        "test_stratified_sample_exact_per_stratum",
        # windows / sessions
        "test_sessionize",
        "test_tumbling_rollup",
        "test_asof_join_backward",
        "test_gap_islands_with_bucket_straddling_runs",
        # attribution / experiments / stats
        "test_markov_attribution_hand_checkable",
        "test_rfm_scores_ordering_properties",
        "test_observed_funnel_counts_match_recompute",
        "test_theil_sen_matches_bruteforce",
        "test_cusum_flags_matches_recurrence",
        "test_binary_auc_matches_brute_force",
        "test_srm_check_bruteforce",
        "test_benford_audit_brute_force",
        "test_rrf_fuse_brute_force",
        # privacy
        "test_k_anonymity_and_suppression",
        # table maintenance
        "test_merge_upsert_actions",
        "test_scd2_history_collapses_runs",
        # streaming
        "test_stream_rollup_matches_batch",
        "test_stream_dedup_within_watermark",
        # pipeline / sinks / adapters / config / schema / sources
        "test_e2e_idempotent_run",
        "test_all_accepted",
        "test_tasks_never_see_before_run_state",
        "test_prehashed_customer_match_is_not_hashed_again",
        "test_chain_rule_joins_shared_control_tables_and_destinations",
        "test_independent_branches_run_at_once",
        "test_branches_sharing_a_control_table_run_in_order",
        "test_branches_sharing_a_destination_run_in_order",
        "test_run_logs_one_line_per_branch_and_per_run",
        "test_many_chains_fill_every_result_and_release_every_scan",
        "test_rebuilt_row_dicts_fail_the_chunk",
        "test_stamped_zipimporter_rereads_only_a_changed_archive",
        "test_reused_upload_worker_rereads_no_zip_directory",
        "test_ads_oci_payload_golden",
        "test_sheet_config_only_yes_schedules",
        "test_required_missing_raises",
        "test_read_evolving_parquet_normalizes_mixed_vintages",
        "test_anti_join_single_key",
        "test_absent_control_table_plans_no_join",
        "test_duplicate_control_keys_drop_each_row_once",
        "test_timestamp_key_control_table_dedups",
        "test_empty_input_counts_zero_and_releases",
        "test_add_flow_creates_missing_list_and_per_identifier_ops",
        # session: driver JVM start-up (no JVM)
        "test_cpus_counts_the_affinity_mask",
        "test_merged_java_options_keep_the_callers_tokens",
        "test_conf_dir_with_a_non_template_file_gives_a_plain_start",
        "test_archive_key_follows_jar_mtime_and_jvm_options",
        "test_live_session_gets_no_archive_work",
        "test_partial_of_a_dead_writer_is_neither_published_nor_used",
        "test_failed_dump_is_not_retried",
        "test_cache_keeps_one_archive_per_key",
        # hashing / payloads
        "test_hash_field_golden",
        "test_ads_pii_shaping",
        "test_format_date_golden",
        # plan-shape gates (explain-only, no data jobs)
        "test_q1_filter_pushdown_and_pruning",
        "test_join_skew_audit_no_sort_of_count_table",
        "test_ivfpq_codebook_and_lut_joins_broadcast",
        # bench contract (pure-python payload parsing)
        "test_payload_omits_failed_and_extracts_controls",
        "test_control_drift_normalizes_ratios",
        # version
        "test_dunder_version_matches_pyproject",
    }
)
