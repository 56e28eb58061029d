"""Measured slow-test manifest for the FAST default pytest profile.

The driver's verify step runs ``python -m pytest tests/ -x -q`` inside a
bounded time window; the full suite takes ~28 min on this box (751 tests,
r19 measurement), which overran the window and reported a truncated,
summary-less tail (VERDICT r18: ``tests_ok: false`` with zero failures
shown).  The fix VERDICT r18 item 1 prescribes: a fast DEFAULT profile
that skips the measured slowest tests, and a FULL profile
(``SPARK_GRAFT_FULL_TESTS=1``) that runs everything — used for the
builder's own final gate before a round ends.

This list is every test whose measured call time was >= 4.0 s in the
r19 full run (``pytest tests/ -q --durations=0``, idle box, local[8]
session) — 119 of 751 tests carrying ~1056 s of the 1712 s total; the
default profile therefore runs 632 tests in ~11 min.  Every skipped
test still runs under the full profile, and the operators they cover
keep default-profile coverage through the oracle-parity window, the
plan pins, and the cheaper sibling tests.

Regenerate after a perf-relevant change:
``SPARK_GRAFT_FULL_TESTS=1 python -m pytest tests/ -q --durations=0``
then take the >= 4 s call entries.  A renamed or new slow test simply
RUNS in the default profile (fail-safe: coverage is never lost, the
profile just gets slower until the list is refreshed).
"""

SLOW_TESTS = frozenset(
    (
        "tests/test_properties.py::test_louvain_coarsen_operator_matches_iterated_merge",  # 41.6s
        "tests/test_properties.py::test_coarsen_passes_monotone_on_purchase_graph",  # 39.4s
        "tests/test_properties.py::test_contract_graph_invariance_lemma",  # 38.9s
        "tests/test_properties.py::test_pq_topk_partition_invariant",  # 29.1s
        "tests/test_properties.py::test_modularity_stats_threading_is_bit_identical",  # 27.3s
        "tests/test_properties.py::test_ivfsq_with_all_probes_equals_sq8",  # 25.1s
        "tests/test_properties.py::test_k_truss_matches_brute_force_peel",  # 22.4s
        "tests/test_properties.py::test_refine_guarded_never_decreases_q",  # 21.8s
        "tests/test_properties.py::test_sq8_topk_partition_invariant",  # 20.1s
        "tests/test_properties.py::test_incremental_lsh_equals_batch_filtered_full_join",  # 19.4s
        "tests/test_properties.py::test_refine_guarded_evidence_out_param",  # 17.3s
        "tests/test_properties.py::test_modularity_merge_matches_python_and_never_decreases_q",  # 16.7s
        "tests/test_properties.py::test_coreness_is_max_k_surviving_k_core",  # 16.4s
        "tests/test_properties.py::test_lm_score_partition_invariant",  # 15.3s
        "tests/test_properties.py::test_snm_sharded_equals_global_window",  # 14.4s
        "tests/test_streaming.py::test_windowed_cms_watchlist_stream_matches_batch",  # 13.5s
        "tests/test_streaming.py::test_left_outer_join_emits_unmatched_after_watermark",  # 13.0s
        "tests/test_properties.py::test_modularity_merge_loop_converges_monotonically",  # 12.9s
        "tests/test_properties.py::test_stress_centrality_matches_reference",  # 12.8s
        "tests/test_properties.py::test_cc_star_matches_label_propagation",  # 12.2s
        "tests/test_properties.py::test_sq8_shortlist_matches_integer_replay",  # 11.4s
        "tests/test_properties.py::test_upsample_copy_counts_and_partition_invariance",  # 11.4s
        "tests/test_properties.py::test_scc_many_small_components_bounded_rounds",  # 11.2s
        "tests/test_cache_scope.py::test_operator_self_scope_releases_caches",  # 10.5s
        "tests/test_invariance.py::test_results_invariant_to_timezone_and_partitions[ann_pq_recall]",  # 10.3s
        "tests/test_oracle_parity.py::test_query_matches_oracle[graph_refine_loop]",  # 10.0s
        "tests/test_properties.py::test_cms_upper_bound_and_merge_identity",  # 9.9s
        "tests/test_properties.py::test_scc_coloring_reach_bound_names_bfs_max_iter",  # 9.7s
        "tests/test_properties.py::test_refine_guarded_adopts_and_rejects",  # 9.7s
        "tests/test_properties.py::test_coarsen_mapping_cache_reconstructs_exactly",  # 9.2s
        "tests/test_plans.py::test_no_cartesian_in_scale_paths[graph_refine_loop]",  # 9.2s
        "tests/test_properties.py::test_bloom_prefilter_never_drops_matches",  # 9.0s
        "tests/test_properties.py::test_modularity_of_cc_partition_invariants",  # 8.8s
        "tests/test_oracle_parity.py::test_query_matches_oracle[ann_ivfsq_recall]",  # 8.7s
        "tests/test_plans.py::test_ivfsq_candidate_restriction_is_broadcast",  # 8.6s
        "tests/test_properties.py::test_prefix_filter_equals_full_inverted_index",  # 8.6s
        "tests/test_properties.py::test_edit_distance_pairs_matches_brute_force",  # 8.4s
        "tests/test_streaming.py::test_watermarked_join_drops_late_rows",  # 8.4s
        "tests/test_operators.py::test_registered_query_kwargs_overridable",  # 8.3s
        "tests/test_properties.py::test_stitch_flag_runs_equivalence_hypothesis",  # 8.3s
        "tests/test_plans.py::test_no_row_python_udfs_anywhere[ann_ivfsq_recall]",  # 8.3s
        "tests/test_plans.py::test_no_row_python_udfs_anywhere[graph_refine_loop]",  # 8.1s
        "tests/test_properties.py::test_refine_loop_trace_is_monotone_and_invariant",  # 7.8s
        "tests/test_properties.py::test_scc_deep_graph_uses_bfs_bound_not_outer_bound",  # 7.8s
        "tests/test_properties.py::test_scc_negative_ids_both_engines",  # 7.6s
        "tests/test_invariance.py::test_results_invariant_to_timezone_and_partitions[graph_scc]",  # 7.5s
        "tests/test_invariance.py::test_results_invariant_to_timezone_and_partitions[dedup_embedding_bucketed]",  # 7.4s
        "tests/test_properties.py::test_modularity_refine_weighted_matches_pure_python",  # 7.4s
        "tests/test_properties.py::test_personalized_pagerank_with_all_seeds_equals_uniform",  # 7.4s
        "tests/test_oracle_parity.py::test_query_matches_oracle[ann_ivfpq_recall]",  # 7.3s
        "tests/test_properties.py::test_label_propagation_matches_brute_force",  # 7.2s
        "tests/test_properties.py::test_modularity_merge_improves_purchase_graph_q",  # 7.0s
        "tests/test_properties.py::test_bfs_distances_matches_brute_force",  # 6.9s
        "tests/test_properties.py::test_scc_mixed_shape_switches_engine_after_giant",  # 6.6s
        "tests/test_oracle_parity.py::test_query_matches_oracle[graph_coreness]",  # 6.4s
        "tests/test_properties.py::test_contracted_coarsen_equals_uncontracted_on_purchase_graph",  # 6.4s
        "tests/test_oracle_parity.py::test_query_matches_oracle[graph_ktruss]",  # 6.4s
        "tests/test_properties.py::test_substring_incremental_equals_restricted_rebuild",  # 6.3s
        "tests/test_properties.py::test_contract_graph_recursion_lemma",  # 6.1s
        "tests/test_properties.py::test_shortest_paths_matches_dijkstra",  # 6.1s
        "tests/test_plans.py::test_ivfpq_candidate_restriction_is_broadcast",  # 6.1s
        "tests/test_properties.py::test_refine_weighted_query_matches_guarded_operator",  # 6.1s
        "tests/test_oracle_parity.py::test_query_matches_oracle[ann_sq8_recall]",  # 6.1s
        "tests/test_plans.py::test_no_row_python_udfs_anywhere[ann_sq8_recall]",  # 6.0s
        "tests/test_properties.py::test_srp_pairs_match_candidate_reference",  # 5.9s
        "tests/test_oracle_parity.py::test_query_matches_oracle[graph_stress_centrality]",  # 5.8s
        "tests/test_plans.py::test_sq8_scoring_side_broadcasts_queries",  # 5.8s
        "tests/test_plans.py::test_new_round10_queries_not_cartesian[ann_sq8_recall]",  # 5.7s
        "tests/test_oracle_parity.py::test_query_matches_oracle[ann_pq_recall]",  # 5.6s
        "tests/test_properties.py::test_identical_docs_always_become_lsh_pair",  # 5.5s
        "tests/test_properties.py::test_snm_multipass_superset_and_reorder_recall",  # 5.4s
        "tests/test_plans.py::test_no_row_python_udfs_anywhere[ann_ivfpq_recall]",  # 5.4s
        "tests/test_oracle_parity.py::test_query_matches_oracle[events_cms_watchlist]",  # 5.3s
        "tests/test_streaming.py::test_join_then_windowed_agg_composition",  # 5.1s
        "tests/test_plans.py::test_no_cartesian_in_scale_paths[dedup_embedding_bucketed]",  # 5.0s
        "tests/test_plans.py::test_new_round5_queries_not_cartesian[ann_ivfpq_recall]",  # 4.9s
        "tests/test_oracle_parity.py::test_query_matches_oracle[ann_range_recall]",  # 4.9s
        "tests/test_streaming.py::test_windowed_cms_grid_matches_batch_and_merges",  # 4.8s
        "tests/test_properties.py::test_refine_pass_sweep_escapes_the_matchings_stall",  # 4.8s
        "tests/test_properties.py::test_intra_clean_frame_cache_roundtrips_exactly",  # 4.8s
        "tests/test_properties.py::test_cc_star_long_chain",  # 4.8s
        "tests/test_properties.py::test_refine_guarded_weighted_adopts_and_rejects",  # 4.7s
        "tests/test_oracle_parity.py::test_query_matches_oracle[ann_ivf_spill_recall]",  # 4.7s
        "tests/test_oracle_parity.py::test_query_matches_oracle[ann_pq_trained_recall]",  # 4.7s
        "tests/test_properties.py::test_substring_gram_counts_sidecar_equivalence",  # 4.7s
        "tests/test_oracle_parity.py::test_query_matches_oracle[graph_refine_pass]",  # 4.7s
        "tests/test_invariance.py::test_results_invariant_to_timezone_and_partitions[dedup_ngram_prefix]",  # 4.6s
        "tests/test_streaming.py::test_windowed_value_drift_matches_batch_and_flags",  # 4.6s
        "tests/test_properties.py::test_salted_join_always_matches_plain",  # 4.6s
        "tests/test_properties.py::test_scc_matches_kosaraju",  # 4.6s
        "tests/test_streaming.py::test_windowed_seq_kgrams_stream_matches_batch_and_miner",  # 4.6s
        "tests/test_plans.py::test_no_cartesian_in_scale_paths[ann_ivf_topk]",  # 4.6s
        "tests/test_properties.py::test_centroid_silhouette_matches_integer_reference",  # 4.6s
        "tests/test_oracle_parity.py::test_query_matches_oracle[graph_scc]",  # 4.6s
        "tests/test_streaming.py::test_windowed_weighted_reservoir_stream_matches_batch",  # 4.6s
        "tests/test_oracle_parity.py::test_query_matches_oracle[dedup_srp_recall]",  # 4.5s
        "tests/test_properties.py::test_modularity_refine_matches_pure_python",  # 4.5s
        "tests/test_invariance.py::test_results_invariant_to_timezone_and_partitions[graph_pagerank_dangling]",  # 4.5s
        "tests/test_plans.py::test_no_cartesian_in_scale_paths[graph_refine_pass]",  # 4.5s
        "tests/test_properties.py::test_rebalance_membership_monotone_in_rate",  # 4.5s
        "tests/test_properties.py::test_mad_outliers_matches_reference",  # 4.5s
        "tests/test_oracle_parity.py::test_query_matches_oracle[ann_range_search]",  # 4.5s
        "tests/test_properties.py::test_pagerank_redistribute_mass_conservation",  # 4.4s
        "tests/test_streaming.py::test_windowed_followed_by_stream_matches_batch_and_miner",  # 4.4s
        "tests/test_properties.py::test_pii_scrub_total_on_arbitrary_text",  # 4.4s
        "tests/test_streaming.py::test_windowed_distinct_users_sketches_match_batch_and_merge",  # 4.3s
        "tests/test_operators.py::test_sorted_neighborhood_pairs_window_and_verify",  # 4.3s
        "tests/test_oracle_parity.py::test_query_matches_oracle[graph_refine_adopt]",  # 4.3s
        "tests/test_oracle_parity.py::test_query_matches_oracle[dedup_multi_signal]",  # 4.2s
        "tests/test_oracle_parity.py::test_query_matches_oracle[dedup_embedding_bucketed]",  # 4.2s
        "tests/test_properties.py::test_basket_affinity_matches_reference",  # 4.1s
        "tests/test_operators.py::test_sq8_build_artifacts_ride_the_cache",  # 4.1s
        "tests/test_plans.py::test_no_row_python_udfs_anywhere[dedup_embedding_bucketed]",  # 4.1s
        "tests/test_operators.py::test_pagerank_weighted_hand_computed_and_w1_equivalence",  # 4.1s
        "tests/test_properties.py::test_repetition_stats_invariants",  # 4.1s
        "tests/test_invariance.py::test_results_invariant_to_timezone_and_partitions[graph_pagerank_weighted]",  # 4.0s
        "tests/test_plans.py::test_no_row_python_udfs_anywhere[graph_refine_pass]",  # 4.0s
    )
)
