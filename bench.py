"""Headline benchmark: runs the engine's representative queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": "total_sec", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full execution, no
driver-side collect skew). One tiny warmup query amortizes JVM/codegen
startup out of the numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark import (
    get_spark,
)
from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
    REGISTRY,
)

HEADLINE = [
    "flagship_stedi_join",
    "customer_decode",
    "risk_events_project",
    "tpch_q1_pricing_summary",
    "tpch_q3_top_orders",
    "region_revenue",
    "risk_calc_per_customer",
    "risk_quality_windowed",
    "top_events_per_user",
    "pivot_event_type_counts",
    "text_profile",
    "doc_fingerprints",
    "tfidf_top_terms",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "sessionization_gap30",
    "asof_latest_order_before_event",
    "rollup_region_nation",
    "correlated_scalar_subquery",
    "running_total_per_user",
    "flagship_typed_scale_mode",
    "training_data_clean_pipeline",
    "segment_risk_profile",
    "ann_ivf_topk",
    "ann_ivf_fixed_topk",
    "multimodal_features",
    "top_bigrams",
    "ntile_quartiles_scale",
    "percent_rank_cume_dist_scale",
    "pack_shards_token_budget",
    "decontaminate_ngram_overlap",
    "curation_end_to_end",
    "salted_skew_join",
    "zorder_cells",
    "chunk_documents",
    "dedup_cluster_assignment",
    # round-3 second wave (plans/analytics.py)
    "event_funnel_stages",
    "retention_cohort_weeks",
    "rolling_hour_avg",
    "regr_value_vs_time",
    "domain_cap_sample",
    "quantile_bins_sketch",
    "fuzzy_prefix_pairs",
    "lateral_top2_orders",
    "recursive_customer_tree_depth",
    "hll_distinct_portable",
    "incremental_ingest_dedup",
    "tpch_q5_local_supplier_volume",
    "embedding_random_projection",
    "domain_cap_sample_scale",
    # round-3 third wave: the diagnostic TPC-H shapes (pushdown probe,
    # broadcast-dim star, semi+top-k) and the new pipeline ops.
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q18_large_volume_customer",
    "mixture_temperature_resample",
    "global_shuffle_order",
    "chunk_exact_dedup",
    "winnowing_fingerprints",
    # round-4 wave: curation compositions + serving-path scoring
    "quality_logit_frozen",
    "dedup_cluster_keep_best",
    "ngram_novelty_scores",
    "multimodal_frame_sample",
    "hll_distinct_merge_by_source",
    # round-4 second wave (plans/warehouse.py): temporal joins +
    # tokenizer/corpus statistics
    "range_join_error_bursts",
    "scd2_point_in_time_state",
    "time_bucket_rollup_multi",
    "bpe_pair_merge_counts",
    "inverted_index_postings",
    "skew_key_profile",
    "anomaly_zscore_events",
    "doc_length_histogram",
    # round-4 third wave: corpus quality/balance ops
    "lang_id_confusion",
    "ngram_diversity_by_source",
    "quality_top_quartile_per_source",
    "source_overlap_matrix",
    "label_balance_downsample",
    "dedup_cluster_pointer_jumping",
    "event_transition_matrix",
    "nucleus_sample_per_source",
    "table_profile_events",
    # round-4 fifth wave (plans/simjoin.py): exact similarity joins +
    # grid sampling
    "sparse_cosine_pairs",
    "setsim_prefix_filter_pairs",
    "systematic_pps_sample",
    "windowed_topk_batch",
    "bot_regularity_timing",
    "incremental_near_dup_lsh",
    "normalized_exact_dedup",
    "kmv_type_user_overlap",
    "triangle_parts_copurchase",
    "multiset_ops_all",
    "kcore_parts_copurchase",
    "pagerank_parts_copurchase",
    # round-5 wave
    "exact_substr_spans",
    "bloom_prefilter_ingest_dedup",
    "winsorize_value_per_type",
    "corrupt_json_quarantine",
    "sensor_gap_interpolation",
    "table_content_digest",
    # round-6 wave
    "audio_frame_energy",
    "image_resize_nearest",
    "semdedup_cluster_cap",
    "snapshot_cdc_diff",
    "interval_overlap_join",
    "weighted_median_doc_length",
    "k_anonymity_report",
    "snapshot_profile_drift",
    "boilerplate_strip_rewrite",
    "quality_calibration_bins",
    "dedup_cluster_size_histogram",
    "classifier_auc_exact",
    "bigram_lift_collocations",
    "leakage_safe_split",
    "bfs_hops_copurchase",
    "data_contract_checks",
    "association_rules_copurchase",
    "lpa_communities_copurchase",
    "ab_test_cuped",
    "symdelete_ed1_pairs",
    "anomaly_mad_events",
    "source_token_tv_divergence",
    "contrastive_triplets",
    "vocab_coverage_topk",
    "funnel_latency_percentiles",
    "dau_wau_stickiness",
    "revenue_gini_concentration",
    "cross_source_contamination",
    "ltv_cohort_curves",
    "top_event_paths_3step",
    "order_sla_ship_delay",
    "seasonal_naive_backtest",
    "abc_pareto_parts",
    "chi_square_independence",
    "ks_two_sample_sources",
    "benford_first_digit",
    "link_prediction_scores",
    "rfm_segments",
    "mom_revenue_growth",
    "kaplan_meier_retention",
    "markov_stationary_events",
    "readability_forcast",
    "zipf_slope_by_source",
    "cube_event_profile",
    "seasonality_autocorr",
    "anova_value_by_type",
    "unpivot_event_matrix",
    "loo_target_encoding",
    "embedding_centroid_shift",
    "last_touch_attribution",
    "two_proportion_ztest",
    "bigram_lm_perplexity",
    "transition_entropy_mi",
    "decision_stump_split",
    "label_centroid_similarity",
    "cusum_changepoint",
    "seasonal_strength_eta",
    "bitmap_intersect_users",
    "peak_concurrency",
    "growth_accounting_dau",
    "degree_powerlaw_mle",
    "skyline_pareto_docs",
    "overdispersion_index",
    "time_weighted_avg_value",
    "bellman_ford_cheapest_path",
    "share_of_parent_revenue",
    "mannwhitney_u_click_view",
    "spearman_value_vs_time",
    "ewma_user_value",
    "kendall_tau_daily_volume",
    "mv_incremental_maintenance",
    "gdpr_erasure_cascade",
    "apportion_sample_budget",
    "quantile_normalize_by_source",
    "classifier_logloss_brier",
    "json_schema_inference",
    "kfold_assignment_balanced",
    "embedding_diversity_by_label",
    "active_coverage_time",
    "weighted_sample_wor",
    "digest_bucket_drilldown",
    "holt_linear_daily_volume",
    "kmeans_assign_step",
    "rrf_fusion_topk",
    "debounce_rate_limit",
    "conformal_interval_daily",
    "watermark_lateness_profile",
    "theil_sen_daily_trend",
    "scd2_interval_build",
    "fk_orphan_report",
    "stump_cv_accuracy",
    "nearest_centroid_accuracy",
    "bm25_topk",
    "time_decay_attribution",
    "negative_sampling_copurchase",
    "threshold_breach_episodes",
    "diff_in_diff_value",
    "encoding_advisor",
    "relational_division_users",
    "cart_abandonment_rate",
    "hll_sliding_7day_users",
    "woe_encoding_bins",
    "paired_sign_test_improvement",
    # round-8 wave: stats battery (Welch/KW/Mood/trimmed), corpus
    # quality + retrieval (gopher rules, context fit, containment,
    # Dirichlet LM, JS divergence)
    "welch_ttest_click_view",
    "kruskal_wallis_value_by_type",
    "trimmed_mean_value_by_type",
    "mood_median_test",
    "gopher_quality_rules",
    "context_fit_report",
    "shingle_containment_pairs",
    "dirichlet_lm_topk",
    "js_source_divergence",
    "grubbs_outlier_by_type",
    "runs_test_daily_volume",
    "ljung_box_daily_volume",
    "cochran_armitage_trend",
    "duplicate_payment_pairs",
    "lexical_density_by_source",
    "kl_surprise_docs",
    "rank_biased_overlap_topk",
    "rbo_bm25_vs_lm",
    # r9 wave
    "chi_square_gof_uniform",
    "mann_kendall_trend_daily",
    "eb_shrunk_purchase_rate",
    "jackknife_purchase_view_ratio",
    "capture_recapture_users",
    "good_turing_unseen_mass",
    "shapley_channel_attribution",
    "fellegi_sunter_linkage",
    "entity_resolution_clusters",
    "heaps_law_vocab_growth",
    "markov_removal_attribution",
    "clustering_coefficient_copurchase",
    "friedman_event_counts",
    "sprt_purchase_decision",
    "cramers_v_type_dow",
    "bh_fdr_high_value_rate",
    "stratified_ate_urgent_orders",
    "log_rank_conversion_survival",
    "brown_forsythe_value_by_type",
    "hodges_lehmann_click_vs_view",
    "wasserstein_click_vs_view",
    "degree_assortativity_copurchase",
    "mmr_rerank_diverse_topk",
    "ndcg_mrr_dense_retrieval",
    "cohens_kappa_lang_id",
    "nelson_aalen_hazard",
    "l_diversity_report",
    "isotonic_calibration_pava",
    "video_shot_boundaries",
    "iv_wald_estimate",
    "median_polish_type_dow",
    "robust_stl_daily_volume",
    "t_closeness_report",
    "timeseries_motif_discovery",
    "obrien_fleming_sequential",
    "huber_location_value",
    "spearman_matrix_daily_volumes",
    "ccf_click_purchase_leadlag",
    "granger_click_to_purchase",
    "kaplan_meier_conversion_curve",
    "mantel_haenszel_urgent_fulfilled",
    "dunn_posthoc_value_pairs",
    # r10 additions
    "dedup_semantic_embedding",
    "sequence_pack_nextfit",
    "sequence_pack_fill_report",
    "entity_resolution_refined_blocks",
    "pettitt_changepoint_daily",
    "mcnemar_langid_full_vs_head",
    "cochrans_q_purchase_dow",
    "wilson_ci_user_conversion",
    "durbin_watson_daily_trend",
    "poisson_rate_test_click_vs_purchase",
    "kneser_ney_bigram_probs",
    "naive_bayes_lang_id",
    "tokenizer_fertility_by_lang",
    "hits_orders_parts",
    "dtw_click_vs_purchase_daily",
    "pacf_daily_volume",
    "cooks_distance_daily_trend",
    "bartlett_test_value_by_type",
    "jarque_bera_daily_volume",
    "span_corruption_masks",
    "page_hinkley_daily_volume",
    "sax_daily_volume",
    "lift_gains_deciles",
    "tukey_hsd_value_pairs",
    "cramer_von_mises_click_vs_view",
    "periodogram_daily_volume",
    "newey_west_trend_se",
    "ppr_recommend_parts",
    "seasonal_mann_kendall_daily",
    "kendalls_w_type_day_concordance",
    "distance_correlation_click_purchase",
    "dbscan_embeddings",
    "evt_gumbel_daily_peak",
    "theil_decomposition_by_source",
    "yules_k_by_source",
    "average_precision_lowquality",
    "effective_diameter_copurchase",
    "modularity_lpa_copurchase",
    "attribute_assortativity_brand",
    "rmst_conversion",
    # r11 additions
    "incremental_semantic_dedup",
    "anf_hop_histogram",
    "theta_intersection_cardinality",
    "weighted_sample_without_replacement",
    "anova_f_embedding_dims",
    # r11 second wave
    "harmonic_centrality_seeds",
    "item_item_cosine_parts",
    "misra_gries_heavy_hitters",
    "bootstrap_mean_ci_daily",
    "burrows_delta_sources",
    "wilcoxon_signed_rank_daily",
    "psi_value_drift",
    "sign_flip_permutation_test",
    "mutual_info_embedding_dims",
    # r11: HEADLINE completion (VERDICT r10 #2) — every registry query
    # is benched except the two documented training-loop exclusions
    # below; the unbenched set previously included 10 TPC-H shapes and
    # several dedup/ANN variants with no perf regression gate.
    # r12 additions
    "anf_hop_histogram_m64",
    "ansari_bradley_click_view",
    "effect_sizes_click_view",
    "partial_correlation_daily",
    "cronbachs_alpha_event_types",
    "rich_club_copurchase",
    "simpsons_paradox_check",
    "hilbert_curve_cells",
    # r11: HEADLINE completion continues below
    "kafka_cast_project",
    "json_parse_flatten",
    "base64_roundtrip",
    "null_filter",
    "split_year",
    "zset_explode",
    "distinct_segments",
    "users_intersect_customers",
    "customers_except_users",
    "ids_union_all",
    "customers_with_events_semi",
    "customers_without_events_anti",
    "orderby_limit_orders",
    "datetime_functions",
    "string_functions",
    "left_outer_join_orders",
    "full_outer_ids",
    "dedup_latest_event_per_user",
    "percentiles_exact",
    "approx_aggs",
    "regexp_functions",
    "date_arithmetic",
    "session_window_agg",
    "array_functions_embeddings",
    "exists_subquery_active_buyers",
    "in_subquery_error_users",
    "ngram_jaccard_pairs",
    "dedup_minhash_char_ngram",
    "hll_distinct_users",
    "dedup_simhash_planted",
    "dedup_embedding_cosine",
    "variant_shred_props",
    "runtime_filtered_join",
    "embedding_centroid_per_label",
    "stratified_split_counts",
    "ann_quantized_topk",
    "heavy_hitters_cms",
    "pii_redaction",
    "doc_repetition_stats",
    "mixture_sample_by_lang",
    "mixture_resample_epochs",
    "grouped_median_pandas",
    "multimodal_metadata",
    "group_concat_sorted",
    "cube_type_segment",
    "ntile_quartiles",
    "hash_sample_10pct",
    "unpivot_customer_metrics",
    "null_safe_equality",
    "misc_math_functions",
    "date_spine_zero_fill",
    "first_last_value_frames",
    "percent_rank_cume_dist",
    "stats_aggregates",
    "posexplode_tokens",
    "grouping_id_rollup",
    "dedup_exact_by_hash",
    "string_padding_functions",
    "nulls_ordering",
    "map_functions",
    "python_datasource_sim",
    "json_multi_extract",
    "risk_alert_bursts",
    "repeat_customer_revenue_share",
    "tpch_q4_order_priority",
    "tpch_q10_returned_item_revenue",
    "tpch_q12_priority_by_returnflag",
    "tpch_q14_promo_revenue",
    "tpch_q16_supplier_cnt",
    "tpch_q19_disjunctive_revenue",
    "mixture_sample_md5_threshold",
    "try_safe_arithmetic",
    "tpch_q13_customer_distribution",
    "tpch_q22_global_sales_opportunity",
    "tpch_q15_top_supplier",
    "tpch_q17_small_quantity_revenue",
    "image_decode_stats",
    # pca_top_component intentionally excluded: 80 fixed-point power-
    # iteration rounds are ~10 s of job-scheduling overhead at any SF
    # (the same class as the LBFGS exclusion below) — its cost is
    # measured by tests, not the query bench.
    # quality_classifier_scores intentionally excluded: it's model
    # TRAINING (15 LBFGS rounds ≈ 10 s of job-scheduling overhead at any
    # SF), not a query — benching it would drown the query signal.
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # TEST-ONLY subset knob (r13): the pytest bench smoke validates the
    # stdout contract, and a full 403-query run at sf0.001 was 13.5 min
    # of the suite's 41 — 1/3 of the driver's verify window. Unset (the
    # driver never sets it) the behavior is bit-identical to before;
    # set, HEADLINE is filtered to the named queries. No timed region
    # changes either way.
    headline = HEADLINE
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if only:
        wanted = {n.strip() for n in only.split(",") if n.strip()}
        unknown = sorted(wanted - set(HEADLINE))
        if unknown:
            # fail before the idle wait and the JVM: a silently dropped
            # name would print a "valid" run that timed nothing asked for
            sys.exit(
                "SPARK_GRAFT_BENCH_QUERIES names queries not in HEADLINE: "
                + ", ".join(unknown)
            )
        headline = [n for n in HEADLINE if n in wanted]
    # External-contention snapshot BEFORE the JVM exists: loadavg here
    # is other workloads only. Samples taken mid-run include the
    # bench's own threads and cannot distinguish a stolen core from
    # our own warm-up (the r8 quiet run read 5.4 right after its own
    # untimed pass on an otherwise idle box).
    start_load = os.getloadavg()[0]
    # Self-quieting (r11 VERDICT #1): two rounds running the driver
    # launched the official bench while prior JVMs were still winding
    # down (r10 loadavg 3.41, r11 5.74 — both `contended: true` despite
    # the builder closing on an idle box). Session discipline cannot fix
    # driver scheduling, so the bench defends itself: poll the 1-min
    # loadavg until it drops under 1.0 (bounded at ~5 min) BEFORE
    # creating the JVM, and record the wait in the artifact. If the cap
    # expires the load was genuinely external and `contended` stays
    # honest.
    idle_wait_sec = 0.0
    idle_cap = float(os.environ.get("SPARK_GRAFT_IDLE_WAIT_CAP", "300"))
    while start_load >= 1.0 and idle_wait_sec < idle_cap:
        time.sleep(10.0)
        idle_wait_sec += 10.0
        start_load = os.getloadavg()[0]
    spark = get_spark(
        app_name="stedi-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        # keep stdout clean: the driver parses the FINAL stdout line as the
        # bench JSON, and console progress bars (\r frames) were interleaved
        # into the captured stream in round-2/3 artifacts
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # Warm each plan at the smallest SF first: identical expressions →
    # identical generated code → codegen cache hits at the measured SF.
    # The timed numbers are steady-state throughput (what a long-running
    # cluster sees), not single-shot Janino compile latency.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name in headline:
            fn, _ = REGISTRY[name]
            fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
    # One UNTIMED pass at the measured SF: the first sf_dir execution
    # pays first-touch costs (page cache, JIT at real batch sizes) that
    # made timed pass 1 systematically ~2x pass 2 — which polluted the
    # pass-spread contention signal with warm-up, not box noise. After
    # this, the timed passes measure steady state and `contended`
    # means what it says.
    for name in headline:
        fn, _ = REGISTRY[name]
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception:
            pass  # the timed loop records the error
        spark.catalog.clearCache()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass

    # Python-worker revival (r11, the multimodal_features wobble root
    # cause): ~250 consecutive JVM-only queries leave the pyspark
    # daemon's idle worker pool cold (OS-level — Spark's own idle
    # timeout only logs and the pool is unbounded; measured: a pure-JVM
    # query after 70 s idle is unaffected, the first mapInPandas query
    # pays ~0.4 s, 2× its pin). The first Python-stage query of every
    # timed pass ate that revival, flagging an untouched sub-second
    # query in three consecutive rounds. Running two untimed identity
    # mapInPandas pings restores steady state (measured 0.405 s vs
    # 0.41 s warm after a 70 s idle + double ping).
    def _revive_python_workers() -> None:
        def _touch(it):
            import numpy as np
            import pandas as pd

            for pdf in it:
                yield pd.DataFrame(
                    {"id": pdf["id"], "v": np.ones(len(pdf))}
                )

        for _ in range(2):
            try:
                spark.range(2 * cpus).repartition(cpus).mapInPandas(
                    _touch, "id long, v double"
                ).write.format("noop").mode("overwrite").save()
            except Exception:
                return

    # N timed passes, min per query: single-shot numbers on a shared
    # box swing 2-4× from scheduler noise; the min is the reproducible
    # steady-state figure. All passes are recorded so consumers can see
    # the spread (a large max/min ratio = the box was contended).
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
    passes: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    load_samples = [os.getloadavg()[0]]
    for _pass in range(n_passes):
        _revive_python_workers()
        for qi, name in enumerate(headline):
            fn, _ = REGISTRY[name]
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a broken query must not kill the bench line
                print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
                errors[name] = str(exc).splitlines()[0][:200]
                continue
            passes.setdefault(name, []).append(round(time.perf_counter() - t0, 3))
            # drop persisted intermediates (LSH tables, IVF cells) so later
            # queries aren't perturbed by earlier queries' cached memory
            spark.catalog.clearCache()
            # Periodic quiesce (r11 VERDICT #2): the two persist-heavy LSH
            # queries measured 1.8-2.0x of pin IN-SUITE but ~1.1x isolated
            # (judge-verified) — late-suite heap/GC debt from ~300 earlier
            # queries, not plan regressions. Shed that debt continuously:
            # a driver full GC every 40 queries (untimed, between queries)
            # keeps old-gen pressure flat so in-suite ~= isolated. ~10
            # GCs/pass at <1 s each — outside every per-query timer.
            if (qi + 1) % 40 == 0:
                try:
                    import gc as _gc

                    _gc.collect()
                    spark.sparkContext._jvm.System.gc()
                except Exception:
                    pass
        # localCheckpoint blocks (iterative ops, ranking._pin) are NOT
        # covered by clearCache; Python gc detaches any cyclic py4j
        # refs, then a driver GC lets the ContextCleaner release the
        # dereferenced checkpoint/broadcast/shuffle state between
        # passes (verified drains storage to 0: NOTES.md "r9 end-state",
        # `_pin release`)
        try:
            import gc as _gc

            _gc.collect()
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        load_samples.append(os.getloadavg()[0])

    timings = {name: min(ts) for name, ts in passes.items()}

    # --- per-query regression gate vs the PINNED quiet baseline (r9) ---
    # BENCH_QUIET_BASELINE.json is the committed quiet sf0.1 reference
    # (r8: 221 queries, min-of-3, contended:false, loadavg 0.19). It is
    # written only by hand — bench.py NEVER writes it — so a contended
    # driver run can't clobber the reference the way r8's run clobbered
    # the working-tree BENCH_DETAIL.json. Gate: flag any query >2× its
    # quiet-baseline time (with a 0.25 s absolute floor so sub-100 ms
    # scheduler jitter can't flag), only when SFs match.
    qbase_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_QUIET_BASELINE.json"
    )
    regressions: dict[str, float] = {}
    isolated_recheck: dict[str, float] = {}
    try:
        with open(qbase_path) as fh:
            qbase_doc = json.load(fh)
        qbase = (
            qbase_doc.get("queries", {})
            if str(qbase_doc.get("sf")) == sf_dir.rstrip("/").rsplit("sf", 1)[-1]
            else {}
        )
    except (OSError, ValueError):
        qbase = {}
    watch: dict[str, float] = {}
    for name, t in timings.items():
        b = qbase.get(name)
        if not (b and b > 0):
            continue
        if t > 2.0 * b and t - b > 0.25:
            regressions[name] = round(t / b, 2)
        elif t > 1.8 * b and t - b > 0.25:
            # Trend arm (r11 VERDICT #2): 1.8-2.0x of pin is the band
            # where a real ~1.5x plan regression could hide under the
            # flat 2x gate (dedup_minhash_lsh sat at 1.97x for three
            # runs before the root cause was found). Watch-flagged
            # queries get the same quiesced isolated recheck as hard
            # flags; isolated ~= pin -> context, isolated still high ->
            # investigate before the gate ever trips.
            watch[name] = round(t / b, 2)
    # Isolated-vs-in-suite drift (r8 VERDICT #7): a >2× flag can mean a
    # plan regression OR suite-context pressure (GC debt, codegen cache
    # churn from 200 earlier queries). Re-measure each flagged query in
    # a quiesced JVM (caches cleared, full GC, min-of-2): if the
    # isolated number is back near baseline the flag was context, not
    # plan. Costs nothing on a clean run (only flagged queries re-run).
    if regressions or watch:
        try:
            import gc as _gc

            _gc.collect()
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        _revive_python_workers()  # rechecks must not re-pay revival
        for name in list(regressions) + list(watch):
            fn, _ = REGISTRY[name]
            ts2: list[float] = []
            for _ in range(2):
                t0 = time.perf_counter()
                try:
                    fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                except Exception:
                    break
                ts2.append(time.perf_counter() - t0)
                spark.catalog.clearCache()
            if ts2:
                isolated_recheck[name] = round(min(ts2), 3)
    # contention markers: 1-min loadavg sampled around each pass (the
    # bench itself contributes ≤ cpus), plus the worst cross-pass
    # max/min ratio — quiet-box runs sit near 1.0; >1.5 means another
    # workload was stealing cores and round-over-round comparison of
    # this JSON is unreliable.
    spread = max(
        (max(ts) / min(ts) for ts in passes.values() if min(ts) > 0), default=1.0
    )
    # Aggregate (time-weighted) spread: scheduler jitter on a 0.2 s query
    # can hit 2× without meaning anything, so the spread signal keys on
    # the whole-suite ratio — a genuinely contended box inflates every
    # pass (~1.4× uniform in round-2's driver runs), a quiet one sits
    # near 1.0 even when one tiny query wobbles.
    agg_spread = (
        sum(max(ts) for ts in passes.values())
        / max(sum(min(ts) for ts in passes.values()), 1e-9)
        if passes
        else 1.0
    )
    # `contended` = ANOTHER workload was competing, making round-over-
    # round comparison unreliable. Two signals: (a) pre-JVM loadavg —
    # the direct external-load measurement; (b) a very large aggregate
    # spread (>2×, the uniform inflation a stolen-core run shows).
    # Intra-JVM warm-up alone reached agg_spread 1.53 min-of-3 on a
    # VERIFIED-idle box (r8: pass sums 273/257/237, declining JIT/GC
    # warm-up), so the old >1.3 spread-only cutoff misfired; the min-
    # of-passes numbers it flagged were in fact reproducible quiet.
    # r10: a run starting at loadavg 2.95 on the 32-cpu box slipped
    # under the old max(2.0, 0.1*cpus)=3.2 arm and produced 25 spurious
    # >2x flags (uniform 1.55x inflation; isolated rechecks cleared
    # them) — the per-core allowance was wrong for single-JVM benches
    # where ANY competing work steals the same cores. Flat 2.0.
    contended = start_load > 2.0 or agg_spread > 2.0
    failed = sorted(set(errors) - set(timings))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "total_sec",
        # a failure must DEGRADE the metric, never improve it: with
        # any query failed the headline value is null (a sum over
        # fewer queries would look BETTER than a clean round)
        "value": round(sum(timings.values()), 3) if not failed else None,
        "unit": "sec",
        "queries": timings,
        "failed": failed,
        "n_ok": len(timings),
        "n_requested": len(headline),
        "contended": contended,
        "start_loadavg_1m": round(start_load, 2),
        "idle_wait_sec": round(idle_wait_sec, 1),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # Bulky diagnostics (all passes, load samples, spreads) go to a side
    # file: round-3's stdout JSON carried them inline, grew past the
    # driver's line-capture limit, and came back `parsed: null`. The
    # stdout contract is ONE compact final line.
    detail = dict(
        result,
        passes=passes,
        errors=errors,
        n_passes=n_passes,
        loadavg_1m=[round(x, 2) for x in load_samples],
        max_pass_spread=round(spread, 3),
        agg_pass_spread=round(agg_spread, 3),
        # >2× flags vs BENCH_QUIET_BASELINE.json (ratio per flagged
        # query), plus each flag's quiesced-JVM re-measure: isolated ≈
        # baseline → suite-context pressure; isolated still >2× → a
        # real plan regression.
        regressions_vs_quiet=regressions,
        watch_vs_quiet=watch,
        isolated_recheck=isolated_recheck,
    )
    try:
        # SPARK_GRAFT_DETAIL_PATH redirects the side file (the pytest
        # bench smoke was silently clobbering the committed sf0.1 detail
        # with an sf0.001 run before this). The default path is keyed on
        # the core count: the r12 driver's 8-core scaling run overwrote
        # the 32-core run's gate detail (regressions_vs_quiet flags were
        # 8-core times judged against 32-core pins). BENCH_DETAIL.json
        # stays the canonical 32-core artifact; other core counts land
        # in BENCH_DETAIL_c{cpus}.json.
        default_name = (
            "BENCH_DETAIL.json" if cpus == 32 else f"BENCH_DETAIL_c{cpus}.json"
        )
        with open(
            os.environ.get(
                "SPARK_GRAFT_DETAIL_PATH",
                os.path.join(
                    os.path.dirname(os.path.abspath(__file__)), default_name
                ),
            ),
            "w",
        ) as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass
    spark.stop()
    print(json.dumps(result, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
