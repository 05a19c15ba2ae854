package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{...}}. The headline set
  * covers the full registry. The exact-Jaccard audit tier (q41 sweep,
  * q100 prefix join) runs on its CERTIFIED sampled contract (deterministic
  * 0.4 md5 doc sample, 'audit:' salt) — this synthetic corpus is
  * near-worst-case for exact methods (10.3 M of 12.5 M doc pairs share a
  * shingle at sf0.1), and at scale the exhaustive tier's role is sampled
  * ground-truth audits anyway; q42 MinHash / q66 band-join are the
  * full-corpus paths, and the unsampled operators stay spec'd + soaked.
  */
object Bench {

  /** Per-family representative queries, tractable at bench scale. */
  val headline: Seq[String] = Seq(
    "q01_pricing_summary", "q03_top_revenue_orders", "q05_nation_revenue",
    "q07_semi_anti_customers", "q08_top_orders_per_customer",
    "q09_distinct_parts", "q10_events_minute_agg", "q11_user_sessions",
    "q20_boxcar_smooth", "q21_car_trimmed_mean", "q22_zscore_baseline",
    "q23_amplitude_phase", "q24_trim_scale", "q25_channel_metadata_join",
    "q26_band_average",
    "q30_resample", "q31_notch", "q32_wavelet_amplitude", "q33_pipeline_high_gamma",
    "q34_synthetic_source",
    "q35_wavelet_phase", "q36_streaming_windowed_wavelet",
    "q37_streaming_crossfade_stitch", "q38_band_metadata", "q39_hamming_kernel",
    "q40_dedup_exact", "q41_ngram_jaccard", "q42_minhash_lsh", "q43_simhash",
    "q44_embedding_stats", "q45_cosine_topk", "q46_token_count", "q47_language_id",
    "q48_quality_score", "q49_fingerprint", "q50_multimodal_features",
    "q51_cosine_lsh_pairs", "q52_ivf_topk", "q53_dup_clusters",
    "q54_embedding_dedup", "q55_streaming_event_agg",
    "q56_streaming_running_stats",
    "q57_decontamination", "q58_repetition_metrics", "q59_mixture_sample",
    "q60_sequence_pack", "q61_vocabulary", "q62_curation_pipeline",
    "q63_stratified_sample", "q64_streaming_dedup", "q65_substring_dedup",
    "q66_minhash_decontamination", "q67_curation_report",
    "q68_audio_stats", "q69_frame_fingerprints",
    "q70_pii_redaction", "q71_domain_rollup", "q72_embedding_quantize",
    "q73_streaming_pii_scrub", "q74_domain_quality",
    "q75_cluster_quality_keeper", "q76_bpe_tokenize", "q77_bpe_sequence_pack",
    "q78_streaming_minhash_dedup", "q79_zipf_spectrum", "q80_int8_topk",
    "q81_bloom_decontamination", "q82_token_budget_mixture",
    "q83_count_min_heavy_hitters", "q84_streaming_count_min",
    "q85_kmv_distinct_trigrams", "q86_tfidf_keywords", "q87_asof_view_click",
    "q88_range_join_error_clicks", "q89_doc_chunking", "q90_bigram_coverage",
    "q91_value_quantiles", "q92_cube_pricing", "q93_salted_source_join",
    "q94_weighted_sample", "q95_pmi_collocations", "q96_robust_outliers",
    "q97_rolling_features", "q98_funnel_conversion", "q99_json_props_extract",
    "q100_jaccard_prefix_join", "q101_histogram_quantiles", "q102_streaming_histogram_quantiles",
    "q103_streaming_sessions", "q104_streaming_interval_join",
    "q105_rolling_anomaly", "q106_streaming_native_dedup",
    "q107_stream_static_enrich", "q108_int8_ivf_topk", "q109_ngram_novelty",
    "q110_inverted_index", "q111_embedding_gramian", "q112_pca_projection",
    "q113_semantic_buckets", "q114_bm25_rank", "q115_bucketed_join",
    "q116_zorder_stats", "q117_holdout_split", "q118_gapfill_census",
    "q119_hll_distinct_trigrams", "q120_feature_hash_census",
    "q121_chi2_independence", "q122_hll_by_source", "q123_cdc_compaction",
    "q124_behavior_bigrams", "q125_bloom_pruned_join",
    "q126_langid_confusion", "q127_kmv_join_estimate", "q128_fk_audit",
    "q129_table_profile", "q130_blocked_fuzzy_match",
    "q131_time_weighted_avg", "q132_ship_latency", "q133_market_basket",
    "q134_pivot_event_matrix", "q135_set_operations",
    "q136_value_decile_bins", "q137_above_mean_screen",
    "q138_streaming_compaction", "q139_winsorized_stats",
    "q140_user_trends", "q141_scd2_intervals", "q142_merge_upsert",
    "q143_triangle_census", "q144_part_pagerank",
    "q145_retention_cohorts", "q146_growth_accounting", "q147_ohlc_bars",
    "q148_sorted_neighborhood", "q149_centroid_similarity",
    "q150_unpivot_metrics", "q151_lasttouch_attribution",
    "q152_rolling_actives", "q153_streaming_ohlc",
    "q154_sequence_patterns", "q155_activity_bitmaps",
    "q156_conversion_latency_quantiles", "q157_key_skew_report",
    "q158_incremental_rollup", "q159_index_term_query",
    "q160_topk_with_ties", "q161_debounce_census",
    "q162_revenue_reconciliation", "q163_nested_export_fingerprint",
    "q164_welch_psd", "q165_lag_xcorr", "q166_decayed_engagement",
    "q167_sssp_reach", "q168_cusum_drift", "q169_compaction_plan",
    "q170_trending_windows", "q171_coherence", "q172_vocab_drift",
    "q173_type_correlation", "q174_streaming_decayed",
    "q175_itemset_triples", "q176_global_revenue_rank",
    "q177_fd_violations", "q178_k_anonymity", "q179_readability",
    "q180_quantile_normalize", "q181_churn_census", "q182_ab_test",
    "q183_image_tiles", "q184_bootstrap_ci", "q185_column_entropy",
    "q186_streaming_ab_test", "q187_weighted_quantiles",
    "q188_conversion_path_census", "q189_date_dimension",
    "q190_embedding_profile", "q191_sql_api_unshipped_revenue",
    "q192_envelope_correlation", "q193_funnel_windows",
    "q194_interval_concurrency", "q195_hierarchy_rollup",
    "q196_event_disorder_census", "q197_degree_distribution",
    "q198_boxplot_bands", "q199_revenue_mom",
    "q200_proration_allocation", "q201_key_gap_islands",
    "q202_pareto_concentration", "q203_linear_attribution",
    "q204_rfm_segments", "q205_cohort_ltv",
    "q206_streaming_trending", "q207_instantaneous_frequency",
    "q208_survival_curve", "q209_seasonality_index",
    "q210_segment_overlap", "q211_word_burstiness",
    "q212_graph_assortativity", "q213_heaps_law",
    "q214_benford_audit", "q215_rollup_hierarchy",
    "q216_geo_neighbor_pairs", "q217_transition_entropy",
    "q218_kcore_peel", "q219_spearman_balance_spend",
    "q220_mann_kendall", "q221_local_clustering",
    "q222_event_acf", "q223_ks_two_sample",
    "q224_rrf_fusion", "q225_streaming_transitions",
    "q226_theil_sen", "q227_profile_distance", "q228_information_gain",
    "q229_user_kl_anomaly", "q230_qq_shift", "q231_blocking_recall",
    "q232_changepoint_split", "q233_lead_lag_matrix",
    "q234_ols_closed_form", "q235_grid_density_clusters",
    "q236_kmeans_grid", "q237_containment_join", "q238_aqp_sample_estimate",
    "q239_streaming_aqp", "q240_minhash_containment_audit",
    "q241_exclusive_shingles", "q242_cotemporal_lift", "q243_dedup_savings",
    "q244_phase_amplitude_coupling", "q245_hg_burst_census",
    "q246_erp_epoch_average", "q247_spectral_edge", "q248_signal_qc",
    "q249_ols_holdout_eval", "q250_logistic_newton",
    "q251_naive_bayes", "q252_decision_stump",
    "q253_welch_ttest", "q254_mann_whitney", "q255_psi_drift",
    "q256_kruskal_wallis", "q257_cuped_variance_reduction",
    "q258_streaming_psi", "q259_meta_analysis", "q260_theil_inequality",
    "q261_gini_by_nation",
    "q262_poisson_bootstrap", "q263_target_encoding",
    "q264_negative_sampling", "q265_matryoshka_audit",
    "q266_jl_distortion", "q267_l_diversity", "q268_dp_histogram",
    "q269_cohens_kappa", "q270_streaming_bootstrap",
    "q271_langid_calibration", "q272_knn_label_consistency",
    "q273_geofence_rollup", "q274_isolation_grid",
    "q275_consistent_hash_rebalance", "q276_seasonal_naive_mase",
    "q277_skyline_parts", "q278_join_cardinality_audit",
    "q279_bpe_learn_merges", "q280_selectivity_audit",
    "q281_t_closeness", "q282_feature_store_pit", "q283_mutual_best_match",
    "q284_markov_attribution", "q285_snapshot_diff", "q286_zonemap_audit",
    "q287_streaming_feature_pit", "q288_recsys_hit_rate",
    "q289_linear_interpolation", "q290_pinball_grid_search",
    "q291_dtw_distance", "q292_shapley_attribution", "q293_diff_in_diff",
    "q294_conformal_calibration", "q295_qini_uplift",
    "q296_raking_calibration", "q297_als_halfstep",
    "q298_perceptual_hash", "q299_holt_smoothing",
    "q300_cdc_chunk_dedup", "q301_process_conformance",
    "q302_good_turing", "q303_dsv2_source_scan",
    "q304_blame_suppliers", "q305_top_supplier", "q306_ndcg_eval",
    "q307_ivf_recall_audit", "q308_streaming_scd2",
    "q309_block_bootstrap", "q310_prefix_sum_cube", "q311_srm_gate",
    "q312_joinability_discovery", "q313_rake_keywords",
    "q314_forgotten_audit", "q315_ivf_serve_batch", "q316_capped_sessions",
    "q317_stem_census", "q318_dsv2_sink_roundtrip",
    "q319_brand_modularity", "q320_two_hop_features", "q321_golden_record",
    "q322_bitemporal_snapshot", "q323_textrank_keywords",
    "q324_streaming_capped_sessions",
    "q325_slo_burn_rate", "q326_dpp_partitioned_join",
    "q327_fifo_allocation", "q328_lsh_planner", "q329_supply_share_gate",
    "q330_streaming_outer_interval_join",
    "q331_schema_evolution", "q332_isotonic_fit",
    "q333_streaming_sink_roundtrip", "q334_sliding_hll_actives",
    "q335_mmr_rerank", "q336_personalized_pagerank",
    "q337_source_overlap_matrix", "q338_streaming_hll",
    "q339_hits_bipartite", "q340_adaptive_ivf_audit",
    "q341_late_data_audit", "q342_cc_distributed_tier",
    "q343_rocksdb_state_dedup", "q344_tws_state_dedup",
    "q345_orc_roundtrip", "q346_sssp_distributed_tier",
    "q347_kcore_distributed_tier", "q348_dq_expectations",
    "q349_fellegi_sunter_em", "q350_pq_recall_audit",
    "q351_agg_pushdown_audit", "q352_ivfpq_serve",
    "q353_tws_map_state_hist", "q354_tws_list_state_sessions",
    "q355_randomized_response", "q356_unigram_lm_tokenizer",
    "q357_shot_boundaries", "q358_hard_negative_mining",
    "q359_observed_expectations",
    "q360_streaming_full_outer_interval_join",
    "q361_spj_channel_join", "q362_adaptive_ivfpq_audit",
    "q363_spj_stored_join", "q364_incremental_neardup",
    "q365_streaming_neardup_pairs", "q366_minhash_lsh_sparse",
    "q367_incremental_neardup_stored",
    "q368_window_stitch_roundtrip", "q369_store_naming_contract",
    "q370_store_scan_legacy_strip", "q371_nyquist_guards",
    "q372_folder_driver",
    "q373_semdedup", "q374_cluster_balanced_sample",
    "q375_semantic_decontamination", "q376_incremental_semdedup",
    "q377_streaming_semdedup_pairs", "q378_semdedup_documents",
    "q379_semdedup_yield", "q380_semdedup_approx_exact",
    "q381_incremental_semdedup_stored", "q382_semdedup_sampled_train",
    "q383_streaming_semdedup_approx", "q384_containment_join_sparse",
    "q385_arith_canary", "q386_f32_storage_contract")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // a file left by an earlier run must never read as this run's results
    val queriesFile = java.nio.file.Paths.get("BENCH_LAST_RUN.json")
    java.nio.file.Files.deleteIfExists(queriesFile)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // keep the assembly aggregates hash-based: the default 128-key
      // threshold silently downgrades ObjectHashAggregate to sort-based
      // aggregation once a partition holds >128 groups (e.g. the
      // channel x hour-bucket assembly at sf0.1), sorting every sample row
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qs = SparkEntry.queries
    // untimed warmup: pay JVM/codegen/parquet-footer costs once, not inside
    // the first measured query
    try {
      qs("q01_pricing_summary")(spark, sfDir).count()
      qs("q46_token_count")(spark, sfDir).count()
    } catch { case _: Throwable => () }
    // best-of-2: each query's first run can pay one-off costs (codegen of
    // its plan shape, parquet footer reads, AQE re-plan); the minimum is the
    // steady-state number a warm cluster would see
    // local-iteration filter: SPARK_GRAFT_ONLY=q01_...,q42_... benches a
    // subset; the driver never sets it, so its runs stay full-headline
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val results = headline.filter(qs.contains)
      .filter(n => only.forall(_.contains(n))).map { name =>
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val n = try qs(name)(spark, sfDir).count() catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            -1L
        }
        ((System.nanoTime() - t0) / 1e9, n)
      }
      // a failed run's latency is analysis-error time, not work: never let
      // it masquerade as a timing. Only successful runs compete for best-of.
      val ok = runs.filter(_._2 >= 0)
      name -> (if (ok.isEmpty) None else Some(ok.minBy(_._1)._1))
    }
    val qJson = results.map {
      case (k, Some(sec)) => s""""$k":$sec"""
      case (k, None) => s""""$k":null"""
    }.mkString("{", ",", "}")
    val errJson = results.collect { case (k, None) => s""""$k"""" }
      .mkString("[", ",", "]")
    // the driver contract requires a numeric "value", so the total is the
    // sum over SUCCESSFUL queries — which shrinks when a query breaks.
    // Consumers comparing totals must check "errors" first: a non-empty
    // errors array makes the totals incomparable, never an improvement.
    val total = results.flatMap(_._2).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qJson,"errors":$errJson,"sf":"$sfDir"}"""
    println(line)
    // Durability: the driver captures stdout through a bounded tail window
    // (~2000 chars), and at 350+ queries the one-line JSON outgrows it —
    // every BENCH_r*.json since r14 archived "parsed": null. Two additive
    // fixes (r19, per the r18 verdict):
    //  1. persist the full per-query JSON to BENCH_LAST_RUN.json (NOT
    //     BENCH_LOCAL.json — that file is the committed quiet-host
    //     reference, and bench runs kept clobbering it);
    //  2. print a compact summary as the LAST stdout line, well under the
    //     capture window, so a bounded tail always ends with one complete,
    //     parseable JSON line carrying the total and the error list.
    // The full one-line contract above is unchanged and printed first.
    val queriesFileJson =
      try {
        java.nio.file.Files.writeString(queriesFile, line + "\n")
        s""""$queriesFile""""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $queriesFile write failed: ${e.getMessage}")
        "null"
      }
    val nQ = results.size
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":$nQ,"errors":$errJson,"sf":"$sfDir","queries_file":$queriesFileJson}""")
    spark.stop()
  }
}
