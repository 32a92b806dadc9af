package graft

import graft.ext.{Classifier, Dedup, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.load.Warehouse
import graft.ops.{Analytics, Events, Graph, Relational, Skew, Stats, TpchSql}
import graft.orchestrate.Orchestrator
import graft.streaming.Streams

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — query registry + DuckDB oracle SQL.
  *
  * Conventions that make the hash-compare stable across engines:
  *  - aggregate doubles go through exact DECIMAL sums then one cast to
  *    double (Transforms.dsum) so aggregation order cannot shift ulps;
  *  - integer aggregates are BIGINT on both sides (DuckDB SUM(int) is
  *    HUGEINT, so oracles CAST it);
  *  - outputs carry a total ordering and never expose raw timestamps
  *    (formatted strings instead);
  *  - column names are aliased identically in both the Spark plan and the
  *    oracle SQL.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.qJoinRegionRevenue(Tables(spark, "/root/testdata/sf0.001"))

  private def q(f: Tables => DataFrame): (SparkSession, String) => DataFrame =
    (spark, dir) => f(Tables(spark, dir))

  /** Reference pipeline end-to-end: runs the six deterministic generator
    * sources through clean/transform/coerce/load into a temp warehouse and
    * returns the health table (deterministic columns only). No SQL oracle —
    * generators exist only in this engine (rows-only check). The health
    * rows are driver-side once the run ends, so the warehouse is deleted
    * before this returns.
    */
  private def pipelineHealth(t: Tables): DataFrame = {
    val spark = t.spark
    val run = Engine.withTempDir(spark, "graft_wh") { root =>
      new Orchestrator(spark, Warehouse(spark, root)).runPipeline("verify_run", parallel = true)
    }
    import spark.implicits._
    run.metrics
      .map(m => (m.sourceName, m.sourceType, m.status, m.recordsIn, m.recordsOut))
      .toDF("source_name", "table_name", "status", "records_in", "records_out")
      .orderBy("source_name")
  }

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // — reference-core ETL semantics on real tables —
    "etl_sales_pipeline" -> q(Relational.etlSalesPipeline),
    "etl_churn_binning" -> q(Relational.etlChurnBinning),
    "etl_finance_netflow" -> q(Relational.etlFinanceNetflow),
    "pipeline_health" -> q(pipelineHealth),
    // — relational surface —
    "q1_agg" -> q(Relational.q1Agg),
    "q_join_region_revenue" -> q(Relational.qJoinRegionRevenue),
    "q_window_topk" -> q(Relational.qWindowTopk),
    "q_running_total" -> q(Relational.qRunningTotal),
    "q_sort_limit" -> q(Relational.qSortLimit),
    "q_distinct" -> q(Relational.qDistinct),
    "q_intersect" -> q(Relational.qIntersect),
    "q_except" -> q(Relational.qExcept),
    "q_anti_join" -> q(Relational.qAntiJoin),
    "q_semi_join" -> q(Relational.qSemiJoin),
    "q_full_outer" -> q(Relational.qFullOuter),
    "q_rollup" -> q(Relational.qRollup),
    "q_cube" -> q(Relational.qCube),
    "q_percentiles" -> q(Relational.qPercentiles),
    "q_count_distinct" -> q(Relational.qCountDistinct),
    "q_conditional_agg" -> q(Relational.qConditionalAgg),
    "q_pivot_lang" -> q(Relational.qPivotLang),
    "q_string_funcs" -> q(Relational.qStringFuncs),
    "q_date_funcs" -> q(Relational.qDateFuncs),
    "q_above_customer_avg" -> q(Relational.qAboveCustomerAvg),
    "q_range_join_pairs" -> q(Relational.qRangeJoinPairs),
    "q_range_join_auto" -> q(Relational.qRangeJoinAuto),
    "q_group_having" -> q(Relational.qGroupHaving),
    "q_range_frame" -> q(Relational.qRangeFrame),
    "q_ignore_nulls" -> q(Relational.qIgnoreNulls),
    "q_sql_frontend" -> q(Relational.qSqlFrontend),
    "q_lateral_topn" -> q(Relational.qLateralTopn),
    "q_window_lag" -> q(Relational.qWindowLag),
    "q_first_last" -> q(Relational.qFirstLast),
    "q_array_agg" -> q(Relational.qArrayAgg),
    "q_rank_funcs" -> q(Relational.qRankFuncs),
    "q_date_arith" -> q(Relational.qDateArith),
    "q_unpivot_measures" -> q(Analytics.qUnpivotMeasures),
    "q_yoy_growth" -> q(Analytics.qYoyGrowth),
    "q_window_shares" -> q(Analytics.qWindowShares),
    "q_profile_columns" -> q(Analytics.qProfileColumns),
    "q_gap_fill" -> q(Analytics.qGapFill),
    "q_bloom_prefilter" -> q(Analytics.qBloomPrefilter),
    "q_sql_q5" -> q(Analytics.qSqlQ5),
    "q_sql_q1" -> q(TpchSql.run(_, TpchSql.q1)),
    "q_sql_q3" -> q(TpchSql.run(_, TpchSql.q3)),
    "q_sql_q4" -> q(TpchSql.run(_, TpchSql.q4)),
    "q_sql_q7" -> q(TpchSql.run(_, TpchSql.q7)),
    "q_sql_q8" -> q(TpchSql.run(_, TpchSql.q8)),
    "q_sql_q12" -> q(TpchSql.run(_, TpchSql.q12)),
    "q_sql_q13" -> q(TpchSql.run(_, TpchSql.q13)),
    "q_sql_q15" -> q(TpchSql.run(_, TpchSql.q15)),
    "q_sql_q17" -> q(TpchSql.run(_, TpchSql.q17)),
    "q_sql_q21" -> q(TpchSql.run(_, TpchSql.q21)),
    "q_sql_q2" -> q(TpchSql.run(_, TpchSql.q2)),
    "q_sql_q9" -> q(TpchSql.run(_, TpchSql.q9)),
    "q_sql_q11" -> q(TpchSql.run(_, TpchSql.q11)),
    "q_sql_q16" -> q(TpchSql.run(_, TpchSql.q16)),
    "q_sql_q20" -> q(TpchSql.run(_, TpchSql.q20)),
    "q_sql_named_window" -> q(TpchSql.run(_, TpchSql.namedWindow)),
    "q_sql_grouping" -> q(TpchSql.run(_, TpchSql.groupingSets)),
    "q_sql_setops" -> q(TpchSql.run(_, TpchSql.setops)),
    "q_sql_recursive" -> q(TpchSql.run(_, TpchSql.recursive)),
    "q_sql_pivot" -> q(TpchSql.run(_, TpchSql.pivotSpark)),
    "q_sql_unpivot" -> q(TpchSql.run(_, TpchSql.unpivotSpark)),
    "q_moments" -> q(Stats.qMoments),
    "q_dedup_incremental" -> q(Dedup.qDedupIncremental(_)),
    "q_entity_resolution" -> q(Dedup.qEntityResolution(_)),
    "q_kaplan_meier" -> q(Stats.qKaplanMeier),
    "q_item_cf" -> q(Analytics.qItemCf(_)),
    "q_multi_regression" -> q(Stats.qMultiRegression),
    "q_rolling_corr" -> q(Stats.qRollingCorr(_)),
    "q_pareto_front" -> q(Analytics.qParetoFront),
    "q_window_distinct" -> q(Analytics.qWindowDistinct),
    "q_welch_ttest" -> q(Stats.qWelchTtest),
    "q_paired_ttest" -> q(Stats.qPairedTtest),
    "q_permutation_test" -> q(Stats.qPermutationTest(_)),
    "q_qq_drift" -> q(Stats.qQqDrift),
    "q_anova" -> q(Stats.qAnova),
    "q_tukey_hsd" -> q(Stats.qTukeyHsd),
    "q_cronbach_alpha" -> q(Stats.qCronbachAlpha),
    "q_cohens_kappa" -> q(Stats.qCohensKappa),
    "q_k_anonymity" -> q(Sampling.qKAnonymity(_)),
    "q_dp_release" -> q(Sampling.qDpRelease(_)),
    "q_jackknife_ci" -> q(Stats.qJackknifeCi),
    "q_mannwhitney" -> q(Stats.qMannWhitney),
    "q_ks_test" -> q(Stats.qKsTest),
    "q_kendall_tau" -> q(Stats.qKendallTau),
    "q_decision_stump" -> q(Stats.qDecisionStump),
    "q_score_auc" -> q(Stats.qScoreAuc),
    "q_fd_audit" -> q(Analytics.qFdAudit),
    "q_interval_overlap" -> q(Events.qIntervalOverlap),
    "q_pagerank" -> q(Graph.qPagerank(_)),
    "q_hits" -> q(Graph.qHits(_)),
    "q_label_prop" -> q(Graph.qLabelProp(_)),
    "q_kcore" -> q(Graph.qKcore(_)),
    "q_hierarchy_flatten" -> q(Graph.qHierarchyFlatten(_)),
    "q_sssp" -> q(Graph.qSssp(_)),
    "q_link_prediction" -> q(Graph.qLinkPrediction(_)),
    "q_cross_corr" -> q(Events.qCrossCorr(_)),
    "q_slo_burn" -> q(Events.qSloBurn),
    "q_cuped" -> q(Events.qCuped),
    "q_changepoint" -> q(Events.qChangepoint),
    "q_lang_confusion" -> q(TextAnalysis.qLangConfusion),
    "q_mann_kendall" -> q(Stats.qMannKendall),
    "q_theil_sen" -> q(Stats.qTheilSen),
    "q_cramers_v" -> q(Stats.qCramersV),
    "q_burstiness" -> q(Events.qBurstiness(_)),
    "q_seasonal_strength" -> q(Events.qSeasonalStrength),
    "q_ttr_curve" -> q(TextAnalysis.qTtrCurve(_)),
    "q_resource_alloc" -> q(Graph.qResourceAlloc(_)),
    "q_adamic_adar" -> q(Graph.qAdamicAdar(_)),
    "q_levene" -> q(Stats.qLevene),
    "q_wilcoxon" -> q(Stats.qWilcoxon),
    "q_lorenz" -> q(Stats.qLorenz),
    "q_hash_split" -> q(Sampling.qHashSplit(_)),
    "q_shard_skew" -> q(Sampling.qShardSkew(_)),
    "q_mutual_info" -> q(TextAnalysis.qMutualInfo),
    "q_dim_stats" -> q(Similarity.qDimStats),
    "q_variant_agg" -> q(Events.qVariantAgg),
    "q_rec_eval" -> q(Analytics.qRecEval(_)),
    "q_ab_power" -> q(Events.qAbPower),
    "q_hard_negatives" -> q(Similarity.qHardNegatives(_)),
    "q_multimodal_resize" -> q(Multimodal.qMultimodalResize(_)),
    "q_mlm_mask" -> q(TextAnalysis.qMlmMask),
    "q_surprisal_curve" -> q(TextAnalysis.qSurprisalCurve(_)),
    "q_ltv_curve" -> q(Analytics.qLtvCurve),
    "q_rec_ndcg" -> q(Analytics.qRecNdcg(_)),
    "q_rec_mrr" -> q(Analytics.qRecMrr(_)),
    "q_rec_map" -> q(Analytics.qRecMap(_)),
    "q_embed_drift" -> q(Similarity.qEmbedDrift(_)),
    "q_clustering_coeff" -> q(Graph.qClusteringCoeff(_)),
    "q_assortativity" -> q(Graph.qAssortativity),
    "q_ab_srm" -> q(Events.qAbSrm),
    "q_silhouette" -> q(Similarity.qSilhouette),
    "q_hill_tail" -> q(Stats.qHillTail(_)),
    "q_did" -> q(Events.qDid(_)),
    "q_dominant_period" -> q(Events.qDominantPeriod(_)),
    "q_tokenizer_fertility" -> q(TextAnalysis.qTokenizerFertility),
    "q_conversion_window" -> q(Events.qConversionWindow(_)),
    "q_dup_size_hist" -> q(Dedup.qDupSizeHist(_)),
    "q_node_jaccard" -> q(Graph.qNodeJaccard(_)),
    "q_partial_corr" -> q(Stats.qPartialCorr),
    "q_stream_srm" -> q(Streams.drainSrm),
    "q_mahalanobis" -> q(Stats.qMahalanobis(_)),
    "q_modularity" -> q(Graph.qModularity(_)),
    "q_bfs_hops" -> q(Graph.qBfsHops(_)),
    "q_triangle_count" -> q(Graph.qTriangleCount),
    "q_zorder_layout" -> q(Analytics.qZorderLayout(_)),
    "q_skipping_audit" -> q(Analytics.qSkippingAudit(_)),
    "q_graph_profile" -> q(Graph.qGraphProfile),
    "q_dup_spans" -> q(TextAnalysis.qDupSpans(_)),
    "q_span_rewrite" -> q(TextAnalysis.qSpanRewrite(_)),
    "q_topic_scores" -> q(TextAnalysis.qTopicScores(_)),
    "q_rake_keywords" -> q(TextAnalysis.qRakeKeywords(_)),
    "q_pmi_pairs" -> q(TextAnalysis.qPmiPairs(_)),
    "q_inverted_index" -> q(TextAnalysis.qInvertedIndex(_)),
    "q_bm25_search" -> q(TextAnalysis.qBm25Search(_)),
    "q_rank_fusion" -> q(TextAnalysis.qRankFusion(_)),
    "q_bpe_merges" -> q(TextAnalysis.qBpeMerges(_)),
    "q_bpe_tokenize" -> q(TextAnalysis.qBpeTokenize(_)),
    "q_skew_salted_agg" -> q(Skew.qSkewSaltedAgg),
    "q_scd2_intervals" -> q(Analytics.qScd2Intervals),
    "q_key_skew" -> q(Analytics.qKeySkew),
    "q_moving_avg" -> q(Analytics.qMovingAvg),
    "q_ntile_bins" -> q(Analytics.qNtileBins),
    "q_ewma" -> q(Analytics.qEwma(_)),
    "q_heavy_hitters" -> q(Stats.qHeavyHitters(_)),
    "q_psi_drift" -> q(TextAnalysis.qPsiDrift(_)),
    "q_emd_drift" -> q(TextAnalysis.qEmdDrift(_)),
    "q_rfm_segments" -> q(Analytics.qRfmSegments),
    "q_regression_trend" -> q(Analytics.qRegressionTrend),
    "q_benford" -> q(Analytics.qBenford),
    "q_sql_q10" -> q(Analytics.qSqlQ10),
    "q_zscore_outliers" -> q(Stats.qZscoreOutliers),
    "q_chi2" -> q(Stats.qChi2),
    "q_interval_union" -> q(Events.qIntervalUnion),
    "q_session_paths" -> q(Events.qSessionPaths(_)),
    "q_attribution" -> q(Events.qAttribution),
    "q_markov_attribution" -> q(Events.qMarkovAttribution(_)),
    "q_shapley_attribution" -> q(Events.qShapleyAttribution(_)),
    "q_hourly_profile" -> q(Events.qHourlyProfile),
    "q_vocab_containment" -> q(TextAnalysis.qVocabContainment),
    "q_decile_lift" -> q(Analytics.qDecileLift),
    "q_abc_class" -> q(Analytics.qAbcClass),
    "q_gini" -> q(Analytics.qGini),
    "q_autocorr" -> q(Analytics.qAutocorr),
    "q_weighted_median" -> q(Analytics.qWeightedMedian),
    "q_time_weighted_avg" -> q(Analytics.qTimeWeightedAvg),
    "q_cusum" -> q(Analytics.qCusum),
    "q_sql_q6" -> q(Analytics.qSqlQ6),
    "q_sql_q18" -> q(Analytics.qSqlQ18),
    "q_sql_q14" -> q(Analytics.qSqlQ14),
    "q_sql_q19" -> q(Analytics.qSqlQ19),
    "q_sql_q22" -> q(Analytics.qSqlQ22),
    "q_anomaly_iqr" -> q(Stats.qAnomalyIqr),
    "q_winsorize" -> q(Stats.qWinsorize),
    "q_spearman" -> q(Stats.qSpearman),
    "q_mode_category" -> q(Stats.qModeCategory),
    "q_ship_streaks" -> q(Analytics.qShipStreaks),
    "q_hhi_concentration" -> q(Analytics.qHhiConcentration),
    "q_snapshot_diff" -> q(Analytics.qSnapshotDiff),
    "q_session_concurrency" -> q(Events.qSessionConcurrency(_)),
    "q_rate_limit" -> q(Events.qRateLimit(_)),
    "q_centroid_sim" -> q(Similarity.qCentroidSim),
    "q_interarrival" -> q(Events.qInterarrival),
    "q_assoc_rules" -> q(Analytics.qAssocRules(_)),
    "q_forecast_backtest" -> q(Events.qForecastBacktest),
    "q_holt_smoothing" -> q(Events.qHoltSmoothing),
    "q_holt_winters" -> q(Events.qHoltWinters),
    "q_growth_accounting" -> q(Events.qGrowthAccounting),
    "q_textrank" -> q(TextAnalysis.qTextrank(_)),
    "q_stl_anomalies" -> q(Events.qStlAnomalies(_)),
    "q_rolling_median" -> q(Analytics.qRollingMedian),
    "q_dedup_threshold_curve" -> q(Dedup.qDedupThresholdCurve(_)),
    "q_fulfillment_latency" -> q(Analytics.qFulfillmentLatency),
    "q_zipf_slope" -> q(TextAnalysis.qZipfSlope(_)),
    "q_vocab_growth" -> q(TextAnalysis.qVocabGrowth),
    "q_heaps_law" -> q(TextAnalysis.qHeapsLaw),
    "q_charset_stats" -> q(TextAnalysis.qCharsetStats),
    "q_incr_agg" -> q(Analytics.qIncrAgg),
    "q_debounce" -> q(Events.qDebounce(_)),
    "q_order_gaps" -> q(Analytics.qOrderGaps),
    "q_basket_pairs" -> q(Analytics.qBasketPairs(_)),
    "q_topk_suppliers" -> q(Analytics.qTopkSuppliers(_)),
    "q_stats" -> q(Stats.qStats),
    "q_minmax" -> q(Stats.qMinMax),
    "q_argmax" -> q(Stats.qArgmax),
    "q_grouping_sets" -> q(Stats.qGroupingSets),
    "q_union_all" -> q(Stats.qUnionAll),
    "q_supplier_revenue" -> q(Stats.qSupplierRevenue),
    "q_regexp_extract" -> q(Stats.qRegexpExtract),
    "q_approx_distinct" -> q(Stats.qApproxDistinct(_)),
    "q_kmv_distinct" -> q(Stats.qKmvDistinct(_)),
    "q_approx_quantile" -> q(Stats.qApproxQuantile(_)),
    "q_mad" -> q(Stats.qMad),
    "q_corr_matrix" -> q(Stats.qCorrMatrix),
    "q_integrity_checks" -> q(Stats.qIntegrityChecks),
    // — event-log operators —
    "q_tumbling_window" -> q(Events.qTumblingWindow),
    "q_resample_hourly" -> q(Events.qResampleHourly),
    "q_funnel" -> q(Events.qFunnel),
    "q_funnel_steps" -> q(Events.qFunnelSteps),
    "q_retention" -> q(Events.qRetention),
    "q_cohort_matrix" -> q(Events.qCohortMatrix),
    "q_stickiness" -> q(Events.qStickiness),
    "q_time_to_nth" -> q(Events.qTimeToNth(_)),
    "q_user_entropy" -> q(Events.qUserEntropy),
    "q_sequence_match" -> q(Events.qSequenceMatch),
    "q_type_precedence" -> q(Events.qTypePrecedence),
    "q_fdr_bh" -> q(Stats.qFdrBh),
    "q_ppr" -> q(Graph.qPpr(_)),
    "q_event_transitions" -> q(Events.qEventTransitions),
    "q_transition_reciprocity" -> q(Events.qTransitionReciprocity),
    "q_sprt_gate" -> q(Events.qSprtGate(_)),
    "q_histogram" -> q(Stats.qHistogram(_)),
    "q_sessionize" -> q(Events.qSessionize),
    "q_json_extract" -> q(Events.qJsonExtract),
    "q_asof_join" -> q(Events.qAsOfJoin),
    "q_asof_join_native" -> q(Events.qAsOfJoinNative),
    "q_asof_forward" -> q(Events.qAsOfForward),
    // — dedup tier —
    "q_dedup_exact" -> q(Dedup.qDedupExact),
    "q_dedup_minhash" -> q(Dedup.qDedupMinhash),
    "q_dedup_simhash" -> q(Dedup.qDedupSimhash),
    "q_ngram_jaccard" -> q(Dedup.qNgramJaccard(_)),
    "q_dedup_minhash_verify" -> q(Dedup.qDedupMinhashVerify(_)),
    "q_simhash_portable" -> q(Dedup.qSimhashPortable(_)),
    "q_dedup_pipeline" -> q(Dedup.qDedupPipeline(_)),
    "q_dedup_agreement" -> q(Dedup.qDedupAgreement),
    "q_dedup_clusters" -> q(Dedup.qDedupClusters(_)),
    // same pipeline with the DISTRIBUTED min-label/pointer-jump loop
    // pinned on (cutoff bypassed): the 100 TB code path gets its own
    // green hash-oracle row at every scale factor, not just in unit tests
    "q_dedup_clusters_dist" ->
      q(Dedup.qDedupClusters(_, forceDistributed = true)),
    "q_contamination" -> q(Dedup.qContamination(_)),
    "q_dedup_keep_best" -> q(Dedup.qDedupKeepBest),
    "q_fuzzy_names" -> q(Dedup.qFuzzyNames(_)),
    "q_jaro_names" -> q(Dedup.qJaroNames(_)),
    "q_cross_source_overlap" -> q(Dedup.qCrossSourceOverlap),
    "q_source_overlap" -> q(Dedup.qSourceOverlap(_)),
    "q_boilerplate" -> q(TextAnalysis.qBoilerplate(_)),
    "q_dedup_savings" -> q(Dedup.qDedupSavings),
    "q_dedup_cost_model" -> q(Dedup.qDedupCostModel(_)),
    "q_dup_evidence" -> q(Dedup.qDupEvidence(_)),
    "q_span_alignments" -> q(Dedup.qSpanAlignments(_)),
    "q_dedup_manifest" -> q(Dedup.qDedupManifest),
    // — deterministic sampling / corpus composition —
    "q_sample_stratified" -> q(Sampling.qSampleStratified(_)),
    "q_mix_sources" -> q(Sampling.qMixSources(_)),
    "q_mix_temperature" -> q(Sampling.qMixTemperature(_)),
    "q_mix_doremi" -> q(Sampling.qMixDoremi(_)),
    "q_mix_schedule" -> q(Sampling.qMixSchedule),
    "q_split_leakage" -> q(Sampling.qSplitLeakage),
    "q_token_budget" -> q(Sampling.qTokenBudget(_)),
    "q_assign_ids" -> q(Sampling.qAssignIds(_)),
    "q_lr_train" -> q(Classifier.qLrTrain(_)),
    "q_lr_calibration" -> q(Classifier.qLrCalibration(_)),
    "q_hosmer_lemeshow" -> q(Classifier.qHosmerLemeshow(_)),
    "q_mcnemar" -> q(Stats.qMcnemar),
    "q_cohens_d" -> q(Stats.qCohensD),
    "q_page_hinkley" -> q(Events.qPageHinkley),
    "q_dow_hour_heatmap" -> q(Events.qDowHourHeatmap),
    "q_isotonic_calibration" -> q(Classifier.qIsotonicCalibration(_)),
    "q_importance_weights" -> q(TextAnalysis.qImportanceWeights(_)),
    "q_kneser_ney" -> q(TextAnalysis.qKneserNey(_)),
    "q_poisson_bootstrap" -> q(Sampling.qPoissonBootstrap(_)),
    "q_weighted_sample" -> q(Sampling.qWeightedSample(_)),
    "q_pr_auc" -> q(Classifier.qPrAuc),
    "q_brier_decomp" -> q(Classifier.qBrierDecomp(_)),
    "q_mmd_drift" -> q(TextAnalysis.qMmdDrift(_)),
    "q_good_turing" -> q(TextAnalysis.qGoodTuring(_)),
    "q_vocab_chao1" -> q(TextAnalysis.qVocabChao1),
    "q_propensity_match" -> q(Stats.qPropensityMatch(_)),
    "q_qini_curve" -> q(Stats.qQiniCurve),
    "q_var_cvar" -> q(Stats.qVarCvar(_)),
    "q_stream_brier" -> q(Streams.drainBrier),
    "q_stream_holt" -> q(Streams.drainHoltWinters),
    "q_stream_var_cvar" -> q(Streams.drainVarCvar),
    "q_stream_mmd" -> q(Streams.drainMmdDrift),
    "q_nb_confusion" -> q(Classifier.qNbConfusion),
    "q_top_terms" -> q(Sampling.qTopTerms(_)),
    "q_train_shards" -> q(Sampling.qTrainShards(_)),
    "q_compaction_plan" -> q(Sampling.qCompactionPlan(_)),
    // — similarity search —
    "q_knn_brute" -> q(Similarity.qKnnBrute(_)),
    "q_dedup_embed" -> q(Similarity.qDedupEmbed(_)),
    "q_vector_norms" -> q(Similarity.qVectorNorms),
    "q_knn_ivf" -> q(Similarity.qKnnIvf(_)),
    "q_knn_lsh" -> q(Similarity.qKnnLsh(_)),
    "q_knn_lsh_portable" -> q(Similarity.qKnnLshPortable(_)),
    "q_ann_recall" -> q(Similarity.qAnnRecall(_)),
    "q_embed_quantize" -> q(Similarity.qEmbedQuantize),
    "q_pq_codes" -> q(Similarity.qPqCodes(_)),
    "q_pq_search" -> q(Similarity.qPqSearch(_)),
    "q_semdedup" -> q(Similarity.qSemDedup(_)),
    "q_ivf_ingest" -> q(Similarity.qIvfIngest),
    "q_knn_ivfpq" -> q(Similarity.qKnnIvfPq(_)),
    "q_ivfpq_recall" -> q(Similarity.qIvfPqRecall(_)),
    "q_ann_cost_curve" -> q(Similarity.qAnnCostCurve(_)),
    "q_embed_outliers" -> q(Similarity.qEmbedOutliers(_)),
    "q_label_centroids" -> q(Similarity.qLabelCentroids),
    "q_power_iteration" -> q(Similarity.qPowerIteration),
    "q_coreset_kcenter" -> q(Similarity.qCoresetKcenter(_)),
    // — text analysis —
    "q_text_stats" -> q(TextAnalysis.qTextStats),
    "q_quality_score" -> q(TextAnalysis.qQualityScore),
    "q_readability" -> q(TextAnalysis.qReadability),
    "q_gopher_rules" -> q(TextAnalysis.qGopherRules),
    "q_lang_id" -> q(TextAnalysis.qLangId),
    "q_hapax_ratio" -> q(TextAnalysis.qHapaxRatio),
    "q_simpson_diversity" -> q(TextAnalysis.qSimpsonDiversity),
    "q_token_bpe" -> q(TextAnalysis.qTokenBpe),
    "q_fingerprint" -> q(TextAnalysis.qFingerprint),
    "q_repetition" -> q(TextAnalysis.qRepetition),
    "q_redact_ids" -> q(TextAnalysis.qRedactIds),
    "q_rolling_fingerprint" -> q(TextAnalysis.qRollingFingerprint),
    "q_unigram_surprisal" -> q(TextAnalysis.qUnigramSurprisal),
    "q_tfidf_top" -> q(TextAnalysis.qTfidfTop(_)),
    "q_text_chunks" -> q(TextAnalysis.qTextChunks(_)),
    "q_pack_sequences" -> q(TextAnalysis.qPackSequences(_)),
    "q_source_kl" -> q(TextAnalysis.qSourceKl),
    "q_quality_funnel" -> q(TextAnalysis.qQualityFunnel(_)),
    "q_bigram_surprisal" -> q(TextAnalysis.qBigramSurprisal),
    "q_vocab_coverage" -> q(TextAnalysis.qVocabCoverage(_)),
    "q_ngram_novelty" -> q(TextAnalysis.qNgramNovelty),
    "q_doc_entropy" -> q(TextAnalysis.qDocEntropy),
    "q_length_histogram" -> q(TextAnalysis.qLengthHistogram),
    // — streaming (an actual AvailableNow streaming execution: file source
    //   -> watermarked windowed state -> sink; graded against the same
    //   oracle as the batch twin q_tumbling_window) —
    "q_stream_tumbling" -> q(t =>
      Streams.drainTumblingCounts(t)
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("window_start", "event_type")),
    "q_stream_hourly_users" -> q(t =>
      Streams.drainDistinctUsers(t)
        .select(
          date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("n_users"))
        .orderBy("hour")),
    "q_stream_quality_funnel" -> q(t => Streams.drainQualityFunnel(t).orderBy("source")),
    "q_stream_hash_split" -> q(Streams.drainHashSplit),
    "q_stream_moments" -> q(Streams.drainMoments),
    "q_stream_dim_stats" -> q(Streams.drainDimStats),
    "q_stream_sliding" -> q(t =>
      Streams.drainSlidingCounts(t)
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("event_type"), col("n"))
        .orderBy("window_start", "event_type")),
    "q_stream_dedup" -> q(t =>
      Streams.drainDistinctUsers(t)
        .select(
          date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("n_users"))
        .orderBy("hour")),
    "q_stream_upsert" -> q(t =>
      Streams.drainTumblingToWarehouse(t)
        .orderBy("window_start", "event_type")),
    "q_stream_sessionize" -> q(t => Streams.drainSessionize(t).orderBy("user_id", "session_id")),
    "q_stream_ratelimit" -> q(Streams.drainRateLimit),
    "q_stream_transitions" -> q(Streams.drainTransitions),
    "q_stream_topterms" -> q(Streams.drainTopTerms),
    "q_stream_incdedup" -> q(t => Streams.drainIncrementalDedup(t).orderBy("id_new", "id_old")),
    "q_stream_contamination" -> q(Streams.drainContamination),
    "q_stream_mix_doremi" -> q(Streams.drainMixDoremi),
    "q_stream_neardedup" -> q(Streams.drainSimhashGroups),
    "q_stream_knn" -> q(Streams.drainKnn),
    "q_stream_semdedup" -> q(Streams.drainSemDedup),
    "q_stream_ivf_ingest" -> q(Streams.drainIvfIngest),
    "q_stream_kanonymity" -> q(Streams.drainKAnonymity(_)),
    "q_stream_emd" -> q(Streams.drainEmdDrift(_)),
    "q_stream_slo" -> q(Streams.drainSloBurn),
    "q_dwell_time" -> q(Events.qDwellTime),
    "q_stream_dwell" -> q(Streams.drainDwellTime),
    "q_stream_burstiness" -> q(Streams.drainBurstiness),
    "q_stream_benford" -> q(Streams.drainBenford),
    "q_stream_enrich" -> q(t => Streams.drainEnrich(t).orderBy("segment")),
    "q_stream_join" -> q(t =>
      Streams.drainClickViewJoin(t)
        .select(
          col("click_id"), col("user_id"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("click_ts"),
          col("view_id"),
          date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("view_ts"))
        .orderBy("click_id", "view_id")),
    // — multimodal plumbing —
    "q_multimodal_meta" -> q(Multimodal.qMultimodalMeta),
    "q_multimodal_dedup" -> q(Multimodal.qMultimodalDedup),
    "q_multimodal_chunks" -> q(Multimodal.qMultimodalChunks(_)),
    "q_multimodal_frames" -> q(Multimodal.qMultimodalFrames))

  /** Batch/stream-shared oracle for benchmark decontamination
    * (`q_contamination`, `q_stream_contamination`).
    */
  private val contaminationOracle: String =
    """WITH d AS (SELECT doc_id,
           string_split_regex(trim(lower(text)), ' +') AS w FROM documents),
       g AS (SELECT doc_id,
           list_distinct(list_transform(range(1, greatest(len(w) - 4, 0) + 2),
             i -> array_to_string(w[i:i+3], ' '))) AS grams FROM d),
       b AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
       c AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 <> 0)
       SELECT c.doc_id, COUNT(*) AS n_shared
       FROM c JOIN b USING (gram)
       GROUP BY c.doc_id ORDER BY c.doc_id"""

  /** Shared by the batch SRM gate and its streaming drain (`q_ab_srm`,
    * `q_stream_srm`): the drain's dedup+bucket states reproduce the batch
    * distinct-user counts exactly.
    */
  private val srmOracle: String =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
         b AS (SELECT s.k, u.user_id % s.k AS b
           FROM u CROSS JOIN (VALUES (2), (3), (5)) AS s(k)),
         c AS (SELECT k, b, CAST(COUNT(*) AS BIGINT) AS o
           FROM b GROUP BY 1, 2),
         g AS (SELECT s.k, unnest(range(0, s.k)) AS b
           FROM (VALUES (2), (3), (5)) AS s(k)),
         t AS (SELECT g.k, g.b, COALESCE(c.o, 0) AS o,
             SUM(COALESCE(c.o, 0)) OVER (PARTITION BY g.k) AS n
           FROM g LEFT JOIN c ON c.k = g.k AND c.b = g.b),
         terms AS (SELECT k, n,
             CAST(round(
               (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) / CAST(k AS DOUBLE)) *
               (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) / CAST(k AS DOUBLE)) /
               (CAST(n AS DOUBLE) / CAST(k AS DOUBLE)), 9)
               AS DECIMAL(20,10)) AS term
           FROM t),
         a AS (SELECT CAST(k AS BIGINT) AS k,
             CAST(MAX(n) AS BIGINT) AS n_users,
             CAST(SUM(term) AS DOUBLE) AS chi2
           FROM terms GROUP BY 1)
         SELECT k, n_users, chi2,
           CASE WHEN k = 2 THEN 3.841459
             WHEN k = 3 THEN 5.991465 ELSE 9.487729 END AS crit,
           CAST(chi2 > (CASE WHEN k = 2 THEN 3.841459
             WHEN k = 3 THEN 5.991465 ELSE 9.487729 END) AS BIGINT)
             AS srm_detected
         FROM a ORDER BY k"""

  /** Shared by the batch gauge and its streaming drain (`q_burstiness`,
    * `q_stream_burstiness`): the drain's stateful gap emitter reproduces
    * the batch lag() gaps exactly, so one oracle covers both.
    */
  private val burstinessOracle: String =
    """WITH g AS (
           SELECT user_id, epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
           FROM events),
         a AS (
           SELECT user_id, COUNT(*) AS n_gaps, SUM(gap) AS sg,
             SUM(CAST(gap AS HUGEINT) * gap) AS sgg
           FROM g WHERE gap IS NOT NULL GROUP BY 1
           HAVING COUNT(*) >= 20),
         d AS (
           SELECT user_id, n_gaps,
             CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_us,
             sqrt(CAST(sgg * n_gaps - CAST(sg AS HUGEINT) * sg AS DOUBLE) /
               CAST(n_gaps * n_gaps AS DOUBLE)) AS sd_us
           FROM a)
         SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
           mean_us / 1e6 AS mean_gap_s,
           sd_us / 1e6 AS sd_gap_s,
           (sd_us - mean_us) / (sd_us + mean_us) AS burstiness
         FROM d ORDER BY user_id"""

  /** Shared by `q_dwell_time` and `q_stream_dwell` (same emitter
    * equivalence as the burstiness pair).
    */
  private val dwellOracle: String =
    """WITH g AS (
           SELECT event_type,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) - epoch_us(ts) AS gap
           FROM events),
         a AS (
           SELECT event_type, COUNT(*) AS n_intervals, SUM(gap) AS sg
           FROM g WHERE gap IS NOT NULL GROUP BY 1)
         SELECT event_type, CAST(n_intervals AS BIGINT) AS n_intervals,
           CAST(sg AS DOUBLE) / 1e6 AS total_dwell_s,
           CAST(sg AS DOUBLE) / CAST(n_intervals AS DOUBLE) / 1e6
             AS mean_dwell_s,
           CAST(sg AS DOUBLE) / CAST(SUM(sg) OVER () AS DOUBLE)
             AS dwell_share
         FROM a ORDER BY event_type"""

  /** Day-spine SLO burn: RANGE frame over the integer day index on both
    * sides; burns are single long/long IEEE divisions. Shared by the
    * batch monitor and its streaming drain (`q_slo_burn`, `q_stream_slo`).
    */
  private val sloBurnOracle: String =
    """WITH d AS (SELECT epoch_ns(ts) // 86400000000000 AS day_idx,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT)
             AS n_errors
         FROM events GROUP BY 1),
       w AS (SELECT *,
           CAST(SUM(n_errors) OVER win AS BIGINT) AS err7,
           CAST(SUM(n_events) OVER win AS BIGINT) AS tot7
         FROM d WINDOW win AS (ORDER BY day_idx
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
       SELECT strftime(make_timestamp(day_idx * 86400000000), '%Y-%m-%d')
           AS day,
         n_events, n_errors,
         round(4 * CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
           AS burn_1d,
         round(4 * CAST(err7 AS DOUBLE) / CAST(tot7 AS DOUBLE), 6)
           AS burn_7d
       FROM w ORDER BY day"""

  // statistics-only DoReMi (shared by the batch query and the streaming
  // drain): excess unigram surprisal -> exp weights; logs rounded at 1e-9
  // into exact decimals, exp fed the rounded excess, re-rounded at 1e-6.
  // The CTE chain up through `tw` is shared verbatim by the weights
  // report (q_mix_doremi) and the sampling schedule (q_mix_schedule), so
  // it lives in its own constant — both oracles concatenate from it
  // rather than one slicing the other apart.
  private val mixCtePrefix: String =
    """WITH dw AS (SELECT source,
           unnest(string_split_regex(trim(lower(text)), ' +')) AS word
         FROM documents),
       cw AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cw
         FROM dw GROUP BY 1),
       tt AS (SELECT CAST(SUM(cw) AS BIGINT) AS t FROM cw),
       swd AS (SELECT word, cw,
           CAST(round(ln(CAST(tt.t AS DOUBLE)), 9) AS DECIMAL(14,10))
             - CAST(round(ln(CAST(cw AS DOUBLE)), 9) AS DECIMAL(14,10))
             AS s
         FROM cw, tt),
       corpus AS (SELECT SUM(CAST(cw AS DECIMAL(8,0)) * s) AS sdec_c,
           CAST(SUM(cw) AS BIGINT) AS t FROM swd),
       sc AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
         FROM dw GROUP BY 1, 2),
       per_src AS (SELECT sc.source,
           CAST(SUM(sc.c) AS BIGINT) AS n_tokens,
           SUM(CAST(sc.c AS DECIMAL(8,0)) * swd.s) AS sdec
         FROM sc JOIN swd USING (word) GROUP BY sc.source),
       m AS (SELECT p.source, p.n_tokens,
           CAST(p.sdec AS DOUBLE) / CAST(p.n_tokens AS DOUBLE) AS ms,
           CAST(c.sdec_c AS DOUBLE) / CAST(c.t AS DOUBLE) AS mc
         FROM per_src p, corpus c),
       w AS (SELECT source, n_tokens, ms,
           round(ms - mc, 9) AS excess,
           CAST(round(exp(round(ms - mc, 9)), 6) AS DECIMAL(16,6)) AS raw
         FROM m),
       tw AS (SELECT SUM(raw) AS sr FROM w)"""

  private val mixDoremiOracle: String =
    mixCtePrefix + """
       SELECT source, n_tokens, round(ms, 9) AS mean_surprisal,
         excess AS excess_surprisal,
         round(CAST(raw AS DOUBLE) / CAST(tw.sr AS DOUBLE), 9) AS weight
       FROM w, tw ORDER BY source"""

  // the schedule applying the DoReMi weights: integer raw6*budget DIV
  // sum(raw6) targets (raw is an exact DECIMAL(16,6), so x1e6 is an
  // exact BIGINT; the product is widened to 128-bit — HUGEINT here,
  // DECIMAL(38,0) engine-side — so the allocation stays exact past the
  // ~3e12-token budget where a bare BIGINT product would wrap), then the
  // two display ratios
  private val mixScheduleOracle: String =
    mixCtePrefix + """,
       r AS (SELECT source, n_tokens,
           round(CAST(raw AS DOUBLE) / CAST(tw.sr AS DOUBLE), 9) AS weight,
           CAST(raw * 1000000 AS BIGINT) AS r6
         FROM w, tw),
       tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS budget,
           CAST(SUM(r6) AS BIGINT) AS sum_r6 FROM r),
       s AS (SELECT source, n_tokens, weight,
           CAST(CAST(r6 AS HUGEINT) * budget // sum_r6 AS BIGINT) AS tgt
         FROM r, tot)
       SELECT source, n_tokens AS available_tokens, weight,
         tgt AS target_tokens,
         round(CAST(tgt AS DOUBLE) / n_tokens, 9) AS sample_rate,
         CAST((tgt + n_tokens - 1) // n_tokens AS BIGINT) AS epochs
       FROM s ORDER BY source"""

  /** Portable hyperplane LSH kNN: md5-derived sign matrix, integer
    * micro-unit projections (exact BIGINT sums -> bit-identical band
    * codes), then the same exact-cosine fold + top-5 as q_knn_brute.
    * Shared by `q_knn_lsh_portable` (batch) and `q_stream_knn` (the
    * drain reproduces identical candidates/cosines/ranking).
    */
  private val knnLshPortableOracle: String =
    """WITH signs AS (SELECT p, i,
           CASE WHEN substr(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 1) >= '8'
             THEN 1 ELSE -1 END AS s
         FROM range(30) t(p), range(64) u(i)),
       mu AS (SELECT vec_id,
           list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * 1000000) AS BIGINT)) AS m
         FROM embeddings),
       proj AS (SELECT vec_id, p // 3 AS b, p, SUM(s * m[i + 1]) AS pr
         FROM mu, signs GROUP BY vec_id, p),
       codes AS (SELECT vec_id, b,
           CAST(SUM(CASE WHEN pr >= 0 THEN CAST(1 AS BIGINT) << (p % 3) ELSE 0 END) AS BIGINT) AS code
         FROM proj GROUP BY vec_id, b),
       cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
         FROM codes q JOIN codes c ON q.b = c.b AND q.code = c.code AND q.vec_id <> c.vec_id
         WHERE q.vec_id % 200 = 0),
       e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       sims AS (SELECT qid, nid,
           list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
             (sqrt(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i]))) *
              sqrt(list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i])))) AS sim
         FROM cand JOIN e a ON a.vec_id = qid JOIN e b ON b.vec_id = nid),
       ranked AS (SELECT qid, nid, sim,
           CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS BIGINT) AS rnk
         FROM sims)
       SELECT qid, nid, sim, rnk FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk"""

  /** The IVF training CTE chain (no WITH keyword — callers prepend WITH
    * or WITH RECURSIVE): micro-unit vectors, label-rank init on the
    * vec_id%2 sample, three unrolled cosine Lloyd rounds ending at
    * `cent` (cell, i, v) with per-cell norms in `cn`. Shared by the IVF
    * search oracle and the semantic-dedup oracle, which reuse the SAME
    * trained index the Spark side builds via lloydCentroidsExact.
    */
  private val ivfTrainCtes: String = {
    // one Lloyd round: argmax-cosine assignment against `prev`, then
    // per-cell floor means with COALESCE fallback for emptied cells
    def round(prev: String, tag: String): String = s"""
 a$tag AS (
   SELECT vec_id, cell FROM (
     SELECT s.vec_id, s.cell,
       ROW_NUMBER() OVER (PARTITION BY s.vec_id
         ORDER BY s.dot / (sqrt(s.nv) * sqrt(s.nc)) DESC, s.cell) AS rn
     FROM (
       SELECT t.vec_id, c.cell,
         SUM(t.m[c.i] * c.v) AS dot,
         MAX(t.nv) AS nv,
         SUM(c.v * c.v) AS nc
       FROM tr t, $prev c
       GROUP BY t.vec_id, c.cell) s)
   WHERE rn = 1),
 s$tag AS (
   SELECT a.cell, d.i,
     floor(CAST(SUM(t.m[d.i]) AS DOUBLE) / COUNT(*)) AS v
   FROM tr t JOIN a$tag a USING (vec_id), dims d
   GROUP BY a.cell, d.i),
 c$tag AS (
   SELECT p.cell, p.i, COALESCE(s.v, p.v) AS v
   FROM $prev p LEFT JOIN s$tag s ON p.cell = s.cell AND p.i = s.i)"""
    s"""mu AS (
   SELECT vec_id, label,
     list_transform(CAST(embedding AS DOUBLE[]), x -> floor(x * 1000000)) AS m
   FROM embeddings),
 dims AS (SELECT CAST(i AS INTEGER) AS i FROM range(1, 65) t(i)),
 tr AS (
   SELECT vec_id, label, m,
     list_sum(list_transform(m, x -> x * x)) AS nv
   FROM mu WHERE vec_id % 2 = 0),
 lab AS (
   SELECT label, CAST(ROW_NUMBER() OVER (ORDER BY label) - 1 AS INTEGER) AS cell
   FROM (SELECT DISTINCT label FROM tr)),
 c0 AS (
   SELECT l.cell, d.i,
     floor(CAST(SUM(t.m[d.i]) AS DOUBLE) / COUNT(*)) AS v
   FROM tr t JOIN lab l USING (label), dims d
   GROUP BY l.cell, d.i),${round("c0", "1")},${round("c1", "2")},${round("c2", "3")},
 cent AS (SELECT cell, i, v FROM c3),
 cn AS (SELECT cell, SUM(v * v) AS nc FROM cent GROUP BY cell)"""
  }

  /** IVF kNN oracle: the exact-integer-micro-unit Lloyd's loop
    * (ext/Similarity.scala lloydCentroidsExact) unrolled as three CTE
    * rounds — the qPagerank unroll pattern. Every index-side quantity is
    * an exact integer (micro-unit vectors ~1e6, centroids floor(sum/n)),
    * so assignment argmaxes and probe rankings are bit-identical across
    * engines; the final ranking similarity replays Spark's sequential
    * cosine fold with list_sum, the same parity contract
    * knnLshPortableOracle is graded on. A Spark early-stopped round is
    * reproduced as identity by the extra unrolled round (stable
    * assignments => identical floor means).
    */
  private val knnIvfOracle: String = {
    s"""WITH $ivfTrainCtes,
 q AS (
   SELECT vec_id AS qid, m AS qm,
     list_sum(list_transform(m, x -> x * x)) AS nq
   FROM mu WHERE vec_id % 200 = 0),
 probe AS (
   SELECT qid, cell FROM (
     SELECT s.qid, s.cell,
       ROW_NUMBER() OVER (PARTITION BY s.qid
         ORDER BY s.dot / (sqrt(s.nq) * sqrt(s.nc)) DESC, s.cell) AS rn
     FROM (
       SELECT q.qid, c.cell, SUM(q.qm[c.i] * c.v) AS dot,
         MAX(q.nq) AS nq, MAX(cn.nc) AS nc
       FROM q, cent c JOIN cn ON cn.cell = c.cell
       GROUP BY q.qid, c.cell) s)
   WHERE rn <= 2),
 corpus AS (
   SELECT vec_id AS nid, cell FROM (
     SELECT s.vec_id, s.cell,
       ROW_NUMBER() OVER (PARTITION BY s.vec_id
         ORDER BY s.dot / (sqrt(s.nv) * sqrt(s.nc)) DESC, s.cell) AS rn
     FROM (
       SELECT u.vec_id, c.cell,
         SUM(u.m[c.i] * c.v) AS dot,
         MAX(u.nv) AS nv, MAX(cn.nc) AS nc
       FROM (SELECT vec_id, m,
               list_sum(list_transform(m, x -> x * x)) AS nv FROM mu) u,
         cent c JOIN cn ON cn.cell = c.cell
       GROUP BY u.vec_id, c.cell) s) t(vec_id, cell, rn)
   WHERE rn = 1),
 e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
 sims AS (
   SELECT p.qid, c.nid,
     list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
       (sqrt(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i]))) *
        sqrt(list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i])))) AS sim
   FROM probe p JOIN corpus c USING (cell)
   JOIN e a ON a.vec_id = p.qid JOIN e b ON b.vec_id = c.nid
   WHERE p.qid <> c.nid),
 ranked AS (
   SELECT qid, nid, sim,
     CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS BIGINT)
       AS rnk
   FROM sims)
 SELECT qid, nid, sim, rnk FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk"""
  }

  /** The semantic-dedup CTE core (follows `ivfTrainCtes`): full-corpus
    * argmax assignment `asgn` (exact-integer dot/norms kept for the
    * centroid similarity), the member set restricted by `memberWhere`,
    * within-cell pairs at cosine >= 0.35 in the micro-unit domain,
    * recursive-CTE reachability, and `lab2` (member, cell, group,
    * centroid similarity). The batch oracle keeps every vector; the
    * streaming serving oracle restricts members to the even half.
    */
  private def semDedupCoreCtes(memberWhere: String): String =
    s""" asgn AS (
   SELECT vec_id, cell, dot, nv, nc FROM (
     SELECT s.vec_id, s.cell, s.dot, s.nv, s.nc,
       ROW_NUMBER() OVER (PARTITION BY s.vec_id
         ORDER BY s.dot / (sqrt(s.nv) * sqrt(s.nc)) DESC, s.cell) AS rn
     FROM (
       SELECT u.vec_id, c.cell,
         SUM(u.m[c.i] * c.v) AS dot,
         MAX(u.nv) AS nv, MAX(cn.nc) AS nc
       FROM (SELECT vec_id, m,
               list_sum(list_transform(m, x -> x * x)) AS nv FROM mu) u,
         cent c JOIN cn ON cn.cell = c.cell
       GROUP BY u.vec_id, c.cell) s)
   WHERE rn = 1),
 mem AS (SELECT * FROM asgn WHERE $memberWhere),
 pr AS (
   SELECT a.vec_id AS id1, b.vec_id AS id2
   FROM mem a JOIN mem b ON a.cell = b.cell AND a.vec_id < b.vec_id
   JOIN mu ma ON ma.vec_id = a.vec_id
   JOIN mu mb ON mb.vec_id = b.vec_id
   WHERE list_sum(list_transform(range(1, 65), i -> ma.m[i] * mb.m[i]))
     / (sqrt(a.nv) * sqrt(b.nv)) >= 0.35),
 sym AS (SELECT id1 AS src, id2 AS dst FROM pr
   UNION ALL SELECT id2, id1 FROM pr),
 reach(id, r) AS (
   SELECT src, src FROM sym
   UNION
   SELECT reach.id, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
 comp AS (SELECT id, MIN(r) AS grp FROM reach GROUP BY id),
 lab2 AS (
   SELECT a.vec_id, a.cell, COALESCE(c.grp, a.vec_id) AS grp,
     a.dot / (sqrt(a.nv) * sqrt(a.nc)) AS cent_sim
   FROM mem a LEFT JOIN comp c ON c.id = a.vec_id)"""

  /** IVF ingest-maintenance oracle: the shared training chain, full
    * argmax assignment, per-row rounded-decimal centroid cosines, and
    * the per-cell incumbent/arrival split (vec_id parity).
    */
  private val ivfIngestOracle: String =
    s"""WITH $ivfTrainCtes,
 asgn AS (
   SELECT vec_id, cell, dot, nv, nc FROM (
     SELECT s.vec_id, s.cell, s.dot, s.nv, s.nc,
       ROW_NUMBER() OVER (PARTITION BY s.vec_id
         ORDER BY s.dot / (sqrt(s.nv) * sqrt(s.nc)) DESC, s.cell) AS rn
     FROM (
       SELECT u.vec_id, c.cell,
         SUM(u.m[c.i] * c.v) AS dot,
         MAX(u.nv) AS nv, MAX(cn.nc) AS nc
       FROM (SELECT vec_id, m,
               list_sum(list_transform(m, x -> x * x)) AS nv FROM mu) u,
         cent c JOIN cn ON cn.cell = c.cell
       GROUP BY u.vec_id, c.cell) s)
   WHERE rn = 1),
 csr AS (SELECT vec_id, cell,
     CAST(round(dot / (sqrt(nv) * sqrt(nc)), 9) AS DECIMAL(12,10)) AS cs,
     CAST(vec_id % 2 AS BIGINT) AS arrival FROM asgn),
 gb AS (SELECT cell,
     CAST(SUM(1 - arrival) AS BIGINT) AS n_incumbent,
     CAST(SUM(arrival) AS BIGINT) AS n_arrivals,
     SUM(CASE WHEN arrival = 0 THEN cs END) AS si,
     SUM(CASE WHEN arrival = 1 THEN cs END) AS sa
   FROM csr GROUP BY cell)
 SELECT CAST(cell AS BIGINT) AS cell, n_incumbent, n_arrivals,
   round(CAST(n_arrivals AS DOUBLE)
     / CAST(n_incumbent + n_arrivals AS DOUBLE), 9) AS arrival_share,
   round(CAST(si AS DOUBLE) / CAST(n_incumbent AS DOUBLE), 9)
     AS mean_sim_incumbent,
   round(CAST(sa AS DOUBLE) / CAST(n_arrivals AS DOUBLE), 9)
     AS mean_sim_arrival,
   round(CAST(sa AS DOUBLE) / CAST(n_arrivals AS DOUBLE)
     - CAST(si AS DOUBLE) / CAST(n_incumbent AS DOUBLE), 9) AS sim_drift
 FROM gb ORDER BY cell"""

  /** Semantic-dedup oracle: the shared IVF training chain, the core
    * above over the full corpus, and the keep rule (lowest centroid
    * similarity, ties to the lower id) as a ranking window.
    */
  private val semDedupOracle: String =
    s"""WITH RECURSIVE $ivfTrainCtes,${semDedupCoreCtes("TRUE")}
 SELECT vec_id, CAST(cell AS BIGINT) AS cell, grp, cent_sim,
   CAST(CASE WHEN ROW_NUMBER() OVER (PARTITION BY grp
       ORDER BY cent_sim ASC, vec_id ASC) = 1 THEN 1 ELSE 0 END AS BIGINT)
     AS keep
 FROM lab2 ORDER BY vec_id"""

  /** Serving-time semantic-dedup oracle: keepers from the even-half
    * decision pipeline, arrivals = the odd half assigned by the same
    * argmax, each marked a duplicate of its lowest-id in-threshold
    * keeper within its cell (or kept when none matches).
    */
  private val streamSemDedupOracle: String =
    s"""WITH RECURSIVE $ivfTrainCtes,${semDedupCoreCtes("vec_id % 2 = 0")},
 keepers AS (
   SELECT vec_id AS kid, cell FROM (
     SELECT vec_id, cell,
       ROW_NUMBER() OVER (PARTITION BY grp
         ORDER BY cent_sim ASC, vec_id ASC) AS rn
     FROM lab2)
   WHERE rn = 1),
 arr AS (SELECT vec_id, cell, nv FROM asgn WHERE vec_id % 2 = 1),
 mt AS (
   SELECT a.vec_id, MIN(k.kid) AS dup_of
   FROM arr a JOIN keepers k ON k.cell = a.cell
   JOIN asgn kv ON kv.vec_id = k.kid
   JOIN mu ma ON ma.vec_id = a.vec_id
   JOIN mu mk ON mk.vec_id = k.kid
   WHERE list_sum(list_transform(range(1, 65), i -> ma.m[i] * mk.m[i]))
     / (sqrt(a.nv) * sqrt(kv.nv)) >= 0.35
   GROUP BY a.vec_id)
 SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell, mt.dup_of,
   CAST(CASE WHEN mt.dup_of IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
 FROM arr a LEFT JOIN mt ON mt.vec_id = a.vec_id
 ORDER BY a.vec_id"""

  /** The IVF-PQ corpus-encoding CTE chain (follows `ivfTrainCtes`):
    * full-corpus argmax assignment, residuals, residual PQ codebook
    * (rounds p1/p2), and the per-vector codes. Shared by the search
    * oracle and the recall-curve oracle.
    */
  private val ivfPqCodeCtes: String =
    s""" asgn AS (
   SELECT vec_id, cell FROM (
     SELECT s.vec_id, s.cell,
       ROW_NUMBER() OVER (PARTITION BY s.vec_id
         ORDER BY s.dot / (sqrt(s.nv) * sqrt(s.nc)) DESC, s.cell) AS rn
     FROM (
       SELECT u.vec_id, c.cell,
         SUM(u.m[c.i] * c.v) AS dot,
         MAX(u.nv) AS nv, MAX(cn.nc) AS nc
       FROM (SELECT vec_id, m,
               list_sum(list_transform(m, x -> x * x)) AS nv FROM mu) u,
         cent c JOIN cn ON cn.cell = c.cell
       GROUP BY u.vec_id, c.cell) s)
   WHERE rn = 1),
 cl AS (SELECT cell, list(v ORDER BY i) AS cv FROM cent GROUP BY cell),
 res AS (
   SELECT a.vec_id, a.cell AS ivf_cell,
     list_transform(range(1, 65), i -> u.m[i] - cl.cv[i]) AS rm
   FROM asgn a JOIN mu u USING (vec_id) JOIN cl ON cl.cell = a.cell),
 sub AS (
   SELECT vec_id, ivf_cell, CAST(t.s AS INTEGER) AS s,
     rm[(t.s * 4 + 1):(t.s * 4 + 4)] AS sub
   FROM res, range(0, 16) t(s)),
 sd AS (SELECT CAST(d AS INTEGER) AS d FROM range(1, 5) t(d)),
 cp0 AS (
   SELECT t.s, CAST(t.vec_id % 32 AS INTEGER) AS cell, d.d,
     floor(CAST(SUM(t.sub[d.d]) AS DOUBLE) / COUNT(*)) AS v
   FROM sub t, sd d
   GROUP BY t.s, cell, d.d),${pqOracleRound("cp0", "p1")},${pqOracleRound("cp1", "p2")},
 codes AS (
   SELECT nid, ivf_cell, s, cell FROM (
     SELECT t.vec_id AS nid, t.ivf_cell, t.s, c.cell,
       ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.s
         ORDER BY SUM((t.sub[c.d] - c.v) * (t.sub[c.d] - c.v)) ASC, c.cell ASC)
         AS rn
     FROM sub t JOIN cp2 c ON c.s = t.s
     GROUP BY t.vec_id, t.ivf_cell, t.s, c.cell)
   WHERE rn = 1),
 q AS (
   SELECT vec_id AS qid, m AS qm,
     list_sum(list_transform(m, x -> x * x)) AS nq
   FROM mu WHERE vec_id % 50 = 0)"""

  /** IVF-PQ oracle: the shared IVF training chain, full-corpus argmax
    * assignment, exact-integer RESIDUALS against the per-cell centroid
    * list, a vec_id-seeded PQ codebook trained on those residuals (two
    * unrolled Lloyd rounds, tags p1/p2 to avoid colliding with the IVF
    * rounds), per-query probe of the top-2 cells, and the ADC sum over
    * codes restricted to the probed cells — every stage exact-integer,
    * ranked ascending with ties to the lower id.
    */
  private val knnIvfPqOracle: String =
    s"""WITH $ivfTrainCtes,$ivfPqCodeCtes,
 probe AS (
   SELECT qid, cell AS ivf_cell FROM (
     SELECT s.qid, s.cell,
       ROW_NUMBER() OVER (PARTITION BY s.qid
         ORDER BY s.dot / (sqrt(s.nq) * sqrt(s.nc)) DESC, s.cell) AS rn
     FROM (
       SELECT q.qid, c.cell, SUM(q.qm[c.i] * c.v) AS dot,
         MAX(q.nq) AS nq, MAX(cn.nc) AS nc
       FROM q, cent c JOIN cn ON cn.cell = c.cell
       GROUP BY q.qid, c.cell) s)
   WHERE rn <= 2),
 qres AS (
   SELECT p.qid, p.ivf_cell,
     list_transform(range(1, 65), i -> q.qm[i] - cl.cv[i]) AS rm
   FROM probe p JOIN q ON q.qid = p.qid JOIN cl ON cl.cell = p.ivf_cell),
 qsub AS (
   SELECT qid, ivf_cell, CAST(t.s AS INTEGER) AS s,
     rm[(t.s * 4 + 1):(t.s * 4 + 4)] AS sub
   FROM qres, range(0, 16) t(s)),
 qt AS (
   SELECT t.qid, t.ivf_cell, t.s, c.cell,
     SUM((t.sub[c.d] - c.v) * (t.sub[c.d] - c.v)) AS tdist
   FROM qsub t JOIN cp2 c ON c.s = t.s
   GROUP BY t.qid, t.ivf_cell, t.s, c.cell),
 adc AS (
   SELECT q.qid, n.nid, SUM(q.tdist) AS adc
   FROM codes n JOIN qt q
     ON q.ivf_cell = n.ivf_cell AND q.s = n.s AND q.cell = n.cell
   WHERE q.qid <> n.nid
   GROUP BY q.qid, n.nid),
 ranked AS (
   SELECT qid, nid, CAST(adc AS BIGINT) AS adc_dist,
     CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc ASC, nid ASC)
       AS BIGINT) AS rnk
   FROM adc)
 SELECT qid, nid, adc_dist, rnk FROM ranked WHERE rnk <= 5
 ORDER BY qid, rnk"""

  /** IVF-PQ recall-curve oracle: one candidate pass at maxProbe=3 with
    * each candidate's probe rank, per-nProbe top-k as window slices,
    * exact micro-unit-L2 brute baseline, and hit counts per setting —
    * every rank and count exact-integer.
    */
  private val ivfPqRecallOracle: String =
    s"""WITH $ivfTrainCtes,$ivfPqCodeCtes,
 probe AS (
   SELECT qid, cell AS ivf_cell, CAST(rn AS INTEGER) AS prank FROM (
     SELECT s.qid, s.cell,
       ROW_NUMBER() OVER (PARTITION BY s.qid
         ORDER BY s.dot / (sqrt(s.nq) * sqrt(s.nc)) DESC, s.cell) AS rn
     FROM (
       SELECT q.qid, c.cell, SUM(q.qm[c.i] * c.v) AS dot,
         MAX(q.nq) AS nq, MAX(cn.nc) AS nc
       FROM q, cent c JOIN cn ON cn.cell = c.cell
       GROUP BY q.qid, c.cell) s)
   WHERE rn <= 3),
 qres AS (
   SELECT p.qid, p.ivf_cell, p.prank,
     list_transform(range(1, 65), i -> q.qm[i] - cl.cv[i]) AS rm
   FROM probe p JOIN q ON q.qid = p.qid JOIN cl ON cl.cell = p.ivf_cell),
 qsub AS (
   SELECT qid, ivf_cell, prank, CAST(t.s AS INTEGER) AS s,
     rm[(t.s * 4 + 1):(t.s * 4 + 4)] AS sub
   FROM qres, range(0, 16) t(s)),
 qt AS (
   SELECT t.qid, t.ivf_cell, t.prank, t.s, c.cell,
     SUM((t.sub[c.d] - c.v) * (t.sub[c.d] - c.v)) AS tdist
   FROM qsub t JOIN cp2 c ON c.s = t.s
   GROUP BY t.qid, t.ivf_cell, t.prank, t.s, c.cell),
 adc AS (
   SELECT q.qid, n.nid, SUM(q.tdist) AS adc, MIN(q.prank) AS prank
   FROM codes n JOIN qt q
     ON q.ivf_cell = n.ivf_cell AND q.s = n.s AND q.cell = n.cell
   WHERE q.qid <> n.nid
   GROUP BY q.qid, n.nid),
 st AS (SELECT CAST(np AS BIGINT) AS nprobe FROM (VALUES (1),(2),(3)) v(np)),
 got AS (
   SELECT nprobe, qid, nid FROM (
     SELECT s.nprobe, a.qid, a.nid,
       ROW_NUMBER() OVER (PARTITION BY s.nprobe, a.qid
         ORDER BY a.adc ASC, a.nid ASC) AS rnk
     FROM adc a JOIN st s ON a.prank <= s.nprobe)
   WHERE rnk <= 5),
 ex AS (
   SELECT qid, nid FROM (
     SELECT q.qid, u.vec_id AS nid,
       ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
         list_sum(list_transform(range(1, 65),
           i -> (q.qm[i] - u.m[i]) * (q.qm[i] - u.m[i]))) ASC,
         u.vec_id ASC) AS rnk
     FROM q, mu u WHERE u.vec_id <> q.qid)
   WHERE rnk <= 5),
 nqc AS (SELECT CAST(COUNT(*) AS BIGINT) AS nq FROM q)
 SELECT g.nprobe, nqc.nq AS n_queries,
   CAST(SUM(CASE WHEN e.qid IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS hits,
   CAST(SUM(CASE WHEN e.qid IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
     / CAST(5 * nqc.nq AS DOUBLE) AS recall
 FROM got g LEFT JOIN ex e ON e.qid = g.qid AND e.nid = g.nid, nqc
 GROUP BY g.nprobe, nqc.nq ORDER BY g.nprobe"""

  /** ANN cost-curve oracle: the recall oracle's candidate chain, counted
    * per nProbe slice instead of ranked.
    */
  private val annCostCurveOracle: String =
    s"""WITH $ivfTrainCtes,$ivfPqCodeCtes,
 probe AS (
   SELECT qid, cell AS ivf_cell, CAST(rn AS INTEGER) AS prank FROM (
     SELECT s.qid, s.cell,
       ROW_NUMBER() OVER (PARTITION BY s.qid
         ORDER BY s.dot / (sqrt(s.nq) * sqrt(s.nc)) DESC, s.cell) AS rn
     FROM (
       SELECT q.qid, c.cell, SUM(q.qm[c.i] * c.v) AS dot,
         MAX(q.nq) AS nq, MAX(cn.nc) AS nc
       FROM q, cent c JOIN cn ON cn.cell = c.cell
       GROUP BY q.qid, c.cell) s)
   WHERE rn <= 3),
 qres AS (
   SELECT p.qid, p.ivf_cell, p.prank,
     list_transform(range(1, 65), i -> q.qm[i] - cl.cv[i]) AS rm
   FROM probe p JOIN q ON q.qid = p.qid JOIN cl ON cl.cell = p.ivf_cell),
 qsub AS (
   SELECT qid, ivf_cell, prank, CAST(t.s AS INTEGER) AS s,
     rm[(t.s * 4 + 1):(t.s * 4 + 4)] AS sub
   FROM qres, range(0, 16) t(s)),
 qt AS (
   SELECT t.qid, t.ivf_cell, t.prank, t.s, c.cell,
     SUM((t.sub[c.d] - c.v) * (t.sub[c.d] - c.v)) AS tdist
   FROM qsub t JOIN cp2 c ON c.s = t.s
   GROUP BY t.qid, t.ivf_cell, t.prank, t.s, c.cell),
 adc AS (
   SELECT q.qid, n.nid, SUM(q.tdist) AS adc, MIN(q.prank) AS prank
   FROM codes n JOIN qt q
     ON q.ivf_cell = n.ivf_cell AND q.s = n.s AND q.cell = n.cell
   WHERE q.qid <> n.nid
   GROUP BY q.qid, n.nid),
 st AS (SELECT CAST(np AS BIGINT) AS nprobe FROM (VALUES (1),(2),(3)) v(np)),
 nqc AS (SELECT CAST(COUNT(*) AS BIGINT) AS nq FROM q),
 cc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM mu)
 SELECT s.nprobe, nqc.nq AS n_queries,
   CAST(COUNT(*) AS BIGINT) AS candidates,
   round(CAST(COUNT(*) AS DOUBLE) / CAST(nqc.nq AS DOUBLE), 9)
     AS mean_cands_per_query,
   round(CAST(COUNT(*) AS DOUBLE)
     / CAST(nqc.nq * (cc.n_corpus - 1) AS DOUBLE), 9) AS corpus_scan_share
 FROM adc a JOIN st s ON a.prank <= s.nprobe, nqc, cc
 GROUP BY s.nprobe, nqc.nq, cc.n_corpus ORDER BY s.nprobe"""

  /** One unrolled PQ Lloyd round (assignment argmin -> floor means ->
    * COALESCE fallback), shared by the two PQ oracles.
    */
  private def pqOracleRound(prev: String, tag: String): String = s"""
 a$tag AS (
   SELECT vec_id, s, cell, dist FROM (
     SELECT t.vec_id, t.s, c.cell,
       SUM((t.sub[c.d] - c.v) * (t.sub[c.d] - c.v)) AS dist,
       ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.s
         ORDER BY SUM((t.sub[c.d] - c.v) * (t.sub[c.d] - c.v)) ASC, c.cell ASC)
         AS rn
     FROM sub t JOIN $prev c ON c.s = t.s
     GROUP BY t.vec_id, t.s, c.cell)
   WHERE rn = 1),
 s$tag AS (
   SELECT t.s, a.cell, d.d,
     floor(CAST(SUM(t.sub[d.d]) AS DOUBLE) / COUNT(*)) AS v
   FROM sub t JOIN a$tag a ON a.vec_id = t.vec_id AND a.s = t.s, sd d
   GROUP BY t.s, a.cell, d.d),
 c$tag AS (
   SELECT p.s, p.cell, p.d, COALESCE(n.v, p.v) AS v
   FROM $prev p LEFT JOIN s$tag n
     ON n.s = p.s AND n.cell = p.cell AND n.d = p.d)"""

  /** Shared PQ-oracle prefix: micro-unit sub-vectors, `initExpr`-mod
    * init, two unrolled Lloyd rounds ending at codebook `c2`.
    */
  private def pqOraclePrefix(
      subspaces: Int, subDim: Int, initExpr: String): String =
    s"""WITH mu AS (
   SELECT vec_id, label,
     list_transform(CAST(embedding AS DOUBLE[]), x -> floor(x * 1000000)) AS m
   FROM embeddings),
 sub AS (
   SELECT vec_id, label, CAST(t.s AS INTEGER) AS s,
     m[(t.s * $subDim + 1):(t.s * $subDim + $subDim)] AS sub
   FROM mu, range(0, $subspaces) t(s)),
 sd AS (SELECT CAST(d AS INTEGER) AS d FROM range(1, ${subDim + 1}) t(d)),
 c0 AS (
   SELECT t.s, CAST($initExpr AS INTEGER) AS cell, d.d,
     floor(CAST(SUM(t.sub[d.d]) AS DOUBLE) / COUNT(*)) AS v
   FROM sub t, sd d
   GROUP BY t.s, cell, d.d),${pqOracleRound("c0", "1")},${pqOracleRound("c1", "2")}"""

  /** Product-quantization oracle: two unrolled exact-integer Lloyd rounds
    * per subspace (the knnIvfOracle pattern, L2 instead of cosine —
    * every squared distance and floor-mean is an exact integer, so sums
    * are order-independent and codes/errors hash-match bit-for-bit).
    */
  private val pqCodesOracle: String =
    s"""${pqOraclePrefix(8, 8, "t.label % 4")},
 af AS (
   SELECT vec_id, s, cell, dist FROM (
     SELECT t.vec_id, t.s, c.cell,
       SUM((t.sub[c.d] - c.v) * (t.sub[c.d] - c.v)) AS dist,
       ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.s
         ORDER BY SUM((t.sub[c.d] - c.v) * (t.sub[c.d] - c.v)) ASC, c.cell ASC)
         AS rn
     FROM sub t JOIN c2 c ON c.s = t.s
     GROUP BY t.vec_id, t.s, c.cell)
   WHERE rn = 1)
 SELECT vec_id,
   string_agg(CAST(cell AS VARCHAR), '' ORDER BY s) AS pq_code,
   CAST(SUM(dist) AS BIGINT) AS recon_err
 FROM af GROUP BY vec_id ORDER BY vec_id"""

  /** ADC search oracle: the c2 codebook from the shared prefix encodes
    * the corpus and builds per-query distance tables; the ADC sum is
    * exact-integer, ranked ascending with ties to the lower id. A finer
    * codebook than the codes demo (16 subspaces x 32 cells, vec_id-mod
    * init so every cell seeds) — recall@5 vs exact L2 is the spec's bar.
    */
  private val pqSearchOracle: String =
    s"""${pqOraclePrefix(16, 4, "t.vec_id % 32")},
 codes AS (
   SELECT vec_id AS nid, s, cell FROM (
     SELECT t.vec_id, t.s, c.cell,
       ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.s
         ORDER BY SUM((t.sub[c.d] - c.v) * (t.sub[c.d] - c.v)) ASC, c.cell ASC)
         AS rn
     FROM sub t JOIN c2 c ON c.s = t.s
     GROUP BY t.vec_id, t.s, c.cell)
   WHERE rn = 1),
 qt AS (
   SELECT t.vec_id AS qid, t.s, c.cell,
     SUM((t.sub[c.d] - c.v) * (t.sub[c.d] - c.v)) AS tdist
   FROM sub t JOIN c2 c ON c.s = t.s
   WHERE t.vec_id % 50 = 0
   GROUP BY t.vec_id, t.s, c.cell),
 adc AS (
   SELECT q.qid, n.nid, SUM(q.tdist) AS adc
   FROM codes n JOIN qt q ON q.s = n.s AND q.cell = n.cell
   WHERE q.qid <> n.nid
   GROUP BY q.qid, n.nid),
 ranked AS (
   SELECT qid, nid, CAST(adc AS BIGINT) AS adc_dist,
     CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc ASC, nid ASC)
       AS BIGINT) AS rnk
   FROM adc)
 SELECT qid, nid, adc_dist, rnk FROM ranked WHERE rnk <= 5
 ORDER BY qid, rnk"""

  /** KMV union-Jaccard between sources: portable md5-60 shingle hashes,
    * per-source k-smallest signatures, then the union-k membership count
    * — exact integers plus one IEEE division.
    */
  private val sourceOverlapOracle: String =
    s"""WITH d AS (SELECT doc_id, source,
     string_split_regex(trim(lower(text)), ' +') AS w FROM documents),
 g AS (SELECT source,
     unnest(list_transform(range(1, greatest(len(w) - 3, 0) + 2),
       i -> array_to_string(w[i:i+2], ' '))) AS gram
   FROM d),
 dh AS (SELECT DISTINCT source, ${hexDecode60("md5(gram)")} AS h FROM g),
 sig AS (SELECT source, h FROM (
     SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
     FROM dh) WHERE rn <= 128),
 pairs AS (SELECT a.source AS sa, b.source AS sb
   FROM (SELECT DISTINCT source FROM sig) a, (SELECT DISTINCT source FROM sig) b
   WHERE a.source < b.source),
 m AS (SELECT p.sa, p.sb, s.h,
     MAX(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS ia,
     MAX(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS ib
   FROM pairs p JOIN sig s ON s.source = p.sa OR s.source = p.sb
   GROUP BY p.sa, p.sb, s.h),
 r AS (SELECT sa, sb, ia, ib,
     ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rn FROM m)
 SELECT sa, sb, CAST(COUNT(*) AS BIGINT) AS n_union_k,
   CAST(SUM(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
   CAST(SUM(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END) AS DOUBLE)
     / COUNT(*) AS jaccard_est
 FROM r WHERE rn <= 128 GROUP BY sa, sb ORDER BY sa, sb"""

  /** Cross-document boilerplate coverage: positions keep multiplicity,
    * the df frame dedups (doc, hash) first, thresholds are integer
    * cross-multiplies and coverage a single exact-integer division.
    */
  private val boilerplateOracle: String =
    s"""WITH d AS (SELECT doc_id, source,
     string_split_regex(trim(lower(text)), ' +') AS w FROM documents),
 g AS (SELECT doc_id, source,
     unnest(list_transform(range(1, greatest(len(w) - 3, 0) + 2),
       i -> array_to_string(w[i:i+2], ' '))) AS gram
   FROM d),
 gh AS (SELECT doc_id, source, ${hexDecode60("md5(gram)")} AS h FROM g),
 df AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS df
   FROM (SELECT DISTINCT doc_id, h FROM gh) GROUP BY h),
 pd AS (SELECT gh.doc_id, gh.source,
     CAST(COUNT(*) AS BIGINT) AS n_pos,
     CAST(SUM(CASE WHEN df.df >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
   FROM gh JOIN df USING (h) GROUP BY gh.doc_id, gh.source)
 SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
   CAST(SUM(n_pos) AS BIGINT) AS n_positions,
   CAST(SUM(n_boiler) AS BIGINT) AS n_boiler_positions,
   CAST(SUM(CASE WHEN n_boiler * 10 > n_pos THEN 1 ELSE 0 END) AS BIGINT)
     AS n_flagged_docs,
   CAST(SUM(n_boiler) AS DOUBLE) / CAST(SUM(n_pos) AS DOUBLE) AS coverage
 FROM pd GROUP BY source ORDER BY source"""

  /** k-anonymity / l-diversity audit over the (nation, segment) QI;
    * shared by the batch audit and its streaming-drain twin.
    */
  private val kAnonymityOracle: String =
    """WITH classes AS (
         SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS csize,
           CAST(COUNT(DISTINCT floor(c_acctbal / 1000.0)) AS BIGINT) AS ldiv
         FROM customer GROUP BY c_nationkey, c_mktsegment),
       ks AS (SELECT CAST(unnest([2, 5, 10, 25]) AS BIGINT) AS k)
       SELECT k, CAST(COUNT(*) AS BIGINT) AS n_classes,
         CAST(SUM(CASE WHEN csize < k THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
         CAST(SUM(CASE WHEN csize < k THEN csize ELSE 0 END) AS BIGINT) AS rows_at_risk,
         CAST(SUM(csize) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN csize < k THEN csize ELSE 0 END) AS DOUBLE)
           / CAST(SUM(csize) AS DOUBLE) AS risk_pct,
         MIN(csize) AS min_class, MIN(ldiv) AS min_l
       FROM classes CROSS JOIN ks GROUP BY k ORDER BY k"""

  /** Shared by the batch per-language vocabulary ranking and its
    * streaming drain twin (`q_top_terms`, `q_stream_topterms`).
    */
  private val topTermsOracle: String =
    """WITH dw AS (SELECT lang, word, COUNT(*) AS df FROM (
           SELECT doc_id, lang,
             unnest(list_distinct(string_split_regex(trim(lower(text)), ' +'))) AS word
           FROM documents) GROUP BY 1, 2)
       SELECT lang, word, df, rnk FROM (
         SELECT lang, word, df,
           CAST(row_number() OVER (PARTITION BY lang
             ORDER BY df DESC, word) AS BIGINT) AS rnk
         FROM dw) WHERE rnk <= 5 ORDER BY lang, rnk"""

  /** Shared by the batch Markov counter and its streaming drain twin
    * (`q_event_transitions`, `q_stream_transitions`).
    */
  private val eventTransitionsOracle: String =
    """WITH g AS (SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS prev_type
         FROM events),
       p AS (SELECT prev_type AS from_type, event_type AS to_type,
           COUNT(*) AS n
         FROM g WHERE prev_type IS NOT NULL GROUP BY 1, 2)
       SELECT from_type, to_type, n,
         CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type)
           AS DOUBLE) AS p
       FROM p ORDER BY from_type, to_type"""

  /** Batch/stream-shared oracle for the incremental-ingest dedup pair
    * (`q_dedup_incremental`, `q_stream_incdedup`).
    */
  private val incDedupOracle: String =
    """WITH d AS (SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(len(w) - 3, 0) + 2),
           i -> array_to_string(w[i:i+2], ' '))) AS g
         FROM (SELECT doc_id, string_split_regex(trim(lower(text)), ' +')
           AS w FROM documents)),
       b AS (SELECT doc_id AS id_new, len(g) AS n_new, unnest(g) AS gram
         FROM d WHERE doc_id % 10 = 0),
       e AS (SELECT doc_id AS id_old, len(g) AS n_old, unnest(g) AS gram
         FROM d WHERE doc_id % 10 <> 0),
       j AS (SELECT id_new, id_old, n_new, n_old,
           CAST(COUNT(*) AS BIGINT) AS inter
         FROM e JOIN b USING (gram) GROUP BY 1, 2, 3, 4)
       SELECT id_new, id_old, inter,
         CAST(inter AS DOUBLE) / (n_new + n_old - inter) AS jaccard
       FROM j
       WHERE CAST(inter AS DOUBLE) / (n_new + n_old - inter) >= 0.5
       ORDER BY id_new, id_old"""

  // the trained-LR per-doc score stream (feature build, 3 unrolled
  // GD rounds, per-doc micro-unit sigmoid): shared prefix of the
  // q_lr_calibration and q_hosmer_lemeshow oracles
  private val lrScoreCte: String =
    """WITH f AS (SELECT
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             1000000 AS x0,
             CAST(round(least(CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), ' +')) END AS DOUBLE)
                 / 100.0, 1.0) * 1000000, 0) AS BIGINT) AS x1,
             CAST(round(CAST(len(list_distinct(string_split_regex(trim(text),
                 ' +'))) AS DOUBLE) / len(string_split_regex(trim(text), ' +'))
                 * 1000000, 0) AS BIGINT) AS x2,
             CAST(round(least((CAST(len(trim(text))
                 - (len(string_split_regex(trim(text), ' +')) - 1) AS DOUBLE)
                 / len(string_split_regex(trim(text), ' +'))) / 10.0, 1.0)
                 * 1000000, 0) AS BIGINT) AS x3,
             CAST(round(least(CAST(len(list_filter(string_split_regex(
                 trim(text), ' +'), t -> t IN ('the', 'data', 'query')))
                 AS DOUBLE) * 10.0
                 / CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE),
                 1.0) * 1000000, 0) AS BIGINT) AS x4
           FROM documents),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) AS DOUBLE) * 1000000.0 * 1000000.0 AS den FROM f),
         g1 AS (SELECT f.*, CAST(round((y - 0.5) * 1000000, 0) AS BIGINT)
             AS g FROM f),
         w1 AS (SELECT
             0.0 + 6.0 * CAST(SUM(g * x0) AS DOUBLE) / den AS w0,
             0.0 + 6.0 * CAST(SUM(g * x1) AS DOUBLE) / den AS w1,
             0.0 + 6.0 * CAST(SUM(g * x2) AS DOUBLE) / den AS w2,
             0.0 + 6.0 * CAST(SUM(g * x3) AS DOUBLE) / den AS w3,
             0.0 + 6.0 * CAST(SUM(g * x4) AS DOUBLE) / den AS w4
           FROM g1, nn GROUP BY den),
         g2 AS (SELECT f.*, CAST(round((y - 1.0 / (1.0 + exp(-(
             w1.w0 * (CAST(x0 AS DOUBLE) / 1000000.0)
             + w1.w1 * (CAST(x1 AS DOUBLE) / 1000000.0)
             + w1.w2 * (CAST(x2 AS DOUBLE) / 1000000.0)
             + w1.w3 * (CAST(x3 AS DOUBLE) / 1000000.0)
             + w1.w4 * (CAST(x4 AS DOUBLE) / 1000000.0))))) * 1000000, 0)
             AS BIGINT) AS g FROM f, w1),
         w2 AS (SELECT
             w1.w0 + 6.0 * CAST(SUM(g * x0) AS DOUBLE) / den AS w0,
             w1.w1 + 6.0 * CAST(SUM(g * x1) AS DOUBLE) / den AS w1,
             w1.w2 + 6.0 * CAST(SUM(g * x2) AS DOUBLE) / den AS w2,
             w1.w3 + 6.0 * CAST(SUM(g * x3) AS DOUBLE) / den AS w3,
             w1.w4 + 6.0 * CAST(SUM(g * x4) AS DOUBLE) / den AS w4
           FROM g2, nn, w1 GROUP BY den, w1.w0, w1.w1, w1.w2, w1.w3, w1.w4),
         g3 AS (SELECT f.*, CAST(round((y - 1.0 / (1.0 + exp(-(
             w2.w0 * (CAST(x0 AS DOUBLE) / 1000000.0)
             + w2.w1 * (CAST(x1 AS DOUBLE) / 1000000.0)
             + w2.w2 * (CAST(x2 AS DOUBLE) / 1000000.0)
             + w2.w3 * (CAST(x3 AS DOUBLE) / 1000000.0)
             + w2.w4 * (CAST(x4 AS DOUBLE) / 1000000.0))))) * 1000000, 0)
             AS BIGINT) AS g FROM f, w2),
         w3 AS (SELECT
             w2.w0 + 6.0 * CAST(SUM(g * x0) AS DOUBLE) / den AS w0,
             w2.w1 + 6.0 * CAST(SUM(g * x1) AS DOUBLE) / den AS w1,
             w2.w2 + 6.0 * CAST(SUM(g * x2) AS DOUBLE) / den AS w2,
             w2.w3 + 6.0 * CAST(SUM(g * x3) AS DOUBLE) / den AS w3,
             w2.w4 + 6.0 * CAST(SUM(g * x4) AS DOUBLE) / den AS w4
           FROM g3, nn, w2 GROUP BY den, w2.w0, w2.w1, w2.w2, w2.w3, w2.w4),
         s AS (SELECT f.y, CAST(round(1000000.0 / (1.0 + exp(-(
             w3.w0 * (CAST(x0 AS DOUBLE) / 1000000.0)
             + w3.w1 * (CAST(x1 AS DOUBLE) / 1000000.0)
             + w3.w2 * (CAST(x2 AS DOUBLE) / 1000000.0)
             + w3.w3 * (CAST(x3 AS DOUBLE) / 1000000.0)
             + w3.w4 * (CAST(x4 AS DOUBLE) / 1000000.0)))), 0) AS BIGINT)
             AS su FROM f, w3)"""

  // shared by q_var_cvar and its streaming drain q_stream_var_cvar
  private val varCvarOracle: String =
    """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS cents
           FROM orders GROUP BY 1),
         r AS (SELECT day, cents,
             ROW_NUMBER() OVER (ORDER BY cents, day) AS i,
             COUNT(*) OVER () AS n,
             CAST(SUM(cents) OVER (ORDER BY cents, day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
           FROM d),
         x AS (SELECT r.*, lv.level,
             ((100 - lv.level) * r.n + 99) // 100 AS k
           FROM r CROSS JOIN (VALUES (95), (99)) lv(level))
         SELECT CAST(level AS BIGINT) AS level,
           CAST(n AS BIGINT) AS n_days, CAST(k AS BIGINT) AS n_tail_days,
           cents AS var_cents,
           CAST(cum AS DOUBLE) / CAST(k AS DOUBLE) AS cvar_cents
         FROM x WHERE i = k ORDER BY level"""

  /** The 15-term arithmetic decode of an md5 hex prefix into the 60-bit
    * BIGINT Spark computes as `conv(substring(md5(x),1,15),16,10)` —
    * built from ascii()/CASE/multiplication only (no lambdas, strpos,
    * shifts, or range() bounds, the DuckDB surfaces that drift across
    * versions). `m` names a column holding the md5 hex string.
    */
  private[graft] def hexDecode60(m: String): String =
    (1 to 15).map { i =>
      val w = java.math.BigInteger.valueOf(16L).pow(15 - i)
      s"""(CASE WHEN substr($m,$i,1) >= 'a'
           THEN ascii(substr($m,$i,1)) - 87
           ELSE ascii(substr($m,$i,1)) - 48 END) * CAST($w AS BIGINT)"""
    }.mkString("\n             + ")

  /** KMV oracle, built on the least version-sensitive SQL surface
    * available: the 60-bit md5 decode is 15 explicit
    * `ascii(substr(..))`/CASE terms on exact BIGINT weights — no
    * lambdas (whose `i ->` arrow collides with the JSON arrow operator
    * in newer DuckDB), no `strpos`, no bit shifts, no `range()`
    * bound conventions. Byte-identical to the Spark side's
    * `conv(substring(md5(..),1,15),16,10)` on every DuckDB tested.
    */
  private val kmvOracle: String = {
    val decode = hexDecode60("m")
    s"""WITH dh AS (SELECT DISTINCT flag,
             $decode AS h
           FROM (SELECT l_returnflag AS flag,
                   md5(CAST(l_partkey AS VARCHAR)) AS m FROM lineitem)),
         rk AS (SELECT flag, h,
             ROW_NUMBER() OVER (PARTITION BY flag ORDER BY h) AS r,
             COUNT(*) OVER (PARTITION BY flag) AS n FROM dh),
         kth AS (SELECT flag, CAST(MAX(n) AS BIGINT) AS n_exact,
             MAX(CASE WHEN r = 64 THEN h END) AS kth_hash
           FROM rk GROUP BY 1)
         SELECT flag, n_exact,
           CASE WHEN n_exact < 64 THEN NULL ELSE kth_hash END AS kth_hash,
           CASE WHEN n_exact < 64 THEN CAST(n_exact AS DOUBLE)
             ELSE 63.0 * (1152921504606846976.0 / CAST(kth_hash AS DOUBLE))
             END AS est
         FROM kth ORDER BY flag"""
  }

  // shared by q_holt_winters and its streaming drain q_stream_holt
  private val holtWintersOracle: String =
    """WITH daily AS (SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             CAST(COUNT(*) AS DOUBLE) AS y FROM events GROUP BY 1, 2),
         b AS (SELECT event_type, MIN(day) AS lo, MAX(day) AS hi
           FROM daily GROUP BY 1),
         spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day
           FROM b),
         filled AS (SELECT s.event_type, s.day, COALESCE(d.y, 0.0) AS y
           FROM spine s LEFT JOIN daily d USING (event_type, day)),
         ser AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             list(y ORDER BY day) AS ys FROM filled GROUP BY 1
           HAVING COUNT(*) >= 14),
         seed AS (SELECT event_type, n_days, ys,
             (ys[1]+ys[2]+ys[3]+ys[4]+ys[5]+ys[6]+ys[7]) / 7.0 AS l0,
             ((ys[8]+ys[9]+ys[10]+ys[11]+ys[12]+ys[13]+ys[14])
               - (ys[1]+ys[2]+ys[3]+ys[4]+ys[5]+ys[6]+ys[7])) / 49.0 AS b0
           FROM ser),
         f AS (SELECT event_type, n_days,
             list_reduce(
               list_prepend(
                 list_concat([l0, b0],
                   list_transform(ys[1:7], y -> y - l0)),
                 list_transform(ys[8:], y -> [CAST(y AS DOUBLE),
                   0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0])),
               (acc, x) -> list_concat(list_concat(
                 [0.3 * (x[1] - acc[3]) + 0.7 * (acc[1] + acc[2]),
                  0.1 * ((0.3 * (x[1] - acc[3]) + 0.7 * (acc[1] + acc[2]))
                    - acc[1]) + 0.9 * acc[2]],
                 acc[4:9]),
                 [0.2 * (x[1] - (0.3 * (x[1] - acc[3])
                   + 0.7 * (acc[1] + acc[2]))) + 0.8 * acc[3]])) AS st
           FROM seed)
         SELECT event_type, n_days, st[1] AS level, st[2] AS trend,
           st[3] AS seasonal_next,
           st[1] + 1.0 * st[2] + st[3] AS forecast_1,
           st[1] + 7.0 * st[2] + st[9] AS forecast_7
         FROM f ORDER BY event_type"""

  private val brierOracle: String =
    """WITH d AS (SELECT
             CASE WHEN len(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), ' +')) END AS n_tokens,
             CAST(len(list_distinct(string_split_regex(trim(text), ' +')))
               AS DOUBLE) / len(string_split_regex(trim(text), ' +')) AS dr,
             CAST(len(trim(text))
                 - (len(string_split_regex(trim(text), ' +')) - 1) AS DOUBLE)
               / len(string_split_regex(trim(text), ' +')) AS awl,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           FROM documents),
         s AS (SELECT CAST(ROUND(
               (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
               + dr * 0.4 + least(awl / 10.0, 1.0) * 0.2) * 1000000)
               AS BIGINT) AS pu, y FROM d),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS npos,
             SUM(CAST((pu - y * 1000000) * (pu - y * 1000000)
               AS DECIMAL(30,0))) AS squ FROM s),
         bins AS (SELECT
             least(pu // 100000, 9) AS bin,
             CAST(COUNT(*) AS BIGINT) AS nk,
             CAST(SUM(pu) AS BIGINT) AS spu,
             CAST(SUM(y) AS BIGINT) AS sy FROM s GROUP BY 1),
         terms AS (SELECT bin, nk, t.n, t.npos, t.squ,
             CAST(ROUND((CAST(spu - sy * 1000000 AS DOUBLE)
                 / CAST(nk * 1000000 AS DOUBLE))
               * (CAST(spu - sy * 1000000 AS DOUBLE)
                 / CAST(nk * 1000000 AS DOUBLE)), 12)
               AS DECIMAL(16,12)) AS rel_t,
             CAST(ROUND((CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE)
                 - CAST(t.npos AS DOUBLE) / CAST(t.n AS DOUBLE))
               * (CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE)
                 - CAST(t.npos AS DOUBLE) / CAST(t.n AS DOUBLE)), 12)
               AS DECIMAL(16,12)) AS res_t
           FROM bins, tot t)
         SELECT n AS n_docs,
           CAST(squ AS DOUBLE) / (CAST(n AS DOUBLE) * 1e12) AS brier,
           CAST(SUM(rel_t * CAST(nk AS DECIMAL(12,0))) AS DOUBLE)
             / CAST(n AS DOUBLE) AS reliability,
           CAST(SUM(res_t * CAST(nk AS DECIMAL(12,0))) AS DOUBLE)
             / CAST(n AS DOUBLE) AS resolution,
           (CAST(npos AS DOUBLE) / CAST(n AS DOUBLE))
             * (1.0 - CAST(npos AS DOUBLE) / CAST(n AS DOUBLE))
             AS uncertainty
         FROM terms GROUP BY n, npos, squ"""

  private val mmdOracle: String =
    """WITH b AS (SELECT source,
             least(n_chars // 100, 49) AS b FROM documents),
         sh AS (SELECT source, b, CAST(COUNT(*) AS BIGINT) AS s
           FROM b GROUP BY 1, 2),
         ch AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1),
         nss AS (SELECT source, CAST(SUM(s) AS BIGINT) AS ns
           FROM sh GROUP BY 1),
         ncc AS (SELECT CAST(SUM(c) AS BIGINT) AS nc FROM ch),
         ssx AS (SELECT a.source,
             SUM(CAST(a.s * bb.s AS DECIMAL(28,0))
               * CAST(ROUND(exp(-((a.b - bb.b) * (a.b - bb.b)) / 50.0)
                 * 1e9) AS BIGINT)) AS ss
           FROM sh a JOIN sh bb USING (source) GROUP BY 1),
         ccx AS (SELECT
             SUM(CAST(a.c * bb.c AS DECIMAL(28,0))
               * CAST(ROUND(exp(-((a.b - bb.b) * (a.b - bb.b)) / 50.0)
                 * 1e9) AS BIGINT)) AS cc
           FROM ch a, ch bb),
         scx AS (SELECT sh.source,
             SUM(CAST(sh.s * ch.c AS DECIMAL(28,0))
               * CAST(ROUND(exp(-((sh.b - ch.b) * (sh.b - ch.b)) / 50.0)
                 * 1e9) AS BIGINT)) AS sc
           FROM sh, ch GROUP BY 1)
         SELECT x.source, n.ns,
           CAST(ss AS DOUBLE)
               / (CAST(n.ns AS DOUBLE) * CAST(n.ns AS DOUBLE) * 1e9)
             + CAST(cc AS DOUBLE)
               / (CAST(m.nc AS DOUBLE) * CAST(m.nc AS DOUBLE) * 1e9)
             - 2.0 * CAST(sc AS DOUBLE)
               / (CAST(n.ns AS DOUBLE) * CAST(m.nc AS DOUBLE) * 1e9) AS mmd2
         FROM ssx x JOIN nss n USING (source) JOIN scx USING (source),
           ccx, ncc m ORDER BY x.source"""

  /** DuckDB oracle SQL per query (omitted => rows-only check):
    * q_knn_lsh ONLY (xxhash64 band signatures; its oracled portable
    * companion q_knn_lsh_portable pins the plan shape). q_approx_distinct
    * and q_approx_quantile graduated to BOUNDED-ERROR oracles in round
    * 10: each emits exact values plus tolerance flags computed from the
    * sketch (see [[graft.ops.Stats.qApproxDistinct]] /
    * [[graft.ops.Stats.qApproxQuantile]] for the bound derivations), and
    * the oracle asserts the flags are 1 — a sketch regression hash-fails
    * the row even though sketch internals never cross the compare.
    * Each engine-specific signature family carries a
    * fully-oracled portable companion that hash-checks the same plan
    * shape: q_dedup_minhash_verify (rare-gram buckets + exact-jaccard
    * verify), q_simhash_portable (md5-vote fingerprint + hamming
    * verify), q_knn_lsh_portable (md5 sign matrix + integer micro-unit
    * band codes + exact-cosine top-k). q_knn_ivf itself IS fully
    * oracled: its Lloyd's index runs in exact integer micro-units, so
    * the trained centroids are bit-deterministic and the oracle unrolls
    * the rounds as CTEs (knnIvfOracle).
    *
    * Round-8 graduations: q_dedup_simhash now fingerprints with the
    * portable md5-vote construction (full hash oracle; the xxhash64
    * fingerprint stays the library's throughput Column function), and
    * pipeline_health carries a partial oracle over its deterministic
    * columns (the seed-pinned generator contract as a VALUES replay).
    *
    * q_dedup_minhash graduated from rows-only in round 7: its oracle is
    * the GROUND-TRUTH jaccard >= 0.7 pair set, generated by prefix
    * filtering (rarest-first canonical gram order; a pair at threshold t
    * must share a gram within each member's (n - ceil(t*n) + 1)-prefix —
    * the ppjoin lemma) and verified by exact gram-set jaccard. The hash
    * match therefore asserts the banded pipeline achieves FULL RECALL at
    * the 0.7 threshold on this corpus (verified empirically at sf0.001 /
    * 0.01 / 0.1 against a no-filter brute force) on top of the exact
    * verify arithmetic — if a signature or banding change drops recall,
    * this row goes red even though signatures themselves are
    * engine-specific. 8x4 banding misses a true pair with probability
    * (1-j^4)^8 <= 11% at j = 0.7 exactly, but the corpus' near-dup pairs
    * sit well above threshold where the miss bound is negligible; a
    * regenerated corpus dense at exactly 0.7 would legitimately re-open
    * the rows-only status. Round 9 MEASURED that boundary (SCALE.md,
    * "10x ADVERSARIAL recall run"): on a 50k-doc corpus planted dense at
    * j~0.7 with hot boilerplate, recall vs the ppjoin ground truth
    * ([[graft.ext.Dedup.jaccardGroundTruth]]) is 0.921 in the 0.70-0.75
    * band (theory: 0.918) and 0.936 in 0.80-0.90 (maxBucket cap cost
    * under boilerplate) — the quantified evidence base for flipping this
    * row to rows-only if the graded corpus ever becomes threshold-dense.
    *
    * q_rolling_fingerprint's 64-bit wraparound IS expressible: the oracle
    * runs the same h = h*31 + byte recurrence in HUGEINT mod 2^64 over the
    * hex-decoded UTF-8 bytes, then re-centers to signed BIGINT.
    */
  def oracleSql: Map[String, String] = Map(
    // average precision under the deterministic (score desc, doc_id)
    // total order; each precision@k pinned at 1e-9 before the sum
    "q_pr_auc" ->
      """WITH d AS (SELECT doc_id,
             CASE WHEN len(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), ' +')) END AS n_tokens,
             CAST(len(list_distinct(string_split_regex(trim(text), ' +')))
               AS DOUBLE) / len(string_split_regex(trim(text), ' +')) AS dr,
             CAST(len(trim(text))
                 - (len(string_split_regex(trim(text), ' +')) - 1) AS DOUBLE)
               / len(string_split_regex(trim(text), ' +')) AS awl,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           FROM documents),
         s AS (SELECT doc_id,
             ROUND(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
               + dr * 0.4 + least(awl / 10.0, 1.0) * 0.2, 6) AS p, y
           FROM d),
         r AS (SELECT p, y,
             ROW_NUMBER() OVER (ORDER BY p DESC, doc_id) AS k,
             SUM(y) OVER (ORDER BY p DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
           FROM s)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           ROUND(CAST(SUM(CASE WHEN y = 1 THEN
               CAST(ROUND(CAST(cum_pos AS DOUBLE) / k, 9) AS DECIMAL(12,9))
             END) AS DOUBLE) / SUM(y), 9) AS avg_precision,
           MAX(CASE WHEN k = 10 THEN CAST(cum_pos AS DOUBLE) / 10.0 END)
             AS p_at_10
         FROM r""",
    // Murphy decomposition over 10 forecast bins (micro-unit forecasts,
    // integer moments); the drain shares the oracle — bin state merges
    // exactly across microbatches
    "q_brier_decomp" -> brierOracle,
    "q_stream_brier" -> brierOracle,
    // RBF-kernel MMD² on binned doc lengths: kernel pinned to integer
    // nano-units, count products exact; the drain shares the oracle
    "q_mmd_drift" -> mmdOracle,
    "q_stream_mmd" -> mmdOracle,
    // Turing re-estimates: N_r exact type counts, r* and masses single
    // IEEE divisions — no rounding anywhere
    "q_good_turing" ->
      """WITH d AS (SELECT string_split_regex(trim(lower(text)), ' +') AS w
           FROM documents),
         g AS (SELECT unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 2),
             i -> array_to_string(w[i:i+1], ' '))) AS g FROM d),
         c AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS r FROM g GROUP BY 1),
         f AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS nr FROM c GROUP BY 1),
         t AS (SELECT CAST(SUM(r) AS BIGINT) AS ntok FROM c)
         SELECT f.r, f.nr, COALESCE(f2.nr, 0) AS nr1,
           CAST(f.r + 1 AS DOUBLE) * CAST(COALESCE(f2.nr, 0) AS DOUBLE)
             / CAST(f.nr AS DOUBLE) AS r_star,
           CAST((f.r + 1) * COALESCE(f2.nr, 0) AS DOUBLE)
             / CAST(t.ntok AS DOUBLE) AS gt_mass
         FROM f LEFT JOIN f f2 ON f2.r = f.r + 1, t
         WHERE f.r <= 10 ORDER BY f.r""",
    // Chao1 richness: exact type counts, one IEEE division
    "q_vocab_chao1" ->
      """WITH w AS (SELECT lang,
             unnest(string_split_regex(lower(trim(text)), ' +')) AS word
           FROM documents),
         c AS (SELECT lang, word, COUNT(*) AS cnt FROM w
           WHERE len(word) > 0 GROUP BY 1, 2)
         SELECT lang, CAST(COUNT(*) AS BIGINT) AS d_types,
           CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(COUNT(*) AS DOUBLE)
             + CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)
                 * (SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) - 1) AS DOUBLE)
               / CAST(2 * (SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) + 1)
                 AS DOUBLE) AS chao1
         FROM c GROUP BY lang ORDER BY lang""",
    // banded nearest-balance match (shifted bands: negative balances
    // floor/truncate differently across engines), ATT over matched pairs
    "q_propensity_match" ->
      """WITH cust AS (SELECT c_custkey AS ck,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
             c_custkey % 2 AS arm FROM customer),
         rv AS (SELECT o_custkey AS ck,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
           FROM orders GROUP BY 1),
         wr AS (SELECT c.ck, c.bal, c.arm, COALESCE(r.rev, 0) AS rev
           FROM cust c LEFT JOIN rv r USING (ck)),
         tr AS (SELECT ck AS t_ck, bal AS t_bal, rev AS t_rev,
             (bal + 100000) // 10000 + off.o AS band
           FROM wr, (SELECT UNNEST([-1, 0, 1]) AS o) off WHERE arm = 1),
         co AS (SELECT ck AS c_ck, bal AS c_bal, rev AS c_rev,
             (bal + 100000) // 10000 AS band FROM wr WHERE arm = 0),
         cand AS (SELECT t_ck, t_rev, c_ck, c_rev,
             abs(t_bal - c_bal) AS gap,
             ROW_NUMBER() OVER (PARTITION BY t_ck
               ORDER BY abs(t_bal - c_bal), c_ck) AS rnk
           FROM tr JOIN co USING (band)
           WHERE abs(t_bal - c_bal) <= 10000),
         m AS (SELECT * FROM cand WHERE rnk = 1),
         nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_treated
           FROM wr WHERE arm = 1)
         SELECT nt.n_treated, CAST(COUNT(*) AS BIGINT) AS n_matched,
           ROUND(CAST(COUNT(*) AS DOUBLE) / nt.n_treated, 9) AS match_rate,
           ROUND(CAST(SUM(t_rev - c_rev) AS DOUBLE) / COUNT(*), 6)
             AS att_cents,
           ROUND(CAST(SUM(gap) AS DOUBLE) / COUNT(*), 6) AS mean_gap_cents
         FROM m, nt GROUP BY nt.n_treated""",
    // qini uplift curve: ceiling-rank deciles, exact cumulative cents,
    // one mirrored double chain per decile
    "q_qini_curve" ->
      """WITH cust AS (SELECT c_custkey AS ck,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
             c_custkey % 2 AS arm FROM customer),
         rv AS (SELECT o_custkey AS ck,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
           FROM orders GROUP BY 1),
         w AS (SELECT c.ck, c.bal, c.arm, COALESCE(r.rev, 0) AS rev
           FROM cust c LEFT JOIN rv r USING (ck)),
         rk AS (SELECT arm, rev,
             ROW_NUMBER() OVER (ORDER BY bal DESC, ck) AS i,
             COUNT(*) OVER () AS n FROM w),
         g AS (SELECT (i * 10 + n - 1) // n AS decile,
             CAST(COUNT(*) FILTER (WHERE arm = 1) AS BIGINT) AS nt,
             CAST(COALESCE(SUM(rev) FILTER (WHERE arm = 1), 0) AS BIGINT)
               AS rt,
             CAST(COUNT(*) FILTER (WHERE arm = 0) AS BIGINT) AS nc,
             CAST(COALESCE(SUM(rev) FILTER (WHERE arm = 0), 0) AS BIGINT)
               AS rc
           FROM rk GROUP BY 1),
         c AS (SELECT decile,
             CAST(SUM(nt) OVER (ORDER BY decile) AS BIGINT) AS cum_nt,
             CAST(SUM(rt) OVER (ORDER BY decile) AS BIGINT) AS cum_rt,
             CAST(SUM(nc) OVER (ORDER BY decile) AS BIGINT) AS cum_nc,
             CAST(SUM(rc) OVER (ORDER BY decile) AS BIGINT) AS cum_rc
           FROM g)
         SELECT CAST(decile AS BIGINT) AS decile, cum_nt, cum_nc,
           cum_rt, cum_rc,
           CAST(cum_rt AS DOUBLE) - CAST(cum_rc AS DOUBLE)
             * CAST(cum_nt AS DOUBLE) / CAST(cum_nc AS DOUBLE)
             AS qini_cents
         FROM c ORDER BY decile""",
    // daily-revenue VaR/CVaR: type-1 order-statistic pick by integer
    // rank on the day frame; CVaR = one IEEE division of exact sums
    "q_var_cvar" -> varCvarOracle,
    "q_stream_var_cvar" -> varCvarOracle,
    // KMV sketch: identical 60-bit md5 hashes both engines, estimator =
    // two IEEE ops on the exact k-th order statistic; decode is
    // lambda-free arithmetic (see kmvOracle) for DuckDB portability
    "q_kmv_distinct" -> kmvOracle,
    // bounded-error sketch oracles (round-10 graduation from rows-only):
    // the Spark side emits exact values + tolerance flags computed FROM
    // the sketch; the oracle emits the same exact values + literal 1s,
    // so a sketch drifting out of tolerance flips a flag and hash-fails.
    // Sketch internals (HLL registers, quantile summaries) never cross
    // the compare — only the boolean verdict does.
    "q_approx_distinct" ->
      """SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           CAST(1 AS BIGINT) AS within_tolerance
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // quantile_cont's linear interpolation matches Spark's exact
    // `percentile` bit-for-bit on doubles (etl_sales_pipeline precedent)
    "q_approx_quantile" ->
      """SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS exact_median,
           quantile_cont(l_extendedprice, 0.9) AS exact_p90,
           CAST(1 AS BIGINT) AS median_ok,
           CAST(1 AS BIGINT) AS p90_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // within-subject paired t: same per-customer era split, per-pair
    // difference pinned at 1e-6 into DECIMAL before the moment sums
    "q_paired_ttest" ->
      """WITH p AS (SELECT o_custkey,
             COUNT(*) FILTER (WHERE o_orderdate < TIMESTAMP '1998-07-01')
               AS n_early,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT))
               FILTER (WHERE o_orderdate < TIMESTAMP '1998-07-01') AS c_early,
             COUNT(*) FILTER (WHERE o_orderdate >= TIMESTAMP '1998-07-01')
               AS n_late,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT))
               FILTER (WHERE o_orderdate >= TIMESTAMP '1998-07-01') AS c_late
           FROM orders GROUP BY o_custkey),
         d AS (SELECT CAST(ROUND(CAST(c_late AS DOUBLE) / n_late
               - CAST(c_early AS DOUBLE) / n_early, 6) AS DECIMAL(22,6)) AS d
           FROM p WHERE n_early > 0 AND n_late > 0),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             SUM(d) AS sd1,
             SUM(CAST(d * d AS DECIMAL(30,8))) AS sd2 FROM d)
         SELECT n_pairs,
           ROUND(CAST(sd1 AS DOUBLE) / n_pairs, 6) AS mean_diff_cents,
           ROUND((CAST(sd1 AS DOUBLE) / n_pairs)
             / (sqrt((CAST(sd2 AS DOUBLE)
                 - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE) / n_pairs)
               / (n_pairs - 1)) / sqrt(CAST(n_pairs AS DOUBLE))), 6)
             AS t_stat
         FROM m""",
    // md5-derived re-randomizations: permutation b flips customer c by
    // parity of the first hex digit of md5(b:c) — identical draws here
    "q_permutation_test" ->
      """WITH pc AS (SELECT o_custkey AS c,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders GROUP BY 1),
         obs AS (SELECT
             CAST(SUM(cents) FILTER (WHERE c % 2 = 1) AS DOUBLE)
               / COUNT(*) FILTER (WHERE c % 2 = 1)
             - CAST(SUM(cents) FILTER (WHERE c % 2 = 0) AS DOUBLE)
               / COUNT(*) FILTER (WHERE c % 2 = 0) AS obs_gap FROM pc),
         pm AS (SELECT 32 * g + s + 1 AS b,
             (strpos('0123456789abcdef',
               substr(md5(CAST(g AS VARCHAR) || ':' || CAST(c AS VARCHAR)),
                 CAST(s + 1 AS INTEGER), 1)) - 1) % 2 AS arm, cents
           FROM pc, range(0, 7) t(g), range(0, 32) v(s)
           WHERE 32 * g + s + 1 <= 200),
         gaps AS (SELECT b,
             CAST(SUM(cents) FILTER (WHERE arm = 1) AS DOUBLE)
               / COUNT(*) FILTER (WHERE arm = 1)
             - CAST(SUM(cents) FILTER (WHERE arm = 0) AS DOUBLE)
               / COUNT(*) FILTER (WHERE arm = 0) AS gap
           FROM pm GROUP BY b)
         SELECT ROUND(MAX(obs_gap), 6) AS obs_gap_cents,
           CAST(COUNT(*) AS BIGINT) AS n_perms,
           CAST(SUM(CASE WHEN abs(gap) >= abs(obs_gap) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_extreme,
           ROUND(CAST(SUM(CASE WHEN abs(gap) >= abs(obs_gap) THEN 1 ELSE 0
               END) + 1 AS DOUBLE) / (COUNT(*) + 1), 9) AS p_value
         FROM gaps, obs""",
    // type-1 order-statistic quantiles at the 10..90 grid, per source and
    // corpus-wide — integer rank picks, no interpolation
    "q_qq_drift" ->
      """WITH s AS (SELECT source AS k, n_chars, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY n_chars, doc_id) AS i,
             COUNT(*) OVER (PARTITION BY source) AS n FROM documents),
         grid AS (SELECT CAST(UNNEST([10,20,30,40,50,60,70,80,90])
             AS BIGINT) AS q),
         g AS (SELECT k, q, n_chars AS source_len FROM s, grid
           WHERE i = (q * n + 99) // 100),
         c0 AS (SELECT n_chars, doc_id,
             ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS i,
             COUNT(*) OVER () AS n FROM documents),
         c AS (SELECT q, n_chars AS corpus_len FROM c0, grid
           WHERE i = (q * n + 99) // 100)
         SELECT g.k AS source, g.q, g.source_len, c.corpus_len,
           g.source_len - c.corpus_len AS gap
         FROM g JOIN c USING (q) ORDER BY source, q""",
    // PAVA via the minimax closed form over quality-score bins: pooled
    // rates are exact integer prefix-sum differences divided once
    "q_isotonic_calibration" ->
      """WITH d AS (SELECT
             CASE WHEN len(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), ' +')) END AS n_tokens,
             CAST(len(list_distinct(string_split_regex(trim(text), ' +')))
               AS DOUBLE) / len(string_split_regex(trim(text), ' +')) AS dr,
             CAST(len(trim(text))
                 - (len(string_split_regex(trim(text), ' +')) - 1) AS DOUBLE)
               / len(string_split_regex(trim(text), ' +')) AS awl,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           FROM documents),
         qd AS (SELECT least(CAST(floor(
               (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
                 + dr * 0.4 + least(awl / 10.0, 1.0) * 0.2) * 20)
               AS BIGINT), 19) AS bin, y FROM d),
         bins AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(y) AS BIGINT) AS n_pos FROM qd GROUP BY bin),
         pre AS (SELECT bin, n_docs, n_pos,
             CAST(SUM(n_docs) OVER (ORDER BY bin) AS BIGINT) AS cn,
             CAST(SUM(n_pos) OVER (ORDER BY bin) AS BIGINT) AS cp FROM bins),
         r AS (SELECT lo.bin AS j, hi.bin AS k,
             CAST(hi.cp - (lo.cp - lo.n_pos) AS DOUBLE)
               / CAST(hi.cn - (lo.cn - lo.n_docs) AS DOUBLE) AS r
           FROM pre lo JOIN pre hi ON lo.bin <= hi.bin),
         mins AS (SELECT b.bin, r.j, MIN(r.r) AS mr
           FROM bins b JOIN r ON r.j <= b.bin AND b.bin <= r.k
           GROUP BY 1, 2),
         fit AS (SELECT bin, MAX(mr) AS fr FROM mins GROUP BY 1)
         SELECT b.bin, b.n_docs, b.n_pos,
           ROUND(CAST(b.n_pos AS DOUBLE) / b.n_docs, 9) AS observed_rate,
           ROUND(fr, 9) AS fitted_rate
         FROM bins b JOIN fit USING (bin) ORDER BY bin""",
    // DSIR importance weights: md5-hex bucket (leading 8 digits mod 4096),
    // per-bucket log-ratio pinned to integer micro-nats before doc sums
    "q_importance_weights" ->
      """WITH w AS (SELECT doc_id, lang = 'en' AS is_t,
             unnest(string_split_regex(lower(trim(text)), ' +')) AS word
           FROM documents),
         wb AS (SELECT doc_id, is_t,
             list_sum(list_transform(range(1, 9),
               i -> CAST(strpos('0123456789abcdef',
                   substr(md5(word), CAST(i AS INTEGER), 1)) - 1 AS BIGINT)
                 * (CAST(1 AS BIGINT) << CAST(4 * (8 - i) AS INTEGER))))
               % 4096 AS b
           FROM w WHERE len(word) > 0),
         bc AS (SELECT b,
             CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
             CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cs
           FROM wb GROUP BY b),
         wt AS (SELECT b, CAST(round((ln(ct + 1) - ln(nt + 4096)
               - ln(cs + 1) + ln(ns + 4096)) * 1000000) AS BIGINT) AS wt_u
           FROM (SELECT b, ct, cs, CAST(SUM(ct) OVER () AS BIGINT) AS nt,
               CAST(SUM(cs) OVER () AS BIGINT) AS ns FROM bc)),
         k AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS k
           FROM wb GROUP BY doc_id, b)
         SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_words,
           CAST(SUM(k * wt_u) AS BIGINT) AS iw_units,
           CAST(SUM(k * wt_u) AS DOUBLE)
             / (CAST(SUM(k) AS DOUBLE) * 1e6) AS iw_per_word
         FROM k JOIN wt USING (b) GROUP BY doc_id ORDER BY doc_id""",
    // interpolated Kneser-Ney with d=3/4: every term rational, the
    // probability one exact integer numerator over one exact denominator
    "q_kneser_ney" ->
      """WITH d AS (SELECT string_split_regex(trim(lower(text)), ' +') AS w
           FROM documents),
         g AS (SELECT unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 2),
             i -> array_to_string(w[i:i+1], ' '))) AS g FROM d),
         cg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c12 FROM g GROUP BY 1),
         c AS (SELECT string_split(g, ' ')[1] AS w1,
             string_split(g, ' ')[-1] AS w2, c12 FROM cg),
         lft AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS n1p FROM c GROUP BY 1),
         rgt AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS ncont
           FROM c GROUP BY 1),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntypes FROM c),
         probes AS (SELECT w1, c1, n1p FROM lft
           ORDER BY c1 DESC, w1 LIMIT 5),
         j AS (SELECT c.w1, c.w2, c.c12, p.c1, p.n1p, r.ncont, t.ntypes,
             CAST(greatest(4 * c.c12 - 3, 0) AS DECIMAL(20,0))
                 * CAST(t.ntypes AS DECIMAL(12,0))
               + CAST(3 AS DECIMAL(6,0)) * CAST(p.n1p AS DECIMAL(12,0))
                 * CAST(r.ncont AS DECIMAL(12,0)) AS num
           FROM c JOIN probes p USING (w1) JOIN rgt r USING (w2), tot t),
         rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY w1
             ORDER BY num DESC, w2) AS rnk FROM j)
         SELECT w1, w2, c12, c1, n1p, ncont, CAST(rnk AS BIGINT) AS rnk,
           ROUND(CAST(num AS DOUBLE) / CAST(c1 * 4 AS DOUBLE)
             / CAST(ntypes AS DOUBLE), 9) AS p_kn
         FROM rk WHERE rnk <= 5 ORDER BY w1, rnk""",
    // Poisson(1) bootstrap: md5-uniform inverted against precomputed
    // integer CDF thresholds, replica means exact, CI = order statistics
    "q_poisson_bootstrap" ->
      """WITH o AS (SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
         r AS (SELECT 4 * g + s + 1 AS b, cents,
             list_sum(list_transform(range(1, 9),
               i -> CAST(strpos('0123456789abcdef',
                   substr(md5(CAST(g AS VARCHAR) || ':'
                     || CAST(o_orderkey AS VARCHAR)),
                     CAST(8 * s + i AS INTEGER), 1)) - 1 AS BIGINT)
                 * (CAST(1 AS BIGINT) << CAST(4 * (8 - i) AS INTEGER)))) AS u
           FROM o, range(0, 25) t(g), range(0, 4) v(s)),
         dw AS (SELECT b, cents,
             CASE WHEN u < 1580030168 THEN 0 WHEN u < 3160060337 THEN 1
               WHEN u < 3950075421 THEN 2 WHEN u < 4213413783 THEN 3
               WHEN u < 4279248373 THEN 4 WHEN u < 4292415291 THEN 5
               WHEN u < 4294609777 THEN 6 WHEN u < 4294923276 THEN 7
               ELSE 8 END AS w
           FROM r),
         m AS (SELECT b,
             CAST(SUM(CAST(w * cents AS DECIMAL(28,0))) AS DOUBLE)
               / CAST(SUM(w) AS DOUBLE) AS mean_b
           FROM dw GROUP BY b),
         ranked AS (SELECT b, mean_b,
             ROW_NUMBER() OVER (ORDER BY mean_b, b) AS i,
             COUNT(*) OVER () AS nn FROM m),
         pt AS (SELECT CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS mc FROM o)
         SELECT ROUND(MAX(mc), 6) AS mean_cents,
           CAST(COUNT(*) AS BIGINT) AS n_boot,
           ROUND(MAX(CASE WHEN i = (25 * nn + 999) // 1000
             THEN mean_b END), 6) AS ci_lo_cents,
           ROUND(MAX(CASE WHEN i = (975 * nn + 999) // 1000
             THEN mean_b END), 6) AS ci_hi_cents
         FROM ranked, pt""",
    // Efraimidis-Spirakis keys from the content-hash uniform: -ln(u)
    // pinned to micro-nats, key = one IEEE division, k smallest per lang
    "q_weighted_sample" ->
      """WITH d AS (SELECT lang, doc_id, n_chars,
             list_sum(list_transform(range(1, 9),
               i -> CAST(strpos('0123456789abcdef',
                   substr(md5(text || CAST(doc_id AS VARCHAR)),
                     CAST(i AS INTEGER), 1)) - 1 AS BIGINT)
                 * (CAST(1 AS BIGINT) << CAST(4 * (8 - i) AS INTEGER))))
               AS u32
           FROM documents),
         kk AS (SELECT lang, doc_id, n_chars,
             CAST(round(-ln((u32 + 1) / 4294967296.0) * 1000000) AS BIGINT)
               AS lnu_u FROM d),
         r AS (SELECT lang, doc_id, n_chars, lnu_u,
             CAST(lnu_u AS DOUBLE) / n_chars AS key,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY CAST(lnu_u AS DOUBLE) / n_chars, doc_id) AS rnk
           FROM kk)
         SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id, n_chars, lnu_u,
           ROUND(key, 9) AS key
         FROM r WHERE rnk <= 5 ORDER BY lang, rnk""",
    "q_conversion_window" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
             epoch_us(ts) AS ts_us FROM events),
         w AS (SELECT user_id, event_id, event_type, ts_us,
             MIN(CASE WHEN event_type = 'purchase' THEN ts_us END) OVER
               (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS next_purchase
           FROM e),
         c AS (SELECT event_id, next_purchase - ts_us AS lat,
             CASE WHEN next_purchase IS NOT NULL
                 AND next_purchase - ts_us <= 3600000000
               THEN 1 ELSE 0 END AS converted
           FROM w WHERE event_type = 'click')
         SELECT CAST(COUNT(*) AS BIGINT) AS n_clicks,
           CAST(SUM(converted) AS BIGINT) AS n_converted,
           CAST(SUM(converted) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS conv_rate,
           CAST(SUM(CASE WHEN converted = 1 THEN lat ELSE 0 END) AS DOUBLE)
             / CAST(SUM(converted) AS DOUBLE) / 1e6 AS mean_latency_s,
           quantile_cont(CASE WHEN converted = 1 THEN lat END, 0.5) / 1e6
             AS median_latency_s
         FROM c""",
    "q_dup_size_hist" ->
      """WITH g AS (SELECT
             md5(array_to_string(
               string_split_regex(trim(lower(text)), ' +')[1:12], ' ')) AS h,
             CAST(COUNT(*) AS BIGINT) AS sz
           FROM documents GROUP BY 1),
         hh AS (SELECT sz AS copies, CAST(COUNT(*) AS BIGINT) AS n_groups
           FROM g GROUP BY 1)
         SELECT copies, n_groups,
           CAST(copies * n_groups AS BIGINT) AS n_docs,
           CAST((copies - 1) * n_groups AS BIGINT) AS n_dup_copies,
           CAST(copies * n_groups AS DOUBLE) /
             CAST(SUM(copies * n_groups) OVER () AS DOUBLE) AS doc_share
         FROM hh ORDER BY copies""",
    "q_node_jaccard" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             FROM lineitem),
         e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d
           FROM e GROUP BY 1),
         pr AS (SELECT src AS u, dst AS w FROM e WHERE src % 199 = 0),
         cn AS (SELECT pr.u, e.dst AS v, CAST(COUNT(*) AS BIGINT) AS n_common
           FROM pr JOIN e ON e.src = pr.w
           WHERE e.dst <> pr.u GROUP BY 1, 2),
         nonadj AS (SELECT u, v, n_common FROM cn
           WHERE NOT EXISTS (SELECT 1 FROM e
             WHERE e.src = cn.u AND e.dst = cn.v)),
         j AS (SELECT u, v, n_common,
             du.d + dv.d - n_common AS n_union,
             (1000000000 * n_common) // (du.d + dv.d - n_common) AS jac_units
           FROM nonadj JOIN deg du ON du.src = nonadj.u
             JOIN deg dv ON dv.src = nonadj.v),
         r AS (SELECT u, v, n_common, n_union, jac_units,
             row_number() OVER (PARTITION BY u
               ORDER BY jac_units DESC, v) AS rnk
           FROM j)
         SELECT u AS part, v AS candidate, n_common,
           CAST(n_union AS BIGINT) AS n_union,
           CAST(jac_units AS BIGINT) AS jac_units,
           CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard,
           CAST(rnk AS BIGINT) AS rnk
         FROM r WHERE rnk <= 5 ORDER BY part, rnk""",
    "q_partial_corr" ->
      """WITH m AS (SELECT l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) AS DOUBLE) AS nd,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sz,
             CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(30,4))) AS DOUBLE) AS szz,
             CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sxy_,
             CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,4))) AS DOUBLE) AS sxz_,
             CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(30,4))) AS DOUBLE) AS syz_
           FROM lineitem GROUP BY l_linestatus),
         r AS (SELECT l_linestatus, n,
             (nd * sxy_ - sx * sy) /
               sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)) AS rxy,
             (nd * sxz_ - sx * sz) /
               sqrt((nd * sxx - sx * sx) * (nd * szz - sz * sz)) AS rxz,
             (nd * syz_ - sy * sz) /
               sqrt((nd * syy - sy * sy) * (nd * szz - sz * sz)) AS ryz
           FROM m)
         SELECT l_linestatus, n,
           round(rxy, 9) AS r_price_qty,
           round(rxz, 9) AS r_price_disc,
           round(ryz, 9) AS r_qty_disc,
           round((rxy - rxz * ryz) /
             sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 9) AS partial_r
         FROM r ORDER BY l_linestatus""",
    "q_hill_tail" ->
      """WITH top AS (
           SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             AS c, o_orderkey
           FROM orders ORDER BY c DESC, o_orderkey LIMIT 201),
         r AS (SELECT c,
             row_number() OVER (ORDER BY c DESC, o_orderkey) AS rk
           FROM top),
         thr AS (SELECT c AS xk1 FROM r WHERE rk = 201),
         h AS (
           SELECT CAST(SUM(CAST(round(
               ln(CAST(c AS DOUBLE) / CAST(xk1 AS DOUBLE)), 9)
               AS DECIMAL(16,10))) AS DOUBLE) / 200.0 AS hill_h
           FROM r CROSS JOIN thr WHERE rk <= 200)
         SELECT CAST(200 AS BIGINT) AS k,
           CAST(xk1 AS DOUBLE) / 100.0 AS x_threshold,
           hill_h, 1.0 / hill_h AS alpha
         FROM h CROSS JOIN thr""",
    "q_did" ->
      """WITH ev AS (SELECT user_id,
             epoch_ns(ts) // 86400000000000 AS day_idx,
             CASE WHEN event_type = 'purchase'
               THEN CAST(round(value * 1000000) AS BIGINT)
               ELSE 0 END AS v_mu
           FROM events),
         b AS (SELECT (MIN(day_idx) + MAX(day_idx) + 1) // 2 AS mid FROM ev),
         pv AS (SELECT user_id % 2 AS variant,
             COUNT(DISTINCT user_id) AS n_users,
             CAST(SUM(CASE WHEN day_idx < mid THEN v_mu ELSE 0 END)
               AS BIGINT) AS sx,
             CAST(SUM(CASE WHEN day_idx >= mid THEN v_mu ELSE 0 END)
               AS BIGINT) AS sy
           FROM ev CROSS JOIN b GROUP BY 1),
         d AS (SELECT variant, n_users,
             CAST(sx AS DOUBLE) / 1e6 / CAST(n_users AS DOUBLE) AS mean_pre,
             CAST(sy AS DOUBLE) / 1e6 / CAST(n_users AS DOUBLE) AS mean_post
           FROM pv)
         SELECT CAST(variant AS BIGINT) AS variant,
           CAST(n_users AS BIGINT) AS n_users, mean_pre, mean_post,
           mean_post - mean_pre AS delta,
           MAX(CASE WHEN variant = 1 THEN mean_post - mean_pre END) OVER ()
             - MAX(CASE WHEN variant = 0 THEN mean_post - mean_pre END)
               OVER () AS did
         FROM d ORDER BY variant""",
    "q_dominant_period" ->
      """WITH c AS (SELECT event_type,
             epoch_ns(ts) // 3600000000000 AS h,
             CAST(COUNT(*) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
         rg AS (SELECT event_type, MIN(h) AS h0, MAX(h) AS h1
           FROM c GROUP BY 1),
         g AS (SELECT event_type, unnest(range(h0, h1 + 1)) AS h FROM rg),
         sp AS (SELECT g.event_type, g.h, COALESCE(c.x, 0) AS x
           FROM g LEFT JOIN c ON c.event_type = g.event_type AND c.h = g.h),
         st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s
           FROM sp GROUP BY 1),
         dev AS (SELECT sp.event_type, sp.h, sp.x * st.n - st.s AS d, st.n
           FROM sp JOIN st ON sp.event_type = st.event_type),
         den AS (SELECT event_type,
             SUM(CAST(d AS HUGEINT) * d) AS den,
             CAST(MAX(n) AS BIGINT) AS n_hours
           FROM dev GROUP BY 1),
         lg AS (SELECT unnest(range(2, 49)) AS lag),
         pr AS (SELECT a.event_type, lg.lag,
             SUM(CAST(a.d AS HUGEINT) * b.d) AS num
           FROM dev a CROSS JOIN lg
           JOIN dev b ON b.event_type = a.event_type AND b.h = a.h + lg.lag
           GROUP BY 1, 2),
         acf AS (SELECT pr.event_type, pr.lag,
             CAST(round(CAST(num AS DOUBLE) / CAST(den.den AS DOUBLE), 9)
               AS DECIMAL(12,10)) AS r,
             den.n_hours
           FROM pr JOIN den ON pr.event_type = den.event_type),
         r1 AS (SELECT *, row_number() OVER (PARTITION BY event_type
             ORDER BY r DESC, lag ASC) AS rk
           FROM acf)
         SELECT r1.event_type, r1.n_hours, CAST(r1.lag AS BIGINT) AS best_lag,
           CAST(r1.r AS DOUBLE) AS best_acf,
           (SELECT CAST(a24.r AS DOUBLE) FROM acf a24
             WHERE a24.event_type = r1.event_type AND a24.lag = 24) AS acf24
         FROM r1 WHERE rk = 1 ORDER BY event_type""",
    "q_tokenizer_fertility" ->
      """WITH d AS (SELECT lang,
             CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT)
               END AS n_ws,
             CAST(len(regexp_extract_all(text, '[aeiou]+|[^aeiou ]+'))
               AS BIGINT) AS n_bpe
           FROM documents)
         SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_ws) AS BIGINT) AS sum_words,
           CAST(SUM(n_bpe) AS BIGINT) AS sum_tokens,
           CAST(SUM(n_bpe) AS DOUBLE) / CAST(SUM(n_ws) AS DOUBLE)
             AS fertility
         FROM d GROUP BY 1 ORDER BY lang""",
    "q_clustering_coeff" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             FROM lineitem),
         und AS (SELECT DISTINCT a.pk AS s, b.pk AS t
             FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM
             (SELECT s AS n FROM und UNION ALL SELECT t FROM und)
           GROUP BY 1),
         ori AS (SELECT
             CASE WHEN ds.d < dt.d OR (ds.d = dt.d AND und.s < und.t)
               THEN und.s ELSE und.t END AS u,
             CASE WHEN ds.d < dt.d OR (ds.d = dt.d AND und.s < und.t)
               THEN und.t ELSE und.s END AS v,
             CASE WHEN ds.d < dt.d OR (ds.d = dt.d AND und.s < und.t)
               THEN dt.d ELSE ds.d END AS dv
           FROM und JOIN deg ds ON und.s = ds.n
                    JOIN deg dt ON und.t = dt.n),
         wedges AS (SELECT a.u AS apex, a.v AS wu, b.v AS wv
           FROM ori a JOIN ori b
           ON a.u = b.u AND (a.dv < b.dv OR (a.dv = b.dv AND a.v < b.v))),
         closed AS (SELECT apex, wu, wv FROM wedges w
           WHERE EXISTS (SELECT 1 FROM ori
             WHERE ori.u = w.wu AND ori.v = w.wv)),
         corners AS (SELECT apex AS node FROM closed
           UNION ALL SELECT wu FROM closed
           UNION ALL SELECT wv FROM closed),
         tri AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS t
           FROM corners GROUP BY 1),
         o AS (SELECT deg.n AS node, deg.d, COALESCE(tri.t, 0) AS t
           FROM deg LEFT JOIN tri ON tri.node = deg.n)
         SELECT node, CAST(d AS BIGINT) AS deg, CAST(t AS BIGINT) AS n_tri,
           CASE WHEN d >= 2 THEN CAST(2 * t AS DOUBLE) /
             CAST(d * (d - 1) AS DOUBLE) END AS coeff
         FROM o ORDER BY t DESC, node LIMIT 25""",
    "q_assortativity" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             FROM lineitem),
         e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d
           FROM e GROUP BY 1),
         j AS (SELECT ds.d AS ds, dt.d AS dt
           FROM e JOIN deg ds ON e.src = ds.src
                  JOIN deg dt ON e.dst = dt.src),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ds) AS BIGINT) AS sx, CAST(SUM(dt) AS BIGINT) AS sy,
             CAST(SUM(ds * ds) AS DOUBLE) AS sxx,
             CAST(SUM(dt * dt) AS DOUBLE) AS syy,
             CAST(SUM(ds * dt) AS DOUBLE) AS sxy
           FROM j)
         SELECT n AS n_edges,
           CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_deg,
           round(
             (CAST(n AS DOUBLE) * sxy -
               CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             sqrt(
               (CAST(n AS DOUBLE) * sxx -
                 CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
               (CAST(n AS DOUBLE) * syy -
                 CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9)
             AS assortativity
         FROM m""",
    "q_ab_srm" -> srmOracle,
    "q_stream_srm" -> srmOracle,
    "q_silhouette" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS own,
             CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) > 0),
         x AS (SELECT vec_id, own, unnest(range(1, len(v) + 1)) AS i, v
           FROM e),
         y AS (SELECT vec_id, own, CAST(i - 1 AS BIGINT) AS dim,
             CAST(floor(v[i] * 1000.0 + 0.5) AS BIGINT) AS m FROM x),
         s AS (SELECT own AS l, dim, CAST(SUM(m) AS BIGINT) AS sm
           FROM y GROUP BY 1, 2),
         cn AS (SELECT own AS l, CAST(COUNT(*) AS BIGINT) AS nl
           FROM e GROUP BY 1),
         dn AS (SELECT y.vec_id, y.own, s.l, cn.nl,
             CAST(SUM((y.m * cn.nl - s.sm) * (y.m * cn.nl - s.sm))
               AS BIGINT) AS dnum
           FROM y JOIN s ON s.dim = y.dim JOIN cn ON cn.l = s.l
           GROUP BY 1, 2, 3, 4),
         d AS (SELECT vec_id, own, l,
             sqrt(CAST(dnum AS DOUBLE)) / CAST(nl * 1000 AS DOUBLE) AS dist
           FROM dn),
         p AS (SELECT vec_id, own,
             MAX(CASE WHEN l = own THEN dist END) AS a,
             MIN(CASE WHEN l <> own THEN dist END) AS b
           FROM d GROUP BY 1, 2),
         ps AS (SELECT own, a, b,
             CASE WHEN greatest(a, b) = 0.0 THEN 0.0
               ELSE (b - a) / greatest(a, b) END AS sil
           FROM p)
         SELECT own AS label, CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(CAST(round(sil, 9) AS DECIMAL(20,10))) AS DOUBLE)
             / COUNT(*) AS mean_sil,
           CAST(SUM(CAST(round(a, 6) AS DECIMAL(24,8))) AS DOUBLE)
             / COUNT(*) AS mean_dist_own,
           CAST(SUM(CAST(round(b, 6) AS DECIMAL(24,8))) AS DOUBLE)
             / COUNT(*) AS mean_dist_other
         FROM ps GROUP BY 1 ORDER BY label""",
    "q_mann_kendall" ->
      """WITH m AS (
           SELECT c_mktsegment AS segment,
             ((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1) AS x,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
         p AS (
           SELECT a.segment,
             SUM(CASE WHEN b.rev > a.rev THEN 1
                 WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS s_stat
           FROM m a JOIN m b ON a.segment = b.segment AND a.x < b.x
           GROUP BY 1),
         ties AS (
           SELECT segment, SUM(tsz*(tsz-1)*(2*tsz+5)) AS tie_term
           FROM (SELECT segment, rev, COUNT(*) AS tsz FROM m GROUP BY 1, 2)
           GROUP BY 1),
         n AS (SELECT segment, COUNT(*) AS n_months FROM m GROUP BY 1),
         v AS (
           SELECT n.segment, n_months, s_stat,
             CAST(n_months*(n_months-1)*(2*n_months+5) - tie_term AS DOUBLE)
               / 18.0 AS vs
           FROM n JOIN p ON n.segment = p.segment
             JOIN ties ON n.segment = ties.segment)
         SELECT segment, CAST(n_months AS BIGINT) AS n_months,
           CAST(s_stat AS BIGINT) AS s_stat, vs AS var_s,
           CASE WHEN s_stat > 0
               THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(vs)
             WHEN s_stat < 0
               THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(vs)
             ELSE 0.0 END AS z
         FROM v ORDER BY segment""",
    "q_theil_sen" ->
      """WITH m AS (
           SELECT c_mktsegment AS segment,
             ((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1) AS x,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
         s AS (
           SELECT a.segment, a.x AS xa, b.x AS xb,
             CAST(b.rev - a.rev AS DOUBLE) / CAST(b.x - a.x AS DOUBLE)
               AS slope
           FROM m a JOIN m b ON a.segment = b.segment AND a.x < b.x),
         r AS (
           SELECT segment, slope,
             row_number() OVER (PARTITION BY segment
               ORDER BY slope, xa, xb) AS rk,
             COUNT(*) OVER (PARTITION BY segment) AS np
           FROM s)
         SELECT segment, CAST(MAX(np) AS BIGINT) AS n_pairs,
           (MAX(CASE WHEN rk = (np+1)//2 THEN slope END) +
            MAX(CASE WHEN rk = (np+2)//2 THEN slope END)) / 2.0 AS ts_slope
         FROM r GROUP BY segment ORDER BY segment""",
    "q_cramers_v" ->
      """WITH obs AS (
           SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
         rt AS (SELECT lang, SUM(o) AS rt FROM obs GROUP BY 1),
         ct AS (SELECT source, SUM(o) AS ct FROM obs GROUP BY 1),
         grid AS (
           SELECT rt.lang, ct.source, rt.rt, ct.ct, COALESCE(obs.o, 0) AS o
           FROM rt CROSS JOIN ct
             LEFT JOIN obs ON obs.lang = rt.lang AND obs.source = ct.source),
         tot AS (
           SELECT SUM(o) AS n, COUNT(DISTINCT lang) AS r,
             COUNT(DISTINCT source) AS c
           FROM grid),
         agg AS (
           SELECT n, r, c, COUNT(*) AS n_cells,
             CAST(SUM(CAST(round(
               (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(n AS DOUBLE))
               * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(n AS DOUBLE))
               / (CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(n AS DOUBLE)), 9)
               AS DECIMAL(20,10))) AS DOUBLE) AS chi2
           FROM grid CROSS JOIN tot GROUP BY 1, 2, 3)
         SELECT CAST(n AS BIGINT) AS n_docs, CAST(n_cells AS BIGINT) AS n_cells,
           CAST((r-1)*(c-1) AS BIGINT) AS dof, chi2,
           sqrt(chi2 /
             (CAST(n AS DOUBLE) * CAST(least(r-1, c-1) AS DOUBLE)))
             AS cramers_v
         FROM agg""",
    "q_burstiness" -> burstinessOracle,
    "q_stream_burstiness" -> burstinessOracle,
    "q_dwell_time" -> dwellOracle,
    "q_stream_dwell" -> dwellOracle,
    "q_stream_benford" ->
      """WITH d AS (
           SELECT substr(CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
             AS digit
           FROM events WHERE value >= 1),
         g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1)
         SELECT digit, n,
           CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS freq,
           round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS expected
         FROM g ORDER BY digit""",
    "q_seasonal_strength" ->
      """WITH c AS (
           SELECT event_type,
             (epoch_ns(ts) // 3600000000000) % 24 AS hod,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
           FROM events),
         h AS (
           SELECT event_type, hod, COUNT(*) AS nh, SUM(c) AS sh,
             SUM(CAST(c AS HUGEINT) * c) AS ssh
           FROM c GROUP BY 1, 2),
         w AS (
           SELECT event_type, nh, sh, ssh,
             CAST(round((CAST(ssh AS DOUBLE) -
               CAST(sh AS DOUBLE) * CAST(sh AS DOUBLE) / CAST(nh AS DOUBLE))
               / 10000.0, 6) AS DECIMAL(28,8)) AS within
           FROM h),
         a AS (
           SELECT event_type, SUM(nh) AS n_events, COUNT(*) AS n_hours,
             SUM(sh) AS s, SUM(ssh) AS ss,
             CAST(round(SUM(within), 2) AS DOUBLE) AS ss_within
           FROM w GROUP BY 1),
         f AS (
           SELECT event_type, n_events, n_hours, ss_within,
             (CAST(ss AS DOUBLE) -
               CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_events AS DOUBLE))
               / 10000.0 AS ss_total
           FROM a)
         SELECT event_type, CAST(n_events AS BIGINT) AS n_events,
           CAST(n_hours AS BIGINT) AS n_hours,
           round(ss_total, 4) AS ss_total, ss_within,
           round(1.0 - ss_within / ss_total, 6) AS strength
         FROM f ORDER BY event_type""",
    "q_ttr_curve" ->
      """WITH d AS (
           SELECT lang,
             len(string_split_regex(trim(lower(text)), ' +')) AS n_tok,
             len(list_distinct(string_split_regex(trim(lower(text)), ' +')))
               AS n_typ
           FROM documents)
         SELECT lang, (n_tok - 1) // 16 AS len_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
           CAST(SUM(n_typ) AS BIGINT) AS sum_types,
           CAST(SUM(n_typ) AS DOUBLE) / CAST(SUM(n_tok) AS DOUBLE) AS ttr
         FROM d GROUP BY 1, 2 ORDER BY lang, len_bucket""",
    "q_resource_alloc" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             FROM lineitem),
         e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         deg AS (SELECT src AS w, 1000000000 // COUNT(*) AS wt
           FROM e GROUP BY src),
         pr AS (SELECT src AS u, dst AS w FROM e WHERE src % 199 = 0),
         cn AS (SELECT pr.u, e.dst AS v, COUNT(*) AS n_common,
             SUM(wt) AS ra_units
           FROM pr JOIN e ON e.src = pr.w JOIN deg ON deg.w = pr.w
           WHERE e.dst <> pr.u GROUP BY 1, 2),
         nonadj AS (SELECT u, v, n_common, ra_units FROM cn
           WHERE NOT EXISTS (SELECT 1 FROM e
             WHERE e.src = cn.u AND e.dst = cn.v)),
         r AS (SELECT u, v, n_common, ra_units,
             row_number() OVER (PARTITION BY u
               ORDER BY ra_units DESC, v) AS rnk
           FROM nonadj)
         SELECT u AS part, v AS candidate,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(ra_units AS BIGINT) AS ra_units, CAST(rnk AS BIGINT) AS rnk
         FROM r WHERE rnk <= 5 ORDER BY part, rnk""",
    // same probe shape with pinned-ln micro-nat weights (half-up round of
    // ln(deg)*1e6 then integer floor division — order-free sums)
    "q_adamic_adar" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             FROM lineitem),
         e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         deg AS (SELECT src AS w,
             1000000000000 // CAST(round(ln(COUNT(*)) * 1000000) AS BIGINT)
               AS wt
           FROM e GROUP BY src),
         pr AS (SELECT src AS u, dst AS w FROM e WHERE src % 199 = 0),
         cn AS (SELECT pr.u, e.dst AS v, COUNT(*) AS n_common,
             SUM(wt) AS aa_units
           FROM pr JOIN e ON e.src = pr.w JOIN deg ON deg.w = pr.w
           WHERE e.dst <> pr.u GROUP BY 1, 2),
         nonadj AS (SELECT u, v, n_common, aa_units FROM cn
           WHERE NOT EXISTS (SELECT 1 FROM e
             WHERE e.src = cn.u AND e.dst = cn.v)),
         r AS (SELECT u, v, n_common, aa_units,
             row_number() OVER (PARTITION BY u
               ORDER BY aa_units DESC, v) AS rnk
           FROM nonadj)
         SELECT u AS part, v AS candidate,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(aa_units AS BIGINT) AS aa_units, CAST(rnk AS BIGINT) AS rnk
         FROM r WHERE rnk <= 5 ORDER BY part, rnk""",
    // Brown–Forsythe: integer half-cent median centers, then the q_anova
    // kilo-dollar DECIMAL moment pipeline on |2·cents − med2|/200000
    "q_levene" ->
      """WITH o AS (SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey AS okey FROM orders),
         r AS (SELECT grp, cents,
             CAST(row_number() OVER (PARTITION BY grp
               ORDER BY cents, okey) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n FROM o),
         m AS (SELECT grp,
             SUM(CASE WHEN rn = (n + 1) // 2 THEN cents ELSE 0 END) +
             SUM(CASE WHEN rn = n // 2 + 1 THEN cents ELSE 0 END) AS med2
           FROM r GROUP BY 1),
         z AS (SELECT o.grp,
             CAST(abs(2 * o.cents - m.med2) AS DOUBLE) / 200000.0 AS z
           FROM o JOIN m ON o.grp = m.grp),
         g AS (SELECT grp, COUNT(*) AS n,
             SUM(CAST(z AS DECIMAL(18,6))) AS sx,
             SUM(CAST(z * z AS DECIMAL(24,6))) AS sxx FROM z GROUP BY 1),
         g2 AS (SELECT grp, n, sx, sxx,
             CAST(ROUND(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n, 4)
               AS DECIMAL(24,4)) AS term FROM g),
         a AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS n_total,
             SUM(sx) AS s_all, SUM(sxx) AS sxx_all, SUM(term) AS term_all
           FROM g2),
         s AS (SELECT k, n_total,
             ROUND(CAST(term_all AS DOUBLE)
               - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / n_total, 4)
               AS ss_between,
             ROUND(CAST(sxx_all AS DOUBLE) - CAST(term_all AS DOUBLE), 4)
               AS ss_within
           FROM a)
         SELECT k, n_total, ss_between, ss_within,
           ROUND((ss_between / (k - 1)) / (ss_within / (n_total - k)), 6)
             AS f_stat
         FROM s""",
    // paired signed-rank in doubled-rank integer units (midranks exact)
    "q_wilcoxon" ->
      """WITH rev AS (SELECT o_custkey, year(o_orderdate) AS yr,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders WHERE year(o_orderdate) IN (1995, 1996)
           GROUP BY 1, 2),
         p AS (SELECT a.o_custkey, CAST(b.cents - a.cents AS BIGINT) AS d
           FROM rev a JOIN rev b ON a.o_custkey = b.o_custkey
           WHERE a.yr = 1995 AND b.yr = 1996),
         q AS (SELECT d, abs(d) AS ad FROM p WHERE d <> 0),
         r AS (SELECT d,
             2 * CAST(rank() OVER (ORDER BY ad) AS BIGINT) +
               CAST(COUNT(*) OVER (PARTITION BY ad) AS BIGINT) - 1 AS r2
           FROM q)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COALESCE(SUM(CASE WHEN d > 0 THEN r2 ELSE 0 END), 0)
             AS BIGINT) AS w2_plus,
           CAST(COALESCE(SUM(CASE WHEN d < 0 THEN r2 ELSE 0 END), 0)
             AS BIGINT) AS w2_minus,
           ROUND((CAST(COALESCE(SUM(CASE WHEN d > 0 THEN r2 ELSE 0 END), 0)
                 AS DOUBLE)
               / 2.0
               - CAST(COUNT(*) AS DOUBLE) * (CAST(COUNT(*) AS DOUBLE) + 1.0)
                 / 4.0)
             / sqrt(CAST(COUNT(*) AS DOUBLE) * (CAST(COUNT(*) AS DOUBLE)
               + 1.0) * (2.0 * CAST(COUNT(*) AS DOUBLE) + 1.0) / 24.0), 6)
             AS z_approx
         FROM r""",
    // integer ceiling-split deciles; cents exact, one double share chain
    "q_lorenz" ->
      """WITH c AS (SELECT o_custkey,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders GROUP BY 1),
         r AS (SELECT CAST(cents AS BIGINT) AS cents,
             CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT)
               AS i,
             CAST(COUNT(*) OVER () AS BIGINT) AS n FROM c),
         d AS (SELECT (i * 10 + n - 1) // n AS decile, cents FROM r),
         g AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(cents) AS BIGINT) AS decile_cents FROM d GROUP BY 1)
         SELECT decile, n_customers, decile_cents,
           CAST(SUM(decile_cents) OVER (ORDER BY decile) AS BIGINT)
             AS cum_cents,
           ROUND(CAST(SUM(decile_cents) OVER (ORDER BY decile) AS DOUBLE)
             / CAST(SUM(decile_cents) OVER () AS DOUBLE), 9) AS cum_share
         FROM g ORDER BY decile""",
    // md5-prefix split: string thresholds, exact 205/26/25-per-256 shares
    "q_hash_split" ->
      """WITH d AS (SELECT source, n_chars,
             substr(md5(text || CAST(doc_id AS VARCHAR)), 1, 2) AS h2
           FROM documents),
         s AS (SELECT CASE WHEN h2 < 'cd' THEN 'train'
                 WHEN h2 < 'e7' THEN 'val' ELSE 'test' END AS split,
             source, n_chars FROM d),
         g AS (SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
           FROM s GROUP BY 1, 2)
         SELECT split, source, n_docs, n_chars,
           ROUND(CAST(n_docs AS DOUBLE) /
             CAST(SUM(n_docs) OVER (PARTITION BY source) AS DOUBLE), 9)
             AS source_share
         FROM g ORDER BY split, source""",
    // 2-hex-digit md5 prefix mod 16 via per-nibble strpos arithmetic (the
    // engine's conv(substring(md5,1,2),16,10) % 16)
    "q_shard_skew" ->
      """WITH d AS (SELECT doc_id, text,
             md5(text || CAST(doc_id AS VARCHAR)) AS h FROM documents),
         a AS (SELECT CAST(
               ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
                + strpos('0123456789abcdef', substr(h, 2, 1)) - 1) % 16
               AS BIGINT) AS shard,
             strlen(text) AS nb FROM d),
         g AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(nb) AS BIGINT) AS n_bytes FROM a GROUP BY shard),
         t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS td,
             CAST(SUM(n_bytes) AS BIGINT) AS tb FROM g)
         SELECT shard, n_docs, n_bytes,
           round(CAST(n_docs AS DOUBLE) / CAST(t.td AS DOUBLE), 9)
             AS doc_share,
           round(CAST(n_bytes AS DOUBLE) / CAST(t.tb AS DOUBLE), 9)
             AS byte_share,
           round(CAST(n_docs AS DOUBLE) / CAST(t.td AS DOUBLE) - 1.0 / 16, 9)
             AS dev_from_uniform
         FROM g, t ORDER BY shard""",
    // cross-split near-dup leakage: fingerprint classes x md5 split
    "q_split_leakage" ->
      """WITH f AS (SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(
               string_split_regex(trim(lower(text)), ' +'))), ' ')) AS fp,
             substr(md5(text || CAST(doc_id AS VARCHAR)), 1, 2) AS h2
           FROM documents),
         s AS (SELECT fp,
             CASE WHEN h2 < 'cd' THEN 'train'
                  WHEN h2 < 'e7' THEN 'val' ELSE 'test' END AS split
           FROM f),
         c AS (SELECT fp, split, CAST(COUNT(*) AS BIGINT) AS c
           FROM s GROUP BY 1, 2)
         SELECT a.split AS split_a, b.split AS split_b,
           CAST(COUNT(*) AS BIGINT) AS n_leaky_groups,
           CAST(SUM(a.c * b.c) AS BIGINT) AS n_cross_pairs
         FROM c a JOIN c b ON a.fp = b.fp AND a.split < b.split
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // statistics-only DoReMi: excess unigram surprisal -> exp weights;
    // logs rounded at 1e-9 into exact decimals, exp fed the rounded
    // excess and re-rounded at 1e-6 (above any libm ulp)
    "q_mix_doremi" -> mixDoremiOracle,
    // the streaming drain maintains the (source, word) counts online and
    // runs the same exact-decimal epilogue -> identical weights
    "q_stream_mix_doremi" -> mixDoremiOracle,
    // the executable sampling plan the weights imply (integer targets)
    "q_mix_schedule" -> mixScheduleOracle,
    // same oracle as q_hash_split: the streaming drain must converge to
    // the identical split census after the backlog is processed
    "q_stream_hash_split" ->
      """WITH d AS (SELECT source, n_chars,
             substr(md5(text || CAST(doc_id AS VARCHAR)), 1, 2) AS h2
           FROM documents),
         s AS (SELECT CASE WHEN h2 < 'cd' THEN 'train'
                 WHEN h2 < 'e7' THEN 'val' ELSE 'test' END AS split,
             source, n_chars FROM d),
         g AS (SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
           FROM s GROUP BY 1, 2)
         SELECT split, source, n_docs, n_chars,
           ROUND(CAST(n_docs AS DOUBLE) /
             CAST(SUM(n_docs) OVER (PARTITION BY source) AS DOUBLE), 9)
             AS source_share
         FROM g ORDER BY split, source""",
    // CASE-aggregation mirror of the frontend PIVOT (DuckDB's PIVOT
    // grammar differs, so the reshape is hand-lowered here)
    "q_sql_pivot" ->
      """SELECT source,
           CAST(SUM(CASE WHEN lang = 'de' THEN n_chars END) AS BIGINT) AS de,
           CAST(SUM(CASE WHEN lang = 'en' THEN n_chars END) AS BIGINT) AS en,
           CAST(SUM(CASE WHEN lang = 'es' THEN n_chars END) AS BIGINT) AS es,
           CAST(SUM(CASE WHEN lang = 'fr' THEN n_chars END) AS BIGINT) AS fr,
           CAST(SUM(CASE WHEN lang = 'zh' THEN n_chars END) AS BIGINT) AS zh
         FROM documents GROUP BY source ORDER BY source""",
    // four raw power sums in DECIMAL, then one pinned double chain for
    // the central-moment algebra (mirrored token-for-token both sides)
    "q_moments" ->
      """WITH g AS (SELECT o_orderpriority AS grp, COUNT(*) AS n,
             SUM(CAST(o_totalprice / 10000.0 AS DECIMAL(18,6))) AS s1,
             SUM(CAST((o_totalprice / 10000.0) * (o_totalprice / 10000.0)
               AS DECIMAL(24,6))) AS s2,
             SUM(CAST((o_totalprice / 10000.0) * (o_totalprice / 10000.0)
               * (o_totalprice / 10000.0) AS DECIMAL(28,6))) AS s3,
             SUM(CAST((o_totalprice / 10000.0) * (o_totalprice / 10000.0)
               * (o_totalprice / 10000.0) * (o_totalprice / 10000.0)
               AS DECIMAL(32,6))) AS s4
           FROM orders GROUP BY 1),
         m AS (SELECT grp, CAST(n AS BIGINT) AS n,
             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
             CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
             CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
           FROM g),
         c AS (SELECT grp, n, mean,
             r2 - mean * mean AS m2,
             r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean AS m3,
             r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2
               - 3.0 * mean * mean * mean * mean AS m4
           FROM m)
         SELECT grp, n, ROUND(mean, 9) AS mean_10k,
           ROUND(m3 / (m2 * sqrt(m2)), 6) AS skewness,
           ROUND(m4 / (m2 * m2) - 3.0, 6) AS kurtosis_excess
         FROM c ORDER BY grp""",
    // held-out recommender eval: midpoint date split, train-side
    // co-occurrence, per-probe rank, hit-rate vs test baskets
    "q_rec_eval" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk
             FROM lineitem),
         days AS (SELECT o_orderkey AS okey,
             CAST(datediff('day', DATE '1992-01-01', o_orderdate)
               AS BIGINT) AS d
           FROM orders),
         cut AS (SELECT (MIN(d) + MAX(d)) // 2 AS cut FROM days),
         sides AS (SELECT okey, d < (SELECT cut FROM cut) AS is_train
           FROM days),
         trainb AS (SELECT li.okey, pk FROM li JOIN sides USING (okey)
           WHERE is_train),
         testb AS (SELECT li.okey, pk FROM li JOIN sides USING (okey)
           WHERE NOT is_train),
         edges AS (SELECT a.pk AS u, b.pk AS v, COUNT(*) AS cij
           FROM trainb a JOIN trainb b
             ON a.okey = b.okey AND a.pk <> b.pk
           GROUP BY 1, 2),
         recs AS (SELECT u, v, row_number() OVER (PARTITION BY u
             ORDER BY cij DESC, v) AS rnk
           FROM edges WHERE u % 199 = 0),
         reck AS (SELECT u, v FROM recs WHERE rnk <= 5),
         nrecs AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n_recs
           FROM reck GROUP BY 1),
         withu AS (SELECT DISTINCT okey, pk AS u FROM testb
           WHERE pk % 199 = 0),
         hitb AS (SELECT DISTINCT w.okey, w.u FROM withu w
           JOIN reck r ON w.u = r.u
           WHERE EXISTS (SELECT 1 FROM testb t
             WHERE t.okey = w.okey AND t.pk = r.v)),
         ntest AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n_test_baskets
           FROM withu GROUP BY 1),
         nhit AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n_hit_baskets
           FROM hitb GROUP BY 1)
         SELECT nrecs.u AS part, n_recs,
           COALESCE(n_test_baskets, 0) AS n_test_baskets,
           COALESCE(n_hit_baskets, 0) AS n_hit_baskets,
           CASE WHEN COALESCE(n_test_baskets, 0) = 0 THEN NULL
             ELSE ROUND(CAST(COALESCE(n_hit_baskets, 0) AS DOUBLE)
               / CAST(n_test_baskets AS DOUBLE), 9) END AS hit_rate
         FROM nrecs LEFT JOIN ntest USING (u) LEFT JOIN nhit USING (u)
         ORDER BY part""",
    // exact integer milli2-norm histogram, then the q_psi_drift epilogue
    "q_embed_drift" ->
      """WITH e AS (SELECT CAST(label AS BIGINT) AS label,
             CAST(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
               x -> floor(x * 1000.0 + 0.5) * floor(x * 1000.0 + 0.5)))
               AS BIGINT) AS n2
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) > 0),
         c AS (SELECT label, n2 // 100000 AS bin, COUNT(*) AS k
           FROM e GROUP BY 1, 2),
         tot AS (SELECT CAST(SUM(k) AS BIGINT) AS all_n FROM c),
         m AS (SELECT label, bin, k,
             CAST(SUM(k) OVER (PARTITION BY label) AS BIGINT) AS src_n,
             CAST(SUM(k) OVER (PARTITION BY bin) AS BIGINT) AS bin_n
           FROM c)
         SELECT label, CAST(COUNT(*) AS BIGINT) AS n_bins,
           ROUND(SUM((CAST(k AS DOUBLE) / src_n
               - CAST(bin_n AS DOUBLE) / all_n)
             * ln((CAST(k AS DOUBLE) / src_n)
               / (CAST(bin_n AS DOUBLE) / all_n))), 9) AS psi
         FROM m, tot GROUP BY label ORDER BY label""",
    // q_rec_eval's frames with ROUNDED-decimal-literal log2 discounts:
    // DCG sums are exact decimal arithmetic, no query-time transcendental
    "q_rec_ndcg" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk
             FROM lineitem),
         days AS (SELECT o_orderkey AS okey,
             CAST(datediff('day', DATE '1992-01-01', o_orderdate)
               AS BIGINT) AS d
           FROM orders),
         cut AS (SELECT (MIN(d) + MAX(d)) // 2 AS cut FROM days),
         sides AS (SELECT okey, d < (SELECT cut FROM cut) AS is_train
           FROM days),
         trainb AS (SELECT li.okey, pk FROM li JOIN sides USING (okey)
           WHERE is_train),
         testb AS (SELECT li.okey, pk FROM li JOIN sides USING (okey)
           WHERE NOT is_train),
         edges AS (SELECT a.pk AS u, b.pk AS v, COUNT(*) AS cij
           FROM trainb a JOIN trainb b
             ON a.okey = b.okey AND a.pk <> b.pk
           GROUP BY 1, 2),
         recs AS (SELECT u, v, CAST(row_number() OVER (PARTITION BY u
             ORDER BY cij DESC, v) AS BIGINT) AS rnk
           FROM edges WHERE u % 199 = 0),
         reck AS (SELECT u, v, rnk FROM recs WHERE rnk <= 5),
         withu AS (SELECT DISTINCT okey, pk AS u FROM testb
           WHERE pk % 199 = 0),
         relrec AS (SELECT DISTINCT r.u, r.v, r.rnk
           FROM reck r JOIN withu w ON r.u = w.u
           WHERE EXISTS (SELECT 1 FROM testb t
             WHERE t.okey = w.okey AND t.pk = r.v)),
         dcg AS (SELECT u, SUM(CASE rnk
             WHEN 1 THEN CAST('1.000000000' AS DECIMAL(12,9))
             WHEN 2 THEN CAST('0.630929754' AS DECIMAL(12,9))
             WHEN 3 THEN CAST('0.500000000' AS DECIMAL(12,9))
             WHEN 4 THEN CAST('0.430676558' AS DECIMAL(12,9))
             ELSE CAST('0.386852807' AS DECIMAL(12,9)) END) AS dcg_dec
           FROM relrec GROUP BY 1),
         nrel AS (SELECT w.u, CAST(COUNT(DISTINCT t.pk) AS BIGINT)
             AS n_rel
           FROM withu w JOIN testb t ON w.okey = t.okey
           WHERE t.pk <> w.u GROUP BY 1),
         wnr AS (SELECT u, n_rel, CASE LEAST(n_rel, 5)
             WHEN 1 THEN CAST('1.000000000' AS DECIMAL(12,9))
             WHEN 2 THEN CAST('1.630929754' AS DECIMAL(12,9))
             WHEN 3 THEN CAST('2.130929754' AS DECIMAL(12,9))
             WHEN 4 THEN CAST('2.561606312' AS DECIMAL(12,9))
             WHEN 5 THEN CAST('2.948459119' AS DECIMAL(12,9)) END
             AS idcg_dec
           FROM nrel),
         base AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n_recs
           FROM reck GROUP BY 1)
         SELECT base.u AS part, n_recs, COALESCE(n_rel, 0) AS n_rel,
           CAST(COALESCE(dcg_dec, 0) AS DOUBLE) AS dcg,
           CAST(idcg_dec AS DOUBLE) AS idcg,
           CASE WHEN COALESCE(n_rel, 0) = 0 THEN NULL
             ELSE ROUND(CAST(COALESCE(dcg_dec, 0) AS DOUBLE)
               / CAST(idcg_dec AS DOUBLE), 9) END AS ndcg
         FROM base LEFT JOIN wnr USING (u) LEFT JOIN dcg USING (u)
         ORDER BY part""",
    // q_rec_eval's frames; reciprocal of the first relevant rank as
    // rounded decimal literals, 0 for a top-k miss
    "q_rec_mrr" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk
             FROM lineitem),
         days AS (SELECT o_orderkey AS okey,
             CAST(datediff('day', DATE '1992-01-01', o_orderdate)
               AS BIGINT) AS d
           FROM orders),
         cut AS (SELECT (MIN(d) + MAX(d)) // 2 AS cut FROM days),
         sides AS (SELECT okey, d < (SELECT cut FROM cut) AS is_train
           FROM days),
         trainb AS (SELECT li.okey, pk FROM li JOIN sides USING (okey)
           WHERE is_train),
         testb AS (SELECT li.okey, pk FROM li JOIN sides USING (okey)
           WHERE NOT is_train),
         edges AS (SELECT a.pk AS u, b.pk AS v, COUNT(*) AS cij
           FROM trainb a JOIN trainb b
             ON a.okey = b.okey AND a.pk <> b.pk
           GROUP BY 1, 2),
         recs AS (SELECT u, v, CAST(row_number() OVER (PARTITION BY u
             ORDER BY cij DESC, v) AS BIGINT) AS rnk
           FROM edges WHERE u % 199 = 0),
         reck AS (SELECT u, v, rnk FROM recs WHERE rnk <= 5),
         withu AS (SELECT DISTINCT okey, pk AS u FROM testb
           WHERE pk % 199 = 0),
         relrec AS (SELECT DISTINCT r.u, r.v, r.rnk
           FROM reck r JOIN withu w ON r.u = w.u
           WHERE EXISTS (SELECT 1 FROM testb t
             WHERE t.okey = w.okey AND t.pk = r.v)),
         fst AS (SELECT u, MIN(rnk) AS first_rel_rank,
             CAST(COUNT(*) AS BIGINT) AS n_rel_in_k
           FROM relrec GROUP BY 1),
         base AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n_recs
           FROM reck GROUP BY 1)
         SELECT base.u AS part, n_recs,
           COALESCE(n_rel_in_k, 0) AS n_rel_in_k, first_rel_rank,
           CAST(COALESCE(CASE first_rel_rank
             WHEN 1 THEN CAST('1.000000000' AS DECIMAL(12,9))
             WHEN 2 THEN CAST('0.500000000' AS DECIMAL(12,9))
             WHEN 3 THEN CAST('0.333333333' AS DECIMAL(12,9))
             WHEN 4 THEN CAST('0.250000000' AS DECIMAL(12,9))
             WHEN 5 THEN CAST('0.200000000' AS DECIMAL(12,9)) END,
             CAST('0' AS DECIMAL(12,9))) AS DOUBLE) AS rr
         FROM base LEFT JOIN fst USING (u)
         ORDER BY part""",
    // q_rec_eval's frames; AP's rational sum cleared to integers with
    // lcm(1..5)=60, one IEEE division at the end
    "q_rec_map" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk
             FROM lineitem),
         days AS (SELECT o_orderkey AS okey,
             CAST(datediff('day', DATE '1992-01-01', o_orderdate)
               AS BIGINT) AS d
           FROM orders),
         cut AS (SELECT (MIN(d) + MAX(d)) // 2 AS cut FROM days),
         sides AS (SELECT okey, d < (SELECT cut FROM cut) AS is_train
           FROM days),
         trainb AS (SELECT li.okey, pk FROM li JOIN sides USING (okey)
           WHERE is_train),
         testb AS (SELECT li.okey, pk FROM li JOIN sides USING (okey)
           WHERE NOT is_train),
         edges AS (SELECT a.pk AS u, b.pk AS v, COUNT(*) AS cij
           FROM trainb a JOIN trainb b
             ON a.okey = b.okey AND a.pk <> b.pk
           GROUP BY 1, 2),
         recs AS (SELECT u, v, CAST(row_number() OVER (PARTITION BY u
             ORDER BY cij DESC, v) AS BIGINT) AS rnk
           FROM edges WHERE u % 199 = 0),
         reck AS (SELECT u, v, rnk FROM recs WHERE rnk <= 5),
         withu AS (SELECT DISTINCT okey, pk AS u FROM testb
           WHERE pk % 199 = 0),
         relrec AS (SELECT DISTINCT r.u, r.v, r.rnk
           FROM reck r JOIN withu w ON r.u = w.u
           WHERE EXISTS (SELECT 1 FROM testb t
             WHERE t.okey = w.okey AND t.pk = r.v)),
         jr AS (SELECT u, rnk, CAST(row_number() OVER (PARTITION BY u
             ORDER BY rnk) AS BIGINT) AS j
           FROM relrec),
         apn AS (SELECT u, CAST(SUM(j * (60 // rnk)) AS BIGINT) AS ap_num,
             CAST(COUNT(*) AS BIGINT) AS n_rel_in_k
           FROM jr GROUP BY 1),
         nrel AS (SELECT w.u, CAST(COUNT(DISTINCT t.pk) AS BIGINT)
             AS n_rel
           FROM withu w JOIN testb t ON w.okey = t.okey
           WHERE t.pk <> w.u GROUP BY 1),
         base AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n_recs
           FROM reck GROUP BY 1)
         SELECT base.u AS part, n_recs, COALESCE(n_rel, 0) AS n_rel,
           COALESCE(n_rel_in_k, 0) AS n_rel_in_k,
           CASE WHEN COALESCE(n_rel, 0) = 0 THEN NULL
             ELSE CAST(COALESCE(ap_num, 0) AS DOUBLE)
               / CAST(60 * LEAST(n_rel, 5) AS DOUBLE) END AS ap
         FROM base LEFT JOIN nrel USING (u) LEFT JOIN apn USING (u)
         ORDER BY part""",
    // cohort month = integer 12y+m-1 keys; exact cent cumsums per cohort
    "q_ltv_curve" ->
      """WITH om AS (SELECT o_custkey,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
               AS BIGINT) AS m,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         cohort AS (SELECT o_custkey, MIN(m) AS m0 FROM om GROUP BY 1),
         sizes AS (SELECT m0, CAST(COUNT(*) AS BIGINT) AS cohort_users
           FROM cohort GROUP BY 1),
         g AS (SELECT c.m0, om.m - c.m0 AS age,
             CAST(SUM(cents) AS BIGINT) AS rev_cents
           FROM om JOIN cohort c USING (o_custkey) GROUP BY 1, 2),
         w AS (SELECT m0, age, rev_cents,
             CAST(SUM(rev_cents) OVER (PARTITION BY m0 ORDER BY age)
               AS BIGINT) AS cum_cents
           FROM g)
         SELECT printf('%04d-%02d', CAST(m0 // 12 AS INTEGER),
             CAST(m0 % 12 + 1 AS INTEGER)) AS cohort,
           age, cohort_users, rev_cents, cum_cents,
           ROUND(CAST(cum_cents AS DOUBLE)
             / CAST(cohort_users AS DOUBLE) / 100.0, 6) AS ltv_per_user
         FROM w JOIN sizes USING (m0) ORDER BY cohort, age""",
    // per-doc mean surprisal (q_unigram_surprisal's decimal pinning),
    // swept over a fixed cutoff grid — the LM-filter tuning curve
    "q_surprisal_curve" ->
      """WITH toks AS (SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), ' +')) AS word
           FROM documents),
         counts AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cw
           FROM toks GROUP BY 1),
         total AS (SELECT CAST(SUM(cw) AS BIGINT) AS tt FROM counts),
         sp AS (SELECT word,
             CAST(ROUND(-ln(CAST(cw AS DOUBLE) / tt), 9)
               AS DECIMAL(14,10)) AS sp
           FROM counts, total),
         dw AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS k
           FROM toks GROUP BY 1, 2),
         d AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_tokens,
             CAST(SUM(sp.sp * CAST(k AS DECIMAL(8,0))) AS DOUBLE)
               / SUM(k) AS avg_sp
           FROM dw JOIN sp USING (word) GROUP BY 1),
         grid AS (SELECT CAST(unnest([3.39, 3.40, 3.41, 3.42, 3.45,
             3.50]) AS DOUBLE) AS cutoff),
         x AS (SELECT cutoff, n_tokens, avg_sp FROM d CROSS JOIN grid)
         SELECT cutoff,
           CAST(SUM(CASE WHEN avg_sp <= cutoff THEN 1 ELSE 0 END)
             AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN avg_sp > cutoff THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN avg_sp <= cutoff THEN n_tokens ELSE 0 END)
             AS BIGINT) AS tokens_kept,
           ROUND(CAST(SUM(CASE WHEN avg_sp <= cutoff THEN n_tokens
               ELSE 0 END) AS DOUBLE)
             / CAST(SUM(n_tokens) AS DOUBLE), 9) AS token_share_kept
         FROM x GROUP BY cutoff ORDER BY cutoff""",
    // hand-lowered UNION ALL mirror of the frontend UNPIVOT fold
    "q_sql_unpivot" ->
      """WITH b AS (SELECT l_orderkey,
             CAST(l_linenumber AS BIGINT) AS l_linenumber,
             l_quantity, l_extendedprice, l_discount, l_tax
           FROM lineitem WHERE l_orderkey % 500 = 0),
         u AS (
           SELECT l_orderkey, l_linenumber,
             'l_quantity' AS measure, l_quantity AS val FROM b
           UNION ALL
           SELECT l_orderkey, l_linenumber,
             'l_extendedprice', l_extendedprice FROM b
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM b
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM b)
         SELECT l_orderkey, l_linenumber, measure, val FROM u
         ORDER BY l_orderkey, l_linenumber, measure""",
    // identity-hash masking plan: md5(doc_id:pos) < '26' = exact 38/256
    "q_mlm_mask" ->
      """WITH d AS (SELECT doc_id,
             CAST(CASE WHEN len(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), ' +')) END
               AS BIGINT) AS n_tokens
           FROM documents),
         m AS (SELECT doc_id, n_tokens,
             list_filter(range(0, n_tokens),
               i -> substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                 CAST(i AS VARCHAR)), 1, 2) < '26') AS pos
           FROM d)
         SELECT doc_id, n_tokens, CAST(len(pos) AS BIGINT) AS n_masked,
           ROUND(CAST(len(pos) AS DOUBLE) / n_tokens, 9) AS mask_ratio,
           COALESCE(array_to_string(pos[1:10], ','), '') AS mask_head
         FROM m ORDER BY doc_id""",
    // stub dims replayed from md5 hex digits (the q_multimodal_frames
    // convention), then the aspect-preserving resize arithmetic
    "q_multimodal_resize" ->
      """WITH d AS (SELECT doc_id, md5(text) AS h
           FROM documents WHERE doc_id % 10 = 0),
         wh AS (SELECT doc_id,
             CAST(160 + ((16 * (strpos('0123456789abcdef', substr(h, 1, 1))
                 - 1) + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1))
               % 8) * 160 AS INTEGER) AS width,
             CAST(90 + ((16 * (strpos('0123456789abcdef', substr(h, 3, 1))
                 - 1) + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1))
               % 8) * 90 AS INTEGER) AS height
           FROM d),
         s AS (SELECT doc_id, width, height,
             least(256.0 / width, 256.0 / height, 1.0) AS scale FROM wh)
         SELECT doc_id, width, height,
           CAST(floor(width * scale) AS INTEGER) AS out_w,
           CAST(floor(height * scale) AS INTEGER) AS out_h
         FROM s ORDER BY doc_id""",
    // qKnnBrute's oracle with the label-mismatch predicate: the
    // contrastive hard-negative shortlist
    "q_hard_negatives" ->
      """WITH corpus AS (SELECT vec_id AS nid, label AS nlabel,
             CAST(embedding AS DOUBLE[]) AS nvec FROM embeddings),
         queries AS (SELECT vec_id AS qid, label AS qlabel,
             CAST(embedding AS DOUBLE[]) AS qvec
           FROM embeddings WHERE vec_id % 200 = 0),
         sims AS (SELECT qid, CAST(qlabel AS BIGINT) AS qlabel, nid,
             list_sum(list_transform(range(1, len(qvec) + 1),
               i -> qvec[i] * nvec[i])) /
               (sqrt(list_sum(list_transform(range(1, len(qvec) + 1),
                 i -> qvec[i] * qvec[i]))) *
                sqrt(list_sum(list_transform(range(1, len(nvec) + 1),
                 i -> nvec[i] * nvec[i])))) AS sim
           FROM corpus CROSS JOIN queries WHERE nlabel <> qlabel),
         ranked AS (SELECT qid, qlabel, nid, sim,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY sim DESC, nid) AS BIGINT) AS rnk
           FROM sims)
         SELECT qid, qlabel, nid, sim, rnk FROM ranked WHERE rnk <= 5
         ORDER BY qid, rnk""",
    // pooled-variance MDE at alpha=.05/power=.8; z-sum constant embedded
    "q_ab_power" ->
      """WITH per AS (SELECT o_custkey,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders GROUP BY 1),
         arms AS (SELECT o_custkey % 2 AS arm,
             CAST(cents AS DOUBLE) / 100000.0 AS x FROM per),
         g AS (SELECT arm, COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(18,6))) AS sx,
             SUM(CAST(x * x AS DECIMAL(24,6))) AS sxx
           FROM arms GROUP BY 1),
         g2 AS (SELECT arm, n, sx, sxx,
             CAST(ROUND(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n, 4)
               AS DECIMAL(24,4)) AS term FROM g),
         a AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total,
             CAST(MIN(n) AS BIGINT) AS n_min,
             SUM(sx) AS s_all, SUM(sxx) AS sxx_all, SUM(term) AS term_all
           FROM g2),
         s AS (SELECT n_total, n_min,
             ROUND(CAST(s_all AS DOUBLE) / n_total, 6) AS grand_mean_k,
             ROUND((CAST(sxx_all AS DOUBLE) - CAST(term_all AS DOUBLE))
               / (n_total - 2), 6) AS pooled_var_k2
           FROM a)
         SELECT n_total, n_min, grand_mean_k, pooled_var_k2,
           ROUND(2.801585 * sqrt(pooled_var_k2 * 2.0 / n_min), 6)
             AS mde_abs_k,
           ROUND(2.801585 * sqrt(pooled_var_k2 * 2.0 / n_min)
             / grand_mean_k, 6) AS mde_rel
         FROM s""",
    // drained stream twins share the batch oracles verbatim
    "q_stream_moments" ->
      """WITH g AS (SELECT o_orderpriority AS grp, COUNT(*) AS n,
             SUM(CAST(o_totalprice / 10000.0 AS DECIMAL(18,6))) AS s1,
             SUM(CAST((o_totalprice / 10000.0) * (o_totalprice / 10000.0)
               AS DECIMAL(24,6))) AS s2,
             SUM(CAST((o_totalprice / 10000.0) * (o_totalprice / 10000.0)
               * (o_totalprice / 10000.0) AS DECIMAL(28,6))) AS s3,
             SUM(CAST((o_totalprice / 10000.0) * (o_totalprice / 10000.0)
               * (o_totalprice / 10000.0) * (o_totalprice / 10000.0)
               AS DECIMAL(32,6))) AS s4
           FROM orders GROUP BY 1),
         m AS (SELECT grp, CAST(n AS BIGINT) AS n,
             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
             CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
             CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
           FROM g),
         c AS (SELECT grp, n, mean,
             r2 - mean * mean AS m2,
             r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean AS m3,
             r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2
               - 3.0 * mean * mean * mean * mean AS m4
           FROM m)
         SELECT grp, n, ROUND(mean, 9) AS mean_10k,
           ROUND(m3 / (m2 * sqrt(m2)), 6) AS skewness,
           ROUND(m4 / (m2 * m2) - 3.0, 6) AS kurtosis_excess
         FROM c ORDER BY grp""",
    "q_stream_dim_stats" ->
      """WITH e AS (SELECT embedding FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) > 0),
         x AS (SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE)
               * 1000.0 + 0.5) AS BIGINT) AS m
           FROM e),
         g AS (SELECT CAST(dim AS BIGINT) AS dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(m) AS BIGINT) AS sum_milli,
             CAST(SUM(m * m) AS BIGINT) AS sumsq_milli
           FROM x GROUP BY 1)
         SELECT dim, n, sum_milli, sumsq_milli,
           ROUND(CAST(sum_milli AS DOUBLE) / n, 6) AS mean_milli,
           ROUND((CAST(sumsq_milli AS DOUBLE)
             - CAST(sum_milli AS DOUBLE) * CAST(sum_milli AS DOUBLE) / n)
             / n, 6) AS var_milli
         FROM g ORDER BY dim""",
    // per-dim whitening stats from exact milli-unit integer sums; the
    // lateral range() re-derives Spark's posexplode positions (0-based)
    "q_dim_stats" ->
      """WITH e AS (SELECT embedding FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) > 0),
         x AS (SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE)
               * 1000.0 + 0.5) AS BIGINT) AS m
           FROM e),
         g AS (SELECT CAST(dim AS BIGINT) AS dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(m) AS BIGINT) AS sum_milli,
             CAST(SUM(m * m) AS BIGINT) AS sumsq_milli
           FROM x GROUP BY 1)
         SELECT dim, n, sum_milli, sumsq_milli,
           ROUND(CAST(sum_milli AS DOUBLE) / n, 6) AS mean_milli,
           ROUND((CAST(sumsq_milli AS DOUBLE)
             - CAST(sum_milli AS DOUBLE) * CAST(sum_milli AS DOUBLE) / n)
             / n, 6) AS var_milli
         FROM g ORDER BY dim""",
    // typed stats over the JSON props key (the engine side reads it
    // through the parsed VARIANT encoding; values are identical)
    "q_variant_agg" ->
      """WITH e AS (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
           FROM events)
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(k) AS BIGINT) AS n_with_k,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS distinct_k,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k,
           quantile_cont(k, 0.5) AS med_k
         FROM e GROUP BY event_type ORDER BY event_type""",
    // MI/entropies over the (lang, source) cell frame, log2 terms pinned
    // at 1e-9 and summed in DECIMAL weighted by cell counts
    "q_mutual_info" ->
      """WITH cells AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
             FROM documents GROUP BY 1, 2),
         m AS (SELECT lang, source, c,
             CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS cl,
             CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS cs,
             CAST(SUM(c) OVER () AS BIGINT) AS n FROM cells)
         SELECT CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(CAST(SUM(CAST(ROUND(log2(n) - log2(cl), 9)
                 AS DECIMAL(16,9)) * CAST(c AS DECIMAL(12,0))) AS DOUBLE)
             / CAST(MAX(n) AS DOUBLE), 9) AS h_lang_bits,
           ROUND(CAST(SUM(CAST(ROUND(log2(n) - log2(cs), 9)
                 AS DECIMAL(16,9)) * CAST(c AS DECIMAL(12,0))) AS DOUBLE)
             / CAST(MAX(n) AS DOUBLE), 9) AS h_source_bits,
           ROUND(CAST(SUM(CAST(ROUND(log2(c) + log2(n) - log2(cl)
                 - log2(cs), 9) AS DECIMAL(16,9))
                 * CAST(c AS DECIMAL(12,0))) AS DOUBLE)
             / CAST(MAX(n) AS DOUBLE), 9) AS mi_bits
         FROM m""",
    // pipeline_health PARTIAL oracle: the query already projects only the
    // run-independent columns (no timestamps/durations), and the six
    // generator sources are seed-pinned, so the expected table is a
    // deterministic constant replay: per source, the generator's row
    // count in and the clean stage's pass-through count out (this
    // corpus' generated rows carry no full-row dupes and null emails are
    // FILLED, not dropped — records_out == records_in by construction,
    // which is exactly what the reference's health table records on a
    // healthy run). Generators exist only in this engine, so DuckDB
    // cannot re-run them; it replays the contract instead.
    "pipeline_health" ->
      """SELECT * FROM (VALUES
           ('customer_json', 'dim_customers', 'SUCCESS', 800, 800),
           ('finance_db', 'fact_finance', 'SUCCESS', 600, 600),
           ('hr_flat_file', 'dim_employees', 'SUCCESS', 300, 300),
           ('inventory_excel', 'dim_inventory', 'SUCCESS', 400, 400),
           ('sales_csv', 'fact_sales', 'SUCCESS', 1000, 1000),
           ('web_logs', 'fact_web_events', 'SUCCESS', 2000, 2000))
         t(source_name, table_name, status, records_in, records_out)
         ORDER BY source_name""",
    "etl_sales_pipeline" ->
      """WITH t AS (
           SELECT DISTINCT * FROM orders
           WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
             AND o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL
             AND o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL),
         p AS (SELECT quantile_cont(o_totalprice, 0.9) AS thr FROM t)
         SELECT strftime(o_orderdate, '%Y-%m') AS month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           COUNT(*) FILTER (WHERE o_totalprice > (SELECT thr FROM p)) AS n_high
         FROM t GROUP BY 1 ORDER BY 1""",
    "etl_churn_binning" ->
      """SELECT CASE WHEN c_acctbal/10000.0 > 0 AND c_acctbal/10000.0 <= 0.3 THEN 'Low'
                WHEN c_acctbal/10000.0 > 0.3 AND c_acctbal/10000.0 <= 0.6 THEN 'Medium'
                WHEN c_acctbal/10000.0 > 0.6 AND c_acctbal/10000.0 <= 1.0 THEN 'High'
                ELSE 'NA' END AS label,
           COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
         FROM customer GROUP BY 1 ORDER BY 1""",
    "etl_finance_netflow" ->
      """WITH s AS (SELECT user_id,
           COALESCE(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'purchase'), 0) AS c,
           COALESCE(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'error'), 0) AS d
         FROM events GROUP BY user_id)
         SELECT user_id, CAST(c AS DOUBLE) AS credit, CAST(d AS DOUBLE) AS debit,
           CAST(c - d AS DOUBLE) AS net_flow,
           CAST(CASE WHEN c - d < 0 THEN 1 ELSE 0 END AS BIGINT) AS is_deficit
         FROM s ORDER BY user_id""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q_join_region_revenue" ->
      """SELECT r_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
           COUNT(DISTINCT o_orderkey) AS n_orders
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "q_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
           FROM orders)
         WHERE rn <= 3 ORDER BY o_custkey, rn""",
    "q_running_total" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
         FROM orders ORDER BY o_custkey, o_date, o_orderkey""",
    "q_sort_limit" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice
         FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""",
    "q_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders ORDER BY 1, 2""",
    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
         INTERSECT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
         ORDER BY o_custkey""",
    "q_except" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
         EXCEPT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
         ORDER BY o_custkey""",
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         ORDER BY c_custkey""",
    "q_semi_join" ->
      """SELECT p_partkey, p_brand FROM part p
         WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
         ORDER BY p_partkey""",
    "q_rollup" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         ORDER BY status, priority""",
    "q_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
           COALESCE(l_linestatus, 'ALL') AS ls,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY rf, ls""",
    "q_percentiles" ->
      """SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_extendedprice, 0.9) AS p90_price,
           quantile_cont(l_extendedprice, 0.99) AS p99_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_count_distinct" ->
      """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_custs, COUNT(*) AS n_orders
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // robust dispersion: median of absolute deviations from the group
    // median; exact percentiles sort, so doubles are engine-identical
    "q_mad" ->
      """WITH m AS (SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.5) AS med_price
           FROM lineitem GROUP BY 1)
         SELECT l.l_returnflag, MIN(m.med_price) AS med_price,
           quantile_cont(abs(l.l_extendedprice - m.med_price), 0.5) AS mad,
           COUNT(*) AS n
         FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
         GROUP BY l.l_returnflag ORDER BY l.l_returnflag""",
    "q_conditional_agg" ->
      """SELECT o_orderstatus,
           COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
           COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_low,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             FILTER (WHERE o_totalprice > 200000) AS DOUBLE) AS big_price_sum
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_pivot_lang" ->
      """SELECT source,
           COUNT(*) FILTER (WHERE lang = 'en') AS en,
           COUNT(*) FILTER (WHERE lang = 'fr') AS fr,
           COUNT(*) FILTER (WHERE lang = 'es') AS es,
           COUNT(*) FILTER (WHERE lang = 'de') AS de,
           COUNT(*) FILTER (WHERE lang = 'zh') AS zh
         FROM documents GROUP BY source ORDER BY source""",
    "q_string_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS brand_u,
           CAST(length(p_name) AS BIGINT) AS name_len,
           substr(p_type, 1, 5) AS type5,
           concat_ws('|', p_brand, p_type) AS brand_type,
           regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowels
         FROM part ORDER BY p_partkey""",
    "q_date_funcs" ->
      """SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow1,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_to_2002,
           strftime(o_orderdate, '%Y-%m') AS ym
         FROM orders ORDER BY o_orderkey""",
    "q_above_customer_avg" ->
      """WITH a AS (SELECT o_custkey AS ck,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
           FROM orders GROUP BY 1)
         SELECT o_orderkey, o_custkey, o_totalprice, avg_price AS cust_avg
         FROM orders JOIN a ON o_custkey = ck
         WHERE o_totalprice > avg_price
         ORDER BY o_orderkey""",
    "q_range_join_pairs" ->
      """SELECT a.o_custkey AS o_custkey, COUNT(*) AS n_pairs
         FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey
         WHERE a.o_orderkey < b.o_orderkey
           AND b.o_orderdate >= a.o_orderdate
           AND b.o_orderdate <= a.o_orderdate + INTERVAL 30 DAY
         GROUP BY 1 ORDER BY 1""",
    // naive formulation auto-banded by the BandRangeJoin optimizer rule;
    // the oracle replays the naive predicate directly
    "q_range_join_auto" ->
      """SELECT a.o_custkey AS o_custkey, COUNT(*) AS n_pairs
         FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey
         WHERE a.o_orderkey < b.o_orderkey
           AND b.o_orderdate >= a.o_orderdate
           AND b.o_orderdate <= a.o_orderdate + INTERVAL 30 DAY
         GROUP BY 1 ORDER BY 1""",
    "q_group_having" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
         FROM orders GROUP BY 1, 2 HAVING COUNT(*) >= 10
         ORDER BY yr, o_orderstatus""",
    "q_ignore_nulls" ->
      """SELECT o_custkey, o_orderkey, sparse,
           last_value(sparse IGNORE NULLS) OVER (
             PARTITION BY o_custkey ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
         FROM (SELECT o_custkey, o_orderkey,
             CASE WHEN o_orderpriority = '3-MEDIUM' THEN NULL
               ELSE o_orderpriority END AS sparse
           FROM orders)
         ORDER BY o_custkey, o_orderkey""",
    "q_range_frame" ->
      """SELECT o_custkey, o_orderkey, day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY day
             RANGE BETWEEN 15 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_15d
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day
           FROM orders)
         ORDER BY o_custkey, day, o_orderkey""",
    "q_first_last" ->
      """SELECT DISTINCT o_custkey,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice) OVER w AS last_price,
           nth_value(o_totalprice, 2) OVER w AS second_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY o_custkey""",
    "q_array_agg" ->
      """SELECT o_custkey,
           array_to_string(list_sort(list(o_orderstatus)), ',') AS statuses,
           array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS prios,
           COUNT(*) AS n
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    "q_window_lag" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
           lag(o_totalprice, 1) OVER w AS prev_price,
           lead(o_totalprice, 1) OVER w AS next_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "q_rank_funcs" ->
      """SELECT o_orderstatus, o_orderkey,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           percent_rank() OVER w AS prnk,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile
         FROM orders WHERE o_orderkey % 10 = 0
         WINDOW w AS (PARTITION BY o_orderstatus
           ORDER BY o_totalprice DESC, o_orderkey)
         ORDER BY o_orderstatus, rnk, o_orderkey""",
    "q_date_arith" ->
      """SELECT o_orderkey,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
           strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
           strftime(CAST(o_orderdate AS DATE) + 45, '%Y-%m-%d') AS plus45d
         FROM orders ORDER BY o_orderkey""",
    "q_sql_frontend" ->
      """SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS o_date,
           o_orderpriority
         FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey
         LIMIT 10""",
    "q_lateral_topn" ->
      """SELECT r.r_name, top.c_name, top.c_acctbal
         FROM region r, LATERAL (
           SELECT c.c_name, c.c_acctbal
           FROM customer c
             JOIN nation n ON c.c_nationkey = n.n_nationkey
           WHERE n.n_regionkey = r.r_regionkey
           ORDER BY c.c_acctbal DESC, c.c_name
           LIMIT 3
         ) top
         ORDER BY r.r_name, top.c_acctbal DESC, top.c_name""",
    "q_unpivot_measures" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           measure, val
         FROM (
           SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
             l_quantity AS val FROM lineitem WHERE l_orderkey % 500 = 0
           UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice',
             l_extendedprice FROM lineitem WHERE l_orderkey % 500 = 0
           UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount',
             l_discount FROM lineitem WHERE l_orderkey % 500 = 0
           UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax',
             l_tax FROM lineitem WHERE l_orderkey % 500 = 0)
         ORDER BY l_orderkey, l_linenumber, measure""",
    "q_yoy_growth" ->
      """WITH y AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, n_name,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
           FROM orders JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
           GROUP BY 1, 2)
         SELECT yr, n_name, rev,
           lag(rev, 1) OVER w AS prev_rev,
           (rev - lag(rev, 1) OVER w) / lag(rev, 1) OVER w AS growth
         FROM y WINDOW w AS (PARTITION BY n_name ORDER BY yr)
         ORDER BY n_name, yr""",
    "q_window_shares" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, cust_total, share, cd
         FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
               OVER (PARTITION BY o_custkey) AS DOUBLE) AS cust_total,
             o_totalprice / CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
               OVER (PARTITION BY o_custkey) AS DOUBLE) AS share,
             cume_dist() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice, o_orderkey) AS cd
           FROM orders)
         WHERE o_orderkey % 100 = 0 ORDER BY o_custkey, o_orderkey""",
    "q_profile_columns" ->
      """WITH p AS (
           SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
             COUNT(*) - COUNT(o_orderkey) AS n_nulls,
             COUNT(DISTINCT o_orderkey) AS n_distinct,
             CAST(MIN(o_orderkey) AS DOUBLE) AS min_num,
             CAST(MAX(o_orderkey) AS DOUBLE) AS max_num FROM orders
           UNION ALL SELECT 'o_custkey', COUNT(*),
             COUNT(*) - COUNT(o_custkey), COUNT(DISTINCT o_custkey),
             CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE)
           FROM orders
           UNION ALL SELECT 'o_totalprice', COUNT(*),
             COUNT(*) - COUNT(o_totalprice), COUNT(DISTINCT o_totalprice),
             MIN(o_totalprice), MAX(o_totalprice) FROM orders
           UNION ALL SELECT 'o_orderstatus', COUNT(*),
             COUNT(*) - COUNT(o_orderstatus), COUNT(DISTINCT o_orderstatus),
             NULL, NULL FROM orders
           UNION ALL SELECT 'o_orderpriority', COUNT(*),
             COUNT(*) - COUNT(o_orderpriority),
             COUNT(DISTINCT o_orderpriority), NULL, NULL FROM orders)
         SELECT col_name, n_rows, n_nulls, n_distinct, min_num, max_num
         FROM p ORDER BY col_name""",
    // linear interpolation over the 1-in-7 event subsample; the avg and
    // the interpolation arithmetic use the same IEEE op order both sides
    "q_gap_fill" ->
      """WITH ev AS (SELECT event_type,
             epoch_ns(ts) // 3600000000000 AS hl, value
           FROM events WHERE event_id % 7 = 0),
         hourly AS (SELECT event_type, hl, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
           FROM ev GROUP BY 1, 2),
         b AS (SELECT MIN(hl) AS lo, MAX(hl) AS hi FROM ev),
         spine AS (SELECT unnest(range(lo, hi + 1)) AS hl FROM b),
         types AS (SELECT DISTINCT event_type FROM ev),
         grid AS (SELECT s.hl, t.event_type, COALESCE(h.n, 0) AS n,
             CASE WHEN h.n > 0 THEN h.sv / h.n END AS v
           FROM spine s CROSS JOIN types t
             LEFT JOIN hourly h ON h.hl = s.hl AND h.event_type = t.event_type),
         w AS (SELECT *,
             last_value(CASE WHEN n > 0 THEN hl END IGNORE NULLS)
               OVER wb AS ph,
             last_value(CASE WHEN n > 0 THEN v END IGNORE NULLS)
               OVER wb AS pv,
             first_value(CASE WHEN n > 0 THEN hl END IGNORE NULLS)
               OVER wf AS nh,
             first_value(CASE WHEN n > 0 THEN v END IGNORE NULLS)
               OVER wf AS nv
           FROM grid
           WINDOW wb AS (PARTITION BY event_type ORDER BY hl
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           wf AS (PARTITION BY event_type ORDER BY hl
             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
         SELECT strftime(make_timestamp(hl * 3600000000),
             '%Y-%m-%d %H:%M:%S') AS hour,
           event_type, n,
           CASE WHEN n > 0 THEN v
             WHEN ph IS NOT NULL AND nh IS NOT NULL
             THEN pv + (nv - pv) *
               (CAST(hl - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE)) END AS value,
           CAST(CASE WHEN n = 0 AND ph IS NOT NULL AND nh IS NOT NULL
             THEN 1 ELSE 0 END AS BIGINT) AS filled
         FROM w ORDER BY hour, event_type""",
    // the bloom prefilter's false positives are removed by the exact semi
    // join, so the graded output is the plain EXISTS
    "q_bloom_prefilter" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 1998)
         ORDER BY c_custkey""",
    "q_sql_q5" ->
      """SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
         FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY n_name
         ORDER BY n_name""",
    "q_scd2_intervals" ->
      """SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
           strftime(next_date, '%Y-%m-%d') AS valid_to,
           CAST(CASE WHEN next_date IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS is_current
         FROM (SELECT o_custkey, o_orderkey, o_orderdate,
             lead(o_orderdate, 1) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS next_date
           FROM orders)
         WHERE o_custkey % 50 = 0
         ORDER BY o_custkey, valid_from, o_orderkey""",
    // exact interpolated percentiles over the per-key frequency table;
    // the hottest key's share is the salting/AQE-skew decision input
    "q_key_skew" ->
      """WITH pk AS (SELECT l_partkey AS k, COUNT(*) AS freq FROM lineitem GROUP BY 1),
         sk AS (SELECT l_suppkey AS k, COUNT(*) AS freq FROM lineitem GROUP BY 1),
         p AS (SELECT 'l_partkey' AS key_col, COUNT(*) AS n_keys,
             CAST(SUM(freq) AS BIGINT) AS n_rows, MAX(freq) AS max_freq,
             quantile_cont(freq, 0.5) AS p50_freq,
             quantile_cont(freq, 0.99) AS p99_freq
           FROM pk
           UNION ALL SELECT 'l_suppkey', COUNT(*),
             CAST(SUM(freq) AS BIGINT), MAX(freq),
             quantile_cont(freq, 0.5), quantile_cont(freq, 0.99)
           FROM sk)
         SELECT key_col, n_keys, n_rows, max_freq, p50_freq, p99_freq,
           CAST(max_freq AS DOUBLE) / n_rows AS top_share
         FROM p ORDER BY key_col""",
    "q_moving_avg" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, ma5 FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
               / COUNT(*) OVER w AS ma5
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
         WHERE o_orderkey % 100 = 0 ORDER BY o_custkey, o_orderkey""",
    "q_full_outer" ->
      """WITH c AS (SELECT date_trunc('hour', ts) AS hour, user_id % 50 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_clicks
           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         p AS (SELECT date_trunc('hour', ts) AS hour, user_id % 50 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_purchases
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT strftime(COALESCE(c.hour, p.hour), '%Y-%m-%d %H:%M:%S') AS hour,
           COALESCE(c.bucket, p.bucket) AS bucket, n_clicks, n_purchases
         FROM c FULL OUTER JOIN p ON c.hour = p.hour AND c.bucket = p.bucket
         ORDER BY hour, bucket""",
    "q_ntile_bins" ->
      """WITH s AS (SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
           FROM orders GROUP BY 1),
         tl AS (SELECT spend,
             CAST(ntile(4) OVER (ORDER BY spend, o_custkey) AS BIGINT) AS tile
           FROM s)
         SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_customers,
           MIN(spend) AS spend_min, MAX(spend) AS spend_max
         FROM tl GROUP BY tile ORDER BY tile""",
    // identical IEEE arithmetic both sides: bases written as 1/(1-0.2) and
    // (1-0.2) so both engines fold the same doubles; ewma rounded at 1e-6,
    // far above pow/sum-association jitter (see qEwma scaladoc)
    "q_ewma" ->
      """WITH daily AS (SELECT o_orderdate AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS x
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
             AND o_orderdate <= TIMESTAMP '1995-03-31 00:00:00'
           GROUP BY 1),
         idx AS (SELECT d, x,
             CAST(row_number() OVER (ORDER BY d) - 1 AS DOUBLE) AS i FROM daily),
         c AS (SELECT d, x, i,
             SUM(x * power(1.0/(1.0-0.2), i)) OVER
               (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             first_value(x) OVER
               (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x0
           FROM idx)
         SELECT strftime(d, '%Y-%m-%d') AS d, x,
           round(power(1.0-0.2, i) * (x0 + 0.2 * (cum - x0)), 6) AS ewma
         FROM c ORDER BY d""",
    // exact answer behind the CMS prefilter: the sketch only overcounts,
    // so the verified output equals the plain GROUP BY / HAVING
    "q_heavy_hitters" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events FROM events
         GROUP BY user_id HAVING COUNT(*) > 80 ORDER BY user_id""",
    // Wasserstein-1 drift: integer CDF-difference numerators, one
    // double division per source
    "q_emd_drift" ->
      """WITH c AS (SELECT source, CAST(floor(n_chars / 25.0) AS BIGINT) AS bin,
    CAST(COUNT(*) AS BIGINT) AS k FROM documents GROUP BY 1, 2),
sup AS (SELECT bin,
    CAST(COALESCE(lead(bin) OVER (ORDER BY bin) - bin, 0) AS BIGINT) AS gap
  FROM (SELECT DISTINCT bin FROM c)),
grid AS (SELECT s.source, sup.bin, sup.gap, CAST(COALESCE(c.k, 0) AS BIGINT) AS k
  FROM (SELECT DISTINCT source FROM c) s CROSS JOIN sup
  LEFT JOIN c ON c.source = s.source AND c.bin = sup.bin),
corp AS (SELECT bin, CAST(SUM(k) AS BIGINT) AS bk FROM grid GROUP BY bin),
corp2 AS (SELECT bin, CAST(SUM(bk) OVER (ORDER BY bin) AS BIGINT) AS c_all FROM corp),
tot AS (SELECT CAST(SUM(k) AS BIGINT) AS all_n FROM grid),
g2 AS (SELECT source, bin, gap, k,
    CAST(SUM(k) OVER (PARTITION BY source ORDER BY bin) AS BIGINT) AS c_src,
    CAST(SUM(k) OVER (PARTITION BY source) AS BIGINT) AS n_src
  FROM grid),
terms AS (SELECT g2.source, g2.n_src,
    abs(g2.c_src * (SELECT all_n FROM tot) - corp2.c_all * g2.n_src) * g2.gap AS term
  FROM g2 JOIN corp2 ON g2.bin = corp2.bin)
SELECT source, MAX(n_src) AS n_docs,
  CAST(SUM(term) AS BIGINT) AS emd_num,
  CAST(SUM(term) AS DOUBLE)
    / CAST(MAX(n_src) * (SELECT all_n FROM tot) AS DOUBLE) AS emd_bins,
  CAST(SUM(term) AS DOUBLE)
    / CAST(MAX(n_src) * (SELECT all_n FROM tot) AS DOUBLE) * 25 AS emd_chars
FROM terms GROUP BY source ORDER BY source""",
    // the streaming drain produces the same histogram through a real
    // stateful aggregation - same oracle
    "q_stream_emd" ->
      """WITH c AS (SELECT source, CAST(floor(n_chars / 25.0) AS BIGINT) AS bin,
    CAST(COUNT(*) AS BIGINT) AS k FROM documents GROUP BY 1, 2),
sup AS (SELECT bin,
    CAST(COALESCE(lead(bin) OVER (ORDER BY bin) - bin, 0) AS BIGINT) AS gap
  FROM (SELECT DISTINCT bin FROM c)),
grid AS (SELECT s.source, sup.bin, sup.gap, CAST(COALESCE(c.k, 0) AS BIGINT) AS k
  FROM (SELECT DISTINCT source FROM c) s CROSS JOIN sup
  LEFT JOIN c ON c.source = s.source AND c.bin = sup.bin),
corp AS (SELECT bin, CAST(SUM(k) AS BIGINT) AS bk FROM grid GROUP BY bin),
corp2 AS (SELECT bin, CAST(SUM(bk) OVER (ORDER BY bin) AS BIGINT) AS c_all FROM corp),
tot AS (SELECT CAST(SUM(k) AS BIGINT) AS all_n FROM grid),
g2 AS (SELECT source, bin, gap, k,
    CAST(SUM(k) OVER (PARTITION BY source ORDER BY bin) AS BIGINT) AS c_src,
    CAST(SUM(k) OVER (PARTITION BY source) AS BIGINT) AS n_src
  FROM grid),
terms AS (SELECT g2.source, g2.n_src,
    abs(g2.c_src * (SELECT all_n FROM tot) - corp2.c_all * g2.n_src) * g2.gap AS term
  FROM g2 JOIN corp2 ON g2.bin = corp2.bin)
SELECT source, MAX(n_src) AS n_docs,
  CAST(SUM(term) AS BIGINT) AS emd_num,
  CAST(SUM(term) AS DOUBLE)
    / CAST(MAX(n_src) * (SELECT all_n FROM tot) AS DOUBLE) AS emd_bins,
  CAST(SUM(term) AS DOUBLE)
    / CAST(MAX(n_src) * (SELECT all_n FROM tot) AS DOUBLE) * 25 AS emd_chars
FROM terms GROUP BY source ORDER BY source""",
    // byte-level payload dedup census: md5 of the raw bytes, sizes via
    // octet_length; identical media dedup regardless of metadata
    "q_multimodal_dedup" ->
      """WITH p AS (SELECT doc_id, source, md5(text) AS h,
             CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nbytes
           FROM documents),
         g AS (SELECT source, h, CAST(COUNT(*) AS BIGINT) AS copies,
             MIN(nbytes) AS sz
           FROM p GROUP BY 1, 2)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(copies) AS BIGINT) AS n_payloads,
           CAST(SUM(copies) - COUNT(*) AS BIGINT) AS n_dupes,
           CAST(SUM((copies - 1) * sz) AS BIGINT) AS dup_bytes
         FROM g GROUP BY source ORDER BY source""",
    "q_psi_drift" ->
      """WITH c AS (SELECT source, CAST(floor(n_chars / 25.0) AS BIGINT) AS bin,
             COUNT(*) AS k
           FROM documents GROUP BY 1, 2),
         t AS (SELECT source, bin, k,
             SUM(k) OVER (PARTITION BY source) AS src_n,
             SUM(k) OVER (PARTITION BY bin) AS bin_n,
             SUM(k) OVER () AS all_n FROM c)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bins,
           round(SUM((CAST(k AS DOUBLE) / CAST(src_n AS DOUBLE)
               - CAST(bin_n AS DOUBLE) / CAST(all_n AS DOUBLE))
             * ln((CAST(k AS DOUBLE) / CAST(src_n AS DOUBLE))
               / (CAST(bin_n AS DOUBLE) / CAST(all_n AS DOUBLE)))), 9) AS psi
         FROM t GROUP BY source ORDER BY source""",
    // quartile scores = 1 + number of exact interpolated percentile cuts
    // the value exceeds (no ntile: see qRfmSegments scaladoc)
    "q_rfm_segments" ->
      """WITH mx AS (SELECT MAX(o_orderdate) AS mxd FROM orders),
         c AS (SELECT o_custkey,
             date_diff('day', CAST(MAX(o_orderdate) AS DATE),
               CAST((SELECT mxd FROM mx) AS DATE)) AS recency,
             COUNT(*) AS freq,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
           FROM orders GROUP BY 1),
         q AS (SELECT
             quantile_cont(CAST(recency AS DOUBLE), [0.25, 0.5, 0.75]) AS rc,
             quantile_cont(CAST(freq AS DOUBLE), [0.25, 0.5, 0.75]) AS fc,
             quantile_cont(monetary, [0.25, 0.5, 0.75]) AS mc FROM c),
         s AS (SELECT
             CAST(1 + CAST(recency > rc[1] AS INT) + CAST(recency > rc[2] AS INT)
               + CAST(recency > rc[3] AS INT) AS BIGINT) AS r_score,
             CAST(1 + CAST(freq > fc[1] AS INT) + CAST(freq > fc[2] AS INT)
               + CAST(freq > fc[3] AS INT) AS BIGINT) AS f_score,
             CAST(1 + CAST(monetary > mc[1] AS INT) + CAST(monetary > mc[2] AS INT)
               + CAST(monetary > mc[3] AS INT) AS BIGINT) AS m_score,
             monetary
           FROM c CROSS JOIN q)
         SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
           CAST(SUM(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE) AS seg_monetary
         FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "q_regression_trend" ->
      """WITH m AS (
           SELECT c_mktsegment AS segment,
             CAST((year(o_orderdate)-1992)*12 + month(o_orderdate)-1 AS BIGINT) AS x,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
         s AS (
           SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_months,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x*x) AS BIGINT) AS sxx,
             CAST(SUM(rev) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(18,2)) * rev) AS DOUBLE) AS sxy
           FROM m GROUP BY 1),
         f AS (
           SELECT segment, n_months,
             CAST(n_months AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
             sxy, sy, CAST(sxx AS DOUBLE) AS sxxd
           FROM s)
         SELECT segment, n_months,
           (nd*sxy - sxd*sy) / (nd*sxxd - sxd*sxd) AS slope,
           (sy - ((nd*sxy - sxd*sy) / (nd*sxxd - sxd*sxd)) * sxd) / nd AS intercept
         FROM f ORDER BY segment""",
    "q_benford" ->
      """WITH d AS (
           SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1) AS digit
           FROM orders),
         g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1)
         SELECT digit, n,
           CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS freq,
           round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS expected
         FROM g ORDER BY digit""",
    "q_sql_q10" ->
      """SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6)))
             AS DOUBLE) AS revenue,
           c_acctbal, n_name
         FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
           JOIN nation ON c_nationkey = n_nationkey
         WHERE o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
           AND l_returnflag = 'R'
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey
         LIMIT 20""",
    "q_zscore_outliers" ->
      """WITH seg AS (
           SELECT c_mktsegment AS segment, o_orderkey, o_totalprice
           FROM orders JOIN customer ON o_custkey = c_custkey),
         m AS (
           SELECT segment, CAST(COUNT(*) AS DOUBLE) AS nd,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS sxx
           FROM seg GROUP BY 1),
         mm AS (
           SELECT segment, sx / nd AS mean,
             sqrt((sxx - sx * sx / nd) / (nd - 1)) AS sd
           FROM m),
         z AS (
           SELECT seg.segment, o_orderkey,
             (o_totalprice - mean) / sd AS z
           FROM seg JOIN mm ON seg.segment = mm.segment),
         r AS (
           SELECT segment, o_orderkey, z,
             row_number() OVER (PARTITION BY segment
               ORDER BY abs(z) DESC, o_orderkey) AS rk
           FROM z)
         SELECT segment, o_orderkey, round(z, 6) AS z
         FROM r WHERE rk <= 5 ORDER BY segment, o_orderkey""",
    "q_interval_union" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             epoch_us(ts) + 300000000 AS end_us
           FROM events),
         g AS (
           SELECT user_id, event_id, ts_us, end_us,
             CASE WHEN max(end_us) OVER w IS NULL
                    OR ts_us > max(end_us) OVER w
               THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         i AS (
           SELECT user_id, ts_us, end_us,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM g),
         isl AS (
           SELECT user_id, island, MIN(ts_us) AS s, MAX(end_us) AS e
           FROM i GROUP BY 1, 2)
         SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(e - s) AS BIGINT) AS covered_us
         FROM isl GROUP BY 1 ORDER BY user_id""",
    "q_session_paths" ->
      """WITH s AS (
           SELECT event_type,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         p AS (
           SELECT event_type || '>' || t2 || '>' || t3 AS path
           FROM s WHERE t3 IS NOT NULL)
         SELECT path, CAST(COUNT(*) AS BIGINT) AS n
         FROM p GROUP BY 1 ORDER BY n DESC, path LIMIT 15""",
    "q_attribution" ->
      """WITH a AS (
           SELECT event_type, value,
             last_value(CASE WHEN event_type IN ('click','view')
                 THEN event_type END IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
           FROM events)
         SELECT COALESCE(touch, 'none') AS touch,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM a WHERE event_type = 'purchase'
         GROUP BY 1 ORDER BY touch""",
    "q_chi2" ->
      """WITH obs AS (
           SELECT c_mktsegment AS seg, n_name AS nat, COUNT(*) AS o
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           GROUP BY 1, 2),
         st AS (SELECT seg, SUM(o) AS rt FROM obs GROUP BY 1),
         nt AS (SELECT nat, SUM(o) AS ct FROM obs GROUP BY 1),
         tot AS (SELECT SUM(o) AS n FROM obs),
         grid AS (
           SELECT st.seg, nt.nat, rt, ct, n,
             COALESCE(obs.o, 0) AS o
           FROM st CROSS JOIN nt CROSS JOIN tot
             LEFT JOIN obs ON obs.seg = st.seg AND obs.nat = nt.nat),
         terms AS (
           SELECT seg, nat, o,
             CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE) AS e
           FROM grid)
         SELECT
           CAST(SUM(CAST(round((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e, 9)
             AS DECIMAL(20,10))) AS DOUBLE) AS chi2,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST((COUNT(DISTINCT seg) - 1) * (COUNT(DISTINCT nat) - 1) AS BIGINT) AS dof
         FROM terms""",
    "q_hourly_profile" ->
      """WITH h AS (
           SELECT event_type,
             (epoch_ns(ts) // 3600000000000) % 24 AS hod,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2)
         SELECT event_type, hod, n,
           CAST(n AS DOUBLE) /
             CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE) AS share
         FROM h ORDER BY event_type, hod""",
    "q_vocab_containment" ->
      """WITH sw AS (
           SELECT DISTINCT source,
             unnest(string_split_regex(trim(lower(text)), ' +')) AS word
           FROM documents),
         j AS (
           SELECT a.source AS s1, b.source AS s2, COUNT(*) AS inter
           FROM sw a JOIN sw b ON a.word = b.word AND a.source < b.source
           GROUP BY 1, 2),
         sizes AS (SELECT source, COUNT(*) AS nv FROM sw GROUP BY 1)
         SELECT s1, s2, CAST(inter AS BIGINT) AS inter,
           CAST(n1.nv AS BIGINT) AS n1, CAST(n2.nv AS BIGINT) AS n2,
           CAST(inter AS DOUBLE) / CAST(least(n1.nv, n2.nv) AS DOUBLE)
             AS containment
         FROM j JOIN sizes n1 ON j.s1 = n1.source
           JOIN sizes n2 ON j.s2 = n2.source
         ORDER BY s1, s2""",
    "q_decile_lift" ->
      """WITH c AS (
           SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
           FROM orders GROUP BY 1),
         d AS (
           SELECT spend,
             CAST(ntile(10) OVER (ORDER BY spend DESC, o_custkey) AS BIGINT) AS decile
           FROM c),
         g AS (
           SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
             SUM(spend) AS decile_rev
           FROM d GROUP BY 1)
         SELECT decile, n_customers,
           CAST(decile_rev AS DOUBLE) AS decile_rev,
           CAST(decile_rev AS DOUBLE) / CAST(SUM(decile_rev) OVER () AS DOUBLE) AS share,
           CAST(SUM(decile_rev) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(SUM(decile_rev) OVER () AS DOUBLE) AS cum_share
         FROM g ORDER BY decile""",
    "q_gini" ->
      """WITH c AS (
           SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
           FROM orders GROUP BY 1),
         r AS (
           SELECT spend,
             CAST(row_number() OVER (ORDER BY spend, o_custkey) AS BIGINT) AS i
           FROM c),
         s AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
             SUM(spend) AS sx,
             SUM(CAST(spend AS DECIMAL(14,2)) * CAST(i AS DECIMAL(10,0))) AS six
           FROM r)
         SELECT n_customers, CAST(sx AS DOUBLE) AS total_spend,
           round(2.0 * CAST(six AS DOUBLE) /
               (CAST(n_customers AS DOUBLE) * CAST(sx AS DOUBLE)) -
             (CAST(n_customers AS DOUBLE) + 1.0) / CAST(n_customers AS DOUBLE),
             9) AS gini
         FROM s""",
    "q_autocorr" ->
      """WITH daily AS (
           SELECT CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS c
           FROM orders GROUP BY 1),
         p AS (
           SELECT d, c,
             lead(d, 1) OVER (ORDER BY d) AS nd,
             lead(c, 1) OVER (ORDER BY d) AS nc
           FROM daily),
         q AS (SELECT c, nc FROM p WHERE nd = d + 1),
         s AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(c) AS BIGINT) AS sx, CAST(SUM(nc) AS BIGINT) AS sy,
             CAST(SUM(c*c) AS BIGINT) AS sxx, CAST(SUM(nc*nc) AS BIGINT) AS syy,
             CAST(SUM(c*nc) AS BIGINT) AS sxy
           FROM q)
         SELECT n_pairs,
           round(
             (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE) -
               CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             (sqrt(CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) -
                CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
              sqrt(CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) -
                CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9) AS autocorr_lag1
         FROM s""",
    "q_weighted_median" ->
      """WITH p AS (
           SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS wt
           FROM lineitem GROUP BY 1, 2),
         w AS (
           SELECT l_returnflag, price,
             SUM(wt) OVER (PARTITION BY l_returnflag ORDER BY price
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
             SUM(wt) OVER (PARTITION BY l_returnflag) AS tot
           FROM p)
         SELECT l_returnflag,
           CAST(MIN(price) AS DOUBLE) AS weighted_median_price
         FROM w WHERE cumw * 2 >= tot
         GROUP BY 1 ORDER BY l_returnflag""",
    "q_time_weighted_avg" ->
      """WITH e AS (
           SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
             lead(epoch_us(ts), 1) OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS next_us
           FROM events),
         h AS (
           SELECT user_id, value, next_us - ts_us AS gap_us
           FROM e WHERE next_us IS NOT NULL),
         g AS (
           SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_holds,
             CAST(SUM(gap_us) AS BIGINT) AS span_us,
             CAST(SUM(CAST(value AS DECIMAL(20,6)) *
               CAST(gap_us AS DECIMAL(14,0))) AS DOUBLE) AS wsum
           FROM h GROUP BY 1)
         SELECT user_id, n_holds, span_us,
           round(wsum / CAST(span_us AS DOUBLE), 6) AS twap
         FROM g ORDER BY user_id""",
    "q_cusum" ->
      """WITH hc AS (
           SELECT event_type, epoch_ns(ts) // 3600000000000 AS hr,
             CAST(COUNT(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, hr, c,
             CAST(row_number() OVER tw AS BIGINT) AS k,
             SUM(c) OVER (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
             COUNT(*) OVER (PARTITION BY event_type) AS n_hours,
             SUM(c) OVER (PARTITION BY event_type) AS total
           FROM hc WINDOW tw AS (PARTITION BY event_type ORDER BY hr)),
         cs AS (
           SELECT event_type, hr, c,
             CAST(s AS DOUBLE) - CAST(k AS DOUBLE) *
               (CAST(total AS DOUBLE) / CAST(n_hours AS DOUBLE)) AS cusum
           FROM w),
         r AS (
           SELECT event_type, hr, c, cusum,
             row_number() OVER (PARTITION BY event_type
               ORDER BY abs(cusum) DESC, hr) AS rk
           FROM cs)
         SELECT event_type, hr, c, round(cusum, 6) AS cusum
         FROM r WHERE rk = 1 ORDER BY event_type""",
    "q_sql_q18" ->
      """SELECT c_custkey, c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
         FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey IN (
           SELECT l_orderkey FROM lineitem
           GROUP BY l_orderkey
           HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
         GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 50""",
    "q_debounce" ->
      """WITH e AS (
           SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
           FROM events),
         d AS (
           SELECT event_type,
             CASE WHEN lag(ts_us) OVER w IS NOT NULL
                    AND ts_us - lag(ts_us) OVER w < 5000000
               THEN 1 ELSE 0 END AS dropped
           FROM e WINDOW w AS (PARTITION BY user_id, event_type
             ORDER BY ts_us, event_id))
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(dropped) AS BIGINT) AS n_dropped,
           CAST(COUNT(*) - SUM(dropped) AS BIGINT) AS n_kept
         FROM d GROUP BY 1 ORDER BY event_type""",
    "q_sql_q6" ->
      """SELECT
           CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(24,6)))
             AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24""",
    "q_sql_q14" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))
                 ELSE CAST(0 AS DECIMAL(24,6)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(24,6))) AS DOUBLE) AS promo_share,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
               AS DECIMAL(24,6))) AS DOUBLE) AS total_revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
         GROUP BY 1
         ORDER BY ship_month""",
    "q_sql_q19" ->
      """SELECT
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
               AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 20)
            OR (p_brand = 'Brand#7' AND p_size BETWEEN 5 AND 25
                AND l_quantity BETWEEN 15 AND 35)
            OR (p_brand = 'Brand#21' AND p_size BETWEEN 10 AND 40
                AND l_quantity BETWEEN 30 AND 50)""",
    "q_sql_q22" ->
      """WITH pool AS (
           SELECT c_custkey, c_acctbal, c_nationkey % 5 AS ngroup
           FROM customer WHERE c_nationkey % 5 IN (0, 2, 4))
         SELECT ngroup,
           COUNT(*) AS n_custs,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
         FROM pool
         WHERE c_acctbal > (
             SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                      / COUNT(*)
             FROM pool WHERE c_acctbal > 0)
           AND NOT EXISTS (
             SELECT 1 FROM orders WHERE o_custkey = c_custkey
               AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
         GROUP BY ngroup
         ORDER BY ngroup""",
    "q_anomaly_iqr" ->
      """WITH enr AS (
           SELECT r_name, o_totalprice
           FROM orders
             JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey),
         f AS (
           SELECT r_name,
             CAST(quantile_cont(o_totalprice, 0.25) AS DECIMAL(18,4)) AS q1d,
             CAST(quantile_cont(o_totalprice, 0.75) AS DECIMAL(18,4)) AS q3d
           FROM enr GROUP BY r_name),
         f2 AS (
           SELECT r_name, q1d, q3d,
             q1d - CAST(1.5 AS DECIMAL(2,1)) * (q3d - q1d) AS lo,
             q3d + CAST(1.5 AS DECIMAL(2,1)) * (q3d - q1d) AS hi
           FROM f)
         SELECT enr.r_name,
           CAST(q1d AS DOUBLE) AS q1,
           CAST(q3d AS DOUBLE) AS q3,
           CAST(lo AS DOUBLE) AS lo_fence,
           CAST(hi AS DOUBLE) AS hi_fence,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN CAST(o_totalprice AS DECIMAL(18,4)) < lo
                 OR CAST(o_totalprice AS DECIMAL(18,4)) > hi
               THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(SUM(CASE WHEN CAST(o_totalprice AS DECIMAL(18,4)) < lo
                 OR CAST(o_totalprice AS DECIMAL(18,4)) > hi
               THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS outlier_frac
         FROM enr JOIN f2 USING (r_name)
         GROUP BY enr.r_name, q1d, q3d, lo, hi
         ORDER BY r_name""",
    "q_winsorize" ->
      """WITH seg AS (
           SELECT c_mktsegment AS segment, o_totalprice
           FROM orders JOIN customer ON o_custkey = c_custkey),
         b AS (
           SELECT segment,
             CAST(quantile_cont(o_totalprice, 0.05) AS DECIMAL(18,4)) AS p05d,
             CAST(quantile_cont(o_totalprice, 0.95) AS DECIMAL(18,4)) AS p95d
           FROM seg GROUP BY segment)
         SELECT segment,
           CAST(p05d AS DOUBLE) AS p05,
           CAST(p95d AS DOUBLE) AS p95,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS mean_raw,
           CAST(SUM(CASE
               WHEN CAST(o_totalprice AS DECIMAL(18,4)) < p05d THEN p05d
               WHEN CAST(o_totalprice AS DECIMAL(18,4)) > p95d THEN p95d
               ELSE CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS mean_winsorized
         FROM seg JOIN b USING (segment)
         GROUP BY segment, p05d, p95d
         ORDER BY segment""",
    "q_spearman" ->
      """WITH daily AS (
           SELECT l_returnflag AS rf, CAST(l_shipdate AS DATE) AS day,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS x,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS y
           FROM lineitem GROUP BY 1, 2),
         r AS (
           SELECT rf,
             2 * rank() OVER (PARTITION BY rf ORDER BY x)
               + COUNT(*) OVER (PARTITION BY rf, x) - 1 AS rx,
             2 * rank() OVER (PARTITION BY rf ORDER BY y)
               + COUNT(*) OVER (PARTITION BY rf, y) - 1 AS ry
           FROM daily),
         m AS (
           SELECT rf, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rx) AS BIGINT) AS sx,
             CAST(SUM(ry) AS BIGINT) AS sy,
             CAST(SUM(rx * ry) AS BIGINT) AS sxy,
             CAST(SUM(rx * rx) AS BIGINT) AS sxx,
             CAST(SUM(ry * ry) AS BIGINT) AS syy
           FROM r GROUP BY rf)
         SELECT rf AS l_returnflag, n AS n_days,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                 * CAST(n * syy - sy * sy AS DOUBLE)), 9) AS spearman_rho
         FROM m ORDER BY l_returnflag""",
    "q_mode_category" ->
      """WITH c AS (
           SELECT o_orderstatus AS status,
             CAST(year(o_orderdate) AS BIGINT) AS yr,
             o_orderpriority AS priority,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM orders GROUP BY 1, 2, 3),
         w AS (
           SELECT *,
             row_number() OVER (PARTITION BY status, yr
               ORDER BY n DESC, priority) AS rk,
             SUM(n) OVER (PARTITION BY status, yr) AS total
           FROM c)
         SELECT status, yr, priority AS mode_priority, n AS n_mode,
           CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS mode_share
         FROM w WHERE rk = 1 ORDER BY status, yr""",
    "q_ship_streaks" ->
      """WITH days AS (
           SELECT DISTINCT l_suppkey, CAST(l_shipdate AS DATE) AS day
           FROM lineitem),
         runs AS (
           SELECT l_suppkey,
             (day - DATE '1970-01-01')
               - row_number() OVER (PARTITION BY l_suppkey ORDER BY day) AS grp
           FROM days),
         lens AS (
           SELECT l_suppkey, grp, CAST(COUNT(*) AS BIGINT) AS run_len
           FROM runs GROUP BY 1, 2)
         SELECT l_suppkey,
           CAST(MAX(run_len) AS BIGINT) AS longest_streak_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(SUM(run_len) AS BIGINT) AS n_ship_days
         FROM lens GROUP BY l_suppkey ORDER BY l_suppkey""",
    "q_hhi_concentration" ->
      """WITH rev AS (
           SELECT r_name, s_suppkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(24,6))) AS DECIMAL(18,6)) AS rev
           FROM lineitem
             JOIN supplier ON l_suppkey = s_suppkey
             JOIN nation ON s_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
           GROUP BY r_name, s_suppkey)
         SELECT r_name,
           COUNT(*) AS n_suppliers,
           CAST(SUM(rev) AS DOUBLE) AS total_revenue,
           round(10000.0 * CAST(SUM(CAST(rev AS DECIMAL(19,6)) * rev) AS DOUBLE)
             / (CAST(SUM(rev) AS DOUBLE) * CAST(SUM(rev) AS DOUBLE)), 9) AS hhi
         FROM rev GROUP BY r_name ORDER BY r_name""",
    "q_snapshot_diff" ->
      """WITH old AS (
           SELECT o_orderkey AS k,
             CAST(o_totalprice AS DECIMAL(20,4)) AS v_old
           FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'),
         nw AS (
           SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 7 = 0
               THEN CAST(CAST(o_totalprice AS DECIMAL(20,4))
                 * CAST(1.1 AS DECIMAL(2,1)) AS DECIMAL(20,4))
               ELSE CAST(o_totalprice AS DECIMAL(20,4)) END AS v_new
           FROM orders WHERE o_orderkey % 101 <> 0),
         d AS (
           SELECT CASE WHEN v_old IS NULL THEN 'added'
               WHEN v_new IS NULL THEN 'removed'
               WHEN v_old <> v_new THEN 'changed'
               ELSE 'unchanged' END AS change_type,
             COALESCE(v_new, CAST(0 AS DECIMAL(20,4)))
               - COALESCE(v_old, CAST(0 AS DECIMAL(20,4))) AS delta
           FROM old FULL OUTER JOIN nw USING (k))
         SELECT change_type,
           COUNT(*) AS n_keys,
           CAST(SUM(delta) AS DOUBLE) AS net_price_delta
         FROM d GROUP BY change_type ORDER BY change_type""",
    "q_session_concurrency" ->
      """WITH pts AS (
           SELECT epoch_us(ts) AS pt, 1 AS delta, event_id FROM events
           UNION ALL
           SELECT epoch_us(ts) + 300000000 AS pt, -1 AS delta, event_id
           FROM events),
         sweep AS (
           SELECT pt,
             SUM(delta) OVER (ORDER BY pt, delta, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
           FROM pts)
         SELECT (pt // 3600000000) % 24 AS hod,
           CAST(MAX(live) AS BIGINT) AS peak_concurrent,
           CAST(COUNT(*) AS BIGINT) AS n_boundaries
         FROM sweep GROUP BY 1 ORDER BY hod""",
    "q_embed_outliers" ->
      """WITH corpus AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nvec FROM embeddings),
         queries AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
           FROM embeddings WHERE vec_id % 100 = 0),
         sims AS (SELECT qid, nid,
             CAST(round(
               list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * nvec[i])) /
                 (sqrt(list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * qvec[i]))) *
                  sqrt(list_sum(list_transform(range(1, len(nvec) + 1), i -> nvec[i] * nvec[i])))),
               9) AS DECIMAL(12,10)) AS s9
           FROM corpus CROSS JOIN queries WHERE qid <> nid),
         ranked AS (SELECT qid, s9,
             row_number() OVER (PARTITION BY qid ORDER BY s9 DESC, nid) AS rnk
           FROM sims)
         SELECT qid, CAST(MAX(s9) AS DOUBLE) AS max_sim,
           CAST(SUM(s9) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_topk
         FROM ranked WHERE rnk <= 5
         GROUP BY qid ORDER BY max_sim ASC, qid LIMIT 20""",
    // same fixed-point milli-sums as q_label_centroids; the member counts
    // cancel in the cosine, so the whole measure is exact integer sums
    // with one final double sqrt/division
    "q_centroid_sim" ->
      """WITH e AS (SELECT CAST(label AS BIGINT) AS label,
             CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) > 0),
         x AS (SELECT label, unnest(range(1, len(v) + 1)) AS i, v FROM e),
         y AS (SELECT label, CAST(i - 1 AS BIGINT) AS dim,
             CAST(floor(v[i] * 1000.0 + 0.5) AS BIGINT) AS m FROM x),
         s AS (SELECT label, dim, CAST(SUM(m) AS BIGINT) AS sm
           FROM y GROUP BY label, dim),
         nr AS (SELECT label, CAST(SUM(sm * sm) AS DOUBLE) AS n2
           FROM s GROUP BY label)
         SELECT a.label AS label_a, b.label AS label_b,
           CAST(SUM(a.sm * b.sm) AS DOUBLE) / sqrt(na.n2 * nb.n2)
             AS centroid_cosine
         FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label
           JOIN nr na ON na.label = a.label
           JOIN nr nb ON nb.label = b.label
         GROUP BY a.label, b.label, na.n2, nb.n2
         ORDER BY label_a, label_b""",
    // identical pair derivation to q_ngram_jaccard's oracle, then the
    // threshold lattice joins against the pair list
    "q_dedup_threshold_curve" ->
      """WITH docs AS (
           SELECT doc_id, lang,
             list_distinct(string_split_regex(trim(lower(text)), ' +')) AS w
           FROM documents WHERE doc_id % 20 = 0),
         dw0 AS (SELECT doc_id, lang, unnest(w) AS word FROM docs),
         nd AS (SELECT lang, COUNT(*) AS n_docs FROM docs GROUP BY 1),
         hot AS (SELECT d.lang, d.word
           FROM (SELECT lang, word, COUNT(*) AS df FROM dw0 GROUP BY 1, 2) d
           JOIN nd ON d.lang = nd.lang WHERE d.df > nd.n_docs * 0.5),
         dw AS (SELECT * FROM dw0 WHERE NOT EXISTS (
           SELECT 1 FROM hot WHERE hot.lang = dw0.lang AND hot.word = dw0.word)),
         sized AS (SELECT doc_id, lang, CAST(COUNT(*) AS DOUBLE) AS nw
           FROM dw GROUP BY 1, 2),
         dwn AS (SELECT dw.doc_id, dw.lang, dw.word, sized.nw
           FROM dw JOIN sized ON dw.doc_id = sized.doc_id AND dw.lang = sized.lang),
         j AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.nw AS n1, b.nw AS n2,
             COUNT(*) AS inter
           FROM dwn a JOIN dwn b ON a.lang = b.lang AND a.word = b.word
           WHERE a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4),
         jac AS (SELECT id1, id2,
             CAST(inter AS DOUBLE) / (n1 + n2 - inter) AS jaccard
           FROM j WHERE CAST(inter AS DOUBLE) / (n1 + n2 - inter) >= 0.3),
         th AS (SELECT unnest([0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold)
         SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT id2) AS BIGINT) AS n_docs_removed
         FROM jac JOIN th ON jaccard >= threshold
         GROUP BY threshold ORDER BY threshold""",
    "q_fulfillment_latency" ->
      """WITH per_order AS (
           SELECT l_orderkey,
             MIN(CAST(l_shipdate AS DATE)) AS first_ship,
             MAX(CAST(l_shipdate AS DATE)) AS last_ship
           FROM lineitem GROUP BY l_orderkey)
         SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           quantile_cont(first_ship - CAST(o_orderdate AS DATE), 0.5)
             AS p50_first_ship_days,
           quantile_cont(first_ship - CAST(o_orderdate AS DATE), 0.95)
             AS p95_first_ship_days,
           quantile_cont(last_ship - CAST(o_orderdate AS DATE), 0.95)
             AS p95_last_ship_days,
           CAST(MAX(last_ship - CAST(o_orderdate AS DATE)) AS BIGINT)
             AS max_days
         FROM orders JOIN per_order ON o_orderkey = l_orderkey
         GROUP BY o_orderpriority ORDER BY priority""",
    "q_rolling_median" ->
      """WITH daily AS (
           SELECT r_name, CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
           FROM orders
             JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
           GROUP BY r_name, CAST(o_orderdate AS DATE)),
         w AS (
           SELECT r_name, day, rev,
             COUNT(*) OVER fr AS n_days,
             quantile_cont(rev, 0.5) OVER fr AS med7
           FROM daily
           WINDOW fr AS (PARTITION BY r_name ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
         SELECT r_name, strftime(day, '%Y-%m-%d') AS day, rev, med7
         FROM w WHERE n_days = 7 ORDER BY r_name, day""",
    "q_assoc_rules" ->
      """WITH items AS (
           SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem),
         itemn AS (
           SELECT pk, CAST(COUNT(*) AS BIGINT) AS n FROM items GROUP BY pk),
         total AS (
           SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS nb FROM items),
         pairs AS (
           SELECT a.pk AS p1, b.pk AS p2, CAST(COUNT(*) AS BIGINT) AS n_both
           FROM items a JOIN items b
             ON a.okey = b.okey AND a.pk < b.pk
           GROUP BY a.pk, b.pk)
         SELECT p1, p2, n_both, i1.n AS n1, i2.n AS n2,
           CAST(n_both AS DOUBLE) / CAST(i1.n AS DOUBLE) AS confidence,
           CAST(nb * n_both AS DOUBLE) / CAST(i1.n * i2.n AS DOUBLE) AS lift
         FROM pairs
           JOIN itemn i1 ON i1.pk = p1
           JOIN itemn i2 ON i2.pk = p2
           CROSS JOIN total
         ORDER BY lift DESC, p1, p2 LIMIT 20""",
    "q_forecast_backtest" ->
      """WITH hourly AS (
           SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         j AS (
           SELECT h.event_type, h.n AS actual, p.n AS pred,
             abs(h.n - p.n) AS abs_err,
             CAST(round(CAST(abs(h.n - p.n) AS DOUBLE)
               / CAST(p.n AS DOUBLE), 9) AS DECIMAL(14,10)) AS pct_err
           FROM hourly h JOIN hourly p
             ON h.event_type = p.event_type AND h.hr = p.hr + 24)
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(abs_err) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mae,
           CAST(SUM(pct_err) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mape
         FROM j GROUP BY event_type ORDER BY event_type""",
    "q_interarrival" ->
      """WITH g AS (
           SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY event_type
               ORDER BY epoch_us(ts), event_id) AS gap
           FROM events)
         SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(SUM(gap) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6
             AS mean_gap_s,
           quantile_cont(gap, 0.5) / 1e6 AS p50_gap_s,
           quantile_cont(gap, 0.95) / 1e6 AS p95_gap_s
         FROM g WHERE gap IS NOT NULL
         GROUP BY event_type ORDER BY event_type""",
    "q_zipf_slope" ->
      """WITH freq AS (
           SELECT word, CAST(COUNT(*) AS BIGINT) AS c
           FROM (SELECT unnest(string_split_regex(trim(lower(text)), ' +'))
               AS word FROM documents)
           GROUP BY word ORDER BY c DESC, word LIMIT 500),
         r AS (
           SELECT
             CAST(round(ln(CAST(row_number() OVER (ORDER BY c DESC, word)
               AS DOUBLE)), 9) AS DECIMAL(14,10)) AS x,
             CAST(round(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(14,10)) AS y
           FROM freq),
         m AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx
           FROM r)
         SELECT n AS n_words,
           round((CAST(n AS DOUBLE) * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * sxx - sx * sx), 9) AS zipf_slope
         FROM m""",
    "q_vocab_growth" ->
      """WITH d AS (SELECT doc_id, text,
             string_split_regex(trim(lower(text)), ' +') AS w FROM documents),
         bounds AS (SELECT CAST(k AS BIGINT) AS decile,
             CAST(min_id + ((max_id - min_id) * k) // 10 AS BIGINT) AS cutoff_id
           FROM (SELECT MIN(doc_id) AS min_id, MAX(doc_id) AS max_id FROM d),
             range(1, 11) t(k)),
         dw AS (SELECT doc_id, unnest(w) AS word FROM d),
         fs AS (SELECT word, MIN(doc_id) AS fd FROM dw GROUP BY 1),
         dt AS (SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), ' +')) END AS ntok FROM d),
         toks AS (SELECT b.decile, CAST(COUNT(*) AS BIGINT) AS cum_docs,
             CAST(SUM(dt.ntok) AS BIGINT) AS cum_tokens
           FROM bounds b JOIN dt ON dt.doc_id <= b.cutoff_id GROUP BY 1),
         voc AS (SELECT b.decile, CAST(COUNT(*) AS BIGINT) AS cum_vocab
           FROM bounds b JOIN fs ON fs.fd <= b.cutoff_id GROUP BY 1)
         SELECT b.decile, b.cutoff_id, t.cum_docs, t.cum_tokens, v.cum_vocab
         FROM bounds b JOIN toks t USING (decile) JOIN voc v USING (decile)
         ORDER BY decile""",
    // least squares over the ten (ln cum_tokens, ln cum_vocab) points —
    // the q_zipf_slope decimal/rounding recipe
    "q_heaps_law" ->
      """WITH d AS (SELECT doc_id, text,
             string_split_regex(trim(lower(text)), ' +') AS w FROM documents),
         bounds AS (SELECT CAST(k AS BIGINT) AS decile,
             CAST(min_id + ((max_id - min_id) * k) // 10 AS BIGINT) AS cutoff_id
           FROM (SELECT MIN(doc_id) AS min_id, MAX(doc_id) AS max_id FROM d),
             range(1, 11) t(k)),
         dw AS (SELECT doc_id, unnest(w) AS word FROM d),
         fs AS (SELECT word, MIN(doc_id) AS fd FROM dw GROUP BY 1),
         dt AS (SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), ' +')) END AS ntok FROM d),
         toks AS (SELECT b.decile, CAST(COUNT(*) AS BIGINT) AS cum_docs,
             CAST(SUM(dt.ntok) AS BIGINT) AS cum_tokens
           FROM bounds b JOIN dt ON dt.doc_id <= b.cutoff_id GROUP BY 1),
         voc AS (SELECT b.decile, CAST(COUNT(*) AS BIGINT) AS cum_vocab
           FROM bounds b JOIN fs ON fs.fd <= b.cutoff_id GROUP BY 1),
         pts AS (SELECT
             CAST(round(ln(CAST(t.cum_tokens AS DOUBLE)), 9)
               AS DECIMAL(14,10)) AS x,
             CAST(round(ln(CAST(v.cum_vocab AS DOUBLE)), 9)
               AS DECIMAL(14,10)) AS y
           FROM toks t JOIN voc v USING (decile)),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx
           FROM pts)
         SELECT n AS n_points,
           round((CAST(n AS DOUBLE) * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * sxx - sx * sx), 9) AS heaps_beta,
           round((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
             / CAST(n AS DOUBLE), 9) AS heaps_logk
         FROM m""",
    "q_charset_stats" ->
      """SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN strlen(text) > length(text) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_nonascii_docs,
           CAST(SUM(strlen(text) - length(text)) AS BIGINT) AS extra_bytes,
           CAST(SUM(strlen(text) - length(text)) AS DOUBLE)
             / CAST(SUM(strlen(text)) AS DOUBLE) AS nonascii_byte_frac
         FROM documents GROUP BY lang ORDER BY lang""",
    // direct full-table rollup: a hash match against the engine's
    // base+delta merge proves incremental maintenance is exact
    "q_incr_agg" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
           o_orderstatus AS status,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
         FROM orders GROUP BY 1, 2 ORDER BY month, status""",
    // stream-static enrichment drain: stateless per-microbatch probe of
    // the static dimension, so the drain equals the batch join exactly
    "q_stream_enrich" ->
      """SELECT c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1 ORDER BY segment""",
    // the streaming drain shares the batch twin's oracle: an actual
    // flatMapGroupsWithState execution whose admitted set must equal the
    // earliest-first batch choice
    "q_stream_ratelimit" ->
      """WITH r AS (
           SELECT event_type,
             CASE WHEN row_number() OVER (
                 PARTITION BY user_id, epoch_us(ts) // 60000000
                 ORDER BY epoch_us(ts), event_id) <= 2
               THEN 1 ELSE 0 END AS kept
           FROM events)
         SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(COUNT(*) - SUM(kept) AS BIGINT) AS n_dropped
         FROM r GROUP BY event_type ORDER BY event_type""",
    "q_rate_limit" ->
      """WITH r AS (
           SELECT event_type,
             CASE WHEN row_number() OVER (
                 PARTITION BY user_id, epoch_us(ts) // 60000000
                 ORDER BY epoch_us(ts), event_id) <= 2
               THEN 1 ELSE 0 END AS kept
           FROM events)
         SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(COUNT(*) - SUM(kept) AS BIGINT) AS n_dropped
         FROM r GROUP BY event_type ORDER BY event_type""",
    "q_order_gaps" ->
      """WITH g AS (SELECT o_custkey, o_orderdate,
             lag(o_orderdate) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS prev
           FROM orders),
         d AS (SELECT date_diff('day', CAST(prev AS DATE),
             CAST(o_orderdate AS DATE)) AS gap
           FROM g WHERE prev IS NOT NULL)
         SELECT CAST(gap // 30 AS BIGINT) AS bucket, COUNT(*) AS n_gaps,
           CAST(MIN(gap) AS BIGINT) AS min_days,
           CAST(MAX(gap) AS BIGINT) AS max_days,
           CAST(SUM(gap) AS BIGINT) AS sum_days,
           CAST(SUM(gap) AS DOUBLE) / COUNT(*) AS avg_days
         FROM d GROUP BY 1 ORDER BY 1""",
    // bounded_topk ranks (revenue DESC, suppkey ASC) — mirror with
    // row_number over the same total order
    "q_topk_suppliers" ->
      """WITH rev AS (SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
               AS DECIMAL(24,6))) AS DOUBLE) AS revenue
           FROM lineitem GROUP BY 1),
         r AS (SELECT n_name, l_suppkey AS suppkey, revenue,
             CAST(row_number() OVER (PARTITION BY n_name
               ORDER BY revenue DESC, l_suppkey) AS BIGINT) AS rnk
           FROM rev
             JOIN supplier ON l_suppkey = s_suppkey
             JOIN nation ON s_nationkey = n_nationkey)
         SELECT n_name, suppkey, revenue, rnk FROM r
         WHERE rnk <= 3 ORDER BY n_name, rnk""",
    // INNER stream-stream join emission is eager (watermarks only bound
    // state), so the drained stream equals this batch range join
    "q_stream_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
           FROM events WHERE event_type = 'click'),
         v AS (SELECT event_id AS view_id, user_id AS v_user_id,
             ts AS view_ts FROM events WHERE event_type = 'view')
         SELECT click_id, user_id,
           strftime(click_ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
           view_id, strftime(view_ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts
         FROM c JOIN v ON user_id = v_user_id
           AND view_ts <= click_ts
           AND view_ts >= click_ts - INTERVAL 1 HOUR
         ORDER BY click_id, view_id""",
    // deterministic top-k at the tie boundary: total order (n DESC, p1, p2)
    "q_basket_pairs" ->
      """WITH i AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk
           FROM lineitem)
         SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS n_orders
         FROM i a JOIN i b ON a.okey = b.okey AND a.pk < b.pk
         GROUP BY 1, 2 ORDER BY n_orders DESC, p1, p2 LIMIT 20""",
    // transition probability = exact-count ratio within the from-row
    "q_event_transitions" -> eventTransitionsOracle,
    "q_stream_transitions" -> eventTransitionsOracle,
    "q_transition_reciprocity" ->
      """WITH g AS (SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev_type
           FROM events),
         p AS (SELECT prev_type AS f, event_type AS s, COUNT(*) AS n
           FROM g WHERE prev_type IS NOT NULL AND prev_type <> event_type
           GROUP BY 1, 2),
         fwd AS (SELECT f AS a, s AS b, n AS c_ab FROM p WHERE f < s),
         rev AS (SELECT s AS a, f AS b, n AS c_ba FROM p WHERE f > s),
         j AS (SELECT coalesce(fwd.a, rev.a) AS a,
             coalesce(fwd.b, rev.b) AS b,
             coalesce(c_ab, 0) AS c_ab, coalesce(c_ba, 0) AS c_ba
           FROM fwd FULL OUTER JOIN rev ON fwd.a = rev.a AND fwd.b = rev.b)
         SELECT a AS from_type, b AS to_type,
           CAST(c_ab AS BIGINT) AS c_ab, CAST(c_ba AS BIGINT) AS c_ba,
           CAST(c_ab + c_ba AS BIGINT) AS pair_total,
           CAST((2000000 * least(c_ab, c_ba)) // (c_ab + c_ba) AS BIGINT)
             AS recip_units
         FROM j ORDER BY from_type, to_type""",
    "q_sprt_gate" ->
      """WITH w AS (SELECT user_id % 8 AS cohort, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN 693147
               ELSE -117783 END AS llr
           FROM events),
         c AS (SELECT cohort, llr,
             SUM(llr) OVER (PARTITION BY cohort ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             ROW_NUMBER() OVER (PARTITION BY cohort
               ORDER BY ts, event_id) AS i
           FROM w),
         tot AS (SELECT cohort, COUNT(*) AS n_events,
             CAST(SUM(llr) AS BIGINT) AS llr_final FROM c GROUP BY 1),
         x AS (SELECT cohort, MIN(i) AS n_at_decision,
             CAST(min_by(cum, i) AS BIGINT) AS llr_at_decision
           FROM c WHERE cum >= 2944439 OR cum <= -2944439 GROUP BY 1)
         SELECT cohort, CAST(n_events AS BIGINT) AS n_events, llr_final,
           CAST(n_at_decision AS BIGINT) AS n_at_decision,
           llr_at_decision,
           CASE WHEN llr_at_decision >= 2944439 THEN 'accept_h1'
                WHEN llr_at_decision <= -2944439 THEN 'accept_h0'
                ELSE 'continue' END AS decision
         FROM tot LEFT JOIN x USING (cohort) ORDER BY cohort""",
    "q_cohort_matrix" ->
      """WITH ud AS (SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 AS day FROM events),
         c AS (SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY 1)
         SELECT strftime(make_timestamp(cohort_day * 86400000000), '%Y-%m-%d')
             AS cohort,
           CAST(day - cohort_day AS BIGINT) AS offset_days,
           COUNT(*) AS n_users
         FROM ud JOIN c USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // the salted two-phase plan must be exact: the oracle is the direct
    // single-phase GROUP BY
    "q_skew_salted_agg" ->
      """SELECT l_suppkey, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q_train_shards" ->
      """WITH d AS (SELECT doc_id,
             CAST(((doc_id % 2147483648) * 2654435761) % 16 AS BIGINT) AS shard,
             CASE WHEN len(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), ' +')) END AS n_tokens
           FROM documents)
         SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
         FROM d GROUP BY shard ORDER BY shard""",
    "q_embed_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id % 50 = 0),
         m AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
         q AS (SELECT vec_id, v, mx,
             list_transform(v, x -> CAST(floor(x * 127.0 / mx + 0.5) AS BIGINT)) AS q
           FROM m WHERE mx > 0)
         SELECT vec_id, mx, CAST(list_sum(q) AS BIGINT) AS sum_q,
           CAST(len(list_filter(q, x -> abs(x) = 127)) AS BIGINT) AS n_sat,
           list_max(list_transform(range(1, len(v) + 1),
             i -> abs(v[i] - CAST(q[i] AS DOUBLE) * mx / 127.0))) AS max_err
         FROM q ORDER BY vec_id""",
    // fuzzy-name family: blocks are (brand, token1, token2) with blocks
    // over 2000 rows dropped — identical key + cap as the engine's
    // nameBlockPairs, so both engines cut the same candidates
    "q_fuzzy_names" ->
      """WITH p AS (SELECT p_partkey, p_brand, p_name,
             string_split(p_name, ' ')[1] AS w1,
             coalesce(string_split(p_name, ' ')[2], '') AS w2 FROM part),
         ok AS (SELECT p_brand, w1, w2 FROM p GROUP BY 1, 2, 3
           HAVING COUNT(*) <= 2000),
         pc AS (SELECT p.* FROM p JOIN ok USING (p_brand, w1, w2))
         SELECT a.p_partkey AS id1, b.p_partkey AS id2,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
         FROM pc a JOIN pc b ON a.p_brand = b.p_brand AND a.w1 = b.w1
           AND a.w2 = b.w2 AND a.p_partkey < b.p_partkey
         WHERE levenshtein(a.p_name, b.p_name) <= 3
         ORDER BY id1, id2""",
    "q_jaro_names" ->
      """WITH p AS (SELECT p_partkey, p_brand, p_name,
             string_split(p_name, ' ')[1] AS w1,
             coalesce(string_split(p_name, ' ')[2], '') AS w2 FROM part),
         ok AS (SELECT p_brand, w1, w2 FROM p GROUP BY 1, 2, 3
           HAVING COUNT(*) <= 2000),
         pc AS (SELECT p.* FROM p JOIN ok USING (p_brand, w1, w2)),
         j AS (SELECT a.p_partkey AS id1, b.p_partkey AS id2,
             round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS sim
           FROM pc a JOIN pc b ON a.p_brand = b.p_brand AND a.w1 = b.w1
             AND a.w2 = b.w2 AND a.p_partkey < b.p_partkey)
         SELECT id1, id2, sim FROM j WHERE sim >= 0.93
         ORDER BY id1, id2""",
    // exact streaming distinct (dropDuplicates -> hourly agg) must match
    // the batch COUNT(DISTINCT)
    "q_stream_dedup" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           COUNT(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1 ORDER BY 1""",
    // custom-state streaming sessionization (flatMapGroupsWithState, append
    // mode) emits a session only once the NEXT event proves it closed, so
    // the drain yields exactly every user's non-final session — same gap
    // CTE as q_sessionize, minus each user's last session
    "q_stream_sessionize" ->
      """WITH g AS (SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
               THEN 1 ELSE 0 END AS brk
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT user_id,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM g),
         e AS (SELECT user_id, sid, COUNT(*) AS n FROM s GROUP BY 1, 2)
         SELECT user_id, CAST(sid AS BIGINT) AS session_id,
           CAST(n AS BIGINT) AS n_events
         FROM e
         WHERE sid < (SELECT MAX(e2.sid) FROM e e2 WHERE e2.user_id = e.user_id)
         ORDER BY user_id, session_id""",
    "q_stats" ->
      """WITH m AS (SELECT l_linestatus, COUNT(*) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sxy_,
             CAST(COUNT(*) AS DOUBLE) AS nd
           FROM lineitem GROUP BY l_linestatus)
         SELECT l_linestatus, n,
           round((sxx - sx * sx / nd) / (nd - 1), 3) AS var_price,
           round(sqrt((sxx - sx * sx / nd) / (nd - 1)), 6) AS stddev_price,
           round((sxy_ - sx * sy / nd) /
             (sqrt(sxx - sx * sx / nd) * sqrt(syy - sy * sy / nd)), 9) AS corr_price_qty
         FROM m ORDER BY l_linestatus""",
    // same exact-moment recipe as q_stats, generalized to all measure
    // pairs; round(_, 9) masks cross-engine FMA contraction
    "q_corr_matrix" ->
      """WITH m AS (SELECT l_returnflag, COUNT(*) AS n,
             CAST(COUNT(*) AS DOUBLE) AS nd,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s_q,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS ss_q,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s_p,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS ss_p,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s_d,
             CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(30,4))) AS DOUBLE) AS ss_d,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sp_qp,
             CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(30,4))) AS DOUBLE) AS sp_qd,
             CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,4))) AS DOUBLE) AS sp_pd
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, pair, n, corr FROM (
           SELECT l_returnflag, n, 'qty_price' AS pair,
             round((sp_qp - s_q * s_p / nd) /
               (sqrt(ss_q - s_q * s_q / nd) * sqrt(ss_p - s_p * s_p / nd)), 9) AS corr
           FROM m
           UNION ALL SELECT l_returnflag, n, 'qty_disc',
             round((sp_qd - s_q * s_d / nd) /
               (sqrt(ss_q - s_q * s_q / nd) * sqrt(ss_d - s_d * s_d / nd)), 9)
           FROM m
           UNION ALL SELECT l_returnflag, n, 'price_disc',
             round((sp_pd - s_p * s_d / nd) /
               (sqrt(ss_p - s_p * s_p / nd) * sqrt(ss_d - s_d * s_d / nd)), 9)
           FROM m)
         ORDER BY l_returnflag, pair""",
    // fixed-point milli-unit quantization makes the distributed vector
    // sums exact integers, so aggregation order cannot shift them
    "q_label_centroids" ->
      """WITH e AS (SELECT CAST(label AS BIGINT) AS label,
             CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) > 0),
         x AS (SELECT label, unnest(range(1, len(v) + 1)) AS i, v FROM e),
         y AS (SELECT label, CAST(i - 1 AS BIGINT) AS dim,
             CAST(floor(v[i] * 1000.0 + 0.5) AS BIGINT) AS m FROM x)
         SELECT label, dim, CAST(SUM(m) AS BIGINT) AS sum_milli,
           COUNT(*) AS n, CAST(SUM(m) AS DOUBLE) / COUNT(*) AS mean_milli
         FROM y GROUP BY label, dim ORDER BY label, dim""",
    // STL anomalies: identical integer micro-unit trend/seasonal math
    // (both engines' integer div truncates toward zero)
    "q_stl_anomalies" ->
      """WITH daily AS (SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             CAST(COUNT(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
         tr AS (SELECT event_type, day, y,
             CAST(SUM(y * 1000000) OVER w AS BIGINT)
               // CAST(COUNT(y) OVER w AS BIGINT) AS trend_u,
             day % 7 AS dow
           FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         de AS (SELECT *, y * 1000000 - trend_u AS detr_u FROM tr),
         se AS (SELECT *,
             CAST(SUM(detr_u) OVER d AS BIGINT)
               // CAST(COUNT(detr_u) OVER d AS BIGINT) AS seas_u
           FROM de WINDOW d AS (PARTITION BY event_type, dow)),
         re AS (SELECT *, detr_u - seas_u AS resid_u,
             row_number() OVER (PARTITION BY event_type
               ORDER BY abs(detr_u - seas_u) DESC, day) AS rk
           FROM se)
         SELECT event_type,
           strftime(to_timestamp(day * 86400), '%Y-%m-%d') AS date,
           y,
           CAST(trend_u AS DOUBLE) / 1e6 AS trend,
           CAST(seas_u AS DOUBLE) / 1e6 AS seasonal,
           CAST(resid_u AS DOUBLE) / 1e6 AS residual,
           CAST(rk AS BIGINT) AS rk
         FROM re WHERE rk <= 2 ORDER BY event_type, rk""",
    // Holt smoothing: identical sequential list fold (the jackknife
    // pinned-order rule) over day-sorted daily counts
    "q_holt_smoothing" ->
      """WITH daily AS (SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             CAST(COUNT(*) AS DOUBLE) AS y FROM events GROUP BY 1, 2),
         ser AS (SELECT event_type, list(y ORDER BY day) AS ys
           FROM daily GROUP BY 1),
         f AS (SELECT event_type, CAST(len(ys) AS BIGINT) AS n_days,
             list_reduce(
               list_prepend([ys[1], CAST(0.0 AS DOUBLE)],
                 list_transform(ys[2:],
                   y -> [CAST(y AS DOUBLE), CAST(0.0 AS DOUBLE)])),
               (acc, x) -> [0.3 * x[1] + 0.7 * (acc[1] + acc[2]),
                 0.1 * (0.3 * x[1] + 0.7 * (acc[1] + acc[2]) - acc[1])
                   + 0.9 * acc[2]]) AS st
           FROM ser)
         SELECT event_type, n_days, st[1] AS level, st[2] AS trend,
           st[1] + 7 * st[2] AS forecast_7
         FROM f ORDER BY event_type""",
    // Holt–Winters: same sequential-fold pinning, state = [L, B, 7-day
    // seasonal ring]; zero-filled day spine keeps the ring in phase
    "q_holt_winters" -> holtWintersOracle,
    "q_stream_holt" -> holtWintersOracle,
    // growth ledger: user-partitioned lag/lead classification, exact
    // integer cells; churn flagged before the day+1 regroup
    "q_growth_accounting" ->
      """WITH grid AS (SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 AS day FROM events),
         w AS (SELECT user_id, day,
             LAG(day) OVER (PARTITION BY user_id ORDER BY day)
               AS prev_day,
             LEAD(day) OVER (PARTITION BY user_id ORDER BY day)
               AS next_day
           FROM grid),
         h AS (SELECT MAX(day) AS max_day FROM grid),
         d AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active,
             CAST(COUNT(*) FILTER (WHERE prev_day IS NULL) AS BIGINT)
               AS n_new,
             CAST(COUNT(*) FILTER (WHERE prev_day = day - 1) AS BIGINT)
               AS n_retained,
             CAST(COUNT(*) FILTER (WHERE prev_day < day - 1) AS BIGINT)
               AS n_resurrected
           FROM w GROUP BY 1),
         cb AS (SELECT day + 1 AS churn_day,
             CASE WHEN next_day IS NULL OR next_day > day + 1
               THEN 1 ELSE 0 END AS is_churn
           FROM w, h WHERE day < max_day),
         c AS (SELECT churn_day AS day,
             CAST(SUM(is_churn) AS BIGINT) AS n_churned
           FROM cb GROUP BY 1)
         SELECT d.day, n_active, n_new, n_retained, n_resurrected,
           COALESCE(n_churned, 0) AS n_churned
         FROM d LEFT JOIN c USING (day) ORDER BY day""",
    // weighted PageRank in integer micro-units over the word-adjacency
    // graph, two rounds unrolled (the q_pagerank exactness convention)
    "q_textrank" ->
      """WITH d AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), ' +') AS w
           FROM documents),
         tok AS (SELECT doc_id, i - 1 AS pos, w[i] AS word
           FROM d, unnest(range(1, len(w) + 1)) AS u(i)
           WHERE w[i] <> '' AND w[i] NOT IN ('the', 'a')),
         sq AS (SELECT doc_id, pos, word,
             LAG(word) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
           FROM tok),
         adj AS (SELECT prev, word FROM sq
           WHERE prev IS NOT NULL AND prev <> word),
         e AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w FROM (
             SELECT prev AS src, word AS dst FROM adj
             UNION ALL SELECT word AS src, prev AS dst FROM adj)
           GROUP BY 1, 2),
         dg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wdeg
           FROM e GROUP BY 1),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dg),
         r0 AS (SELECT src AS node, 1000000000 // n AS r FROM dg, nn),
         r1 AS (SELECT e.dst AS node,
             CAST(SUM((r.r * 85 * e.w) // (100 * dg.wdeg))
               + 150000000 // nn.n AS BIGINT) AS r
           FROM e JOIN dg USING (src) JOIN r0 r ON e.src = r.node
           CROSS JOIN nn GROUP BY e.dst, nn.n),
         r2 AS (SELECT e.dst AS node,
             CAST(SUM((r.r * 85 * e.w) // (100 * dg.wdeg))
               + 150000000 // nn.n AS BIGINT) AS r
           FROM e JOIN dg USING (src) JOIN r1 r ON e.src = r.node
           CROSS JOIN nn GROUP BY e.dst, nn.n)
         SELECT node AS word, r AS rank_u, nn.n AS n_vocab
         FROM r2, nn ORDER BY rank_u DESC, word LIMIT 20""",
    // temperature mixing: same token-count CASE, sqrt weight rounded to
    // decimal, integer product-div allocation over scaled units
    "q_mix_temperature" ->
      """WITH s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN len(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), ' +')) END)
               AS BIGINT) AS total_tokens
           FROM documents GROUP BY 1),
         w AS (SELECT source, n_docs, total_tokens,
             CAST(round(sqrt(CAST(total_tokens AS DOUBLE)), 9)
               AS DECIMAL(28,9)) AS weight FROM s),
         tot AS (SELECT SUM(weight) AS wsum FROM w)
         SELECT source, n_docs, total_tokens,
           CAST(weight AS DOUBLE) AS weight,
           CAST(weight AS DOUBLE) / CAST(wsum AS DOUBLE) AS share,
           (100000 * CAST(weight * 1000000000 AS BIGINT))
             // CAST(wsum * 1000000000 AS BIGINT) AS alloc_docs
         FROM w, tot ORDER BY source""",
    // k-center coreset: same milli-unit quantization, exact squared-L2,
    // farthest-point rounds unrolled with LEAST running minima
    "q_coreset_kcenter" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) > 0),
         tall AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
             CAST(floor(v[i] * 1000.0 + 0.5) AS BIGINT) AS mv
           FROM e, unnest(range(1, len(v) + 1)) AS u(i)),
         c1 AS (SELECT MIN(vec_id) AS id FROM tall),
         d1 AS (SELECT t.vec_id,
             CAST(SUM((t.mv - c.mv) * (t.mv - c.mv)) AS BIGINT) AS d
           FROM tall t JOIN tall c ON t.dim = c.dim
             AND c.vec_id = (SELECT id FROM c1)
           GROUP BY 1),
         p2 AS (SELECT vec_id, d FROM d1 ORDER BY d DESC, vec_id LIMIT 1),
         e2 AS (SELECT t.vec_id,
             CAST(SUM((t.mv - c.mv) * (t.mv - c.mv)) AS BIGINT) AS d
           FROM tall t JOIN tall c ON t.dim = c.dim
             AND c.vec_id = (SELECT vec_id FROM p2)
           GROUP BY 1),
         d2 AS (SELECT d1.vec_id, LEAST(d1.d, e2.d) AS d
           FROM d1 JOIN e2 ON d1.vec_id = e2.vec_id),
         p3 AS (SELECT vec_id, d FROM d2
           ORDER BY d DESC, vec_id LIMIT 1),
         e3 AS (SELECT t.vec_id,
             CAST(SUM((t.mv - c.mv) * (t.mv - c.mv)) AS BIGINT) AS d
           FROM tall t JOIN tall c ON t.dim = c.dim
             AND c.vec_id = (SELECT vec_id FROM p3)
           GROUP BY 1),
         d3 AS (SELECT d2.vec_id, LEAST(d2.d, e3.d) AS d
           FROM d2 JOIN e3 ON d2.vec_id = e3.vec_id),
         p4 AS (SELECT vec_id, d FROM d3
           ORDER BY d DESC, vec_id LIMIT 1),
         r AS (SELECT CAST(1 AS BIGINT) AS rk,
             (SELECT id FROM c1) AS vec_id, CAST(0 AS BIGINT) AS radius
           UNION ALL SELECT 2, vec_id, d FROM p2
           UNION ALL SELECT 3, vec_id, d FROM p3
           UNION ALL SELECT 4, vec_id, d FROM p4)
         SELECT rk, vec_id, radius FROM r ORDER BY rk""",
    // power iteration: same milli-unit quantization, integer matvec
    // rounds with a div-1e6 rescale, exact-decimal norm at the end
    "q_power_iteration" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) > 0),
         tall AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
             CAST(floor(v[i] * 1000.0 + 0.5) AS BIGINT) AS mv
           FROM e, unnest(range(1, len(v) + 1)) AS u(i)),
         d1 AS (SELECT vec_id, CAST(SUM(mv) AS BIGINT) AS dot
           FROM tall GROUP BY 1),
         c1 AS (SELECT t.dim, CAST(SUM(d1.dot * t.mv) AS BIGINT) AS comp
           FROM tall t JOIN d1 ON t.vec_id = d1.vec_id GROUP BY 1),
         v1 AS (SELECT dim, comp // 1000000 AS w FROM c1),
         d2 AS (SELECT t.vec_id, CAST(SUM(v1.w * t.mv) AS BIGINT) AS dot
           FROM tall t JOIN v1 ON t.dim = v1.dim GROUP BY 1),
         c2 AS (SELECT t.dim, CAST(SUM(d2.dot * t.mv) AS BIGINT) AS comp
           FROM tall t JOIN d2 ON t.vec_id = d2.vec_id GROUP BY 1),
         ss AS (SELECT SUM(CAST(comp AS DECIMAL(38,0)) * comp) AS ss
           FROM c2)
         SELECT c2.dim, c2.comp,
           CAST(c2.comp AS DOUBLE) / sqrt(CAST(ss.ss AS DOUBLE)) AS loading
         FROM c2, ss ORDER BY c2.dim""",
    // shares qualityExpr's formula (see q_quality_score / q_dedup_keep_best)
    "q_quality_funnel" ->
      """WITH d AS (SELECT source,
             CASE WHEN len(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), ' +')) END AS n_tokens,
             least((CASE WHEN len(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), ' +')) END) / 100.0,
                 1.0) * 0.4
               + (CAST(len(list_distinct(string_split_regex(trim(text), ' +'))) AS DOUBLE)
                  / len(string_split_regex(trim(text), ' +'))) * 0.4
               + least((CAST(len(trim(text))
                    - (len(string_split_regex(trim(text), ' +')) - 1) AS DOUBLE)
                  / len(string_split_regex(trim(text), ' +'))) / 10.0, 1.0) * 0.2 AS q,
             CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
               / CAST(greatest(n_chars, 1) AS DOUBLE) AS digit_frac
           FROM documents),
         f AS (SELECT source,
             CAST(n_tokens < 5 AS BIGINT) AS short,
             CAST(q < 0.35 AS BIGINT) AS lowq,
             CAST(digit_frac > 0.2 AS BIGINT) AS digity
           FROM d)
         SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(short) AS BIGINT) AS n_short,
           CAST(SUM(lowq) AS BIGINT) AS n_low_quality,
           CAST(SUM(digity) AS BIGINT) AS n_digit_heavy,
           CAST(SUM(CASE WHEN short = 0 AND lowq = 0 AND digity = 0
             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM f GROUP BY source ORDER BY source""",
    // same oracle as q_quality_funnel: the streaming drain must converge
    // to the identical per-source funnel after the backlog is processed
    "q_stream_quality_funnel" ->
      """WITH d AS (SELECT source,
             CASE WHEN len(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), ' +')) END AS n_tokens,
             least((CASE WHEN len(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), ' +')) END) / 100.0,
                 1.0) * 0.4
               + (CAST(len(list_distinct(string_split_regex(trim(text), ' +'))) AS DOUBLE)
                  / len(string_split_regex(trim(text), ' +'))) * 0.4
               + least((CAST(len(trim(text))
                    - (len(string_split_regex(trim(text), ' +')) - 1) AS DOUBLE)
                  / len(string_split_regex(trim(text), ' +'))) / 10.0, 1.0) * 0.2 AS q,
             CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
               / CAST(greatest(n_chars, 1) AS DOUBLE) AS digit_frac
           FROM documents),
         f AS (SELECT source,
             CAST(n_tokens < 5 AS BIGINT) AS short,
             CAST(q < 0.35 AS BIGINT) AS lowq,
             CAST(digit_frac > 0.2 AS BIGINT) AS digity
           FROM d)
         SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(short) AS BIGINT) AS n_short,
           CAST(SUM(lowq) AS BIGINT) AS n_low_quality,
           CAST(SUM(digity) AS BIGINT) AS n_digit_heavy,
           CAST(SUM(CASE WHEN short = 0 AND lowq = 0 AND digity = 0
             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM f GROUP BY source ORDER BY source""",
    // conditional bigram LM; gram construction mirrors q_contamination's
    // clamp (a doc shorter than n yields one whole-doc gram), surprisal
    // rounded at 1e-9 into DECIMAL then weighted by exact counts
    "q_bigram_surprisal" ->
      """WITH d AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), ' +') AS w FROM documents),
         g AS (SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 2),
               i -> array_to_string(w[i:i+1], ' '))) AS g FROM d),
         cb AS (SELECT g, COUNT(*) AS cb FROM g GROUP BY 1),
         cf AS (SELECT split_part(g, ' ', 1) AS w1,
             CAST(SUM(cb) AS BIGINT) AS cf FROM cb GROUP BY 1),
         s AS (SELECT cb.g,
             CAST(round(-ln(CAST(cb.cb AS DOUBLE) / cf.cf), 9)
               AS DECIMAL(14,10)) AS sp
           FROM cb JOIN cf ON split_part(cb.g, ' ', 1) = cf.w1),
         dg AS (SELECT doc_id, g, COUNT(*) AS k FROM g
           WHERE doc_id % 10 = 0 GROUP BY 1, 2)
         SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
           CAST(SUM(sp * CAST(k AS DECIMAL(8,0))) AS DOUBLE)
             / CAST(SUM(k) AS BIGINT) AS avg_surprisal
         FROM dg JOIN s USING (g) GROUP BY doc_id ORDER BY doc_id""",
    "q_ngram_novelty" ->
      """WITH d AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), ' +') AS w FROM documents),
         g0 AS (SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 3, 0) + 2),
               i -> array_to_string(w[i:i+2], ' '))) AS g FROM d),
         dg AS (SELECT doc_id, g FROM g0 GROUP BY 1, 2),
         f AS (SELECT g, MIN(doc_id) AS first_doc FROM dg GROUP BY 1)
         SELECT dg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (WHERE f.first_doc = dg.doc_id) AS BIGINT)
             AS n_novel,
           CAST(COUNT(*) FILTER (WHERE f.first_doc = dg.doc_id) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS novelty
         FROM dg JOIN f USING (g) GROUP BY 1 ORDER BY doc_id""",
    "q_cross_source_overlap" ->
      """WITH d AS (SELECT DISTINCT source,
             md5(array_to_string(list_sort(list_distinct(
               string_split_regex(trim(lower(text)), ' +'))), ' ')) AS h
           FROM documents)
         SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS n_shared
         FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_minmax" ->
      """SELECT l_returnflag,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price,
           strftime(min(l_shipdate), '%Y-%m-%d') AS min_ship,
           strftime(max(l_shipdate), '%Y-%m-%d') AS max_ship,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           COUNT(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_argmax" ->
      """WITH m AS (SELECT l_returnflag AS rf, max(l_extendedprice) AS mp
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, max(l_extendedprice) AS max_price,
           max(l_orderkey) AS argmax_orderkey
         FROM lineitem JOIN m ON l_returnflag = rf AND l_extendedprice = mp
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_grouping_sets" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(CAST(yr AS VARCHAR), 'ALL') AS yr,
           COUNT(*) AS n
         FROM (SELECT o_orderstatus, CAST(year(o_orderdate) AS BIGINT) AS yr FROM orders)
         GROUP BY GROUPING SETS ((o_orderstatus), (yr), ())
         ORDER BY status, yr""",
    "q_union_all" ->
      """SELECT o_custkey, COUNT(*) AS n FROM (
           SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
           UNION ALL
           SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
         GROUP BY o_custkey ORDER BY o_custkey""",
    "q_supplier_revenue" ->
      """SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
         FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "q_integrity_checks" ->
      """SELECT
           (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
             (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS orphan_orders,
           (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS orphan_lineitems,
           (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) AS orphan_parts,
           (SELECT COUNT(*) FROM (SELECT c_custkey FROM customer
             GROUP BY 1 HAVING COUNT(*) > 1)) AS dup_custkeys""",
    "q_regexp_extract" ->
      """SELECT CAST(regexp_extract(o_orderpriority, '^(\d+)', 1) AS BIGINT) AS prio_num,
           COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_custs
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q_vector_norms" ->
      """SELECT vec_id,
           sqrt(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]))) AS l2,
           CAST(len(v) AS BIGINT) AS dim
         FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         WHERE vec_id % 50 = 0 ORDER BY vec_id""",
    "q_tumbling_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    // sliding windows (1 h every 15 min, epoch-aligned like Spark's
    // window()): every event belongs to exactly four window starts
    "q_stream_sliding" ->
      """WITH e AS (SELECT epoch_us(ts) AS us, event_type FROM events),
         w AS (SELECT event_type,
             us - (us % 900000000) - i * 900000000 AS ws
           FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS i))
         SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n
         FROM w GROUP BY 1, 2 ORDER BY 1, 2""",
    // identical to q_tumbling_window's oracle: the streaming drain must
    // reproduce the batch aggregation exactly (same windows, exact sums)
    "q_stream_tumbling" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    // streaming COUNT(DISTINCT): dropDuplicates state feeding the hourly
    // aggregate, drained and compared against the batch distinct count
    "q_stream_hourly_users" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
         FROM events GROUP BY 1 ORDER BY 1""",
    // same oracle again: the warehouse-merged drain must converge to the
    // identical hourly table after foreachBatch upserts + parquet roundtrip
    "q_stream_upsert" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_resample_hourly" ->
      """WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
             date_trunc('hour', max(ts)) AS hi FROM events),
         spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b),
         types AS (SELECT DISTINCT event_type FROM events),
         c AS (SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n
           FROM events GROUP BY 1, 2)
         SELECT strftime(s.h, '%Y-%m-%d %H:%M:%S') AS hour, t.event_type,
           COALESCE(c.n, 0) AS n
         FROM spine s CROSS JOIN types t
           LEFT JOIN c ON c.h = s.h AND c.event_type = t.event_type
         ORDER BY hour, t.event_type""",
    "q_funnel" ->
      """WITH c AS (SELECT user_id, min(epoch_ns(ts)) AS t0 FROM events
           WHERE event_type = 'click' GROUP BY 1),
         conv AS (SELECT DISTINCT c.user_id FROM c JOIN events e
           ON e.user_id = c.user_id AND e.event_type = 'purchase'
           AND epoch_ns(e.ts) >= c.t0
           AND epoch_ns(e.ts) <= c.t0 + 3600000000000)
         SELECT (SELECT COUNT(*) FROM c) AS n_clickers,
           (SELECT COUNT(*) FROM conv) AS n_converted,
           CAST((SELECT COUNT(*) FROM conv) AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM c) AS DOUBLE) AS conv_rate""",
    // ordered 3-step funnel: each step's earliest qualifying event must be
    // at or after the previous step's time
    "q_funnel_steps" ->
      """WITH s1 AS (SELECT user_id, min(epoch_ns(ts)) AS t1 FROM events
           WHERE event_type = 'click' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t2 FROM events e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'view' AND epoch_ns(e.ts) >= s1.t1 GROUP BY 1),
         s3 AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t3 FROM events e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= s2.t2 GROUP BY 1)
         SELECT (SELECT COUNT(*) FROM s1) AS n_step1,
           (SELECT COUNT(*) FROM s2) AS n_step2,
           (SELECT COUNT(*) FROM s3) AS n_step3,
           CAST((SELECT COUNT(*) FROM s2) AS DOUBLE)
             / NULLIF((SELECT COUNT(*) FROM s1), 0) AS rate_12,
           CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
             / NULLIF((SELECT COUNT(*) FROM s2), 0) AS rate_23""",
    "q_retention" ->
      """WITH a AS (SELECT DISTINCT user_id,
             epoch_ns(ts) // 604800000000000 AS wk FROM events),
         r AS (SELECT a.wk, COUNT(*) AS n_retained FROM a
           JOIN a b ON a.user_id = b.user_id AND b.wk = a.wk + 1 GROUP BY 1),
         n AS (SELECT wk, COUNT(*) AS n_active FROM a GROUP BY 1)
         SELECT n.wk, n.n_active, COALESCE(r.n_retained, 0) AS n_retained,
           CAST(COALESCE(r.n_retained, 0) AS DOUBLE)
             / CAST(n.n_active AS DOUBLE) AS retention_rate
         FROM n LEFT JOIN r ON n.wk = r.wk ORDER BY n.wk""",
    // exact sliding-distinct actives: the (user, day) grid exploded to the
    // ≤28 target days it can influence, min(offset) classifying the user
    "q_stickiness" ->
      """WITH a AS (SELECT DISTINCT user_id,
             epoch_ns(ts) // 86400000000000 AS day FROM events),
         mx AS (SELECT MAX(day) AS md FROM a),
         x AS (SELECT a.user_id, a.day + r.o AS td, r.o AS o
           FROM a CROSS JOIN range(0, 28) r(o)),
         g AS (SELECT td, user_id, MIN(o) AS mo FROM x GROUP BY 1, 2)
         SELECT td AS day,
           CAST(COUNT(CASE WHEN mo = 0 THEN 1 END) AS BIGINT) AS dau,
           CAST(COUNT(CASE WHEN mo <= 6 THEN 1 END) AS BIGINT) AS wau,
           CAST(COUNT(*) AS BIGINT) AS mau28,
           ROUND(CAST(COUNT(CASE WHEN mo = 0 THEN 1 END) AS DOUBLE)
             / COUNT(*), 6) AS stickiness
         FROM g, mx WHERE td <= mx.md
         GROUP BY td, mx.md ORDER BY day""",
    "q_time_to_nth" ->
      """WITH f AS (SELECT user_id, MIN(epoch_us(ts)) AS first_us
             FROM events GROUP BY 1),
         p AS (SELECT user_id, epoch_us(ts) AS ts_us,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS n
           FROM events WHERE event_type = 'purchase'),
         j AS (SELECT p.n, p.ts_us - f.first_us AS lat
           FROM p JOIN f USING (user_id) WHERE p.n <= 3)
         SELECT CAST(n AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(lat) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6
             AS mean_latency_s,
           quantile_cont(lat, 0.5) / 1e6 AS p50_latency_s
         FROM j GROUP BY n ORDER BY n""",
    // the q_doc_entropy decimal-pinned log2 treatment on the user's
    // event-type mix
    "q_user_entropy" ->
      """WITH c AS (SELECT user_id, event_type, COUNT(*) AS c
             FROM events GROUP BY 1, 2),
         a AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             SUM(CAST(round(log2(CAST(c AS DOUBLE)), 9) AS DECIMAL(14,10))
               * CAST(c AS DECIMAL(12,0))) AS sdec
           FROM c GROUP BY 1)
         SELECT user_id, n_events, n_types,
           round(log2(CAST(n_events AS DOUBLE))
             - CAST(sdec AS DOUBLE) / CAST(n_events AS DOUBLE), 9)
             AS entropy_bits
         FROM a ORDER BY user_id""",
    // per-user ordered type string via string_agg; patterns use only
    // `.`/`.*` so Java regex and RE2 agree; micro-us ordering contract
    "q_sequence_match" ->
      """WITH s AS (SELECT user_id,
             string_agg(event_type, ',' ORDER BY epoch_us(ts), event_id)
               AS seq
           FROM events GROUP BY user_id),
         a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(CASE WHEN regexp_matches(seq, 'signup.*purchase')
               THEN 1 ELSE 0 END) AS BIGINT) AS m1,
             CAST(SUM(CASE WHEN regexp_matches(seq, 'click.*view.*purchase')
               THEN 1 ELSE 0 END) AS BIGINT) AS m2,
             CAST(SUM(CASE WHEN regexp_matches(seq, 'error.*purchase')
               THEN 1 ELSE 0 END) AS BIGINT) AS m3
           FROM s)
         SELECT 'click_view_purchase' AS pattern, n_users, m2 AS n_match,
             CAST(m2 AS DOUBLE) / n_users AS match_share FROM a
         UNION ALL SELECT 'error_then_purchase', n_users, m3,
             CAST(m3 AS DOUBLE) / n_users FROM a
         UNION ALL SELECT 'signup_then_purchase', n_users, m1,
             CAST(m1 AS DOUBLE) / n_users FROM a
         ORDER BY pattern""",
    // first-occurrence instants in integer microseconds; a tie counts
    // for neither direction
    "q_type_precedence" ->
      """WITH f AS (SELECT user_id, event_type, MIN(epoch_us(ts)) AS f
             FROM events GROUP BY 1, 2)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_both,
           CAST(SUM(CASE WHEN a.f < b.f THEN 1 ELSE 0 END) AS BIGINT)
             AS n_a_first,
           CAST(SUM(CASE WHEN a.f < b.f THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS share_a_first
         FROM f a JOIN f b
           ON a.user_id = b.user_id AND a.event_type <> b.event_type
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // exact-integer chi-square in HUGEINT (Spark side DECIMAL(38,0));
    // BH step-up against the fixed critical table for alpha=0.05, m=25
    "q_fdr_bh" ->
      """WITH per AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
             CAST(COUNT(*) AS BIGINT) AS n_nat,
             CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_seg
           FROM customer GROUP BY 1),
         tot AS (SELECT CAST(SUM(n_nat) AS BIGINT) AS nn,
             CAST(SUM(n_seg) AS BIGINT) AS bb FROM per),
         st AS (SELECT nation, n_nat, n_seg,
             CAST((CAST(nn AS HUGEINT) * dd * dd * 1000000)
               // (CAST(n_nat AS HUGEINT) * (nn - n_nat) * bb * (nn - bb))
               AS BIGINT) AS chi2_micro
           FROM (SELECT p.nation, p.n_nat, p.n_seg, t.nn, t.bb,
               CAST(p.n_seg AS HUGEINT)
                   * (t.nn - p.n_nat - t.bb + p.n_seg)
                 - CAST(p.n_nat - p.n_seg AS HUGEINT) * (t.bb - p.n_seg)
                 AS dd
             FROM per p, tot t)),
         rk AS (SELECT *, CAST(row_number() OVER
             (ORDER BY chi2_micro DESC, nation) AS BIGINT) AS rnk FROM st),
         cr AS (SELECT *, CAST(([9549536,8283815,7550303,7033474,6634897,
             6310869,6038143,5802874,5596149,5411894,5245785,5094632,
             4956019,4828067,4709292,4598497,4494704,4397105,4305022,
             4217885,4135204,4056562,3981594,3909986,3841459])[rnk]
             AS BIGINT) AS crit_micro FROM rk),
         ks AS (SELECT MAX(CASE WHEN chi2_micro >= crit_micro THEN rnk
             ELSE 0 END) AS kstar FROM cr)
         SELECT nation, n_nat, n_seg, chi2_micro, rnk, crit_micro,
           CAST(CASE WHEN rnk <= kstar THEN 1 ELSE 0 END AS BIGINT)
             AS rejected
         FROM cr, ks ORDER BY rnk""",
    // qPagerank's unrolled-CTE pairing with all restart mass at the seed
    "q_ppr" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             FROM lineitem),
         e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
             FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1),
         sd AS (SELECT MIN(src) AS s FROM deg),
         r0 AS (SELECT s AS node, CAST(1000000000 AS BIGINT) AS r FROM sd),
         s1 AS (SELECT node, CAST(SUM(r) AS BIGINT) AS r FROM (
             SELECT e.dst AS node, (r.r * 85) // (100 * d.d) AS r
               FROM e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
             UNION ALL SELECT s, 150000000 FROM sd) GROUP BY node),
         s2 AS (SELECT node, CAST(SUM(r) AS BIGINT) AS r FROM (
             SELECT e.dst AS node, (r.r * 85) // (100 * d.d) AS r
               FROM e JOIN s1 r ON e.src = r.node JOIN deg d ON e.src = d.src
             UNION ALL SELECT s, 150000000 FROM sd) GROUP BY node),
         s3 AS (SELECT node, CAST(SUM(r) AS BIGINT) AS r FROM (
             SELECT e.dst AS node, (r.r * 85) // (100 * d.d) AS r
               FROM e JOIN s2 r ON e.src = r.node JOIN deg d ON e.src = d.src
             UNION ALL SELECT s, 150000000 FROM sd) GROUP BY node)
         SELECT node AS part, r AS ppr_micro FROM s3
         ORDER BY r DESC, part LIMIT 25""",
    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
           COUNT(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q_sessionize" ->
      """WITH g AS (SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
               THEN 1 ELSE 0 END AS brk
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT user_id,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM g),
         e AS (SELECT user_id, sid, COUNT(*) AS sess_events FROM s GROUP BY 1, 2)
         SELECT user_id, COUNT(*) AS n_sessions,
           CAST(MAX(sess_events) AS BIGINT) AS max_sess_events,
           CAST(SUM(sess_events) AS BIGINT) AS n_events
         FROM e GROUP BY user_id ORDER BY user_id""",
    "q_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_asof_join" ->
      """SELECT e.event_id, e.user_id, x.last_orderkey
         FROM events e LEFT JOIN LATERAL (
           SELECT oo.o_orderkey AS last_orderkey FROM orders oo
           WHERE oo.o_custkey = e.user_id AND oo.o_orderdate <= e.ts
           ORDER BY oo.o_orderdate DESC, oo.o_orderkey DESC LIMIT 1) x ON TRUE
         WHERE e.event_id % 10 = 0
         ORDER BY e.event_id""",
    "q_asof_join_native" ->
      """SELECT e.event_id, e.user_id, x.last_orderkey
         FROM events e LEFT JOIN LATERAL (
           SELECT oo.o_orderkey AS last_orderkey FROM orders oo
           WHERE oo.o_custkey = e.user_id AND oo.o_orderdate <= e.ts
           ORDER BY oo.o_orderdate DESC, oo.o_orderkey DESC LIMIT 1) x ON TRUE
         WHERE e.event_id % 10 = 0
         ORDER BY e.event_id""",
    "q_asof_forward" ->
      """SELECT e.event_id, e.user_id, x.next_orderkey
         FROM events e LEFT JOIN LATERAL (
           SELECT oo.o_orderkey AS next_orderkey FROM orders oo
           WHERE oo.o_custkey = e.user_id AND oo.o_orderdate >= e.ts
           ORDER BY oo.o_orderdate ASC, oo.o_orderkey ASC LIMIT 1) x ON TRUE
         WHERE e.event_id % 10 = 0
         ORDER BY e.event_id""",
    "q_dedup_exact" ->
      """WITH d AS (SELECT source, md5(lower(trim(text))) AS h FROM documents)
         SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT h) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_dupes
         FROM d GROUP BY source ORDER BY source""",
    "q_ngram_jaccard" ->
      """WITH docs AS (
           SELECT doc_id, lang,
             list_distinct(string_split_regex(trim(lower(text)), ' +')) AS w
           FROM documents WHERE doc_id % 20 = 0),
         dw0 AS (SELECT doc_id, lang, unnest(w) AS word FROM docs),
         nd AS (SELECT lang, COUNT(*) AS n_docs FROM docs GROUP BY 1),
         hot AS (SELECT d.lang, d.word
           FROM (SELECT lang, word, COUNT(*) AS df FROM dw0 GROUP BY 1, 2) d
           JOIN nd ON d.lang = nd.lang WHERE d.df > nd.n_docs * 0.5),
         dw AS (SELECT * FROM dw0 WHERE NOT EXISTS (
           SELECT 1 FROM hot WHERE hot.lang = dw0.lang AND hot.word = dw0.word)),
         sized AS (SELECT doc_id, lang, CAST(COUNT(*) AS DOUBLE) AS nw
           FROM dw GROUP BY 1, 2),
         dwn AS (SELECT dw.doc_id, dw.lang, dw.word, sized.nw
           FROM dw JOIN sized ON dw.doc_id = sized.doc_id AND dw.lang = sized.lang),
         j AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.nw AS n1, b.nw AS n2,
             COUNT(*) AS inter
           FROM dwn a JOIN dwn b ON a.lang = b.lang AND a.word = b.word
           WHERE a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4)
         SELECT id1, id2,
           CAST(inter AS DOUBLE) / (n1 + n2 - inter) AS jaccard
         FROM j WHERE CAST(inter AS DOUBLE) / (n1 + n2 - inter) >= 0.3
         ORDER BY id1, id2""",
    // the LSH verify stage under deterministic rare-gram buckets: same
    // 3-gram construction as q_contamination, df band [2, 8] = bucket +
    // cap, exact gram-set jaccard rounded at 1e-6 like the engine's
    // hashed-set verify
    // stage-count cost model over the rare-gram funnel: exact integer
    // stage volumes, UNION ALL of scalar aggregates
    "q_dedup_cost_model" ->
      """WITH d AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), ' +') AS w FROM documents),
         g AS (SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(w) - 3, 0) + 2),
               i -> array_to_string(w[i:i+2], ' '))) AS grams FROM d),
         sz AS (SELECT doc_id, len(grams) AS ng FROM g),
         dg AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         ndocs AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM dg),
         sizes AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df
           FROM dg GROUP BY 1),
         bstats AS (SELECT
             CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS raw_units,
             CAST(SUM(df * (df - 1) // 2) AS BIGINT) AS raw_pairs,
             CAST(SUM(CASE WHEN df BETWEEN 2 AND 8 THEN 1 ELSE 0 END)
               AS BIGINT) AS adm_units,
             CAST(SUM(CASE WHEN df BETWEEN 2 AND 8 THEN df * (df - 1) // 2
               ELSE 0 END) AS BIGINT) AS adm_pairs
           FROM sizes),
         rare AS (SELECT gram FROM sizes WHERE df BETWEEN 2 AND 8),
         cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           FROM (SELECT * FROM dg JOIN rare USING (gram)) a
           JOIN (SELECT * FROM dg JOIN rare USING (gram)) b USING (gram)
           WHERE a.doc_id < b.doc_id),
         nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cand),
         j AS (SELECT c.id1, c.id2, COUNT(*) AS inter FROM cand c
           JOIN dg x ON x.doc_id = c.id1
           JOIN dg y ON y.doc_id = c.id2 AND y.gram = x.gram
           GROUP BY 1, 2),
         nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM j
           JOIN sz s1 ON j.id1 = s1.doc_id JOIN sz s2 ON j.id2 = s2.doc_id
           WHERE round(CAST(inter AS DOUBLE) / (s1.ng + s2.ng - inter), 6)
             >= 0.7),
         stages AS (
           SELECT 1 AS stage_ord, 'naive_all_pairs' AS stage,
             ndocs.n AS n_units, ndocs.n * (ndocs.n - 1) // 2 AS n_pairs
           FROM ndocs
           UNION ALL SELECT 2, 'gram_buckets_raw', raw_units, raw_pairs
           FROM bstats
           UNION ALL SELECT 3, 'buckets_admitted', adm_units, adm_pairs
           FROM bstats
           UNION ALL SELECT 4, 'candidates_distinct', nc.n, nc.n FROM nc
           UNION ALL SELECT 5, 'verified_pairs', nv.n, nv.n FROM nv)
         SELECT CAST(stage_ord AS BIGINT) AS stage_ord, stage,
           CAST(n_units AS BIGINT) AS n_units,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           round(CAST(n_pairs AS DOUBLE)
             / CAST((SELECT n * (n - 1) // 2 FROM ndocs) AS DOUBLE), 9)
             AS share_vs_naive
         FROM stages ORDER BY stage_ord""",
    // rare-gram verified pairs (the q_dedup_minhash_verify chain) plus
    // per-pair evidence: top-3 rarest shared grams ranked by corpus df
    // pair-level exact alignment runs: positions of shared rare 8-grams
    // grouped by (pair, diagonal), islands via p1 - row_number; every
    // stage integer-exact so the alignment table hash-matches
    "q_span_alignments" ->
      """WITH d AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), ' +') AS w FROM documents),
         g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS s,
             array_to_string(w[i:i+7], ' ') AS gram
           FROM d, unnest(range(1, greatest(len(w) - 8, -1) + 2)) AS u(i)),
         adm AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
           GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 8),
         ga AS (SELECT doc_id, s, gram FROM g JOIN adm USING (gram)),
         p AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
             a.s AS p1, b.s AS p2, a.s - b.s AS diag
           FROM ga a JOIN ga b USING (gram)
           WHERE a.doc_id < b.doc_id),
         r AS (SELECT id1, id2, diag, p1, p2,
             p1 - ROW_NUMBER() OVER (PARTITION BY id1, id2, diag
               ORDER BY p1) AS island
           FROM p),
         runs AS (SELECT id1, id2, MIN(p1) AS start1, MIN(p2) AS start2,
             CAST(MAX(p1) - MIN(p1) + 8 AS BIGINT) AS len_words
           FROM r GROUP BY id1, id2, diag, island)
         SELECT id1, id2, start1, start2, len_words FROM runs
         WHERE len_words >= 12 ORDER BY id1, id2, start1, start2""",
    "q_dup_evidence" ->
      """WITH d AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), ' +') AS w FROM documents),
         g AS (SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(w) - 3, 0) + 2),
               i -> array_to_string(w[i:i+2], ' '))) AS grams FROM d),
         sz AS (SELECT doc_id, len(grams) AS ng FROM g),
         dg AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         rare AS (SELECT gram FROM dg GROUP BY gram
           HAVING COUNT(*) BETWEEN 2 AND 8),
         cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           FROM (SELECT * FROM dg JOIN rare USING (gram)) a
           JOIN (SELECT * FROM dg JOIN rare USING (gram)) b USING (gram)
           WHERE a.doc_id < b.doc_id),
         j AS (SELECT c.id1, c.id2, COUNT(*) AS inter FROM cand c
           JOIN dg x ON x.doc_id = c.id1
           JOIN dg y ON y.doc_id = c.id2 AND y.gram = x.gram
           GROUP BY 1, 2),
         scored AS (SELECT j.id1, j.id2, j.inter,
             round(CAST(inter AS DOUBLE) / (s1.ng + s2.ng - inter), 6)
               AS jaccard
           FROM j JOIN sz s1 ON j.id1 = s1.doc_id
                  JOIN sz s2 ON j.id2 = s2.doc_id),
         keep AS (SELECT * FROM scored WHERE jaccard >= 0.7),
         dfq AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df
           FROM dg GROUP BY 1),
         sh AS (SELECT k.id1, k.id2, x.gram, f.df,
             row_number() OVER (PARTITION BY k.id1, k.id2
               ORDER BY f.df, x.gram) AS rk
           FROM keep k JOIN dg x ON x.doc_id = k.id1
           JOIN dg y ON y.doc_id = k.id2 AND y.gram = x.gram
           JOIN dfq f ON f.gram = x.gram),
         ev AS (SELECT id1, id2,
             string_agg(CAST(df AS VARCHAR) || ':' || gram, '|' ORDER BY rk)
               AS evidence
           FROM sh WHERE rk <= 3 GROUP BY 1, 2)
         SELECT k.id1, k.id2, k.jaccard, CAST(k.inter AS BIGINT) AS n_shared,
           e.evidence
         FROM keep k JOIN ev e ON e.id1 = k.id1 AND e.id2 = k.id2
         ORDER BY k.id1, k.id2""",
    // ground-truth jaccard>=0.7 pair set via prefix filtering (see the
    // oracleSql scaladoc): candidates must share a gram inside each
    // member's rarest-first (n - ceil(0.7n) + 1)-prefix, then exact
    // gram-set jaccard verifies — a different candidate ALGORITHM than
    // the engine's banding, same verified output
    "q_dedup_minhash" ->
      """WITH d AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), ' +') AS w FROM documents),
         g AS (SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(w) - 3, 0) + 2),
               i -> array_to_string(w[i:i+2], ' '))) AS grams FROM d),
         sz AS (SELECT doc_id, len(grams) AS ng FROM g),
         dg AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         df AS (SELECT gram, COUNT(*) AS df FROM dg GROUP BY 1),
         ranked AS (SELECT dg.doc_id, dg.gram,
             row_number() OVER (PARTITION BY dg.doc_id
               ORDER BY df.df, dg.gram) AS rk, sz.ng
           FROM dg JOIN df USING (gram) JOIN sz ON dg.doc_id = sz.doc_id),
         pref AS (SELECT doc_id, gram FROM ranked
           WHERE rk <= ng - CAST(ceil(0.7 * ng) AS BIGINT) + 1),
         cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           FROM pref a JOIN pref b USING (gram) WHERE a.doc_id < b.doc_id),
         j AS (SELECT c.id1, c.id2, COUNT(*) AS inter FROM cand c
           JOIN dg x ON x.doc_id = c.id1
           JOIN dg y ON y.doc_id = c.id2 AND y.gram = x.gram
           GROUP BY 1, 2),
         scored AS (SELECT j.id1, j.id2,
             round(CAST(inter AS DOUBLE) / (s1.ng + s2.ng - inter), 6)
               AS jaccard
           FROM j JOIN sz s1 ON j.id1 = s1.doc_id
                  JOIN sz s2 ON j.id2 = s2.doc_id)
         SELECT id1, id2, jaccard FROM scored WHERE jaccard >= 0.7
         ORDER BY id1, id2""",
    "q_dedup_minhash_verify" ->
      """WITH d AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), ' +') AS w FROM documents),
         g AS (SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(w) - 3, 0) + 2),
               i -> array_to_string(w[i:i+2], ' '))) AS grams FROM d),
         sz AS (SELECT doc_id, len(grams) AS ng FROM g),
         dg AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         rare AS (SELECT gram FROM dg GROUP BY gram
           HAVING COUNT(*) BETWEEN 2 AND 8),
         cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           FROM (SELECT * FROM dg JOIN rare USING (gram)) a
           JOIN (SELECT * FROM dg JOIN rare USING (gram)) b USING (gram)
           WHERE a.doc_id < b.doc_id),
         j AS (SELECT c.id1, c.id2, COUNT(*) AS inter FROM cand c
           JOIN dg x ON x.doc_id = c.id1
           JOIN dg y ON y.doc_id = c.id2 AND y.gram = x.gram
           GROUP BY 1, 2),
         scored AS (SELECT j.id1, j.id2,
             round(CAST(inter AS DOUBLE) / (s1.ng + s2.ng - inter), 6)
               AS jaccard
           FROM j JOIN sz s1 ON j.id1 = s1.doc_id
                  JOIN sz s2 ON j.id2 = s2.doc_id)
         SELECT id1, id2, jaccard FROM scored WHERE jaccard >= 0.7
         ORDER BY id1, id2""",
    // simhash bucket dedup on the portable md5-vote fingerprint: the
    // same fp CTE as q_simhash_portable, then one group per fingerprint
    "q_dedup_simhash" ->
      """WITH w AS (SELECT doc_id,
             unnest(list_distinct(string_split_regex(lower(trim(text)), ' +'))) AS word
           FROM documents),
         h AS (SELECT doc_id, md5(word) AS hx FROM w),
         v AS (SELECT doc_id, j,
             SUM(CASE WHEN ((strpos('0123456789abcdef', substr(hx, 15 - j // 4, 1)) - 1)
                 >> (j % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
           FROM h, range(60) t(j) GROUP BY doc_id, j),
         fp AS (SELECT doc_id,
             CAST(SUM(CASE WHEN vote >= 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS f
           FROM v GROUP BY doc_id)
         SELECT f AS fp, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(doc_id) AS keep_id
         FROM fp GROUP BY f ORDER BY fp""",
    // portable simhash: 60-bit md5-vote fingerprint, 4x15-bit band
    // candidates under the [2, 100] admission cap, hamming <= 3 verify —
    // every stage integer-exact, so the whole pipeline hash-matches
    "q_simhash_portable" ->
      """WITH w AS (SELECT doc_id,
             unnest(list_distinct(string_split_regex(lower(trim(text)), ' +'))) AS word
           FROM documents),
         h AS (SELECT doc_id, md5(word) AS hx FROM w),
         v AS (SELECT doc_id, j,
             SUM(CASE WHEN ((strpos('0123456789abcdef', substr(hx, 15 - j // 4, 1)) - 1)
                 >> (j % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
           FROM h, range(60) t(j) GROUP BY doc_id, j),
         fp AS (SELECT doc_id,
             CAST(SUM(CASE WHEN vote >= 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS f
           FROM v GROUP BY doc_id),
         bands AS (SELECT doc_id, b, (f >> (15 * b)) & 32767 AS code
           FROM fp, range(4) t(b)),
         sizes AS (SELECT b, code FROM bands GROUP BY b, code
           HAVING COUNT(*) BETWEEN 2 AND 100),
         pairs AS (SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2
           FROM bands a JOIN sizes s ON a.b = s.b AND a.code = s.code
           JOIN bands c ON c.b = s.b AND c.code = s.code AND a.doc_id < c.doc_id),
         ham AS (SELECT id1, id2, CAST(bit_count(xor(f1.f, f2.f)) AS BIGINT) AS hamming
           FROM pairs JOIN fp f1 ON f1.doc_id = id1 JOIN fp f2 ON f2.doc_id = id2)
         SELECT id1, id2, hamming FROM ham WHERE hamming <= 3 ORDER BY id1, id2""",
    // portable hyperplane LSH: md5-derived sign matrix, integer
    // micro-unit projections (exact BIGINT sums -> bit-identical band
    // codes), then the same exact-cosine fold + top-5 as q_knn_brute
    "q_knn_lsh_portable" -> knnLshPortableOracle,
    // IVF with the exact micro-unit Lloyd's index: three unrolled CTE
    // rounds reproduce the trained centroids bit-for-bit, then probes +
    // cell-pruned exact-cosine top-5
    "q_knn_ivf" -> knnIvfOracle,
    // product quantization: per-subspace exact-integer Lloyd rounds (L2),
    // codes and reconstruction errors replayed digit-for-digit
    "q_pq_codes" -> pqCodesOracle,
    // ADC search over the PQ codes: table lookups summed in exact ints
    "q_pq_search" -> pqSearchOracle,
    // SemDeDup: IVF-clustered keep/prune decisions, recursive-CTE groups
    "q_semdedup" -> semDedupOracle,
    "q_ivf_ingest" -> ivfIngestOracle,
    // serving-time semantic dedup: even-half keeper index, odd arrivals
    "q_stream_semdedup" -> streamSemDedupOracle,
    "q_stream_ivf_ingest" -> ivfIngestOracle,
    // IVF-PQ: probed-cell ADC over residual codes, exact ints throughout
    "q_knn_ivfpq" -> knnIvfPqOracle,
    // IVF-PQ recall curve vs exact L2 as nProbe grows, exact hit counts
    "q_ivfpq_recall" -> ivfPqRecallOracle,
    "q_ann_cost_curve" -> annCostCurveOracle,
    // KMV union-Jaccard content overlap between source pairs
    "q_source_overlap" -> sourceOverlapOracle,
    // cross-document repeated-gram coverage per source
    "q_boilerplate" -> boilerplateOracle,
    // the streaming drain reproduces the same candidates/cosines/ranking
    // through a per-microbatch broadcast probe + bounded_topk state
    "q_stream_knn" -> knnLshPortableOracle,
    // the dedup funnel end-to-end: exact-keeper CTE -> portable-simhash
    // fingerprint CTE over the keepers -> banded pairs -> recursive-CTE
    // connected components -> per-source survivor rollup
    "q_dedup_pipeline" ->
      """WITH RECURSIVE d AS (SELECT doc_id, source, text,
             md5(lower(trim(text))) AS h FROM documents),
         ek AS (SELECT h, MIN(doc_id) AS keep_id FROM d GROUP BY h),
         m AS (SELECT d.doc_id, d.source, d.text, ek.keep_id
           FROM d JOIN ek USING (h)),
         keepers AS (SELECT doc_id, source, text FROM m WHERE doc_id = keep_id),
         exact_drop AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact_dropped
           FROM m WHERE doc_id <> keep_id GROUP BY source),
         w AS (SELECT doc_id,
             unnest(list_distinct(string_split_regex(lower(trim(text)), ' +'))) AS word
           FROM keepers),
         hh AS (SELECT doc_id, md5(word) AS hx FROM w),
         v AS (SELECT doc_id, j,
             SUM(CASE WHEN ((strpos('0123456789abcdef', substr(hx, 15 - j // 4, 1)) - 1)
                 >> (j % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
           FROM hh, range(60) t(j) GROUP BY doc_id, j),
         fp AS (SELECT doc_id,
             CAST(SUM(CASE WHEN vote >= 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS f
           FROM v GROUP BY doc_id),
         bands AS (SELECT doc_id, b, (f >> (15 * b)) & 32767 AS code
           FROM fp, range(4) t(b)),
         sizes AS (SELECT b, code FROM bands GROUP BY b, code
           HAVING COUNT(*) BETWEEN 2 AND 100),
         cand AS (SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2
           FROM bands a JOIN sizes s ON a.b = s.b AND a.code = s.code
           JOIN bands c ON c.b = s.b AND c.code = s.code AND a.doc_id < c.doc_id),
         near AS (SELECT id1, id2 FROM cand
           JOIN fp f1 ON f1.doc_id = id1 JOIN fp f2 ON f2.doc_id = id2
           WHERE bit_count(xor(f1.f, f2.f)) <= 3),
         sym AS (SELECT id1 AS src, id2 AS dst FROM near
           UNION ALL SELECT id2, id1 FROM near),
         reach(id, r) AS (
           SELECT src, src FROM sym
           UNION
           SELECT reach.id, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
         comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
         near_drop AS (SELECT k.source, CAST(COUNT(*) AS BIGINT) AS n_near_dropped
           FROM comp JOIN keepers k ON k.doc_id = comp.id
           WHERE comp.comp <> comp.id GROUP BY k.source),
         tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY source)
         SELECT tot.source, n_docs,
           COALESCE(n_exact_dropped, 0) AS n_exact_dropped,
           COALESCE(n_near_dropped, 0) AS n_near_dropped,
           n_docs - COALESCE(n_exact_dropped, 0) - COALESCE(n_near_dropped, 0)
             AS n_survivors
         FROM tot LEFT JOIN exact_drop USING (source)
           LEFT JOIN near_drop USING (source)
         ORDER BY tot.source""",
    // the per-document manifest behind the funnel rollup: same exact-
    // keeper -> portable-fp -> banded-pairs -> recursive-CTE-components
    // chain, emitted as one verdict row per doc, plus the span-rewrite
    // token cut (covered-position count per doc)
    "q_dedup_manifest" ->
      """WITH RECURSIVE d AS (SELECT doc_id, source, text,
             md5(lower(trim(text))) AS h FROM documents),
         ek AS (SELECT h, MIN(doc_id) AS keep_id FROM d GROUP BY h),
         m AS (SELECT d.doc_id, d.source, d.text, ek.keep_id
           FROM d JOIN ek USING (h)),
         keepers AS (SELECT doc_id, text FROM m WHERE doc_id = keep_id),
         w AS (SELECT doc_id,
             unnest(list_distinct(string_split_regex(lower(trim(text)), ' +'))) AS word
           FROM keepers),
         hh AS (SELECT doc_id, md5(word) AS hx FROM w),
         v AS (SELECT doc_id, j,
             SUM(CASE WHEN ((strpos('0123456789abcdef', substr(hx, 15 - j // 4, 1)) - 1)
                 >> (j % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
           FROM hh, range(60) t(j) GROUP BY doc_id, j),
         fp AS (SELECT doc_id,
             CAST(SUM(CASE WHEN vote >= 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS f
           FROM v GROUP BY doc_id),
         bands AS (SELECT doc_id, b, (f >> (15 * b)) & 32767 AS code
           FROM fp, range(4) t(b)),
         sizes AS (SELECT b, code FROM bands GROUP BY b, code
           HAVING COUNT(*) BETWEEN 2 AND 100),
         cand AS (SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2
           FROM bands a JOIN sizes s ON a.b = s.b AND a.code = s.code
           JOIN bands c ON c.b = s.b AND c.code = s.code AND a.doc_id < c.doc_id),
         near AS (SELECT id1, id2 FROM cand
           JOIN fp f1 ON f1.doc_id = id1 JOIN fp f2 ON f2.doc_id = id2
           WHERE bit_count(xor(f1.f, f2.f)) <= 3),
         sym AS (SELECT id1 AS src, id2 AS dst FROM near
           UNION ALL SELECT id2, id1 FROM near),
         reach(id, r) AS (
           SELECT src, src FROM sym
           UNION
           SELECT reach.id, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
         comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
         verd AS (SELECT m.doc_id, m.source,
             CASE WHEN m.doc_id <> m.keep_id THEN 'drop_exact'
               WHEN comp.comp IS NOT NULL AND comp.comp <> m.doc_id
                 THEN 'drop_near'
               ELSE 'keep' END AS action,
             CASE WHEN m.doc_id <> m.keep_id THEN m.keep_id
               WHEN comp.comp IS NOT NULL AND comp.comp <> m.doc_id
                 THEN comp.comp
               ELSE m.doc_id END AS keeper_id
           FROM m LEFT JOIN comp ON comp.id = m.doc_id),
         dw AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), ' +') AS wds FROM documents),
         g8 AS (SELECT doc_id, i - 1 AS s,
             array_to_string(wds[i:i+7], ' ') AS gram
           FROM dw, unnest(range(1, greatest(len(wds) - 8, -1) + 2)) AS u(i)),
         shared8 AS (SELECT gram FROM g8 GROUP BY gram
           HAVING COUNT(DISTINCT doc_id) > 1),
         ds8 AS (SELECT g8.doc_id, g8.s, g8.s + 7 AS e FROM g8
           JOIN shared8 USING (gram)),
         wp AS (SELECT doc_id, i - 1 AS pos
           FROM dw, unnest(range(1, len(wds) + 1)) AS u(i)),
         cov AS (SELECT DISTINCT wp.doc_id, wp.pos FROM wp
           JOIN ds8 ON wp.doc_id = ds8.doc_id
             AND wp.pos BETWEEN ds8.s AND ds8.e),
         cut AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_cut
           FROM cov GROUP BY doc_id)
         SELECT verd.doc_id, verd.source, verd.action, verd.keeper_id,
           CAST(len(dw.wds) AS BIGINT) AS n_tokens,
           COALESCE(cut.n_cut, 0) AS n_span_tokens_cut
         FROM verd JOIN dw USING (doc_id) LEFT JOIN cut USING (doc_id)
         ORDER BY verd.doc_id""",
    // exact Shapley channel attribution: 16 coalition scenarios through
    // the same micro-unit value iteration; integer 24th-sum credits
    "q_shapley_attribution" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
edges AS (
  SELECT 'start' AS src, event_type AS dst FROM ev WHERE rn = 1
  UNION ALL
  SELECT event_type, COALESCE(nxt, 'end') FROM ev WHERE event_type <> 'purchase'),
cnt AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n FROM edges GROUP BY 1, 2),
outd AS (SELECT src, CAST(SUM(n) AS BIGINT) AS n_src FROM cnt GROUP BY 1),
pm AS (SELECT c.src, c.dst, (c.n * 1000000) // o.n_src AS p
  FROM cnt c JOIN outd o ON c.src = o.src),
scen AS (SELECT unnest(['|', '|click|', '|error|', '|signup|', '|view|', '|click|error|', '|click|signup|', '|click|view|', '|error|signup|', '|error|view|', '|signup|view|', '|click|error|signup|', '|click|error|view|', '|click|signup|view|', '|error|signup|view|', '|click|error|signup|view|']) AS removed),
sp AS (SELECT s.removed, p.src, p.dst, p.p FROM pm p CROSS JOIN scen s
  WHERE strpos(s.removed, '|' || p.src || '|') = 0
    AND strpos(s.removed, '|' || p.dst || '|') = 0),
states AS (SELECT DISTINCT removed, src AS st FROM sp
  UNION SELECT DISTINCT removed, dst FROM sp),
v0 AS (SELECT removed, st,
    CAST(CASE WHEN st = 'purchase' THEN 1000000 ELSE 0 END AS BIGINT) AS v
  FROM states),
v1 AS (
  SELECT st.removed, st.st,
    CASE WHEN st.st = 'purchase' THEN CAST(1000000 AS BIGINT)
         WHEN st.st = 'end' THEN CAST(0 AS BIGINT)
         ELSE CAST(COALESCE(SUM(sp.p * pv.v), 0) // 1000000 AS BIGINT) END AS v
  FROM states st
  LEFT JOIN sp ON sp.removed = st.removed AND sp.src = st.st
  LEFT JOIN v0 pv ON pv.removed = st.removed AND pv.st = sp.dst
  GROUP BY st.removed, st.st),
v2 AS (
  SELECT st.removed, st.st,
    CASE WHEN st.st = 'purchase' THEN CAST(1000000 AS BIGINT)
         WHEN st.st = 'end' THEN CAST(0 AS BIGINT)
         ELSE CAST(COALESCE(SUM(sp.p * pv.v), 0) // 1000000 AS BIGINT) END AS v
  FROM states st
  LEFT JOIN sp ON sp.removed = st.removed AND sp.src = st.st
  LEFT JOIN v1 pv ON pv.removed = st.removed AND pv.st = sp.dst
  GROUP BY st.removed, st.st),
v3 AS (
  SELECT st.removed, st.st,
    CASE WHEN st.st = 'purchase' THEN CAST(1000000 AS BIGINT)
         WHEN st.st = 'end' THEN CAST(0 AS BIGINT)
         ELSE CAST(COALESCE(SUM(sp.p * pv.v), 0) // 1000000 AS BIGINT) END AS v
  FROM states st
  LEFT JOIN sp ON sp.removed = st.removed AND sp.src = st.st
  LEFT JOIN v2 pv ON pv.removed = st.removed AND pv.st = sp.dst
  GROUP BY st.removed, st.st),
v4 AS (
  SELECT st.removed, st.st,
    CASE WHEN st.st = 'purchase' THEN CAST(1000000 AS BIGINT)
         WHEN st.st = 'end' THEN CAST(0 AS BIGINT)
         ELSE CAST(COALESCE(SUM(sp.p * pv.v), 0) // 1000000 AS BIGINT) END AS v
  FROM states st
  LEFT JOIN sp ON sp.removed = st.removed AND sp.src = st.st
  LEFT JOIN v3 pv ON pv.removed = st.removed AND pv.st = sp.dst
  GROUP BY st.removed, st.st),
v5 AS (
  SELECT st.removed, st.st,
    CASE WHEN st.st = 'purchase' THEN CAST(1000000 AS BIGINT)
         WHEN st.st = 'end' THEN CAST(0 AS BIGINT)
         ELSE CAST(COALESCE(SUM(sp.p * pv.v), 0) // 1000000 AS BIGINT) END AS v
  FROM states st
  LEFT JOIN sp ON sp.removed = st.removed AND sp.src = st.st
  LEFT JOIN v4 pv ON pv.removed = st.removed AND pv.st = sp.dst
  GROUP BY st.removed, st.st),
v6 AS (
  SELECT st.removed, st.st,
    CASE WHEN st.st = 'purchase' THEN CAST(1000000 AS BIGINT)
         WHEN st.st = 'end' THEN CAST(0 AS BIGINT)
         ELSE CAST(COALESCE(SUM(sp.p * pv.v), 0) // 1000000 AS BIGINT) END AS v
  FROM states st
  LEFT JOIN sp ON sp.removed = st.removed AND sp.src = st.st
  LEFT JOIN v5 pv ON pv.removed = st.removed AND pv.st = sp.dst
  GROUP BY st.removed, st.st),
v7 AS (
  SELECT st.removed, st.st,
    CASE WHEN st.st = 'purchase' THEN CAST(1000000 AS BIGINT)
         WHEN st.st = 'end' THEN CAST(0 AS BIGINT)
         ELSE CAST(COALESCE(SUM(sp.p * pv.v), 0) // 1000000 AS BIGINT) END AS v
  FROM states st
  LEFT JOIN sp ON sp.removed = st.removed AND sp.src = st.st
  LEFT JOIN v6 pv ON pv.removed = st.removed AND pv.st = sp.dst
  GROUP BY st.removed, st.st),
v8 AS (
  SELECT st.removed, st.st,
    CASE WHEN st.st = 'purchase' THEN CAST(1000000 AS BIGINT)
         WHEN st.st = 'end' THEN CAST(0 AS BIGINT)
         ELSE CAST(COALESCE(SUM(sp.p * pv.v), 0) // 1000000 AS BIGINT) END AS v
  FROM states st
  LEFT JOIN sp ON sp.removed = st.removed AND sp.src = st.st
  LEFT JOIN v7 pv ON pv.removed = st.removed AND pv.st = sp.dst
  GROUP BY st.removed, st.st),
coal(channel, keep_scen, drop_scen, w) AS (VALUES
    ('click', '|error|signup|view|', '|click|error|signup|view|', 6),
    ('click', '|signup|view|', '|click|signup|view|', 2),
    ('click', '|error|view|', '|click|error|view|', 2),
    ('click', '|error|signup|', '|click|error|signup|', 2),
    ('click', '|view|', '|click|view|', 2),
    ('click', '|signup|', '|click|signup|', 2),
    ('click', '|error|', '|click|error|', 2),
    ('click', '|', '|click|', 6),
    ('error', '|click|signup|view|', '|click|error|signup|view|', 6),
    ('error', '|signup|view|', '|error|signup|view|', 2),
    ('error', '|click|view|', '|click|error|view|', 2),
    ('error', '|click|signup|', '|click|error|signup|', 2),
    ('error', '|view|', '|error|view|', 2),
    ('error', '|signup|', '|error|signup|', 2),
    ('error', '|click|', '|click|error|', 2),
    ('error', '|', '|error|', 6),
    ('signup', '|click|error|view|', '|click|error|signup|view|', 6),
    ('signup', '|error|view|', '|error|signup|view|', 2),
    ('signup', '|click|view|', '|click|signup|view|', 2),
    ('signup', '|click|error|', '|click|error|signup|', 2),
    ('signup', '|view|', '|signup|view|', 2),
    ('signup', '|error|', '|error|signup|', 2),
    ('signup', '|click|', '|click|signup|', 2),
    ('signup', '|', '|signup|', 6),
    ('view', '|click|error|signup|', '|click|error|signup|view|', 6),
    ('view', '|error|signup|', '|error|signup|view|', 2),
    ('view', '|click|signup|', '|click|signup|view|', 2),
    ('view', '|click|error|', '|click|error|view|', 2),
    ('view', '|signup|', '|signup|view|', 2),
    ('view', '|error|', '|error|view|', 2),
    ('view', '|click|', '|click|view|', 2),
    ('view', '|', '|view|', 6)),
vfull AS (SELECT v AS vf FROM v8 WHERE removed = '|' AND st = 'start')
SELECT c.channel,
  (SELECT vf FROM vfull) AS v_full_micro,
  CAST(SUM(c.w * (COALESCE(vw.v, 0) - COALESCE(vo.v, 0))) AS BIGINT) AS shapley_num,
  CAST(SUM(c.w * (COALESCE(vw.v, 0) - COALESCE(vo.v, 0))) AS DOUBLE) / 24 AS shapley_micro
FROM coal c
LEFT JOIN v8 vw ON vw.removed = c.keep_scen AND vw.st = 'start'
LEFT JOIN v8 vo ON vo.removed = c.drop_scen AND vo.st = 'start'
GROUP BY c.channel ORDER BY c.channel""",
    // Markov removal-effect attribution: micro-unit integer transition
    // probabilities + 8 unrolled value-iteration rounds per scenario
    "q_markov_attribution" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
edges AS (
  SELECT 'start' AS src, event_type AS dst FROM ev WHERE rn = 1
  UNION ALL
  SELECT event_type, COALESCE(nxt, 'end') FROM ev WHERE event_type <> 'purchase'),
cnt AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n FROM edges GROUP BY 1, 2),
outd AS (SELECT src, CAST(SUM(n) AS BIGINT) AS n_src FROM cnt GROUP BY 1),
pm AS (SELECT c.src, c.dst, (c.n * 1000000) // o.n_src AS p
  FROM cnt c JOIN outd o ON c.src = o.src),
scen AS (SELECT unnest(['__base__', 'click', 'error', 'signup', 'view']) AS removed),
sp AS (SELECT s.removed, p.src, p.dst, p.p FROM pm p CROSS JOIN scen s
  WHERE p.src <> s.removed AND p.dst <> s.removed),
states AS (SELECT DISTINCT removed, src AS st FROM sp
  UNION SELECT DISTINCT removed, dst FROM sp),
v0 AS (SELECT removed, st,
    CAST(CASE WHEN st = 'purchase' THEN 1000000 ELSE 0 END AS BIGINT) AS v
  FROM states),
v1 AS (
  SELECT st.removed, st.st,
    CASE WHEN st.st = 'purchase' THEN CAST(1000000 AS BIGINT)
         WHEN st.st = 'end' THEN CAST(0 AS BIGINT)
         ELSE CAST(COALESCE(SUM(sp.p * pv.v), 0) // 1000000 AS BIGINT) END AS v
  FROM states st
  LEFT JOIN sp ON sp.removed = st.removed AND sp.src = st.st
  LEFT JOIN v0 pv ON pv.removed = st.removed AND pv.st = sp.dst
  GROUP BY st.removed, st.st),
v2 AS (
  SELECT st.removed, st.st,
    CASE WHEN st.st = 'purchase' THEN CAST(1000000 AS BIGINT)
         WHEN st.st = 'end' THEN CAST(0 AS BIGINT)
         ELSE CAST(COALESCE(SUM(sp.p * pv.v), 0) // 1000000 AS BIGINT) END AS v
  FROM states st
  LEFT JOIN sp ON sp.removed = st.removed AND sp.src = st.st
  LEFT JOIN v1 pv ON pv.removed = st.removed AND pv.st = sp.dst
  GROUP BY st.removed, st.st),
v3 AS (
  SELECT st.removed, st.st,
    CASE WHEN st.st = 'purchase' THEN CAST(1000000 AS BIGINT)
         WHEN st.st = 'end' THEN CAST(0 AS BIGINT)
         ELSE CAST(COALESCE(SUM(sp.p * pv.v), 0) // 1000000 AS BIGINT) END AS v
  FROM states st
  LEFT JOIN sp ON sp.removed = st.removed AND sp.src = st.st
  LEFT JOIN v2 pv ON pv.removed = st.removed AND pv.st = sp.dst
  GROUP BY st.removed, st.st),
v4 AS (
  SELECT st.removed, st.st,
    CASE WHEN st.st = 'purchase' THEN CAST(1000000 AS BIGINT)
         WHEN st.st = 'end' THEN CAST(0 AS BIGINT)
         ELSE CAST(COALESCE(SUM(sp.p * pv.v), 0) // 1000000 AS BIGINT) END AS v
  FROM states st
  LEFT JOIN sp ON sp.removed = st.removed AND sp.src = st.st
  LEFT JOIN v3 pv ON pv.removed = st.removed AND pv.st = sp.dst
  GROUP BY st.removed, st.st),
v5 AS (
  SELECT st.removed, st.st,
    CASE WHEN st.st = 'purchase' THEN CAST(1000000 AS BIGINT)
         WHEN st.st = 'end' THEN CAST(0 AS BIGINT)
         ELSE CAST(COALESCE(SUM(sp.p * pv.v), 0) // 1000000 AS BIGINT) END AS v
  FROM states st
  LEFT JOIN sp ON sp.removed = st.removed AND sp.src = st.st
  LEFT JOIN v4 pv ON pv.removed = st.removed AND pv.st = sp.dst
  GROUP BY st.removed, st.st),
v6 AS (
  SELECT st.removed, st.st,
    CASE WHEN st.st = 'purchase' THEN CAST(1000000 AS BIGINT)
         WHEN st.st = 'end' THEN CAST(0 AS BIGINT)
         ELSE CAST(COALESCE(SUM(sp.p * pv.v), 0) // 1000000 AS BIGINT) END AS v
  FROM states st
  LEFT JOIN sp ON sp.removed = st.removed AND sp.src = st.st
  LEFT JOIN v5 pv ON pv.removed = st.removed AND pv.st = sp.dst
  GROUP BY st.removed, st.st),
v7 AS (
  SELECT st.removed, st.st,
    CASE WHEN st.st = 'purchase' THEN CAST(1000000 AS BIGINT)
         WHEN st.st = 'end' THEN CAST(0 AS BIGINT)
         ELSE CAST(COALESCE(SUM(sp.p * pv.v), 0) // 1000000 AS BIGINT) END AS v
  FROM states st
  LEFT JOIN sp ON sp.removed = st.removed AND sp.src = st.st
  LEFT JOIN v6 pv ON pv.removed = st.removed AND pv.st = sp.dst
  GROUP BY st.removed, st.st),
v8 AS (
  SELECT st.removed, st.st,
    CASE WHEN st.st = 'purchase' THEN CAST(1000000 AS BIGINT)
         WHEN st.st = 'end' THEN CAST(0 AS BIGINT)
         ELSE CAST(COALESCE(SUM(sp.p * pv.v), 0) // 1000000 AS BIGINT) END AS v
  FROM states st
  LEFT JOIN sp ON sp.removed = st.removed AND sp.src = st.st
  LEFT JOIN v7 pv ON pv.removed = st.removed AND pv.st = sp.dst
  GROUP BY st.removed, st.st),
base AS (SELECT v AS b FROM v8 WHERE removed = '__base__' AND st = 'start')
SELECT removed AS channel,
  (SELECT b FROM base) AS base_cv_micro,
  v AS removed_cv_micro,
  CASE WHEN (SELECT b FROM base) = 0 THEN NULL
    ELSE CAST((SELECT b FROM base) - v AS DOUBLE) / CAST((SELECT b FROM base) AS DOUBLE)
  END AS removal_effect
FROM v8 WHERE removed <> '__base__' AND st = 'start' ORDER BY channel""",
    // ANN audit: brute CTEs = q_knn_brute, LSH CTEs = q_knn_lsh_portable;
    // recall@5 is a ratio of small exact integers
    "q_ann_recall" ->
      """WITH signs AS (SELECT p, i,
             CASE WHEN substr(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 1) >= '8'
               THEN 1 ELSE -1 END AS s
           FROM range(30) t(p), range(64) u(i)),
         mu AS (SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * 1000000) AS BIGINT)) AS m
           FROM embeddings),
         proj AS (SELECT vec_id, p // 3 AS b, p, SUM(s * m[i + 1]) AS pr
           FROM mu, signs GROUP BY vec_id, p),
         codes AS (SELECT vec_id, b,
             CAST(SUM(CASE WHEN pr >= 0 THEN CAST(1 AS BIGINT) << (p % 3) ELSE 0 END) AS BIGINT) AS code
           FROM proj GROUP BY vec_id, b),
         cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
           FROM codes q JOIN codes c ON q.b = c.b AND q.code = c.code AND q.vec_id <> c.vec_id
           WHERE q.vec_id % 200 = 0),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         lsims AS (SELECT qid, nid,
             list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
               (sqrt(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i]))) *
                sqrt(list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i])))) AS sim
           FROM cand JOIN e a ON a.vec_id = qid JOIN e b ON b.vec_id = nid),
         lsh AS (SELECT qid, nid FROM (SELECT qid, nid,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
           FROM lsims) WHERE rnk <= 5),
         bsims AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
             list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
               (sqrt(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i]))) *
                sqrt(list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i])))) AS sim
           FROM e a JOIN e b ON a.vec_id % 200 = 0 AND a.vec_id <> b.vec_id),
         brute AS (SELECT qid, nid FROM (SELECT qid, nid,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
           FROM bsims) WHERE rnk <= 5)
         SELECT brute.qid, CAST(COUNT(*) AS BIGINT) AS n_brute,
           CAST(SUM(CASE WHEN lsh.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN lsh.nid IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS recall
         FROM brute LEFT JOIN lsh ON brute.qid = lsh.qid AND brute.nid = lsh.nid
         GROUP BY brute.qid ORDER BY brute.qid""",
    // ensemble agreement: jaccard CTEs identical to q_ngram_jaccard;
    // cosine threshold as pure integer arithmetic (25 dot^2 >= 9 s1 s2)
    "q_dedup_agreement" ->
      """WITH docs AS (
           SELECT doc_id, lang,
             list_distinct(string_split_regex(trim(lower(text)), ' +')) AS w
           FROM documents WHERE doc_id % 20 = 0),
         dw0 AS (SELECT doc_id, lang, unnest(w) AS word FROM docs),
         nd AS (SELECT lang, COUNT(*) AS n_docs FROM docs GROUP BY 1),
         hot AS (SELECT d.lang, d.word
           FROM (SELECT lang, word, COUNT(*) AS df FROM dw0 GROUP BY 1, 2) d
           JOIN nd ON d.lang = nd.lang WHERE d.df > nd.n_docs * 0.5),
         dw AS (SELECT * FROM dw0 WHERE NOT EXISTS (
           SELECT 1 FROM hot WHERE hot.lang = dw0.lang AND hot.word = dw0.word)),
         sized AS (SELECT doc_id, lang, CAST(COUNT(*) AS DOUBLE) AS nw
           FROM dw GROUP BY 1, 2),
         dwn AS (SELECT dw.doc_id, dw.lang, dw.word, sized.nw
           FROM dw JOIN sized ON dw.doc_id = sized.doc_id AND dw.lang = sized.lang),
         j AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.nw AS n1, b.nw AS n2,
             COUNT(*) AS inter
           FROM dwn a JOIN dwn b ON a.lang = b.lang AND a.word = b.word
           WHERE a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4),
         jp AS (SELECT id1, id2 FROM j
           WHERE CAST(inter AS DOUBLE) / (n1 + n2 - inter) >= 0.3),
         tdocs AS (SELECT doc_id, lang,
             string_split_regex(trim(lower(text)), ' +') AS w
           FROM documents WHERE doc_id % 20 = 0),
         tdw0 AS (SELECT doc_id, lang, unnest(w) AS word FROM tdocs),
         tdw AS (SELECT * FROM tdw0 WHERE NOT EXISTS (
           SELECT 1 FROM hot WHERE hot.lang = tdw0.lang AND hot.word = tdw0.word)),
         tf AS (SELECT doc_id, lang, word, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tdw GROUP BY 1, 2, 3),
         tsz AS (SELECT doc_id, lang, CAST(SUM(tf * tf) AS BIGINT) AS ss
           FROM tf GROUP BY 1, 2),
         tfn AS (SELECT tf.doc_id, tf.lang, tf.word, tf.tf, tsz.ss
           FROM tf JOIN tsz ON tf.doc_id = tsz.doc_id AND tf.lang = tsz.lang),
         c AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.ss AS s1, b.ss AS s2,
             CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
           FROM tfn a JOIN tfn b ON a.lang = b.lang AND a.word = b.word
           WHERE a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4),
         cp AS (SELECT id1, id2 FROM c
           WHERE 25 * dot * dot >= 9 * s1 * s2),
         u AS (SELECT COALESCE(jp.id1, cp.id1) AS id1,
             COALESCE(jp.id2, cp.id2) AS id2,
             CASE WHEN jp.id1 IS NOT NULL THEN 1 ELSE 0 END AS mj,
             CASE WHEN cp.id1 IS NOT NULL THEN 1 ELSE 0 END AS mc
           FROM jp FULL OUTER JOIN cp
             ON jp.id1 = cp.id1 AND jp.id2 = cp.id2)
         SELECT CAST(SUM(mj) AS BIGINT) AS n_jaccard,
           CAST(SUM(mc) AS BIGINT) AS n_cosine,
           CAST(SUM(mj * mc) AS BIGINT) AS n_both,
           CAST(SUM(mj * mc) AS DOUBLE)
             / CAST(SUM(mj) + SUM(mc) - SUM(mj * mc) AS DOUBLE) AS overlap
         FROM u""",
    "q_dedup_clusters" ->
      """WITH RECURSIVE docs AS (
           SELECT doc_id, lang,
             list_distinct(string_split_regex(trim(lower(text)), ' +')) AS w
           FROM documents WHERE doc_id % 20 = 0),
         dw0 AS (SELECT doc_id, lang, unnest(w) AS word FROM docs),
         nd AS (SELECT lang, COUNT(*) AS n_docs FROM docs GROUP BY 1),
         hot AS (SELECT d.lang, d.word
           FROM (SELECT lang, word, COUNT(*) AS df FROM dw0 GROUP BY 1, 2) d
           JOIN nd ON d.lang = nd.lang WHERE d.df > nd.n_docs * 0.5),
         dw AS (SELECT * FROM dw0 WHERE NOT EXISTS (
           SELECT 1 FROM hot WHERE hot.lang = dw0.lang AND hot.word = dw0.word)),
         sized AS (SELECT doc_id, lang, CAST(COUNT(*) AS DOUBLE) AS nw
           FROM dw GROUP BY 1, 2),
         dwn AS (SELECT dw.doc_id, dw.lang, dw.word, sized.nw
           FROM dw JOIN sized ON dw.doc_id = sized.doc_id AND dw.lang = sized.lang),
         j AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.nw AS n1, b.nw AS n2,
             COUNT(*) AS inter
           FROM dwn a JOIN dwn b ON a.lang = b.lang AND a.word = b.word
           WHERE a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4),
         pairs AS (SELECT id1, id2 FROM j
           WHERE CAST(inter AS DOUBLE) / (n1 + n2 - inter) >= 0.3),
         sym AS (SELECT id1 AS src, id2 AS dst FROM pairs
           UNION ALL SELECT id2, id1 FROM pairs),
         reach(id, r) AS (
           SELECT src, src FROM sym
           UNION
           SELECT reach.id, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
         comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id)
         SELECT comp AS keep_id, COUNT(*) AS n_members,
           array_to_string(list_transform(list_sort(list(id)),
             x -> CAST(x AS VARCHAR)), ',') AS members
         FROM comp GROUP BY comp ORDER BY keep_id""",
    // identical semantics, distributed-loop execution — one oracle text,
    // two engine code paths (see qDedupClusters forceDistributed)
    "q_dedup_clusters_dist" ->
      """WITH RECURSIVE docs AS (
           SELECT doc_id, lang,
             list_distinct(string_split_regex(trim(lower(text)), ' +')) AS w
           FROM documents WHERE doc_id % 20 = 0),
         dw0 AS (SELECT doc_id, lang, unnest(w) AS word FROM docs),
         nd AS (SELECT lang, COUNT(*) AS n_docs FROM docs GROUP BY 1),
         hot AS (SELECT d.lang, d.word
           FROM (SELECT lang, word, COUNT(*) AS df FROM dw0 GROUP BY 1, 2) d
           JOIN nd ON d.lang = nd.lang WHERE d.df > nd.n_docs * 0.5),
         dw AS (SELECT * FROM dw0 WHERE NOT EXISTS (
           SELECT 1 FROM hot WHERE hot.lang = dw0.lang AND hot.word = dw0.word)),
         sized AS (SELECT doc_id, lang, CAST(COUNT(*) AS DOUBLE) AS nw
           FROM dw GROUP BY 1, 2),
         dwn AS (SELECT dw.doc_id, dw.lang, dw.word, sized.nw
           FROM dw JOIN sized ON dw.doc_id = sized.doc_id AND dw.lang = sized.lang),
         j AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.nw AS n1, b.nw AS n2,
             COUNT(*) AS inter
           FROM dwn a JOIN dwn b ON a.lang = b.lang AND a.word = b.word
           WHERE a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4),
         pairs AS (SELECT id1, id2 FROM j
           WHERE CAST(inter AS DOUBLE) / (n1 + n2 - inter) >= 0.3),
         sym AS (SELECT id1 AS src, id2 AS dst FROM pairs
           UNION ALL SELECT id2, id1 FROM pairs),
         reach(id, r) AS (
           SELECT src, src FROM sym
           UNION
           SELECT reach.id, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
         comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id)
         SELECT comp AS keep_id, COUNT(*) AS n_members,
           array_to_string(list_transform(list_sort(list(id)),
             x -> CAST(x AS VARCHAR)), ',') AS members
         FROM comp GROUP BY comp ORDER BY keep_id""",
    // same fingerprint as q_fingerprint, same quality blend as
    // q_quality_score (rounded at 1e-9 so float jitter can't flip the
    // argmax); winner = highest quality, ties to lowest doc id
    "q_dedup_keep_best" ->
      """WITH d AS (SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(
               string_split_regex(trim(lower(text)), ' +'))), ' ')) AS fp,
             round(
               least((CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), ' +')) END) / 100.0,
                 1.0) * 0.4
               + (CAST(len(list_distinct(string_split_regex(trim(text), ' +'))) AS DOUBLE)
                  / len(string_split_regex(trim(text), ' +'))) * 0.4
               + least((CAST(len(trim(text))
                    - (len(string_split_regex(trim(text), ' +')) - 1) AS DOUBLE)
                  / len(string_split_regex(trim(text), ' +'))) / 10.0, 1.0) * 0.2,
               9) AS q
           FROM documents),
         g AS (SELECT fp, COUNT(*) AS n_members FROM d
           GROUP BY fp HAVING COUNT(*) >= 2),
         w AS (SELECT d.fp, d.doc_id, d.q,
             row_number() OVER (PARTITION BY d.fp ORDER BY d.q DESC, d.doc_id) AS rn
           FROM d JOIN g USING (fp))
         SELECT w.fp, g.n_members, w.doc_id AS keep_id, w.q AS best_quality
         FROM w JOIN g ON w.fp = g.fp WHERE w.rn = 1 ORDER BY w.fp""",
    // n-gram semantics mirror Dedup.shingles: a doc shorter than n yields
    // one whole-doc gram (both slices clamp)
    "q_contamination" -> contaminationOracle,
    // the streaming drain probes the same offline-built benchmark gram
    // set through a broadcast stream-static join + complete-mode per-doc
    // counter — same semantics, same oracle
    "q_stream_contamination" -> contaminationOracle,
    // per-word surprisal rounded at 1e-9 (above cross-engine ln jitter)
    // then summed in exact decimal weighted by occurrence count
    // vocabulary = global top-100 words by occurrence (count desc, word asc
    // tiebreak); coverage = exact-integer ratio
    "q_vocab_coverage" ->
      """WITH w AS (SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), ' +')) AS word
           FROM documents),
         v AS (SELECT word FROM (SELECT word, COUNT(*) AS cw FROM w
           GROUP BY 1 ORDER BY cw DESC, word LIMIT 100)),
         cov AS (SELECT doc_id, COUNT(*) AS n_covered FROM w
           WHERE doc_id % 20 = 0 AND word IN (SELECT word FROM v)
           GROUP BY 1),
         d AS (SELECT doc_id,
             CASE WHEN len(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), ' +')) END AS n_tokens
           FROM documents WHERE doc_id % 20 = 0)
         SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(n_covered, 0) AS BIGINT) AS n_covered,
           CAST(COALESCE(n_covered, 0) AS DOUBLE) / n_tokens AS coverage
         FROM d LEFT JOIN cov USING (doc_id)
         WHERE n_tokens > 0 ORDER BY doc_id""",
    // same decimal-weighted rounded-log recipe as q_unigram_surprisal:
    // H = log2(n) - (sum c*log2 c)/n with exact integer weights
    "q_doc_entropy" ->
      """WITH w AS (SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), ' +')) AS word
           FROM documents WHERE doc_id % 10 = 0),
         c AS (SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY 1, 2),
         a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             SUM(CAST(round(log2(CAST(c AS DOUBLE)), 9) AS DECIMAL(14,10))
               * CAST(c AS DECIMAL(8,0))) AS sdec
           FROM c GROUP BY 1)
         SELECT doc_id, n_tokens,
           round(log2(CAST(n_tokens AS DOUBLE))
             - CAST(sdec AS DOUBLE) / CAST(n_tokens AS DOUBLE), 9) AS entropy
         FROM a ORDER BY doc_id""",
    // one-way ANOVA: per-group Σx²/n terms pinned at 1e-4 into DECIMAL so
    // the k-row reduction is fold-order-free (the qDocEntropy treatment)
    "q_anova" ->
      """WITH g AS (SELECT o_orderpriority AS grp, COUNT(*) AS n,
             SUM(CAST(o_totalprice / 1000.0 AS DECIMAL(18,6))) AS sx,
             SUM(CAST((o_totalprice / 1000.0) * (o_totalprice / 1000.0)
               AS DECIMAL(24,6))) AS sxx
           FROM orders GROUP BY 1),
         g2 AS (SELECT grp, n, sx, sxx,
             CAST(ROUND(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n, 4)
               AS DECIMAL(24,4)) AS term FROM g),
         a AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS n_total,
             SUM(sx) AS s_all, SUM(sxx) AS sxx_all, SUM(term) AS term_all
           FROM g2),
         s AS (SELECT k, n_total,
             ROUND(CAST(term_all AS DOUBLE)
               - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / n_total, 4)
               AS ss_between,
             ROUND(CAST(sxx_all AS DOUBLE) - CAST(term_all AS DOUBLE), 4)
               AS ss_within
           FROM a)
         SELECT k, n_total, ss_between, ss_within,
           ROUND((ss_between / (k - 1)) / (ss_within / (n_total - k)), 6)
             AS f_stat,
           ROUND(ss_between / (ss_between + ss_within), 6) AS eta_sq
         FROM s""",
    // q_anova's decimal moment frames; studentized-range q per pair,
    // composite float chains rounded at 6
    "q_tukey_hsd" ->
      """WITH g AS (SELECT o_orderpriority AS grp,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(o_totalprice / 1000.0 AS DECIMAL(18,6))) AS sx,
             SUM(CAST((o_totalprice / 1000.0) * (o_totalprice / 1000.0)
               AS DECIMAL(24,6))) AS sxx
           FROM orders GROUP BY 1),
         g2 AS (SELECT grp, n, sx, sxx,
             CAST(ROUND(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
               / CAST(n AS DOUBLE), 4) AS DECIMAL(24,4)) AS term FROM g),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total,
             CAST(COUNT(*) AS BIGINT) AS k,
             ROUND(CAST(SUM(sxx) AS DOUBLE) - CAST(SUM(term) AS DOUBLE), 4)
               AS ss_within
           FROM g2)
         SELECT a.grp AS grp1, b.grp AS grp2, a.n AS n1, b.n AS n2,
           ROUND(CAST(a.sx AS DOUBLE) / CAST(a.n AS DOUBLE)
             - CAST(b.sx AS DOUBLE) / CAST(b.n AS DOUBLE), 6)
             AS mean_diff_k,
           ROUND((CAST(a.sx AS DOUBLE) / CAST(a.n AS DOUBLE)
             - CAST(b.sx AS DOUBLE) / CAST(b.n AS DOUBLE))
             / sqrt(ss_within / CAST(n_total - k AS DOUBLE) / 2.0
               * (1.0 / CAST(a.n AS DOUBLE) + 1.0 / CAST(b.n AS DOUBLE))),
             6) AS q_stat
         FROM g a JOIN g b ON a.grp < b.grp CROSS JOIN tot
         ORDER BY grp1, grp2""",
    // integer-cancelled variance ratio: alpha is one IEEE division of
    // exact count moments
    "q_cronbach_alpha" ->
      """WITH cells AS (SELECT user_id, event_type,
             CAST(COUNT(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n
           FROM cells),
         items AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS sx,
             CAST(SUM(c * c) AS BIGINT) AS sxx
           FROM cells GROUP BY 1),
         inum AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(nu.n * sxx - sx * sx) AS BIGINT) AS num
           FROM items, nu GROUP BY nu.n),
         tu AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS t
           FROM cells GROUP BY 1),
         den AS (SELECT CAST(nu.n * SUM(t * t) - SUM(t) * SUM(t)
             AS BIGINT) AS den
           FROM tu, nu GROUP BY nu.n)
         SELECT nu.n AS n_users, k AS k_items, num AS item_var_num,
           den AS total_var_num,
           ROUND(CAST(k AS DOUBLE) / CAST(k - 1 AS DOUBLE)
             * (1.0 - CAST(num AS DOUBLE) / CAST(den AS DOUBLE)), 9)
             AS alpha
         FROM inum, den, nu""",
    // two unrolled HITS rounds in integer micro-units, L-inf normalized
    // by floor division each round (the q_pagerank exactness convention)
    "q_hits" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             FROM lineitem),
         e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
             FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         h0 AS (SELECT DISTINCT src AS node, 1000000 AS h FROM e),
         a1r AS (SELECT e.dst AS node, SUM(h.h) AS a FROM e
             JOIN h0 h ON e.src = h.node GROUP BY 1),
         a1m AS (SELECT MAX(a) AS mx FROM a1r),
         a1 AS (SELECT node, CAST((a * 1000000) // mx AS BIGINT) AS a
             FROM a1r, a1m),
         h1r AS (SELECT e.src AS node, SUM(a.a) AS h FROM e
             JOIN a1 a ON e.dst = a.node GROUP BY 1),
         h1m AS (SELECT MAX(h) AS mx FROM h1r),
         h1 AS (SELECT node, CAST((h * 1000000) // mx AS BIGINT) AS h
             FROM h1r, h1m),
         a2r AS (SELECT e.dst AS node, SUM(h.h) AS a FROM e
             JOIN h1 h ON e.src = h.node GROUP BY 1),
         a2m AS (SELECT MAX(a) AS mx FROM a2r),
         a2 AS (SELECT node, CAST((a * 1000000) // mx AS BIGINT) AS a
             FROM a2r, a2m)
         SELECT h1.node, h1.h AS hub, a2.a AS authority
         FROM h1 JOIN a2 ON h1.node = a2.node
         ORDER BY a2.a DESC, h1.node LIMIT 25""",
    // ABC classification: DECIMAL cumulative shares, class decided by
    // integer-scaled decimal comparison (cum*5 < tot*4), never a double
    "q_abc_class" ->
      """WITH r AS (SELECT l_partkey,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6)))
               AS rev
           FROM lineitem GROUP BY 1),
         c AS (SELECT l_partkey, rev,
             SUM(rev) OVER (ORDER BY rev DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(rev) OVER () AS total FROM r),
         k AS (SELECT CASE WHEN (cum - rev) * 5 < total * 4 THEN 'A'
               WHEN (cum - rev) * 20 < total * 19 THEN 'B'
               ELSE 'C' END AS abc_class, rev, total FROM c),
         g AS (SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
             SUM(rev) AS class_rev, MAX(total) AS total
           FROM k GROUP BY 1)
         SELECT abc_class, n_parts,
           CAST(class_rev AS DOUBLE) AS class_rev,
           ROUND(CAST(class_rev AS DOUBLE) / CAST(total AS DOUBLE), 6)
             AS rev_share
         FROM g ORDER BY abc_class""",
    // per-rule quality battery over the words array — list functions only,
    // flags as 0/1 BIGINT
    "q_gopher_rules" ->
      """WITH d AS (SELECT doc_id, text,
             string_split_regex(trim(lower(text)), ' +') AS ws
           FROM documents WHERE doc_id % 10 = 0),
         m AS (SELECT doc_id, text, ws,
             CAST(len(ws) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT)
               AS sum_wl FROM d),
         m2 AS (SELECT doc_id, n_words,
             ROUND(CAST(sum_wl AS DOUBLE) / n_words, 6) AS mean_wl,
             ROUND(CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
               AS DOUBLE) / length(text), 6) AS digit_ratio,
             CAST(len(list_intersect(list_distinct(ws),
               ['the','of','and','to','le','la','el','de','der','die',
                'data','query'])) AS BIGINT) AS n_stop
           FROM m),
         f AS (SELECT doc_id, n_words, mean_wl, digit_ratio, n_stop,
             CAST(CASE WHEN n_words BETWEEN 15 AND 90 THEN 1 ELSE 0 END
               AS BIGINT) AS r_wc,
             CAST(CASE WHEN mean_wl >= 2.0 AND mean_wl <= 10.0
               THEN 1 ELSE 0 END AS BIGINT) AS r_mwl,
             CAST(CASE WHEN digit_ratio <= 0.2 THEN 1 ELSE 0 END AS BIGINT)
               AS r_digit,
             CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT)
               AS r_stop
           FROM m2)
         SELECT doc_id, n_words, mean_wl, digit_ratio, n_stop,
           r_wc, r_mwl, r_digit, r_stop,
           CAST(CASE WHEN r_wc + r_mwl + r_digit + r_stop = 4
             THEN 1 ELSE 0 END AS BIGINT) AS passes
         FROM f ORDER BY doc_id""",
    // start-offset greedy byte binning per language; strlen = UTF-8 bytes
    // (Spark's octet_length)
    "q_compaction_plan" ->
      """WITH b AS (SELECT lang, doc_id,
             CAST(strlen(text) AS BIGINT) AS bytes FROM documents),
         c AS (SELECT lang, doc_id, bytes,
             SUM(bytes) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
           FROM b)
         SELECT lang, CAST((cumb - bytes) // 65536 AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         FROM c GROUP BY 1, 2 ORDER BY lang, bin""",
    "q_length_histogram" ->
      """WITH d AS (SELECT source,
             CASE WHEN len(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), ' +')) END AS n
           FROM documents)
         SELECT source,
           CAST(floor(log2(CAST(n + 1 AS DOUBLE))) AS BIGINT) AS bucket,
           COUNT(*) AS n_docs, CAST(MIN(n) AS BIGINT) AS min_tokens,
           CAST(MAX(n) AS BIGINT) AS max_tokens,
           CAST(SUM(n) AS BIGINT) AS sum_tokens
         FROM d GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_unigram_surprisal" ->
      """WITH w AS (SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), ' +')) AS word
           FROM documents),
         cnt AS (SELECT word, COUNT(*) AS cw FROM w GROUP BY 1),
         tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS tt FROM cnt),
         s AS (SELECT word,
             CAST(round(-ln(CAST(cw AS DOUBLE) / tt), 9) AS DECIMAL(14,10)) AS sp
           FROM cnt CROSS JOIN tot),
         dw AS (SELECT doc_id, word, COUNT(*) AS k FROM w
           WHERE doc_id % 10 = 0 GROUP BY 1, 2)
         SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_tokens,
           CAST(SUM(sp * CAST(k AS DECIMAL(8,0))) AS DOUBLE)
             / CAST(SUM(k) AS BIGINT) AS avg_surprisal
         FROM dw JOIN s USING (word)
         GROUP BY doc_id ORDER BY doc_id""",
    // chunk plan: size 32, stride 24; a doc of n tokens yields
    // floor((max(n,1)-1)/24)+1 chunks, last one truncated
    "q_text_chunks" ->
      """WITH d AS (SELECT doc_id,
             CASE WHEN len(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), ' +')) END AS n_tokens
           FROM documents WHERE doc_id % 10 = 0),
         c AS (SELECT doc_id, n_tokens,
             unnest(range(0, ((greatest(n_tokens, 1) - 1) // 24) + 1)) AS chunk_id
           FROM d)
         SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(chunk_id * 24 AS BIGINT) AS chunk_start,
           CAST(least(32, n_tokens - chunk_id * 24) AS BIGINT) AS chunk_len,
           CAST(n_tokens AS BIGINT) AS n_tokens
         FROM c ORDER BY doc_id, chunk_id""",
    // sequential packing into 256-token bins within each language;
    // bin = floor(running-offset / budget), integer-exact
    "q_pack_sequences" ->
      """WITH d AS (SELECT doc_id, lang,
             CASE WHEN len(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), ' +')) END AS n
           FROM documents),
         c AS (SELECT doc_id, lang, n,
             SUM(n) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM d)
         SELECT lang, CAST((cum - n) // 256 AS BIGINT) AS bin,
           COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS sum_tokens
         FROM c GROUP BY 1, 2 ORDER BY lang, bin""",
    // KL(source || corpus): both log terms rounded at 1e-9 into DECIMAL,
    // weighted by exact counts — aggregation-order independent
    "q_source_kl" ->
      """WITH w AS (SELECT source,
             unnest(string_split_regex(trim(lower(text)), ' +')) AS word
           FROM documents),
         g AS (SELECT word, COUNT(*) AS cg FROM w GROUP BY 1),
         ng AS (SELECT CAST(SUM(cg) AS BIGINT) AS ng FROM g),
         gl AS (SELECT word,
             CAST(round(ln(CAST(cg AS DOUBLE) / ng), 9) AS DECIMAL(14,10)) AS lg
           FROM g CROSS JOIN ng),
         s AS (SELECT source, word, COUNT(*) AS cs FROM w GROUP BY 1, 2),
         ns AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ns FROM s GROUP BY 1),
         sl AS (SELECT s.source, s.word, s.cs,
             CAST(round(ln(CAST(s.cs AS DOUBLE) / ns.ns), 9) AS DECIMAL(14,10)) AS ls
           FROM s JOIN ns ON s.source = ns.source)
         SELECT sl.source, CAST(SUM(sl.cs) AS BIGINT) AS n_tokens,
           CAST(SUM((sl.ls - gl.lg) * CAST(sl.cs AS DECIMAL(10,0))) AS DOUBLE)
             / CAST(SUM(sl.cs) AS BIGINT) AS kl
         FROM sl JOIN gl ON sl.word = gl.word
         GROUP BY sl.source ORDER BY sl.source""",
    // idf rounded at 1e-9 then exact tf * idf decimal scoring; ties break
    // on the word for an engine-independent ranking
    "q_tfidf_top" ->
      """WITH w AS (SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), ' +')) AS word
           FROM documents),
         df AS (SELECT word, COUNT(*) AS dfreq
           FROM (SELECT DISTINCT doc_id, word FROM w) GROUP BY 1),
         nd AS (SELECT COUNT(*) AS nd FROM documents),
         idf AS (SELECT word,
             CAST(round(ln(CAST(nd AS DOUBLE) / dfreq), 9) AS DECIMAL(14,10)) AS idf
           FROM df CROSS JOIN nd),
         tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w
           WHERE doc_id % 10 = 0 GROUP BY 1, 2),
         sc AS (SELECT doc_id, word,
             CAST(tf AS DECIMAL(8,0)) * idf AS score
           FROM tf JOIN idf USING (word)),
         r AS (SELECT doc_id, word, score,
             CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, word) AS BIGINT) AS rnk
           FROM sc)
         SELECT doc_id, word, CAST(score AS DOUBLE) AS score, rnk
         FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""",
    // k-anonymity/l-diversity audit: exact integer class stats, one
    // division for the exposure rate
    "q_k_anonymity" -> kAnonymityOracle,
    // the streaming drain builds the same class frame through a real
    // stateful aggregation (collect_set for l-diversity) — same oracle
    "q_stream_kanonymity" -> kAnonymityOracle,
    // DP count release: md5-seeded 60-bit uniform (exact /2^60), Laplace
    // inverse CDF, released values rounded at 1e-9 above the ln() ulp
    "q_dp_release" -> s"""
 WITH c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
     FROM events GROUP BY 1),
 e AS (SELECT CAST(v AS BIGINT) AS tag, CAST(v AS DOUBLE) / 10.0 AS eps
   FROM (VALUES (5), (10), (20)) t(v)),
 m AS (SELECT c.event_type, c.n, e.eps,
     md5('dp:' || c.event_type || ':' || CAST(e.tag AS VARCHAR)) AS m
   FROM c, e),
 u AS (SELECT event_type, n, eps,
     CAST(${hexDecode60("m")} AS DOUBLE) / 1152921504606846976.0 AS u
   FROM m),
 x AS (SELECT event_type, n, eps,
     -(1.0 / eps) * sign(u - 0.5) *
       ln(greatest(1.0 - 2.0 * abs(u - 0.5), 1e-18)) AS noise
   FROM u)
 SELECT event_type, eps, n,
   round(CAST(n AS DOUBLE) + noise, 9) AS noisy_n,
   round(abs(noise), 9) AS abs_err
 FROM x ORDER BY event_type, eps""",
    // Cohen's kappa in the integer form (n*agree - sumprod) /
    // (n^2 - sumprod): one exact division, no float marginal chain
    "q_cohens_kappa" ->
      """WITH r AS (
           SELECT lang,
             CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS ra,
             CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), ' +')) END) >= 55
               THEN 1 ELSE 0 END AS rb
           FROM documents),
         g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ra) AS BIGINT) AS a1, CAST(SUM(rb) AS BIGINT) AS b1,
             CAST(SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT) AS agree
           FROM r GROUP BY lang),
         s AS (SELECT lang, n, agree,
             a1 * b1 + (n - a1) * (n - b1) AS sumprod FROM g)
         SELECT lang, n, agree,
           CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
           CASE WHEN n * n = sumprod THEN NULL
             ELSE CAST(n * agree - sumprod AS DOUBLE)
               / CAST(n * n - sumprod AS DOUBLE) END AS kappa
         FROM s ORDER BY lang""",
    "q_sample_stratified" ->
      """SELECT lang, source, doc_id, rn FROM (
           SELECT lang, source, doc_id,
             CAST(row_number() OVER (PARTITION BY lang, source
               ORDER BY md5(text || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
           FROM documents) WHERE rn <= 3 ORDER BY lang, source, rn""",
    "q_mix_sources" ->
      """WITH s AS (
           SELECT source, doc_id,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY md5(text || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn,
             CAST(CASE source WHEN 'src0' THEN 12 WHEN 'src1' THEN 8
               WHEN 'src2' THEN 6 WHEN 'src3' THEN 4 WHEN 'src4' THEN 2
               ELSE 0 END AS BIGINT) AS quota
           FROM documents)
         SELECT source, COUNT(*) AS n_sampled, MIN(quota) AS quota,
           array_to_string(list_transform(list_sort(list(doc_id)),
             x -> CAST(x AS VARCHAR)), ',') AS doc_ids
         FROM s WHERE rn <= quota GROUP BY source ORDER BY source""",
    "q_top_terms" -> topTermsOracle,
    "q_stream_topterms" -> topTermsOracle,
    // ratios divide exact integer counts — bit-identical doubles, no round
    "q_hapax_ratio" ->
      """WITH wc AS (SELECT source, word, COUNT(*) AS c FROM (
             SELECT source,
               unnest(string_split_regex(trim(lower(text)), ' +')) AS word
             FROM documents) GROUP BY 1, 2)
         SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS ttr,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS hapax_frac
         FROM wc GROUP BY source ORDER BY source""",
    "q_simpson_diversity" ->
      """WITH lc AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
             FROM documents GROUP BY 1, 2),
         s AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_langs,
             CAST(SUM(n * n) AS BIGINT) AS ss
           FROM lc GROUP BY source)
         SELECT source, n_docs, n_langs,
           CAST(n_docs * n_docs - ss AS DOUBLE) / (n_docs * n_docs)
             AS simpson
         FROM s ORDER BY source""",
    "q_dedup_savings" ->
      """WITH d AS (SELECT doc_id, source,
             CASE WHEN len(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), ' +')) END AS n_tokens,
             md5(lower(trim(text))) AS h
           FROM documents),
         k AS (SELECT h, MIN(doc_id) AS keep_id FROM d GROUP BY 1)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN doc_id <> keep_id THEN n_tokens ELSE 0 END)
             AS BIGINT) AS tokens_dupe,
           CAST(SUM(CASE WHEN doc_id <> keep_id THEN n_tokens ELSE 0 END)
               AS DOUBLE)
             / CAST(SUM(n_tokens) AS BIGINT) AS pct_saved
         FROM d JOIN k USING (h) GROUP BY source ORDER BY source""",
    "q_link_prediction" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             FROM lineitem),
         e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         pr AS (SELECT src AS u, dst AS w FROM e WHERE src % 199 = 0),
         cn AS (SELECT pr.u, e.dst AS v, COUNT(*) AS n_common
           FROM pr JOIN e ON e.src = pr.w
           WHERE e.dst <> pr.u GROUP BY 1, 2),
         nonadj AS (SELECT u, v, n_common FROM cn
           WHERE NOT EXISTS (SELECT 1 FROM e
             WHERE e.src = cn.u AND e.dst = cn.v)),
         r AS (SELECT u, v, n_common,
             row_number() OVER (PARTITION BY u
               ORDER BY n_common DESC, v) AS rnk
           FROM nonadj)
         SELECT u AS part, v AS candidate, CAST(n_common AS BIGINT) AS n_common,
           CAST(rnk AS BIGINT) AS rnk
         FROM r WHERE rnk <= 5 ORDER BY part, rnk""",
    "q_knn_brute" ->
      """WITH corpus AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nvec FROM embeddings),
         queries AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
           FROM embeddings WHERE vec_id % 200 = 0),
         sims AS (SELECT qid, nid,
             list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * nvec[i])) /
               (sqrt(list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * qvec[i]))) *
                sqrt(list_sum(list_transform(range(1, len(nvec) + 1), i -> nvec[i] * nvec[i])))) AS sim
           FROM corpus CROSS JOIN queries WHERE qid <> nid),
         ranked AS (SELECT qid, nid, sim,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS BIGINT) AS rnk
           FROM sims)
         SELECT qid, nid, sim, rnk FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk""",
    "q_dedup_embed" ->
      """WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
             list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
               (sqrt(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i]))) *
                sqrt(list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i])))) AS sim
           FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
         SELECT id1, id2, sim FROM p WHERE sim >= 0.8 ORDER BY id1, id2""",
    "q_token_bpe" ->
      """SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) END AS n_ws,
           CAST(len(regexp_extract_all(text, '[aeiou]+|[^aeiou ]+')) AS BIGINT) AS n_bpe
         FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""",
    "q_text_stats" ->
      """WITH d AS (SELECT lang, n_chars,
             CASE WHEN len(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), ' +')) END AS n_tokens,
             len(list_distinct(string_split_regex(trim(text), ' +'))) AS n_distinct
           FROM documents)
         SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(n_tokens AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_tokens,
           CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(n_distinct) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE) AS distinct_ratio
         FROM d GROUP BY lang ORDER BY lang""",
    "q_quality_score" ->
      """WITH d AS (SELECT doc_id,
             CASE WHEN len(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), ' +')) END AS n_tokens,
             CAST(len(list_distinct(string_split_regex(trim(text), ' +'))) AS DOUBLE)
               / len(string_split_regex(trim(text), ' +')) AS distinct_ratio,
             CAST(len(trim(text)) - (len(string_split_regex(trim(text), ' +')) - 1) AS DOUBLE)
               / len(string_split_regex(trim(text), ' +')) AS avg_word_len
           FROM documents WHERE doc_id % 10 = 0)
         SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           distinct_ratio,
           least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
             + distinct_ratio * 0.4
             + least(avg_word_len / 10.0, 1.0) * 0.2 AS quality
         FROM d ORDER BY doc_id""",
    "q_readability" ->
      """WITH d AS (SELECT doc_id, trim(lower(text)) AS txt
           FROM documents WHERE doc_id % 10 = 0),
         m AS (SELECT doc_id,
             CASE WHEN len(txt) = 0 THEN 0
               ELSE len(string_split_regex(txt, ' +')) END AS n_words,
             len(regexp_replace(txt, '[aeiouy]+', '~', 'g'))
               - len(replace(regexp_replace(txt, '[aeiouy]+', '~', 'g'),
                             '~', '')) AS vg,
             len(list_filter(string_split_regex(txt, ' +'),
               x -> NOT regexp_matches(x, '[aeiouy]'))) AS nv
           FROM d),
         s AS (SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
             CAST(vg + nv AS BIGINT) AS n_syllables
           FROM m WHERE n_words > 0)
         SELECT doc_id, n_words, n_syllables,
           CAST(390000 * n_words + (11800000 * n_syllables) // n_words
             - 15590000 AS BIGINT) AS fk_units,
           CAST(390000 * n_words + (11800000 * n_syllables) // n_words
             - 15590000 AS DOUBLE) / 1000000.0 AS fk_grade,
           CAST(206835000 - 1015000 * n_words
             - (84600000 * n_syllables) // n_words AS BIGINT) AS ease_units,
           CAST(206835000 - 1015000 * n_words
             - (84600000 * n_syllables) // n_words AS DOUBLE) / 1000000.0
             AS reading_ease
         FROM s ORDER BY doc_id""",
    "q_lang_id" -> {
      val langs = TextAnalysis.markers.keys.toSeq.sorted
      def score(l: String) = TextAnalysis.markers(l)
        .map(w => s"len(list_filter(string_split_regex(lt, ' +'), x -> x = '$w'))")
        .mkString("CAST(", " + ", s" AS BIGINT) AS score_$l")
      val caseArms = langs
        .map(l => s"WHEN score_$l = g AND g > 0 THEN '$l'")
        .mkString(" ")
      s"""WITH d AS (SELECT doc_id, lang, trim(lower(text)) AS lt
            FROM documents WHERE doc_id % 10 = 0),
          s AS (SELECT doc_id, lang, ${langs.map(score).mkString(", ")} FROM d),
          g AS (SELECT *, greatest(${langs.map("score_" + _).mkString(", ")}) AS g FROM s)
          SELECT doc_id, lang, CASE $caseArms ELSE 'und' END AS predicted,
            ${langs.map("score_" + _).mkString(", ")}
          FROM g ORDER BY doc_id"""
    },
    // q_lang_id's marker scoring over the FULL corpus, folded to a
    // confusion matrix; share = cell / row total (exact longs, one IEEE
    // division)
    "q_lang_confusion" -> {
      val langs = TextAnalysis.markers.keys.toSeq.sorted
      def score(l: String) = TextAnalysis.markers(l)
        .map(w => s"len(list_filter(string_split_regex(lt, ' +'), x -> x = '$w'))")
        .mkString("CAST(", " + ", s" AS BIGINT) AS score_$l")
      val caseArms = langs
        .map(l => s"WHEN score_$l = g AND g > 0 THEN '$l'")
        .mkString(" ")
      s"""WITH d AS (SELECT doc_id, lang, trim(lower(text)) AS lt
            FROM documents),
          s AS (SELECT doc_id, lang, ${langs.map(score).mkString(", ")} FROM d),
          g AS (SELECT *, greatest(${langs.map("score_" + _).mkString(", ")}) AS g FROM s),
          p AS (SELECT lang, CASE $caseArms ELSE 'und' END AS predicted FROM g),
          cells AS (SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
            FROM p GROUP BY 1, 2),
          tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_lang
            FROM cells GROUP BY 1)
          SELECT cells.lang, predicted, n,
            round(CAST(n AS DOUBLE) / CAST(n_lang AS DOUBLE), 6) AS share
          FROM cells JOIN tot ON cells.lang = tot.lang
          ORDER BY cells.lang, predicted"""
    },
    "q_fingerprint" ->
      """WITH f AS (SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(
               string_split_regex(trim(lower(text)), ' +'))), ' ')) AS fp
           FROM documents)
         SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
         FROM f GROUP BY fp ORDER BY fp""",
    "q_repetition" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS w
           FROM documents WHERE doc_id % 10 = 0),
         g AS (SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 1, 1) + 1),
               i -> array_to_string(w[i:i+1], ' '))) AS gram
           FROM d),
         c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2)
         SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
           CAST(MAX(c) AS BIGINT) AS max_gram,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS rep_ratio
         FROM c GROUP BY doc_id ORDER BY doc_id""",
    // same h = h*31 + byte recurrence as the native PolyHash64, emulated in
    // HUGEINT mod 2^64 over hex-decoded UTF-8 bytes (strpos over a
    // 0-omitting hex alphabet gives each nibble's value; 17 seeds the fold)
    "q_rolling_fingerprint" ->
      """WITH d AS (SELECT doc_id, lower(trim(text)) AS lt FROM documents),
         b AS (SELECT doc_id, hex(encode(lt)) AS hx,
             octet_length(encode(lt)) AS nb FROM d),
         u AS (SELECT doc_id,
           list_reduce(
             list_prepend(CAST(17 AS HUGEINT),
               list_transform(range(1, nb + 1),
                 i -> CAST((strpos('123456789ABCDEF', hx[2*i-1:2*i-1])) * 16
                        + (strpos('123456789ABCDEF', hx[2*i:2*i])) AS HUGEINT))),
             (a, x) -> (a * 31 + x) % 18446744073709551616::HUGEINT) AS ufp
           FROM b),
         f AS (SELECT doc_id,
           CAST(CASE WHEN ufp >= 9223372036854775808::HUGEINT
             THEN ufp - 18446744073709551616::HUGEINT ELSE ufp END AS BIGINT) AS fp
           FROM u)
         SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
         FROM f GROUP BY fp ORDER BY fp""",
    "q_redact_ids" ->
      """SELECT c_custkey,
           regexp_replace(c_name, '[0-9]', 'X', 'g') AS name_masked,
           CAST(length(regexp_replace(c_name, '[^0-9]', '', 'g')) AS BIGINT)
             AS n_digits_removed
         FROM customer ORDER BY c_custkey""",
    "q_multimodal_meta" ->
      """SELECT doc_id,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
           md5(text) AS content_md5
         FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""",
    "q_multimodal_chunks" ->
      """WITH d AS (SELECT doc_id,
             CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len
           FROM documents WHERE doc_id % 10 = 0),
         c AS (SELECT doc_id, byte_len,
             unnest(range(0, greatest(byte_len, 1), 48)) AS chunk_off
           FROM d)
         SELECT doc_id, chunk_off,
           least(64, byte_len - chunk_off) AS chunk_len, byte_len
         FROM c ORDER BY doc_id, chunk_off""",
    // frame sampling: the stub decode derives n_frames from md5 bytes 2-3
    // (hex chars 5-8), which DuckDB replays with hex-digit arithmetic —
    // the generated corpus never matches a real PNG/BMP/WAV magic, so the
    // synthetic branch is the only one the oracle must model
    "q_multimodal_frames" ->
      """WITH d AS (SELECT doc_id, md5(text) AS h
           FROM documents WHERE doc_id % 10 = 0),
         f AS (SELECT doc_id,
             CAST(1 + (
               ((16 * (strpos('0123456789abcdef', substr(h, 5, 1)) - 1)
                  + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1)) * 256
                + 16 * (strpos('0123456789abcdef', substr(h, 7, 1)) - 1)
                + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1)
               ) % 240) AS INTEGER) AS n_frames
           FROM d),
         g AS (SELECT doc_id, n_frames,
             unnest(range(0, n_frames, 10)) AS frame_id FROM f)
         SELECT doc_id, n_frames, CAST(frame_id AS INTEGER) AS frame_id
         FROM g ORDER BY doc_id, frame_id""",
    // row_number vs bounded_topk: both order by (sim DESC, p2) — ties in
    // sim are exact-double equal on both engines, so the tie-break is total
    "q_item_cf" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk
             FROM lineitem),
         f AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS ci FROM it GROUP BY pk),
         pr AS (SELECT a.pk AS p1, b.pk AS p2, CAST(COUNT(*) AS BIGINT) AS cij
           FROM it a JOIN it b ON a.okey = b.okey AND a.pk <> b.pk
           GROUP BY 1, 2),
         s AS (SELECT p1, p2,
             CAST(cij AS DOUBLE) / sqrt(CAST(f1.ci * f2.ci AS DOUBLE)) AS sim
           FROM pr JOIN f f1 ON pr.p1 = f1.pk JOIN f f2 ON pr.p2 = f2.pk),
         rk AS (SELECT p1, p2, sim, row_number()
             OVER (PARTITION BY p1 ORDER BY sim DESC, p2) AS rnk FROM s)
         SELECT p1, p2, sim, CAST(rnk AS BIGINT) AS rnk FROM rk
         WHERE rnk <= 5 ORDER BY p1, rnk""",
    // windowed exact moments over the day-keyed RANGE frame; only the
    // final corr composite is float, rounded at 1e-9
    "q_rolling_corr" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x,
             CAST(COUNT(*) AS BIGINT) AS y
           FROM orders GROUP BY 1),
         dn AS (SELECT d, date_diff('day', DATE '1970-01-01', d) AS dn, x, y
           FROM daily),
         m AS (SELECT d,
             CAST(COUNT(*) OVER win AS BIGINT) AS n,
             CAST(SUM(x) OVER win AS DOUBLE) AS sx,
             CAST(SUM(y) OVER win AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,4))) OVER win AS DOUBLE)
               AS sxx,
             CAST(SUM(y * y) OVER win AS DOUBLE) AS syy,
             CAST(SUM(CAST(x * y AS DECIMAL(38,2))) OVER win AS DOUBLE)
               AS sxy
           FROM dn WINDOW win AS (ORDER BY dn
             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW))
         SELECT strftime(d, '%Y-%m-%d') AS day, n,
           round(CASE WHEN (n * sxx - sx * sx) = 0
               OR (n * syy - sy * sy) = 0 THEN NULL
             ELSE (n * sxy - sx * sy) /
               (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) END, 9)
             AS corr30
         FROM m ORDER BY day""",
    // Cramer's rule written with the IDENTICAL operation tree as the
    // engine's Column expressions — the determinants must match bit-for-bit
    // before the 1e-8 rounding
    "q_multi_regression" ->
      """WITH per AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS x1,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT) AS x2
           FROM lineitem GROUP BY 1),
         j AS (SELECT o.o_totalprice AS y, per.x1, per.x2 FROM orders o
           JOIN per ON o.o_orderkey = per.l_orderkey),
         m AS (SELECT
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x1) AS DOUBLE) AS a, CAST(SUM(x2) AS DOUBLE) AS b,
             CAST(SUM(x1 * x1) AS DOUBLE) AS c,
             CAST(SUM(x1 * x2) AS DOUBLE) AS d,
             CAST(SUM(x2 * x2) AS DOUBLE) AS e,
             CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS p,
             CAST(SUM(CAST(x1 * y AS DECIMAL(28,2))) AS DOUBLE) AS q,
             CAST(SUM(CAST(x2 * y AS DECIMAL(28,2))) AS DOUBLE) AS r,
             CAST(SUM(CAST(y * y AS DECIMAL(30,4))) AS DOUBLE) AS yy
           FROM j),
         dets AS (SELECT CAST(n AS BIGINT) AS n_orders, p, q, r, yy,
             n * (c * e - d * d) - a * (a * e - d * b)
               + b * (a * d - c * b) AS det,
             p * (c * e - d * d) - a * (q * e - d * r)
               + b * (q * d - c * r) AS det0,
             n * (q * e - d * r) - p * (a * e - d * b)
               + b * (a * r - q * b) AS det1,
             n * (c * r - q * d) - a * (a * r - q * b)
               + p * (a * d - c * b) AS det2
           FROM m),
         sol AS (SELECT n_orders, p, q, r, yy,
             det0 / det AS b0, det1 / det AS b1, det2 / det AS b2 FROM dets)
         SELECT n_orders,
           round(b0, 8) AS beta0, round(b1, 8) AS beta1,
           round(b2, 8) AS beta2,
           round(1.0 - (yy - b0 * p - b1 * q - b2 * r)
             / (yy - p * p / n_orders), 8) AS r2
         FROM sol""",
    // three independently re-derived stages (DuckDB jaro, recursive-CTE
    // closure, ranked survivor) against the engine's blocked-join +
    // min-label + max-of-struct pipeline
    "q_entity_resolution" ->
      """WITH RECURSIVE p AS (SELECT p_partkey, p_brand, p_name,
             string_split(p_name, ' ')[1] AS w1,
             coalesce(string_split(p_name, ' ')[2], '') AS w2 FROM part),
         ok AS (SELECT p_brand, w1, w2 FROM p GROUP BY 1, 2, 3
           HAVING COUNT(*) <= 2000),
         pc AS (SELECT p.* FROM p JOIN ok USING (p_brand, w1, w2)),
         j AS (SELECT a.p_partkey AS id1, b.p_partkey AS id2,
             round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS sim
           FROM pc a JOIN pc b ON a.p_brand = b.p_brand AND a.w1 = b.w1
             AND a.w2 = b.w2 AND a.p_partkey < b.p_partkey),
         pairs AS (SELECT id1, id2 FROM j WHERE sim >= 0.93),
         sym AS (SELECT id1 AS src, id2 AS dst FROM pairs
           UNION ALL SELECT id2, id1 FROM pairs),
         reach(id, r) AS (
           SELECT src, src FROM sym
           UNION
           SELECT reach.id, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
         comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
         m AS (SELECT comp.comp, comp.id, part.p_name FROM comp
           JOIN part ON comp.id = part.p_partkey),
         best AS (SELECT comp, id, p_name, row_number() OVER (
             PARTITION BY comp ORDER BY len(p_name) DESC, id) AS rk FROM m),
         agg AS (SELECT comp AS cluster_id, CAST(COUNT(*) AS BIGINT)
             AS n_members,
             array_to_string(list_transform(list_sort(list(id)),
               x -> CAST(x AS VARCHAR)), ',') AS members
           FROM m GROUP BY comp)
         SELECT agg.cluster_id, agg.n_members,
           CAST(best.id AS BIGINT) AS canonical_id,
           best.p_name AS canonical_name, agg.members
         FROM agg JOIN best ON agg.cluster_id = best.comp AND best.rk = 1
         ORDER BY agg.cluster_id""",
    "q_dedup_incremental" -> incDedupOracle,
    // the streaming drain executes the same semantics through a real
    // stream-static join + complete-mode aggregation — same oracle
    "q_stream_incdedup" -> incDedupOracle,
    // streaming near-dedup: the portable md5-vote simhash is per-row
    // deterministic, so the drained duplicate-cluster rollup hash-checks
    // against the same fingerprint CTE as q_simhash_portable
    "q_stream_neardedup" ->
      """WITH w AS (SELECT doc_id,
             unnest(list_distinct(string_split_regex(lower(trim(text)), ' +'))) AS word
           FROM documents),
         h AS (SELECT doc_id, md5(word) AS hx FROM w),
         v AS (SELECT doc_id, j,
             SUM(CASE WHEN ((strpos('0123456789abcdef', substr(hx, 15 - j // 4, 1)) - 1)
                 >> (j % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
           FROM h, range(60) t(j) GROUP BY doc_id, j),
         fp AS (SELECT doc_id,
             CAST(SUM(CASE WHEN vote >= 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS f
           FROM v GROUP BY doc_id)
         SELECT f, CAST(COUNT(*) AS BIGINT) AS n, MIN(doc_id) AS keep_id
         FROM fp GROUP BY f HAVING COUNT(*) >= 2 ORDER BY f""",
    "q_kaplan_meier" ->
      """WITH o AS (SELECT o_custkey AS ck, CAST(o_orderdate AS DATE) AS d
             FROM orders),
         t0 AS (SELECT ck, MIN(d) AS t0 FROM o GROUP BY ck),
         t1 AS (SELECT o.ck, MIN(o.d) AS t1 FROM o
           JOIN t0 ON o.ck = t0.ck AND o.d > t0.t0 GROUP BY o.ck),
         h AS (SELECT MAX(d) AS dmax FROM o),
         subj AS (SELECT
             CASE WHEN t1.t1 IS NOT NULL THEN date_diff('day', t0.t0, t1.t1)
                  ELSE date_diff('day', t0.t0, h.dmax) END AS dur,
             CASE WHEN t1.t1 IS NOT NULL THEN 1 ELSE 0 END AS event
           FROM t0 LEFT JOIN t1 ON t0.ck = t1.ck, h),
         byt AS (SELECT dur, CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(event) AS BIGINT) AS n_events FROM subj GROUP BY dur),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM subj),
         r AS (SELECT dur, n_events, CAST(n_total - COALESCE(SUM(m)
               OVER (ORDER BY dur
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS n_risk
           FROM byt, tot),
         ev AS (SELECT dur, n_risk, n_events,
             CASE WHEN n_events < n_risk THEN
               CAST(round(ln(1 - CAST(n_events AS DOUBLE) / n_risk), 12)
                 AS DECIMAL(18,12)) END AS lnf
           FROM r WHERE n_events > 0)
         SELECT dur, n_risk, n_events,
           CASE WHEN n_events = n_risk THEN 0.0
                ELSE round(exp(CAST(SUM(lnf) OVER (ORDER BY dur
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE)), 6) END AS surv
         FROM ev ORDER BY dur""",
    // skyline stated as the quadratic NOT-EXISTS definition — a different
    // algorithm than the engine's two-window pass, same exact answer
    "q_pareto_front" ->
      """WITH p AS (SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS tot_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS unit_price
           FROM lineitem GROUP BY 1)
         SELECT p.l_partkey, p.unit_price, p.tot_qty FROM p
         WHERE NOT EXISTS (SELECT 1 FROM p q
           WHERE q.unit_price <= p.unit_price AND q.tot_qty >= p.tot_qty
             AND (q.unit_price < p.unit_price OR q.tot_qty > p.tot_qty))
         ORDER BY p.l_partkey""",
    // direct range self-join; the engine's explode-to-covering-days rewrite
    // must agree exactly
    "q_window_distinct" ->
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS d, o_custkey
             FROM orders),
         days AS (SELECT DISTINCT d FROM o)
         SELECT strftime(days.d, '%Y-%m-%d') AS window_end,
           CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers
         FROM days JOIN o ON o.d BETWEEN days.d - 6 AND days.d
         GROUP BY days.d ORDER BY 1""",
    "q_welch_ttest" ->
      """WITH m AS (SELECT
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS sx_o,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS sx_f,
           CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(30,4)))
             FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS sxx_o,
           CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(30,4)))
             FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS sxx_f
           FROM orders),
         v AS (SELECT n_o, n_f,
           sx_o / n_o AS mean_o, sx_f / n_f AS mean_f,
           (sxx_o - sx_o * sx_o / n_o) / (n_o - 1) AS v_o,
           (sxx_f - sx_f * sx_f / n_f) / (n_f - 1) AS v_f FROM m)
         SELECT n_o, n_f, mean_o, mean_f,
           round((mean_o - mean_f) / sqrt(v_o / n_o + v_f / n_f), 6) AS t_stat,
           round(pow(v_o / n_o + v_f / n_f, 2) /
             (pow(v_o / n_o, 2) / (n_o - 1) + pow(v_f / n_f, 2) / (n_f - 1)),
             4) AS df_welch
         FROM v""",
    // the engine assigns ids by two-pass partition offsets; the oracle by
    // a ranking window over the same content-hash order — identical ids
    "q_assign_ids" ->
      """WITH r AS (SELECT doc_id,
             row_number() OVER (
               ORDER BY md5(text || CAST(doc_id AS VARCHAR)), doc_id) - 1
               AS gid
           FROM documents)
         SELECT doc_id, CAST(gid AS BIGINT) AS gid FROM r
         WHERE gid % 37 = 0 ORDER BY gid""",
    // Laplace-smoothed log-likelihoods rounded at 1e-9 into DECIMAL;
    // the argmax runs as a ranked window here vs min(struct) in the
    // engine — two algorithms, one exact score domain
    "q_nb_confusion" ->
      """WITH docs AS (SELECT doc_id, lang,
             string_split_regex(trim(lower(text)), ' +') AS ws
           FROM documents),
         tok AS (SELECT doc_id, lang, w AS word FROM (
             SELECT doc_id, lang, unnest(ws) AS w FROM docs) u
           WHERE len(w) > 0),
         ct AS (SELECT lang AS l, CAST(COUNT(*) AS BIGINT) AS cl
           FROM tok GROUP BY 1),
         cw AS (SELECT lang AS l, word, CAST(COUNT(*) AS BIGINT) AS clw
           FROM tok GROUP BY 1, 2),
         vocab AS (SELECT DISTINCT word FROM tok),
         vs AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
         lp AS (SELECT ct.l, vocab.word,
             CAST(round(ln(CAST(COALESCE(cw.clw, 0) + 1 AS DOUBLE)
               / CAST(ct.cl + vs.v AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lp
           FROM vocab CROSS JOIN ct CROSS JOIN vs
           LEFT JOIN cw ON cw.l = ct.l AND cw.word = vocab.word),
         nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM docs),
         pr AS (SELECT lang AS l,
             CAST(round(ln(CAST(COUNT(*) AS DOUBLE) / CAST(nd.n AS DOUBLE)),
               9) AS DECIMAL(18,9)) AS lprior
           FROM docs, nd GROUP BY 1, nd.n),
         tf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tfreq
           FROM tok GROUP BY 1, 2),
         wsc AS (SELECT tf.doc_id, lp.l, SUM(tf.tfreq * lp.lp) AS ws_sum
           FROM tf JOIN lp ON tf.word = lp.word GROUP BY 1, 2),
         sc AS (SELECT d.doc_id, d.lang, pr.l,
             pr.lprior + COALESCE(wsc.ws_sum, CAST(0 AS DECIMAL(18,9)))
               AS score
           FROM docs d CROSS JOIN pr
           LEFT JOIN wsc ON wsc.doc_id = d.doc_id AND wsc.l = pr.l),
         pred AS (SELECT doc_id, lang, l AS predicted FROM (
             SELECT doc_id, lang, l, row_number() OVER (
               PARTITION BY doc_id ORDER BY score DESC, l ASC) AS rn
             FROM sc) x WHERE rn = 1)
         SELECT lang AS actual_lang, predicted AS predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
         FROM pred GROUP BY 1, 2 ORDER BY 1, 2""",
    // three full-batch GD rounds unrolled as chained CTEs: micro-unit
    // integer gradient sums make the engine's driver loop and this
    // closed form produce bit-identical weights; z-terms are grouped
    // w*(x/S) to match the engine's IEEE evaluation order exactly
    "q_lr_train" ->
      """WITH f AS (SELECT
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             1000000 AS x0,
             CAST(round(least(CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), ' +')) END AS DOUBLE)
                 / 100.0, 1.0) * 1000000, 0) AS BIGINT) AS x1,
             CAST(round(CAST(len(list_distinct(string_split_regex(trim(text),
                 ' +'))) AS DOUBLE) / len(string_split_regex(trim(text), ' +'))
                 * 1000000, 0) AS BIGINT) AS x2,
             CAST(round(least((CAST(len(trim(text))
                 - (len(string_split_regex(trim(text), ' +')) - 1) AS DOUBLE)
                 / len(string_split_regex(trim(text), ' +'))) / 10.0, 1.0)
                 * 1000000, 0) AS BIGINT) AS x3,
             CAST(round(least(CAST(len(list_filter(string_split_regex(
                 trim(text), ' +'), t -> t IN ('the', 'data', 'query')))
                 AS DOUBLE) * 10.0
                 / CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE),
                 1.0) * 1000000, 0) AS BIGINT) AS x4
           FROM documents),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) AS DOUBLE) * 1000000.0 * 1000000.0 AS den FROM f),
         g1 AS (SELECT f.*, CAST(round((y - 1.0 / (1.0 + exp(-(
             0.0 * (CAST(x0 AS DOUBLE) / 1000000.0)
             + 0.0 * (CAST(x1 AS DOUBLE) / 1000000.0)
             + 0.0 * (CAST(x2 AS DOUBLE) / 1000000.0)
             + 0.0 * (CAST(x3 AS DOUBLE) / 1000000.0)
             + 0.0 * (CAST(x4 AS DOUBLE) / 1000000.0))))) * 1000000, 0)
             AS BIGINT) AS g FROM f),
         w1 AS (SELECT
             0.0 + 6.0 * CAST(SUM(g * x0) AS DOUBLE) / den AS w0,
             0.0 + 6.0 * CAST(SUM(g * x1) AS DOUBLE) / den AS w1,
             0.0 + 6.0 * CAST(SUM(g * x2) AS DOUBLE) / den AS w2,
             0.0 + 6.0 * CAST(SUM(g * x3) AS DOUBLE) / den AS w3,
             0.0 + 6.0 * CAST(SUM(g * x4) AS DOUBLE) / den AS w4
           FROM g1, nn GROUP BY den),
         g2 AS (SELECT f.*, CAST(round((y - 1.0 / (1.0 + exp(-(
             w1.w0 * (CAST(x0 AS DOUBLE) / 1000000.0)
             + w1.w1 * (CAST(x1 AS DOUBLE) / 1000000.0)
             + w1.w2 * (CAST(x2 AS DOUBLE) / 1000000.0)
             + w1.w3 * (CAST(x3 AS DOUBLE) / 1000000.0)
             + w1.w4 * (CAST(x4 AS DOUBLE) / 1000000.0))))) * 1000000, 0)
             AS BIGINT) AS g FROM f, w1),
         w2 AS (SELECT
             w1.w0 + 6.0 * CAST(SUM(g * x0) AS DOUBLE) / den AS w0,
             w1.w1 + 6.0 * CAST(SUM(g * x1) AS DOUBLE) / den AS w1,
             w1.w2 + 6.0 * CAST(SUM(g * x2) AS DOUBLE) / den AS w2,
             w1.w3 + 6.0 * CAST(SUM(g * x3) AS DOUBLE) / den AS w3,
             w1.w4 + 6.0 * CAST(SUM(g * x4) AS DOUBLE) / den AS w4
           FROM g2, nn, w1 GROUP BY den, w1.w0, w1.w1, w1.w2, w1.w3, w1.w4),
         g3 AS (SELECT f.*, CAST(round((y - 1.0 / (1.0 + exp(-(
             w2.w0 * (CAST(x0 AS DOUBLE) / 1000000.0)
             + w2.w1 * (CAST(x1 AS DOUBLE) / 1000000.0)
             + w2.w2 * (CAST(x2 AS DOUBLE) / 1000000.0)
             + w2.w3 * (CAST(x3 AS DOUBLE) / 1000000.0)
             + w2.w4 * (CAST(x4 AS DOUBLE) / 1000000.0))))) * 1000000, 0)
             AS BIGINT) AS g FROM f, w2),
         w3 AS (SELECT
             w2.w0 + 6.0 * CAST(SUM(g * x0) AS DOUBLE) / den AS w0,
             w2.w1 + 6.0 * CAST(SUM(g * x1) AS DOUBLE) / den AS w1,
             w2.w2 + 6.0 * CAST(SUM(g * x2) AS DOUBLE) / den AS w2,
             w2.w3 + 6.0 * CAST(SUM(g * x3) AS DOUBLE) / den AS w3,
             w2.w4 + 6.0 * CAST(SUM(g * x4) AS DOUBLE) / den AS w4
           FROM g3, nn, w2 GROUP BY den, w2.w0, w2.w1, w2.w2, w2.w3, w2.w4),
         fz AS (SELECT f.y,
             w3.w0 * (CAST(x0 AS DOUBLE) / 1000000.0)
             + w3.w1 * (CAST(x1 AS DOUBLE) / 1000000.0)
             + w3.w2 * (CAST(x2 AS DOUBLE) / 1000000.0)
             + w3.w3 * (CAST(x3 AS DOUBLE) / 1000000.0)
             + w3.w4 * (CAST(x4 AS DOUBLE) / 1000000.0) AS z,
             w3.w0 AS w0, w3.w1 AS w1, w3.w2 AS w2, w3.w3 AS w3,
             w3.w4 AS w4
           FROM f, w3)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(CASE WHEN (z >= 0.0) = (y = 1) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN (z >= 0.0) = (y = 1) THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS accuracy,
           w0, w1, w2, w3, w4
         FROM fz GROUP BY w0, w1, w2, w3, w4""",
    // same unrolled weights, then decile reliability bins on the
    // micro-rounded predicted probability
    "q_lr_calibration" -> (lrScoreCte + """
         SELECT least(su * 10 // 1000000, 9) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS observed_rate,
           CAST(SUM(su) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000.0)
             AS mean_predicted
         FROM s GROUP BY 1 ORDER BY 1"""),
    // same trained-LR score stream; per-bin HL terms pinned to decimal
    // at 1e-9 before the exact 10-term sum
    "q_hosmer_lemeshow" -> (lrScoreCte + """
         , qs AS (SELECT quantile_cont(su,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qb FROM s),
         binned AS (SELECT y, su,
             list_sum(list_transform(qs.qb,
               q -> CASE WHEN su > q THEN 1 ELSE 0 END)) AS bin
           FROM s, qs),
         b AS (SELECT bin,
             CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS o,
             CAST(SUM(su) AS BIGINT) AS su_sum
           FROM binned GROUP BY 1),
         t AS (SELECT bin, n, CAST(o AS DOUBLE) AS o,
             CAST(su_sum AS DOUBLE) / 1000000.0 AS e FROM b),
         terms AS (SELECT CAST(ROUND((o - e) * (o - e)
             / (e * (1.0 - e / CAST(n AS DOUBLE))), 9) AS DECIMAL(24,9))
             AS term FROM t)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(COUNT(*) - 2 AS BIGINT) AS df,
           CAST(SUM(term) AS DOUBLE) AS hl_stat
         FROM terms"""),
    // per-arm decimal moments in kilo-dollars; the pooled-SD chain is
    // the only float algebra, rounded at 6
    "q_cohens_d" ->
      """WITH pc AS (SELECT o_custkey AS ck,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders GROUP BY 1),
         arms AS (SELECT ck % 2 AS arm, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(CAST(cents AS DOUBLE) / 100000.0
               AS DECIMAL(18,6))) AS sx,
             SUM(CAST((CAST(cents AS DOUBLE) / 100000.0)
               * (CAST(cents AS DOUBLE) / 100000.0)
               AS DECIMAL(24,6))) AS sxx
           FROM pc GROUP BY 1),
         a AS (SELECT n AS n1, sx AS sx1, sxx AS sxx1 FROM arms
           WHERE arm = 1),
         b AS (SELECT n AS n0, sx AS sx0, sxx AS sxx0 FROM arms
           WHERE arm = 0),
         x AS (SELECT n1, n0,
             CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
               - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS md,
             (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
               - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))
             / sqrt((CAST(n1 - 1 AS DOUBLE)
                 * ((CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE)
                     * CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                   / CAST(n1 - 1 AS DOUBLE))
               + CAST(n0 - 1 AS DOUBLE)
                 * ((CAST(sxx0 AS DOUBLE) - CAST(sx0 AS DOUBLE)
                     * CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                   / CAST(n0 - 1 AS DOUBLE)))
               / CAST(n1 + n0 - 2 AS DOUBLE)) AS d
           FROM a, b)
         SELECT n1, n0, ROUND(md, 6) AS mean_diff_k,
           ROUND(d, 6) AS cohens_d,
           ROUND(d * (1.0 - 3.0
             / (CAST(n1 + n0 AS DOUBLE) * 4.0 - 9.0)), 6) AS hedges_g
         FROM x""",
    // 168-cell epoch-integer heatmap; share/lift each one division of
    // exact counts
    "q_dow_hour_heatmap" ->
      """WITH c AS (SELECT (epoch_us(ts) // 86400000000) % 7 AS dow,
             (epoch_us(ts) // 3600000000) % 24 AS hod,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
         SELECT dow, hod, n,
           CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share,
           CAST(n AS DOUBLE) * 168.0 / CAST(total AS DOUBLE) AS lift
         FROM c, t ORDER BY dow, hod""",
    // PH via decimal-pinned window algebra: deviation terms rounded to
    // 1e-9 before every running sum; ties at the max break to first day
    "q_page_hinkley" ->
      """WITH daily AS (SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             CAST(COUNT(*) AS DOUBLE) AS x FROM events GROUP BY 1, 2),
         w AS (SELECT event_type, day, x,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY day) AS BIGINT) AS t,
             SUM(CAST(x AS DECIMAL(20,1))) OVER (PARTITION BY event_type
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cum_x
           FROM daily),
         tm AS (SELECT event_type, t,
             CAST(ROUND(x - CAST(cum_x AS DOUBLE) / CAST(t AS DOUBLE), 9)
               AS DECIMAL(24,9)) AS term
           FROM w),
         mm AS (SELECT event_type, t,
             SUM(term) OVER (PARTITION BY event_type ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
           FROM tm),
         p1 AS (SELECT event_type, t, m,
             MIN(m) OVER (PARTITION BY event_type ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS min_m
           FROM mm),
         p2 AS (SELECT event_type, t, m - min_m AS ph,
             MAX(m - min_m) OVER (PARTITION BY event_type) AS max_ph,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS nd
           FROM p1)
         SELECT event_type, MAX(nd) AS n_days,
           CAST(MAX(CASE WHEN t = nd THEN ph END) AS DOUBLE) AS ph_final,
           CAST(MAX(ph) AS DOUBLE) AS ph_max,
           CAST(MIN(CASE WHEN ph = max_ph THEN t END) AS BIGINT)
             AS ph_argmax_t
         FROM p2 GROUP BY 1 ORDER BY 1""",
    // paired binary era outcomes; discordant-cell chi2, one division of
    // exact integer counts
    "q_mcnemar" ->
      """WITH flags AS (SELECT o_custkey AS ck,
             MAX(CASE WHEN o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
               THEN 1 ELSE 0 END) AS early,
             MAX(CASE WHEN o_orderdate >= TIMESTAMP '1998-07-01 00:00:00'
               THEN 1 ELSE 0 END) AS late
           FROM orders GROUP BY 1),
         j AS (SELECT COALESCE(early, 0) AS early, COALESCE(late, 0) AS late
           FROM customer LEFT JOIN flags ON c_custkey = ck),
         cells AS (SELECT
             CAST(COUNT(*) FILTER (WHERE early = 1 AND late = 1) AS BIGINT)
               AS n_both,
             CAST(COUNT(*) FILTER (WHERE early = 1 AND late = 0) AS BIGINT)
               AS n_early_only,
             CAST(COUNT(*) FILTER (WHERE early = 0 AND late = 1) AS BIGINT)
               AS n_late_only,
             CAST(COUNT(*) FILTER (WHERE early = 0 AND late = 0) AS BIGINT)
               AS n_neither
           FROM j)
         SELECT n_both, n_early_only, n_late_only, n_neither,
           ROUND(CAST((n_early_only - n_late_only)
               * (n_early_only - n_late_only) AS DOUBLE)
             / CAST(n_early_only + n_late_only AS DOUBLE), 9)
             AS mcnemar_chi2,
           ROUND(CAST((abs(n_early_only - n_late_only) - 1)
               * (abs(n_early_only - n_late_only) - 1) AS DOUBLE)
             / CAST(n_early_only + n_late_only AS DOUBLE), 9)
             AS mcnemar_corrected
         FROM cells""",
    // four Bellman-Ford relaxation rounds unrolled as chained CTEs;
    // integer edge weights make loop and unroll value-identical
    "q_sssp" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             FROM lineitem),
         e AS (SELECT a.pk AS src, b.pk AS dst, CAST(COUNT(*) AS BIGINT)
             AS shared
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk GROUP BY 1, 2),
         w AS (SELECT src, dst, 1000000 // shared AS wt FROM e),
         s AS (SELECT MIN(LEAST(src, dst)) AS sn FROM w),
         d0 AS (SELECT sn AS node, CAST(0 AS BIGINT) AS dist FROM s),
         d1 AS (SELECT node, MIN(dist) AS dist FROM (
             SELECT w.dst AS node, d0.dist + w.wt AS dist
             FROM w JOIN d0 ON w.src = d0.node
             UNION ALL SELECT node, dist FROM d0) u GROUP BY 1),
         d2 AS (SELECT node, MIN(dist) AS dist FROM (
             SELECT w.dst AS node, d1.dist + w.wt AS dist
             FROM w JOIN d1 ON w.src = d1.node
             UNION ALL SELECT node, dist FROM d1) u GROUP BY 1),
         d3 AS (SELECT node, MIN(dist) AS dist FROM (
             SELECT w.dst AS node, d2.dist + w.wt AS dist
             FROM w JOIN d2 ON w.src = d2.node
             UNION ALL SELECT node, dist FROM d2) u GROUP BY 1),
         d4 AS (SELECT node, MIN(dist) AS dist FROM (
             SELECT w.dst AS node, d3.dist + w.wt AS dist
             FROM w JOIN d3 ON w.src = d3.node
             UNION ALL SELECT node, dist FROM d3) u GROUP BY 1)
         SELECT node, CAST(dist AS BIGINT) AS dist FROM d4
         ORDER BY dist, node LIMIT 20""",
    // zero-filled hour spine so lags align empty hours too; integer moment
    // sums, one rounded Pearson per lag
    "q_cross_corr" ->
      """WITH ev AS (SELECT event_type,
             epoch_ns(ts) // 3600000000000 AS h FROM events
           WHERE event_type IN ('click', 'view')),
         b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM ev),
         spine AS (SELECT unnest(range(lo, hi + 1)) AS h FROM b),
         cx AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n FROM ev
           WHERE event_type = 'click' GROUP BY 1),
         cy AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n FROM ev
           WHERE event_type = 'view' GROUP BY 1),
         x AS (SELECT spine.h, COALESCE(cx.n, 0) AS x FROM spine
           LEFT JOIN cx ON spine.h = cx.h),
         y AS (SELECT spine.h, COALESCE(cy.n, 0) AS y FROM spine
           LEFT JOIN cy ON spine.h = cy.h),
         lags AS (SELECT unnest(range(-3, 4)) AS lag),
         p AS (SELECT l.lag, x.x, y.y FROM x CROSS JOIN lags l
           JOIN y ON x.h + l.lag = y.h),
         m AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS DECIMAL(28,0)) * y) AS sxy,
             SUM(CAST(x AS DECIMAL(28,0)) * x) AS sxx,
             SUM(CAST(y AS DECIMAL(28,0)) * y) AS syy
           FROM p GROUP BY 1)
         SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
           round(CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
             sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE) *
               CAST(n_pairs * syy - sy * sy AS DOUBLE)), 9) AS xcorr
         FROM m ORDER BY lag""",
    // day-spine rolling window (30 rows/month) — RANGE frame over the
    // integer day index on both sides; burns are single long/long IEEE
    // divisions. Shared with the streaming drain q_stream_slo.
    "q_slo_burn" -> sloBurnOracle,
    "q_stream_slo" -> sloBurnOracle,
    // per-user micro-unit sums -> exact decimal moments (the q_cross_corr
    // widening); theta and the adjusted means are computed from UNROUNDED
    // doubles on both sides, rounding applies only at the output
    "q_cuped" ->
      """WITH ev AS (SELECT user_id,
             epoch_ns(ts) // 86400000000000 AS day_idx,
             CASE WHEN event_type = 'purchase'
               THEN CAST(round(value * 1000000) AS BIGINT)
               ELSE 0 END AS v_mu
           FROM events),
         b AS (SELECT (MIN(day_idx) + MAX(day_idx) + 1) // 2 AS mid FROM ev),
         pu AS (SELECT user_id,
             CAST(SUM(CASE WHEN day_idx < mid THEN v_mu ELSE 0 END)
               AS BIGINT) AS x,
             CAST(SUM(CASE WHEN day_idx >= mid THEN v_mu ELSE 0 END)
               AS BIGINT) AS y
           FROM ev CROSS JOIN b GROUP BY 1),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS DECIMAL(28,0)) * y) AS sxy,
             SUM(CAST(x AS DECIMAL(28,0)) * x) AS sxx
           FROM pu),
         v AS (SELECT user_id % 2 AS variant,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(x) AS BIGINT) AS vx, CAST(SUM(y) AS BIGINT) AS vy
           FROM pu GROUP BY 1),
         j AS (SELECT variant, n_users,
             CAST(n * sxy - CAST(sx AS DECIMAL(28,0)) * sy AS DOUBLE) /
               CAST(n * sxx - CAST(sx AS DECIMAL(28,0)) * sx AS DOUBLE)
               AS theta,
             CAST(vx AS DOUBLE) / 1e6 / CAST(n_users AS DOUBLE) AS mean_pre,
             CAST(vy AS DOUBLE) / 1e6 / CAST(n_users AS DOUBLE) AS mean_post,
             CAST(sx AS DOUBLE) / 1e6 / CAST(n AS DOUBLE) AS mean_pre_all
           FROM v CROSS JOIN m)
         SELECT CAST(variant AS BIGINT) AS variant, n_users,
           round(mean_pre, 6) AS mean_pre,
           round(mean_post, 6) AS mean_post,
           round(theta, 6) AS theta,
           round(mean_post - theta * (mean_pre - mean_pre_all), 6)
             AS mean_adjusted
         FROM j ORDER BY variant""",
    // prefix-sum SSE scan: daily sums are exact integer cents, so every
    // cost operand is an exactly-represented double and the argmin
    // compares bit-identical IEEE values on both engines
    "q_changepoint" ->
      """WITH daily AS (SELECT event_type,
             epoch_ns(ts) // 86400000000000 AS day_idx,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
           FROM events GROUP BY 1, 2),
         d2 AS (SELECT *, v * v AS vv FROM daily),
         c AS (SELECT *,
             CAST(COUNT(*) OVER cum AS BIGINT) AS k,
             CAST(SUM(v) OVER cum AS BIGINT) AS sx_l,
             CAST(SUM(vv) OVER cum AS BIGINT) AS sxx_l,
             CAST(COUNT(*) OVER alltype AS BIGINT) AS n_tot,
             CAST(SUM(v) OVER alltype AS BIGINT) AS sx_tot,
             CAST(SUM(vv) OVER alltype AS BIGINT) AS sxx_tot
           FROM d2 WINDOW
             cum AS (PARTITION BY event_type ORDER BY day_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             alltype AS (PARTITION BY event_type)),
         s AS (SELECT *,
             (CAST(sxx_l AS DOUBLE) -
               CAST(sx_l AS DOUBLE) * CAST(sx_l AS DOUBLE) /
                 CAST(k AS DOUBLE)) +
             (CAST(sxx_tot - sxx_l AS DOUBLE) -
               CAST(sx_tot - sx_l AS DOUBLE) * CAST(sx_tot - sx_l AS DOUBLE) /
                 CAST(n_tot - k AS DOUBLE)) AS cost
           FROM c WHERE k < n_tot),
         r AS (SELECT *, row_number() OVER (
             PARTITION BY event_type ORDER BY cost, day_idx) AS rn FROM s)
         SELECT event_type,
           strftime(make_timestamp(day_idx * 86400000000), '%Y-%m-%d')
             AS split_day,
           k AS n_left, n_tot - k AS n_right,
           round(CAST(sx_l AS DOUBLE) / 100.0 / CAST(k AS DOUBLE), 6)
             AS mean_left,
           round(CAST(sx_tot - sx_l AS DOUBLE) / 100.0 /
             CAST(n_tot - k AS DOUBLE), 6) AS mean_right,
           round(cost / 10000.0, 4) AS sse
         FROM r WHERE rn = 1 ORDER BY event_type""",
    // welch-style exact decimal moments -> closed-form 2x2 inverse; d²
    // rounded at 1e-6 BEFORE the top-k cut, keys break residual ties
    "q_mahalanobis" ->
      """WITH r AS (SELECT l_orderkey,
             CAST(l_linenumber AS BIGINT) AS l_linenumber,
             CAST(l_quantity AS DECIMAL(18,2)) AS x,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS y
           FROM lineitem),
         m0 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy FROM r),
         m AS (SELECT sx / n AS mx, sy / n AS my,
             (sxx - sx * sx / n) / (n - 1) AS vx,
             (syy - sy * sy / n) / (n - 1) AS vy,
             (sxy - sx * sy / n) / (n - 1) AS cxy FROM m0),
         d AS (SELECT r.l_orderkey, r.l_linenumber,
             CAST(r.x AS DOUBLE) - m.mx AS dx,
             CAST(r.y AS DOUBLE) - m.my AS dy,
             m.vx, m.vy, m.cxy,
             m.vx * m.vy - m.cxy * m.cxy AS det
           FROM r CROSS JOIN m)
         SELECT l_orderkey, l_linenumber,
           round((dx * dx * vy - 2.0 * dx * dy * cxy + dy * dy * vx) / det,
             6) AS d2
         FROM d ORDER BY d2 DESC, l_orderkey, l_linenumber LIMIT 15""",
    // the oracle resolves the same decimal-prefix forest with a recursive
    // CTE — a different closure algorithm than the engine's level loop
    "q_hierarchy_flatten" ->
      """WITH RECURSIVE pc AS (SELECT c.c_custkey AS id, p.c_custkey AS parent
           FROM customer c LEFT JOIN customer p
           ON p.c_custkey = c.c_custkey // 10 AND p.c_custkey <> c.c_custkey),
         walk AS (
           SELECT id, id AS root, CAST(0 AS BIGINT) AS depth FROM pc
           WHERE parent IS NULL
           UNION ALL
           SELECT pc.id, w.root, w.depth + 1 FROM pc
           JOIN walk w ON pc.parent = w.id)
         SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(COUNT(DISTINCT root) AS BIGINT) AS n_roots
         FROM walk GROUP BY 1 ORDER BY 1""",
    // per feature: domain-collapsed counts, cumsum window, one rounded
    // Gini per candidate threshold, ranked-window argmax (vs the
    // engine's min(struct)) — the boosting weak learner, engine-exact
    "q_decision_stump" ->
      """WITH b AS (SELECT feature, v, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS np FROM (
             SELECT 'l_quantity' AS feature,
               CAST(l_quantity AS DECIMAL(18,2)) AS v,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
             FROM lineitem
             UNION ALL SELECT 'l_discount',
               CAST(l_discount AS DECIMAL(18,2)),
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem
             UNION ALL SELECT 'l_tax', CAST(l_tax AS DECIMAL(18,2)),
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
             FROM lineitem) u
           GROUP BY 1, 2),
         s AS (SELECT feature, v,
             SUM(n) OVER w AS nl, SUM(np) OVER w AS pl,
             SUM(n) OVER (PARTITION BY feature) AS nt,
             SUM(np) OVER (PARTITION BY feature) AS pt
           FROM b WINDOW w AS (PARTITION BY feature ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         g AS (SELECT feature, v, nl, pl, nt - nl AS nr, pt - pl AS pr,
             round((CAST(nl AS DOUBLE) / CAST(nt AS DOUBLE)) * (1.0
                 - (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
                   * (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
                 - (CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE))
                   * (CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE)))
               + (CAST(nt - nl AS DOUBLE) / CAST(nt AS DOUBLE)) * (1.0
                 - (CAST(pt - pl AS DOUBLE) / CAST(nt - nl AS DOUBLE))
                   * (CAST(pt - pl AS DOUBLE) / CAST(nt - nl AS DOUBLE))
                 - (CAST((nt - nl) - (pt - pl) AS DOUBLE)
                     / CAST(nt - nl AS DOUBLE))
                   * (CAST((nt - nl) - (pt - pl) AS DOUBLE)
                     / CAST(nt - nl AS DOUBLE))), 9) AS gini
           FROM s WHERE nl < nt),
         r AS (SELECT feature, v, gini, nl, pl, nr, pr, row_number() OVER (
             PARTITION BY feature ORDER BY gini ASC, v ASC) AS rn FROM g)
         SELECT feature, CAST(v AS DOUBLE) AS threshold, gini,
           (pl * 2 > nl) AS left_predicts_pos,
           (pr * 2 > nr) AS right_predicts_pos
         FROM r WHERE rn = 1 ORDER BY feature""",
    // AUC through the Mann-Whitney identity U1/(n1·n2), doubled-rank
    // integer domain; one double division at the end
    "q_score_auc" ->
      """WITH d AS (SELECT
             round(least(CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), ' +')) END AS DOUBLE)
                 / 100.0, 1.0) * 0.4
               + CAST(len(list_distinct(string_split_regex(trim(text), ' +')))
                   AS DOUBLE) / len(string_split_regex(trim(text), ' +'))
                 * 0.4
               + least((CAST(len(trim(text))
                   - (len(string_split_regex(trim(text), ' +')) - 1)
                   AS DOUBLE) / len(string_split_regex(trim(text), ' +')))
                 / 10.0, 1.0) * 0.2, 9) AS v,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           FROM documents),
         b AS (SELECT v, CAST(SUM(y) AS BIGINT) AS c1,
             CAST(SUM(1 - y) AS BIGINT) AS c2 FROM d GROUP BY 1),
         t AS (SELECT c1, c2, COALESCE(SUM(c2) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS less2
           FROM b),
         s AS (SELECT CAST(SUM(c1) AS BIGINT) AS n_pos,
             CAST(SUM(c2) AS BIGINT) AS n_neg,
             SUM(CAST(c1 AS DECIMAL(28,0)) * (2 * less2 + c2)) AS u2x
           FROM t)
         SELECT n_pos, n_neg,
           CAST(u2x AS DOUBLE) / 2.0 /
             (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc
         FROM s""",
    // U computed in the doubled-rank integer domain (2U1 = Σ c1·(2·cum2+c2))
    // so tie midranks never touch a float; DECIMAL products guard overflow
    "q_mannwhitney" ->
      """WITH bv AS (SELECT l_quantity AS v,
             CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS c1,
             CAST(COUNT(*) FILTER (WHERE l_returnflag = 'A') AS BIGINT) AS c2
           FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1),
         t AS (SELECT c1, c2,
             COALESCE(SUM(c2) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS less2,
             c1 + c2 AS tie
           FROM bv),
         s AS (SELECT
             CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
             SUM(CAST(c1 AS DECIMAL(28,0)) * (2 * less2 + c2)) AS u2x,
             SUM(CAST(tie AS DECIMAL(28,0)) * tie * tie - tie) AS tie3
           FROM t)
         SELECT n1, n2, CAST(u2x AS DOUBLE) / 2.0 AS u1,
           round((CAST(u2x AS DOUBLE) / 2.0
               - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0) /
             sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
               (CAST(n1 + n2 + 1 AS DOUBLE) - CAST(tie3 AS DOUBLE) /
                 (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))),
             9) AS z
         FROM s""",
    // KS supremum located on the INTEGER |cum1·n2 - cum2·n1| domain — the
    // max position cannot be perturbed by float ECDF rounding
    "q_ks_test" ->
      """WITH bv AS (SELECT o_totalprice AS v,
             CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS c1,
             CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS c2
           FROM orders WHERE o_orderstatus IN ('F', 'O') GROUP BY 1),
         c AS (SELECT
             SUM(c1) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
             SUM(c2) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
             SUM(c1) OVER () AS t1, SUM(c2) OVER () AS t2
           FROM bv)
         SELECT CAST(MAX(t1) AS BIGINT) AS n1, CAST(MAX(t2) AS BIGINT) AS n2,
           CAST(MAX(abs(CAST(cum1 AS DECIMAL(28,0)) * t2
             - CAST(cum2 AS DECIMAL(28,0)) * t1)) AS BIGINT) AS dnum,
           CAST(MAX(abs(CAST(cum1 AS DECIMAL(28,0)) * t2
             - CAST(cum2 AS DECIMAL(28,0)) * t1)) AS DOUBLE) /
             (CAST(MAX(t1) AS DOUBLE) * CAST(MAX(t2) AS DOUBLE)) AS d
         FROM c""",
    // concordance counts are integers off the aggregated supplier frame;
    // tau-b is the only float, rounded far above ulp
    "q_kendall_tau" ->
      """WITH rev AS (SELECT l_suppkey AS sk,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
           FROM lineitem GROUP BY 1),
         per AS (SELECT s_suppkey AS id,
             CAST(s_acctbal AS DECIMAL(18,2)) AS x,
             COALESCE(rev, CAST(0 AS DECIMAL(18,2))) AS y
           FROM supplier LEFT JOIN rev ON s_suppkey = sk),
         p AS (SELECT
             CAST(SUM(CASE WHEN (a.x < b.x AND a.y < b.y)
               OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END) AS BIGINT)
               AS concordant,
             CAST(SUM(CASE WHEN (a.x < b.x AND a.y > b.y)
               OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END) AS BIGINT)
               AS discordant,
             CAST(SUM(CASE WHEN a.x = b.x AND a.y <> b.y THEN 1 ELSE 0 END)
               AS BIGINT) AS tie_x,
             CAST(SUM(CASE WHEN a.x <> b.x AND a.y = b.y THEN 1 ELSE 0 END)
               AS BIGINT) AS tie_y
           FROM per a JOIN per b ON a.id < b.id)
         SELECT concordant, discordant, tie_x, tie_y,
           round(CAST(concordant - discordant AS DOUBLE) /
             sqrt(CAST(concordant + discordant + tie_x AS DOUBLE) *
               CAST(concordant + discordant + tie_y AS DOUBLE)), 9) AS tau_b
         FROM p""",
    "q_fd_audit" ->
      """WITH u AS (
           SELECT 'o_orderkey -> o_custkey' AS fd,
             CAST(o_orderkey AS VARCHAR) AS k, CAST(o_custkey AS VARCHAR) AS d
           FROM orders
           UNION ALL SELECT 'o_custkey -> o_orderpriority',
             CAST(o_custkey AS VARCHAR), o_orderpriority FROM orders
           UNION ALL SELECT 'l_orderkey -> l_partkey',
             CAST(l_orderkey AS VARCHAR), CAST(l_partkey AS VARCHAR)
           FROM lineitem
           UNION ALL SELECT 'l_partkey -> l_suppkey',
             CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR)
           FROM lineitem
           UNION ALL SELECT 'c_nationkey -> c_mktsegment',
             CAST(c_nationkey AS VARCHAR), c_mktsegment FROM customer),
         g AS (SELECT fd, k, COUNT(DISTINCT d) AS nd FROM u GROUP BY 1, 2)
         SELECT fd, CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(MAX(nd) AS BIGINT) AS max_fanout,
           (SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0) AS holds
         FROM g GROUP BY fd ORDER BY fd""",
    // greedy admission in (rounded quality desc, doc_id) order under an
    // integer token cumsum; budget = half the corpus tokens (integer div)
    "q_token_budget" ->
      """WITH d AS (SELECT doc_id, source,
             CASE WHEN len(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), ' +')) END AS n_tokens,
             round(
               least(CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), ' +')) END AS DOUBLE)
                   / 100.0, 1.0) * 0.4
               + CAST(len(list_distinct(string_split_regex(trim(text), ' +')))
                   AS DOUBLE) / len(string_split_regex(trim(text), ' +')) * 0.4
               + least((CAST(len(trim(text))
                   - (len(string_split_regex(trim(text), ' +')) - 1) AS DOUBLE)
                   / len(string_split_regex(trim(text), ' +'))) / 10.0, 1.0)
                 * 0.2, 9) AS q
           FROM documents),
         c AS (SELECT source, n_tokens, q,
             SUM(n_tokens) OVER (ORDER BY q DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM d),
         b AS (SELECT SUM(n_tokens) // 2 AS budget FROM d)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sel_tokens, MIN(q) AS min_quality
         FROM c, b WHERE cum <= budget GROUP BY source ORDER BY source""",
    // hour-aligned incidents make interval overlap an equi-join on the
    // hour key: h ∈ [s div H, e div H] ⟺ [s,e] ∩ [hH,(h+1)H) ≠ ∅
    "q_interval_overlap" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_ns(ts) AS ts_ns
           FROM events),
         g AS (SELECT user_id, event_id, ts_ns,
             CASE WHEN lag(ts_ns) OVER w IS NULL
                 OR ts_ns - lag(ts_ns) OVER w > 1800000000000
               THEN 1 ELSE 0 END AS brk
           FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
         s AS (SELECT user_id, ts_ns,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM g),
         sess AS (SELECT user_id, sid,
             MIN(ts_ns) AS s_ns, MAX(ts_ns) AS e_ns FROM s GROUP BY 1, 2),
         h AS (SELECT ts_ns // 3600000000000 AS h, CAST(COUNT(*) AS BIGINT)
             AS n FROM ev GROUP BY 1),
         st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(n) AS BIGINT) AS total FROM h),
         inc AS (SELECT h.h FROM h, st
           WHERE 2 * h.n * st.n_hours > 3 * st.total),
         hit AS (SELECT DISTINCT s2.user_id, s2.sid FROM sess s2 JOIN inc i
           ON i.h BETWEEN s2.s_ns // 3600000000000
             AND s2.e_ns // 3600000000000)
         SELECT sess.user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN hit.sid IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_incident_sessions
         FROM sess LEFT JOIN hit
           ON sess.user_id = hit.user_id AND sess.sid = hit.sid
         GROUP BY sess.user_id
         HAVING SUM(CASE WHEN hit.sid IS NOT NULL THEN 1 ELSE 0 END) > 0
         ORDER BY sess.user_id""",
    // list(... ORDER BY bucket) + list_sum = the same sequential fold as
    // the engine's sorted-array aggregate — double sum order pinned on
    // both sides
    "q_jackknife_ci" ->
      """WITH b AS (SELECT o_orderkey % 10 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS nb,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sb FROM orders
           GROUP BY 1),
         tot AS (SELECT CAST(SUM(nb) AS BIGINT) AS n, SUM(sb) AS s FROM b),
         th AS (SELECT b.bucket,
             CAST(tot.s - b.sb AS DOUBLE) / CAST(tot.n - b.nb AS DOUBLE)
               AS theta FROM b, tot),
         f AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb2,
             list_sum(list(theta ORDER BY bucket)) AS sum_t,
             list_sum(list(theta * theta ORDER BY bucket)) AS sum_t2
           FROM th),
         g AS (SELECT
             (SELECT CAST(s AS DOUBLE) / n FROM tot) AS mean_price,
             round(sqrt(((nb2 - 1) / CAST(nb2 AS DOUBLE)) *
               (sum_t2 - sum_t * sum_t / nb2)), 6) AS se_jack FROM f)
         SELECT mean_price, se_jack,
           round(mean_price - 1.96 * se_jack, 4) AS ci_lo,
           round(mean_price + 1.96 * se_jack, 4) AS ci_hi FROM g""",
    // three PageRank rounds unrolled as chained CTEs; integer micro-unit
    // arithmetic makes the iterative engine loop and this closed form
    // value-identical
    "q_pagerank" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             FROM lineitem),
         e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
             FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
         r0 AS (SELECT src AS node, 1000000000 // n AS r FROM deg, nn),
         s1 AS (SELECT e.dst AS node,
             150000000 // nn.n + SUM((r.r * 85) // (100 * d.d)) AS r
           FROM e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src, nn
           GROUP BY e.dst, nn.n),
         s2 AS (SELECT e.dst AS node,
             150000000 // nn.n + SUM((r.r * 85) // (100 * d.d)) AS r
           FROM e JOIN s1 r ON e.src = r.node JOIN deg d ON e.src = d.src, nn
           GROUP BY e.dst, nn.n),
         s3 AS (SELECT e.dst AS node,
             150000000 // nn.n + SUM((r.r * 85) // (100 * d.d)) AS r
           FROM e JOIN s2 r ON e.src = r.node JOIN deg d ON e.src = d.src, nn
           GROUP BY e.dst, nn.n)
         SELECT node AS part, CAST(r AS BIGINT) AS rank FROM s3
         ORDER BY part""",
    // three synchronous label-propagation rounds unrolled; the engine's
    // min(struct(-count, label)) reduction must equal the windowed
    // (count DESC, label) argmax round for round
    "q_label_prop" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             FROM lineitem),
         e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
             FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
         c1 AS (SELECT e.dst, l.lbl, COUNT(*) AS c
           FROM e JOIN l0 l ON e.src = l.node GROUP BY 1, 2),
         l1 AS (SELECT dst AS node, lbl FROM (
           SELECT dst, lbl, row_number() OVER (
             PARTITION BY dst ORDER BY c DESC, lbl) AS rn FROM c1)
           WHERE rn = 1),
         c2 AS (SELECT e.dst, l.lbl, COUNT(*) AS c
           FROM e JOIN l1 l ON e.src = l.node GROUP BY 1, 2),
         l2 AS (SELECT dst AS node, lbl FROM (
           SELECT dst, lbl, row_number() OVER (
             PARTITION BY dst ORDER BY c DESC, lbl) AS rn FROM c2)
           WHERE rn = 1),
         c3 AS (SELECT e.dst, l.lbl, COUNT(*) AS c
           FROM e JOIN l2 l ON e.src = l.node GROUP BY 1, 2),
         l3 AS (SELECT dst AS node, lbl FROM (
           SELECT dst, lbl, row_number() OVER (
             PARTITION BY dst ORDER BY c DESC, lbl) AS rn FROM c3)
           WHERE rn = 1)
         SELECT node AS part, lbl AS community FROM l3 ORDER BY part""",
    // same three unrolled rounds, then the exact-integer Newman
    // decomposition: q_num = internal·2m − deg_sum² over two_m²
    "q_modularity" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             FROM lineitem),
         e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
             FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
         c1 AS (SELECT e.dst, l.lbl, COUNT(*) AS c
           FROM e JOIN l0 l ON e.src = l.node GROUP BY 1, 2),
         l1 AS (SELECT dst AS node, lbl FROM (
           SELECT dst, lbl, row_number() OVER (
             PARTITION BY dst ORDER BY c DESC, lbl) AS rn FROM c1)
           WHERE rn = 1),
         c2 AS (SELECT e.dst, l.lbl, COUNT(*) AS c
           FROM e JOIN l1 l ON e.src = l.node GROUP BY 1, 2),
         l2 AS (SELECT dst AS node, lbl FROM (
           SELECT dst, lbl, row_number() OVER (
             PARTITION BY dst ORDER BY c DESC, lbl) AS rn FROM c2)
           WHERE rn = 1),
         c3 AS (SELECT e.dst, l.lbl, COUNT(*) AS c
           FROM e JOIN l2 l ON e.src = l.node GROUP BY 1, 2),
         l3 AS (SELECT dst AS node, lbl FROM (
           SELECT dst, lbl, row_number() OVER (
             PARTITION BY dst ORDER BY c DESC, lbl) AS rn FROM c3)
           WHERE rn = 1),
         d AS (SELECT CAST(COUNT(*) AS BIGINT) AS dd FROM e),
         j AS (SELECT ls.lbl AS community, e.src AS src, lt.lbl AS lt
           FROM e JOIN l3 ls ON e.src = ls.node
                  JOIN l3 lt ON e.dst = lt.node),
         per AS (SELECT community,
             CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes,
             CAST(SUM(CASE WHEN lt = community THEN 1 ELSE 0 END)
               AS BIGINT) AS internal_edges,
             CAST(COUNT(*) AS BIGINT) AS deg_sum
           FROM j GROUP BY 1)
         SELECT community, n_nodes, internal_edges, deg_sum,
           CAST(internal_edges * d.dd - deg_sum * deg_sum AS BIGINT)
             AS q_num,
           d.dd AS two_m
         FROM per, d ORDER BY community""",
    // three BFS frontiers unrolled as NOT-IN chained CTEs; the engine's
    // anti-join frontier loop must produce the same min-hop assignment
    "q_bfs_hops" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             FROM lineitem),
         e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
             FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         s AS (SELECT MIN(src) AS seed FROM e),
         h0 AS (SELECT seed AS node FROM s),
         h1 AS (SELECT DISTINCT e.dst AS node FROM e
           JOIN h0 ON e.src = h0.node
           WHERE e.dst NOT IN (SELECT node FROM h0)),
         h2 AS (SELECT DISTINCT e.dst AS node FROM e
           JOIN h1 ON e.src = h1.node
           WHERE e.dst NOT IN (SELECT node FROM h0
             UNION ALL SELECT node FROM h1)),
         h3 AS (SELECT DISTINCT e.dst AS node FROM e
           JOIN h2 ON e.src = h2.node
           WHERE e.dst NOT IN (SELECT node FROM h0
             UNION ALL SELECT node FROM h1 UNION ALL SELECT node FROM h2))
         SELECT node AS part, CAST(0 AS BIGINT) AS hop FROM h0
         UNION ALL SELECT node, CAST(1 AS BIGINT) FROM h1
         UNION ALL SELECT node, CAST(2 AS BIGINT) FROM h2
         UNION ALL SELECT node, CAST(3 AS BIGINT) FROM h3
         ORDER BY part""",
    // triangle census: same degree-(d, id) orientation, wedge at the
    // lowest-ranked apex, chord semi-join; exact ints + one rounded ratio
    "q_triangle_count" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             FROM lineitem),
         und AS (SELECT DISTINCT a.pk AS s, b.pk AS t
             FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM
             (SELECT s AS n FROM und UNION ALL SELECT t FROM und)
           GROUP BY 1),
         ori AS (SELECT
             CASE WHEN ds.d < dt.d OR (ds.d = dt.d AND und.s < und.t)
               THEN und.s ELSE und.t END AS u,
             CASE WHEN ds.d < dt.d OR (ds.d = dt.d AND und.s < und.t)
               THEN und.t ELSE und.s END AS v,
             CASE WHEN ds.d < dt.d OR (ds.d = dt.d AND und.s < und.t)
               THEN dt.d ELSE ds.d END AS dv
           FROM und JOIN deg ds ON und.s = ds.n
                    JOIN deg dt ON und.t = dt.n),
         wedges AS (SELECT a.v AS u, b.v AS v FROM ori a JOIN ori b
           ON a.u = b.u AND (a.dv < b.dv OR (a.dv = b.dv AND a.v < b.v))),
         tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
           FROM wedges w WHERE EXISTS (SELECT 1 FROM ori
             WHERE ori.u = w.u AND ori.v = w.v)),
         sums AS (SELECT
             CAST(COUNT(DISTINCT n) AS BIGINT) AS n_nodes,
             CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS open FROM deg),
         cnts AS (SELECT
             CAST((SELECT COUNT(*) FROM und) AS BIGINT) AS n_edges,
             CAST((SELECT COUNT(*) FROM wedges) AS BIGINT) AS n_wedges)
         SELECT sums.n_nodes, cnts.n_edges, cnts.n_wedges,
             tri.n_triangles,
             round(tri.n_triangles * 3.0 / sums.open, 9) AS clustering
         FROM sums, cnts, tri""",
    // k-core ladder: the iterative peel unrolled as 4 MATERIALIZED rounds
    // per k (the co-purchase graph's peel depth is 0-1; extra rounds are
    // no-op filters). MATERIALIZED is load-bearing: each round references
    // its predecessor three times, and DuckDB's default CTE inlining would
    // expand the chain exponentially. Cores are nested, so each k peels
    // the previous k's survivors — same ladder as the engine.
    "q_kcore" ->
      """WITH b AS MATERIALIZED (SELECT l_orderkey AS ok,
             list(DISTINCT l_partkey) AS ps FROM lineitem GROUP BY 1),
         e0 AS MATERIALIZED (SELECT DISTINCT a.pk AS src, c.pk AS dst
           FROM (SELECT ok, unnest(ps) AS pk FROM b) a
           JOIN (SELECT ok, unnest(ps) AS pk FROM b) c USING (ok)
           WHERE a.pk <> c.pk),
         e2_0 AS MATERIALIZED (SELECT src, dst FROM e0
           WHERE src IN (SELECT src FROM e0 GROUP BY src HAVING COUNT(*) >= 2)
             AND dst IN (SELECT src FROM e0 GROUP BY src HAVING COUNT(*) >= 2)),
         e2_1 AS MATERIALIZED (SELECT src, dst FROM e2_0
           WHERE src IN (SELECT src FROM e2_0 GROUP BY src HAVING COUNT(*) >= 2)
             AND dst IN (SELECT src FROM e2_0 GROUP BY src HAVING COUNT(*) >= 2)),
         e2_2 AS MATERIALIZED (SELECT src, dst FROM e2_1
           WHERE src IN (SELECT src FROM e2_1 GROUP BY src HAVING COUNT(*) >= 2)
             AND dst IN (SELECT src FROM e2_1 GROUP BY src HAVING COUNT(*) >= 2)),
         e2_3 AS MATERIALIZED (SELECT src, dst FROM e2_2
           WHERE src IN (SELECT src FROM e2_2 GROUP BY src HAVING COUNT(*) >= 2)
             AND dst IN (SELECT src FROM e2_2 GROUP BY src HAVING COUNT(*) >= 2)),
         e4_0 AS MATERIALIZED (SELECT src, dst FROM e2_3
           WHERE src IN (SELECT src FROM e2_3 GROUP BY src HAVING COUNT(*) >= 4)
             AND dst IN (SELECT src FROM e2_3 GROUP BY src HAVING COUNT(*) >= 4)),
         e4_1 AS MATERIALIZED (SELECT src, dst FROM e4_0
           WHERE src IN (SELECT src FROM e4_0 GROUP BY src HAVING COUNT(*) >= 4)
             AND dst IN (SELECT src FROM e4_0 GROUP BY src HAVING COUNT(*) >= 4)),
         e4_2 AS MATERIALIZED (SELECT src, dst FROM e4_1
           WHERE src IN (SELECT src FROM e4_1 GROUP BY src HAVING COUNT(*) >= 4)
             AND dst IN (SELECT src FROM e4_1 GROUP BY src HAVING COUNT(*) >= 4)),
         e4_3 AS MATERIALIZED (SELECT src, dst FROM e4_2
           WHERE src IN (SELECT src FROM e4_2 GROUP BY src HAVING COUNT(*) >= 4)
             AND dst IN (SELECT src FROM e4_2 GROUP BY src HAVING COUNT(*) >= 4)),
         e8_0 AS MATERIALIZED (SELECT src, dst FROM e4_3
           WHERE src IN (SELECT src FROM e4_3 GROUP BY src HAVING COUNT(*) >= 8)
             AND dst IN (SELECT src FROM e4_3 GROUP BY src HAVING COUNT(*) >= 8)),
         e8_1 AS MATERIALIZED (SELECT src, dst FROM e8_0
           WHERE src IN (SELECT src FROM e8_0 GROUP BY src HAVING COUNT(*) >= 8)
             AND dst IN (SELECT src FROM e8_0 GROUP BY src HAVING COUNT(*) >= 8)),
         e8_2 AS MATERIALIZED (SELECT src, dst FROM e8_1
           WHERE src IN (SELECT src FROM e8_1 GROUP BY src HAVING COUNT(*) >= 8)
             AND dst IN (SELECT src FROM e8_1 GROUP BY src HAVING COUNT(*) >= 8)),
         e8_3 AS MATERIALIZED (SELECT src, dst FROM e8_2
           WHERE src IN (SELECT src FROM e8_2 GROUP BY src HAVING COUNT(*) >= 8)
             AND dst IN (SELECT src FROM e8_2 GROUP BY src HAVING COUNT(*) >= 8))
         SELECT * FROM (
           SELECT CAST(2 AS BIGINT) AS k,
             CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes,
             CAST(COUNT(*) // 2 AS BIGINT) AS n_edges FROM e2_3
           UNION ALL
           SELECT CAST(4 AS BIGINT), CAST(COUNT(DISTINCT src) AS BIGINT),
             CAST(COUNT(*) // 2 AS BIGINT) FROM e4_3
           UNION ALL
           SELECT CAST(8 AS BIGINT), CAST(COUNT(DISTINCT src) AS BIGINT),
             CAST(COUNT(*) // 2 AS BIGINT) FROM e8_3)
         ORDER BY k""",
    // skipping audit: same morton grid + pk-sorted grid, same hash
    // probe sample, exact bound checks
    "q_skipping_audit" ->
      """WITH k AS (SELECT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
         s0 AS (SELECT pk, sk, pk & 2147483647 AS x,
             sk & 2147483647 AS y FROM k),
         s1 AS (SELECT pk, sk, (x | (x << 16)) & 281470681808895 AS x,
             (y | (y << 16)) & 281470681808895 AS y FROM s0),
         s2 AS (SELECT pk, sk, (x | (x << 8)) & 71777214294589695 AS x,
             (y | (y << 8)) & 71777214294589695 AS y FROM s1),
         s3 AS (SELECT pk, sk, (x | (x << 4)) & 1085102592571150095 AS x,
             (y | (y << 4)) & 1085102592571150095 AS y FROM s2),
         s4 AS (SELECT pk, sk, (x | (x << 2)) & 3689348814741910323 AS x,
             (y | (y << 2)) & 3689348814741910323 AS y FROM s3),
         s5 AS (SELECT pk, sk, (x | (x << 1)) & 6148914691236517205 AS x,
             (y | (y << 1)) & 6148914691236517205 AS y FROM s4),
         m AS (SELECT pk, sk, x | (y << 1) AS z FROM s5),
         mx AS (SELECT MAX(z) AS zmax FROM m),
         zb AS (SELECT z // ((zmax // 32) + 1) AS bucket,
             MIN(pk) AS min_pk, MAX(pk) AS max_pk,
             MIN(sk) AS min_sk, MAX(sk) AS max_sk
           FROM m, mx GROUP BY 1),
         px AS (SELECT MAX(pk) AS pmax FROM k),
         pb AS (SELECT pk // ((pmax // 32) + 1) AS bucket,
             MIN(pk) AS min_pk, MAX(pk) AS max_pk,
             MIN(sk) AS min_sk, MAX(sk) AS max_sk
           FROM k, px GROUP BY 1),
         probes AS (SELECT DISTINCT pk, sk FROM k
           WHERE (pk * 31 + sk) % 211 = 0),
         sprobes AS (SELECT DISTINCT sk FROM k WHERE sk % 7 = 0),
         za AS (SELECT 'zorder' AS layout, 'point' AS probe,
             CAST(COUNT(*) AS BIGINT) AS n_checks,
             CAST(SUM(CASE WHEN p.pk BETWEEN b.min_pk AND b.max_pk
               AND p.sk BETWEEN b.min_sk AND b.max_sk
               THEN 0 ELSE 1 END) AS BIGINT) AS n_skipped
           FROM probes p, zb b),
         zr AS (SELECT 'zorder' AS layout, 'sk_range' AS probe,
             CAST(COUNT(*) AS BIGINT) AS n_checks,
             CAST(SUM(CASE WHEN b.max_sk >= p.sk - 2
               AND b.min_sk <= p.sk + 2
               THEN 0 ELSE 1 END) AS BIGINT) AS n_skipped
           FROM sprobes p, zb b),
         pa AS (SELECT 'pk_sort' AS layout, 'point' AS probe,
             CAST(COUNT(*) AS BIGINT) AS n_checks,
             CAST(SUM(CASE WHEN p.pk BETWEEN b.min_pk AND b.max_pk
               AND p.sk BETWEEN b.min_sk AND b.max_sk
               THEN 0 ELSE 1 END) AS BIGINT) AS n_skipped
           FROM probes p, pb b),
         pr AS (SELECT 'pk_sort' AS layout, 'sk_range' AS probe,
             CAST(COUNT(*) AS BIGINT) AS n_checks,
             CAST(SUM(CASE WHEN b.max_sk >= p.sk - 2
               AND b.min_sk <= p.sk + 2
               THEN 0 ELSE 1 END) AS BIGINT) AS n_skipped
           FROM sprobes p, pb b)
         SELECT layout, probe, n_checks, n_skipped,
           CAST(n_skipped AS DOUBLE) / CAST(n_checks AS DOUBLE) AS skip_frac
         FROM (SELECT * FROM za UNION ALL SELECT * FROM zr
           UNION ALL SELECT * FROM pa UNION ALL SELECT * FROM pr) u
         ORDER BY layout, probe""",
    // graph profile: same symmetric edge set; exact decimal moments, one
    // double division (no sqrt: the two degree marginals coincide)
    "q_graph_profile" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             FROM lineitem),
         e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
             FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d
           FROM e GROUP BY 1),
         j AS (SELECT ds.d AS x, dt.d AS y FROM e
           JOIN deg ds ON e.src = ds.src
           JOIN deg dt ON e.dst = dt.src),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
             CAST(MAX(x) AS BIGINT) AS max_degree,
             SUM(CAST(x AS DECIMAL(38,0))) AS sx,
             SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
             SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy FROM j),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
         SELECT nn.n_nodes, m.n_edges, m.max_degree,
           CAST(m.n_edges AS DOUBLE) / nn.n_nodes AS avg_degree,
           CAST(m.n_edges * m.sxy - m.sx * m.sx AS DOUBLE)
             / CAST(m.n_edges * m.sxx - m.sx * m.sx AS DOUBLE)
             AS assortativity
         FROM m, nn""",
    // z-order layout: the same 5-step magic-number Morton spread (31-bit
    // inputs, even/odd interleave) and equal-width z-bucket arithmetic
    "q_zorder_layout" ->
      """WITH k AS (SELECT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
         s0 AS (SELECT pk, sk, pk & 2147483647 AS x,
             sk & 2147483647 AS y FROM k),
         s1 AS (SELECT pk, sk, (x | (x << 16)) & 281470681808895 AS x,
             (y | (y << 16)) & 281470681808895 AS y FROM s0),
         s2 AS (SELECT pk, sk, (x | (x << 8)) & 71777214294589695 AS x,
             (y | (y << 8)) & 71777214294589695 AS y FROM s1),
         s3 AS (SELECT pk, sk, (x | (x << 4)) & 1085102592571150095 AS x,
             (y | (y << 4)) & 1085102592571150095 AS y FROM s2),
         s4 AS (SELECT pk, sk, (x | (x << 2)) & 3689348814741910323 AS x,
             (y | (y << 2)) & 3689348814741910323 AS y FROM s3),
         s5 AS (SELECT pk, sk, (x | (x << 1)) & 6148914691236517205 AS x,
             (y | (y << 1)) & 6148914691236517205 AS y FROM s4),
         m AS (SELECT pk, sk, x | (y << 1) AS z FROM s5),
         mx AS (SELECT MAX(z) AS zmax FROM m),
         b AS (SELECT pk, sk, z // ((zmax // 32) + 1) AS bucket FROM m, mx)
         SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
             MIN(pk) AS min_pk, MAX(pk) AS max_pk,
             MIN(sk) AS min_sk, MAX(sk) AS max_sk
         FROM b GROUP BY 1 ORDER BY 1""",
    // sparse doc×topic multiply: dictionaries re-derived (same df guard,
    // same top-k tie-break on word), exact decimal tf×weight sums
    "q_topic_scores" ->
      """WITH d AS (SELECT doc_id, source,
             string_split_regex(trim(lower(text)), ' +') AS w FROM documents),
         dw AS (SELECT doc_id, source, unnest(w) AS word FROM d),
         docw AS (SELECT DISTINCT doc_id, word FROM dw),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM d),
         hot AS (SELECT word FROM
           (SELECT word, COUNT(*) AS cdf FROM docw GROUP BY 1) c, tot
           WHERE c.cdf > tot.n_total * 0.5),
         sdf AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS df
           FROM (SELECT DISTINCT source, doc_id, word FROM dw) x
           WHERE word NOT IN (SELECT word FROM hot)
           GROUP BY 1, 2),
         topics AS (SELECT source AS topic, word,
             CAST(round(ln(1 + df), 9) AS DECIMAL(18,9)) AS weight,
             row_number() OVER (PARTITION BY source
               ORDER BY df DESC, word) AS rk
           FROM sdf),
         tf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
           FROM dw GROUP BY 1, 2),
         sc AS (SELECT tf.doc_id, topics.topic,
             SUM(tf.tf * topics.weight) AS score
           FROM tf JOIN topics ON tf.word = topics.word AND topics.rk <= 10
           GROUP BY 1, 2),
         best AS (SELECT doc_id, topic, score, row_number() OVER (
             PARTITION BY doc_id ORDER BY score DESC, topic) AS rk FROM sc)
         SELECT doc_id, topic, CAST(score AS DOUBLE) AS score FROM best
         WHERE rk = 1 ORDER BY doc_id""",
    // RAKE: same stopword delimiters, phrase cap, degree/freq word scores
    // rounded to decimal(28,9), phrase score an exact decimal sum
    "q_rake_keywords" ->
      """WITH d AS (SELECT doc_id, source,
             string_split_regex(trim(lower(text)), ' +') AS w FROM documents),
         tok AS (SELECT doc_id, source, i - 1 AS pos, w[i] AS word,
             CASE WHEN w[i] IN ('the', 'a') THEN 1 ELSE 0 END AS sw
           FROM d, unnest(range(1, len(w) + 1)) AS u(i)),
         ph AS (SELECT doc_id, source, pos, word, sw,
             SUM(sw) OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
           FROM tok),
         inst AS (SELECT doc_id, source, phrase_id, pos, word
           FROM ph WHERE sw = 0),
         plen AS (SELECT doc_id, source, phrase_id,
             CAST(COUNT(*) AS BIGINT) AS len,
             string_agg(word, ' ' ORDER BY pos) AS phrase
           FROM inst GROUP BY 1, 2, 3 HAVING COUNT(*) <= 4),
         wi AS (SELECT i.doc_id, i.source, i.phrase_id, i.word,
             p.len, p.phrase
           FROM inst i JOIN plen p USING (doc_id, source, phrase_id)),
         st AS (SELECT source, word,
             CAST(round(CAST(SUM(len) AS DOUBLE) / COUNT(*), 9)
               AS DECIMAL(28,9)) AS wscore
           FROM wi GROUP BY 1, 2),
         ps AS (SELECT wi.doc_id, wi.source, wi.phrase_id, wi.phrase,
             SUM(st.wscore) AS iscore
           FROM wi JOIN st ON wi.source = st.source AND wi.word = st.word
           GROUP BY 1, 2, 3, 4),
         agg AS (SELECT source, phrase,
             CAST(COUNT(*) AS BIGINT) AS n_occ, MAX(iscore) AS score
           FROM ps GROUP BY 1, 2),
         ranked AS (SELECT source, phrase, n_occ, score,
             row_number() OVER (PARTITION BY source
               ORDER BY score DESC, phrase) AS rk FROM agg)
         SELECT source, CAST(rk AS BIGINT) AS rk, phrase, n_occ,
             CAST(score AS DOUBLE) AS score
         FROM ranked WHERE rk <= 3 ORDER BY source, rk""",
    // PMI: same df-capped vocabulary, exact counts, ln rounded at 1e-9
    "q_pmi_pairs" ->
      """WITH d AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), ' +') AS w
           FROM documents),
         dw AS (SELECT DISTINCT doc_id, word FROM
           (SELECT doc_id, unnest(w) AS word FROM d) x),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
         dfx AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df
           FROM dw GROUP BY 1),
         vocab AS (SELECT word, df FROM dfx
           ORDER BY df DESC, word LIMIT 100),
         dwv AS (SELECT dw.doc_id, dw.word
           FROM dw JOIN vocab ON dw.word = vocab.word),
         p AS (SELECT a.word AS w1, b.word AS w2,
             CAST(COUNT(*) AS BIGINT) AS c_xy
           FROM dwv a JOIN dwv b
             ON a.doc_id = b.doc_id AND a.word < b.word
           GROUP BY 1, 2 HAVING COUNT(*) >= 5)
         SELECT p.w1, p.w2, p.c_xy,
             round(ln(CAST(p.c_xy AS DOUBLE) * tot.n
               / (d1.df * d2.df)), 9) AS pmi
         FROM p CROSS JOIN tot
           JOIN vocab d1 ON p.w1 = d1.word
           JOIN vocab d2 ON p.w2 = d2.word
         ORDER BY pmi DESC, w1, w2 LIMIT 25""",
    // BPE tokenize: the same three learned merges applied on the
    // vocabulary dimension, weighted by per-source occurrence counts
    "q_bpe_tokenize" ->
      """WITH wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
             SELECT unnest(string_split_regex(trim(lower(text)), ' +')) AS word
             FROM documents) x GROUP BY 1),
         s0 AS (SELECT word,
             array_to_string(string_split(word, ''), ' ') AS seq,
             freq FROM wf),
         p1 AS (SELECT sym[i] || ' ' || sym[i + 1] AS pair,
             CAST(SUM(freq) AS BIGINT) AS cnt
           FROM (SELECT string_split(seq, ' ') AS sym, freq FROM s0) y1,
             unnest(range(1, len(sym))) AS u1(i)
           GROUP BY 1),
         t1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
         s1 AS (SELECT word, trim(replace(' ' || seq || ' ',
             ' ' || t1.pair || ' ',
             ' ' || replace(t1.pair, ' ', '') || ' ')) AS seq, freq
           FROM s0, t1),
         p2 AS (SELECT sym[i] || ' ' || sym[i + 1] AS pair,
             CAST(SUM(freq) AS BIGINT) AS cnt
           FROM (SELECT string_split(seq, ' ') AS sym, freq FROM s1) y2,
             unnest(range(1, len(sym))) AS u2(i)
           GROUP BY 1),
         t2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
         s2 AS (SELECT word, trim(replace(' ' || seq || ' ',
             ' ' || t2.pair || ' ',
             ' ' || replace(t2.pair, ' ', '') || ' ')) AS seq, freq
           FROM s1, t2),
         p3 AS (SELECT sym[i] || ' ' || sym[i + 1] AS pair,
             CAST(SUM(freq) AS BIGINT) AS cnt
           FROM (SELECT string_split(seq, ' ') AS sym, freq FROM s2) y3,
             unnest(range(1, len(sym))) AS u3(i)
           GROUP BY 1),
         t3 AS (SELECT pair, cnt FROM p3 ORDER BY cnt DESC, pair LIMIT 1),
         s3 AS (SELECT word, trim(replace(' ' || seq || ' ',
             ' ' || t3.pair || ' ',
             ' ' || replace(t3.pair, ' ', '') || ' ')) AS seq, freq
           FROM s2, t3),
         seg AS (SELECT word,
             CAST(len(string_split(seq, ' ')) AS BIGINT) AS ntok FROM s3),
         sw AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS n FROM (
             SELECT source,
               unnest(string_split_regex(trim(lower(text)), ' +')) AS word
             FROM documents) x GROUP BY 1, 2)
         SELECT sw.source,
           CAST(SUM(sw.n) AS BIGINT) AS total_words,
           CAST(SUM(sw.n * len(sw.word)) AS BIGINT) AS total_chars,
           CAST(SUM(sw.n * seg.ntok) AS BIGINT) AS total_tokens,
           CAST(SUM(sw.n * len(sw.word)) AS DOUBLE)
             / CAST(SUM(sw.n * seg.ntok) AS DOUBLE) AS compression
         FROM sw JOIN seg ON sw.word = seg.word
         GROUP BY 1 ORDER BY 1""",
    // rank fusion: the bm25 chain + a tf-idf run, both ranked, fused
    // with fixed-arity 1/(rank+60) doubles
    "q_rank_fusion" ->
      """WITH d AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), ' +') AS w
           FROM documents),
         st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(w)) AS BIGINT) AS total_tokens FROM d),
         tfq AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf,
             CAST(MIN(len) AS BIGINT) AS len FROM (
               SELECT doc_id, CAST(len(w) AS BIGINT) AS len,
                 unnest(w) AS word FROM d) x
           WHERE word IN ('join', 'filter', 'window') GROUP BY 1, 2),
         dw AS (SELECT DISTINCT doc_id, word FROM
           (SELECT doc_id, unnest(w) AS word FROM d) x),
         dfq AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM dw
           WHERE word IN ('join', 'filter', 'window') GROUP BY 1),
         sc AS (SELECT tfq.doc_id,
             CAST(round(
               round(ln(1.0 + (CAST(st.n_docs AS DOUBLE) - dfq.df + 0.5)
                 / (dfq.df + 0.5)), 9)
               * (tfq.tf * 2.2) / (tfq.tf + 1.2 * (0.25 +
                 0.75 * CAST(tfq.len AS DOUBLE) /
                   (CAST(st.total_tokens AS DOUBLE)
                     / CAST(st.n_docs AS DOUBLE)))), 9)
               AS DECIMAL(28,9)) AS term_score
           FROM tfq JOIN dfq ON tfq.word = dfq.word CROSS JOIN st),
         b AS (SELECT doc_id, CAST(SUM(term_score) AS DOUBLE) AS score
           FROM sc GROUP BY 1),
         br AS (SELECT doc_id, CAST(row_number() OVER (
             ORDER BY score DESC, doc_id) AS BIGINT) AS r1 FROM b),
         ti AS (SELECT tfq2.doc_id, SUM(tfq2.tf * w.wgt) AS score
           FROM (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
               FROM (SELECT doc_id, unnest(w) AS word FROM d) x
               WHERE word IN ('join', 'filter', 'window')
               GROUP BY 1, 2) tfq2
             JOIN (SELECT dfq.word,
                 CAST(round(ln(CAST(st.n_docs AS DOUBLE) / dfq.df), 9)
                   AS DECIMAL(28,9)) AS wgt
               FROM dfq CROSS JOIN st) w ON tfq2.word = w.word
           GROUP BY 1),
         tr AS (SELECT doc_id, CAST(row_number() OVER (
             ORDER BY score DESC, doc_id) AS BIGINT) AS r2 FROM ti)
         SELECT doc_id, r1, r2,
           COALESCE(CAST(1 AS DOUBLE) / (r1 + 60), 0.0)
             + COALESCE(CAST(1 AS DOUBLE) / (r2 + 60), 0.0) AS rrf
         FROM br FULL OUTER JOIN tr USING (doc_id)
         ORDER BY rrf DESC, doc_id LIMIT 10""",
    // BPE merges: three unrolled count-argmax-replace rounds over the
    // same space-padded sequences
    "q_bpe_merges" ->
      """WITH wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
             SELECT unnest(string_split_regex(trim(lower(text)), ' +')) AS word
             FROM documents) x GROUP BY 1),
         s0 AS (SELECT array_to_string(string_split(word, ''), ' ') AS seq,
             freq FROM wf),
         p1 AS (SELECT sym[i] || ' ' || sym[i + 1] AS pair,
             CAST(SUM(freq) AS BIGINT) AS cnt
           FROM (SELECT string_split(seq, ' ') AS sym, freq FROM s0) y1,
             unnest(range(1, len(sym))) AS u1(i)
           GROUP BY 1),
         t1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
         s1 AS (SELECT trim(replace(' ' || seq || ' ', ' ' || t1.pair || ' ',
             ' ' || replace(t1.pair, ' ', '') || ' ')) AS seq, freq
           FROM s0, t1),
         p2 AS (SELECT sym[i] || ' ' || sym[i + 1] AS pair,
             CAST(SUM(freq) AS BIGINT) AS cnt
           FROM (SELECT string_split(seq, ' ') AS sym, freq FROM s1) y2,
             unnest(range(1, len(sym))) AS u2(i)
           GROUP BY 1),
         t2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
         s2 AS (SELECT trim(replace(' ' || seq || ' ', ' ' || t2.pair || ' ',
             ' ' || replace(t2.pair, ' ', '') || ' ')) AS seq, freq
           FROM s1, t2),
         p3 AS (SELECT sym[i] || ' ' || sym[i + 1] AS pair,
             CAST(SUM(freq) AS BIGINT) AS cnt
           FROM (SELECT string_split(seq, ' ') AS sym, freq FROM s2) y3,
             unnest(range(1, len(sym))) AS u3(i)
           GROUP BY 1),
         t3 AS (SELECT pair, cnt FROM p3 ORDER BY cnt DESC, pair LIMIT 1),
         s3 AS (SELECT trim(replace(' ' || seq || ' ', ' ' || t3.pair || ' ',
             ' ' || replace(t3.pair, ' ', '') || ' ')) AS seq, freq
           FROM s2, t3),
         r AS (SELECT CAST(1 AS BIGINT) AS round, pair,
             replace(pair, ' ', '') AS merged, cnt FROM t1
           UNION ALL SELECT 2, pair, replace(pair, ' ', ''), cnt FROM t2
           UNION ALL SELECT 3, pair, replace(pair, ' ', ''), cnt FROM t3)
         SELECT round, pair, merged, cnt FROM r ORDER BY round""",
    // BM25: same stats, idf and per-term score rounded at 1e-9, decimal
    // per-doc sum
    "q_bm25_search" ->
      """WITH d AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), ' +') AS w
           FROM documents),
         st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(w)) AS BIGINT) AS total_tokens FROM d),
         tfq AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf,
             CAST(MIN(len) AS BIGINT) AS len FROM (
               SELECT doc_id, CAST(len(w) AS BIGINT) AS len,
                 unnest(w) AS word FROM d) x
           WHERE word IN ('join', 'filter', 'window') GROUP BY 1, 2),
         dw AS (SELECT DISTINCT doc_id, word FROM
           (SELECT doc_id, unnest(w) AS word FROM d) x),
         dfq AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM dw
           WHERE word IN ('join', 'filter', 'window') GROUP BY 1),
         sc AS (SELECT tfq.doc_id,
             CAST(round(
               round(ln(1.0 + (CAST(st.n_docs AS DOUBLE) - dfq.df + 0.5)
                 / (dfq.df + 0.5)), 9)
               * (tfq.tf * 2.2) / (tfq.tf + 1.2 * (0.25 +
                 0.75 * CAST(tfq.len AS DOUBLE) /
                   (CAST(st.total_tokens AS DOUBLE)
                     / CAST(st.n_docs AS DOUBLE)))), 9)
               AS DECIMAL(28,9)) AS term_score
           FROM tfq JOIN dfq ON tfq.word = dfq.word CROSS JOIN st)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(term_score) AS DOUBLE) AS score
         FROM sc GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 15""",
    // inverted index: per-word stats + first-8-docs posting prefix
    "q_inverted_index" ->
      """WITH tf AS (SELECT word, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, unnest(
               string_split_regex(trim(lower(text)), ' +')) AS word
             FROM documents) x
           GROUP BY 1, 2),
         st AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(tf) AS BIGINT) AS tf_total FROM tf GROUP BY 1),
         rk AS (SELECT word, doc_id, row_number() OVER (
             PARTITION BY word ORDER BY doc_id) AS rn FROM tf),
         post AS (SELECT word, array_to_string(
             list_sort(list(doc_id)), ',') AS postings
           FROM rk WHERE rn <= 8 GROUP BY 1)
         SELECT st.word, st.df, st.tf_total, post.postings
         FROM st JOIN post ON st.word = post.word ORDER BY st.word""",
    // the span REWRITE: cut every merged duplicated range, fingerprint
    // the kept words (md5 over a single-space join — engine-identical);
    // covered positions replayed via a per-doc range join, kept order by
    // position so the string_agg matches Spark's array order exactly
    "q_span_rewrite" ->
      """WITH d AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), ' +') AS w FROM documents),
         g AS (SELECT doc_id, i - 1 AS s,
             array_to_string(w[i:i+7], ' ') AS gram
           FROM d, unnest(range(1, greatest(len(w) - 8, -1) + 2)) AS u(i)),
         shared AS (SELECT gram FROM g GROUP BY gram
           HAVING COUNT(DISTINCT doc_id) > 1),
         ds AS (SELECT g.doc_id, g.s, g.s + 7 AS e FROM g
           JOIN shared USING (gram)),
         brk AS (SELECT doc_id, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id
                 ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               -9223372036854775808) + 1 THEN 1 ELSE 0 END AS b
           FROM ds),
         isl AS (SELECT doc_id, s, e,
             SUM(b) OVER (PARTITION BY doc_id ORDER BY s) AS island
           FROM brk),
         sp AS (SELECT doc_id, island, MIN(s) AS s, MAX(e) AS e
           FROM isl GROUP BY doc_id, island),
         wp AS (SELECT doc_id, w[i] AS word, i - 1 AS pos
           FROM d, unnest(range(1, len(w) + 1)) AS u(i)),
         cov AS (SELECT DISTINCT wp.doc_id, wp.pos FROM wp
           JOIN sp ON wp.doc_id = sp.doc_id
             AND wp.pos BETWEEN sp.s AND sp.e),
         kept AS (SELECT wp.doc_id, wp.word, wp.pos FROM wp
           ANTI JOIN cov USING (doc_id, pos)),
         agg AS (SELECT doc_id,
             md5(string_agg(word, ' ' ORDER BY pos)) AS rewrite_md5,
             CAST(COUNT(*) AS BIGINT) AS kept_n
           FROM kept GROUP BY doc_id)
         SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_tokens,
           CAST(len(d.w) - COALESCE(agg.kept_n, 0) AS BIGINT) AS n_removed,
           COALESCE(agg.rewrite_md5, md5('')) AS rewrite_md5
         FROM d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""",
    // repeated 8-gram spans: same tokenization/gram construction as the
    // n-gram oracles; islands via the identical running-max window
    "q_dup_spans" ->
      """WITH d AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), ' +') AS w FROM documents),
         g AS (SELECT doc_id, i - 1 AS s,
             array_to_string(w[i:i+7], ' ') AS gram
           FROM d, unnest(range(1, greatest(len(w) - 8, -1) + 2)) AS u(i)),
         shared AS (SELECT gram FROM g GROUP BY gram
           HAVING COUNT(DISTINCT doc_id) > 1),
         ds AS (SELECT g.doc_id, g.s, g.s + 7 AS e FROM g
           JOIN shared USING (gram)),
         brk AS (SELECT doc_id, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id
                 ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               -9223372036854775808) + 1 THEN 1 ELSE 0 END AS b
           FROM ds),
         isl AS (SELECT doc_id, s, e,
             SUM(b) OVER (PARTITION BY doc_id ORDER BY s) AS island
           FROM brk),
         sp AS (SELECT doc_id, island, MAX(e) - MIN(s) + 1 AS span_len
           FROM isl GROUP BY doc_id, island),
         agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(span_len) AS BIGINT) AS dup_tokens FROM sp
           GROUP BY doc_id)
         SELECT d.doc_id,
           COALESCE(agg.n_spans, 0) AS n_spans,
           COALESCE(agg.dup_tokens, 0) AS dup_tokens,
           CAST(len(d.w) AS BIGINT) AS total_tokens,
           CAST(COALESCE(agg.dup_tokens, 0) AS DOUBLE) / len(d.w)
             AS dup_ratio
         FROM d LEFT JOIN agg USING (doc_id)
         ORDER BY d.doc_id""") ++
    // The TPC-H sweep texts are dual-dialect (same string runs in Spark SQL
    // and DuckDB), so the oracle IS the registered query — no drift possible.
    TpchSql.all
}
