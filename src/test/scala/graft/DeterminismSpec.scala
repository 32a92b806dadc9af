package graft

/** Partitioning-independence: the oracle hash-compare relies on results
  * being pure functions of the DATA, not of the cluster shape. Re-running
  * a spread of graded queries under a different shuffle-partition count
  * exercises different aggregation orders, exchange layouts, and AQE
  * decisions — any order-dependent float sum, nondeterministic tie-break,
  * or partition-sensitive sample would diverge here before the driver's
  * gate (or a real cluster) catches it.
  */
class DeterminismSpec extends SparkSuite {

  private val names = Seq(
    "q1_agg",             // exact decimal money sums
    "q_stats",            // variance/corr moment arithmetic
    "q_running_total",    // frame-window decimal sums
    "q_sample_stratified", // content-hash deterministic sampling
    "q_unigram_surprisal", // rounded-ln decimal sums
    "q_tfidf_top",        // decimal scoring + tie-broken ranking
    "q_fingerprint",      // hash grouping
    "q_dedup_exact",
    "q_source_kl",        // rounded-log KL decimal sums
    "q_mad",              // exact two-pass percentiles
    "q_label_centroids",  // vector_sum partial merges (exact int sums)
    "q_skew_salted_agg",  // two-phase salted decimal aggregation
    "q_gap_fill",         // spine windows + interpolation arithmetic
    "q_corr_matrix",      // multi-pair moment sums
    "q_bigram_surprisal", // vocab joins + rounded-log decimal scoring
    "q_doc_entropy",      // rounded-log2 decimal entropy sums
    "q_rfm_segments",     // percentile cuts + decimal segment sums
    "q_vocab_coverage",   // global top-k vocabulary tie-breaks
    "q_regression_trend", // closed-form OLS over decimal moments
    "q_zscore_outliers",  // broadcast moments + |z| ranking cutoffs
    "q_weighted_median",  // two-phase bucket walk, exact decimal compares
    "q_decile_lift",      // global ntile + cumulative decimal shares
    "q_time_weighted_avg", // decimal x microsecond products, rounded ratio
    "q_cusum",            // S_k - k*mean extremum selection
    "q_jaro_names",       // codegen'd float similarity + rounded threshold
    "q_ngram_novelty",    // first-occurrence MIN + exact ratios
    "q_spearman",         // tie-corrected ranks + integer moment sums
    "q_anomaly_iqr",      // decimal fences from exact percentiles
    "q_winsorize",        // decimal clamp sums
    "q_hhi_concentration", // share-squared decimal sums, rounded ratio
    "q_centroid_sim",     // fixed-point dot products, double sqrt/divide
    "q_zipf_slope",       // rounded-ln OLS moments
    "q_session_concurrency", // global sweep total order
    "q_snapshot_diff",    // scale-4 exact deltas over a full outer join
    "q_assoc_rules",      // integer-ratio measures + tie-broken top-k
    "q_forecast_backtest", // rounded-decimal MAPE means
    "q_embed_outliers",   // rounded-decimal top-k means, isolation order
    "q_rolling_median",   // windowed exact percentile over decimal series
    "q_dedup_threshold_curve", // threshold lattice over the exact pair list
    "q_fulfillment_latency",   // exact integer-day percentiles
    "q_range_join_auto",  // optimizer-banded join, order-free counts
    "q_sql_q1",           // exact decimal factor products, double surfacing
    "q_sql_q8",           // conditional decimal share over a 7-join tree
    "q_sql_q17",          // correlated scalar subquery, decimal avg ratio
    "q_pagerank",         // integer micro-unit rank sums, order-free
    "q_pareto_front",     // skyline over exact aggregate coordinates
    "q_jackknife_ci",     // pinned-order sequential theta fold
    "q_dup_spans",        // island windows over integer positions
    "q_window_distinct",  // exact distinct counts per covering day
    "q_kaplan_meier",     // decimal running ln-sum survival curve
    "q_dedup_incremental", // exact gram-set jaccard vs broadcast batch
    "q_item_cf",          // exact-count cosine, bounded_topk tie-breaks
    "q_multi_regression", // Cramer solve over exact decimal moments
    "q_bfs_hops",         // frontier anti-joins over integer hops
    "q_entity_resolution", // blocked jaro + min-label + struct survivor
    "q_rolling_corr",     // windowed exact moments, rounded composite
    "q_asof_forward",     // union-sort forward pick, integer tiebreaks
    "q_topic_scores",     // decimal tf×weight sums, tie-broken argmax
    "q_rake_keywords",    // decimal word-score sums, tie-broken top-k
    "q_pmi_pairs",        // exact counts, rounded-ln ranking
    "q_triangle_count",   // exact integer census + one rounded ratio
    "q_inverted_index",   // rank-capped posting prefixes
    "q_zorder_layout",    // bitwise morton keys, equal-width buckets
    "q_power_iteration",  // integer matvec rounds, exact-decimal norm
    "q_mix_temperature",  // decimal weights, integer product-div alloc
    "q_holt_smoothing",   // pinned-order sequential double fold
    "q_stl_anomalies",    // integer micro-unit trend/seasonal math
    "q_bm25_search",      // rounded idf, decimal per-doc score sums
    "q_graph_profile",    // exact decimal moments, one double division
    "q_bpe_merges",       // exact pair counts, lexicographic argmax
    "q_bpe_tokenize",     // vocab-dimension segmentation counts
    "q_coreset_kcenter",  // exact fixed-point farthest-point rounds
    "q_skipping_audit",   // integer bound checks over bucket stats
    "q_rank_fusion",      // exact ranks, fixed-arity rrf doubles
    "q_dedup_agreement",  // integer cosine threshold vs exact jaccard
    "q_label_prop",       // integer count argmax, min-label ties
    "q_modularity",       // exact-integer Newman decomposition
    "q_mannwhitney",      // doubled-rank integer U, one rounded z
    "q_ks_test",          // integer ECDF cross-product supremum
    "q_kendall_tau",      // integer concordance counts off aggregates
    "q_fd_audit",         // exact distinct-fanout counts
    "q_token_budget",     // rounded-quality greedy cut, integer cumsum
    "q_interval_overlap", // hour-banded equi-join overlap counts
    "q_kcore",            // iterative peel fixpoint, integer census
    "q_hierarchy_flatten", // pointer-jumping closure, integer depths
    "q_sssp",             // integer Bellman-Ford rounds, total-order cut
    "q_cross_corr",       // spine-aligned integer moments, rounded r
    "q_mahalanobis",      // decimal moments, rounded-d² top-k
    "q_lr_train",         // micro-unit integer gradient sums per GD round
    "q_lr_calibration",   // pinned-σ reliability bins
    "q_nb_confusion",     // rounded-ln decimal scores, struct argmax
    "q_assign_ids",       // two-pass offsets == global rank, any boundaries
    "q_decision_stump",   // domain-window Gini, rounded argmax split
    "q_score_auc",        // doubled-rank integer U -> one division
    "q_simhash_portable", // md5-vote integer fingerprints, capped buckets
    "q_knn_lsh_portable", // integer micro-unit band codes, exact cosine
    "q_ann_recall",       // composition of two deterministic rankings
    "q_k_anonymity",      // exact integer class census per k
    "q_cohens_kappa",     // integer kappa form, one division
    "q_dedup_pipeline",   // exact->near->cluster funnel, integer census
    "q_markov_attribution", // micro-unit chain, truncated value iteration
    "q_shapley_attribution", // exact coalition sweep, integer 24th-sums
    "q_emd_drift",        // integer CDF-difference numerators
    "q_multimodal_dedup", // byte-level payload hash census
    "q_hash_split",       // md5-prefix thresholds, pure function of bytes
    "q_mlm_mask",         // md5(doc_id:pos) masks, identity-pure
    "q_levene",           // integer half-cent medians, decimal moments
    "q_wilcoxon",         // doubled-integer midranks
    "q_moments",          // decimal power sums, pinned algebra
    "q_dim_stats",        // milli-unit vector_sum folds
    "q_mutual_info",      // decimal-pinned log2 cell terms
    "q_adamic_adar",      // pinned-ln integer micro-nat weights
    "q_rec_eval",         // integer co-counts, ranked tiebreaks
    "q_rec_ndcg",         // decimal-literal discounts, exact DCG sums
    "q_embed_drift",      // integer milli2-norm histogram
    "q_surprisal_curve",  // decimal surprisal sums, pinned cutoffs
    "q_paired_ttest",     // pinned per-pair diffs, decimal moments
    "q_permutation_test", // md5-parity draws, exact integer p ratio
    "q_qq_drift",         // type-1 order statistics, integer ranks
    "q_isotonic_calibration", // integer prefix pools, minimax on exact rates
    "q_importance_weights",   // md5 buckets, micro-nat pinned log-ratios
    "q_kneser_ney",       // rational KN terms, exact integer numerators
    "q_poisson_bootstrap", // md5-uniform CDF inversion, exact replica sums
    "q_weighted_sample",  // pinned -ln(u) micro-nats, IEEE key division
    "q_pr_auc",           // pinned total order, decimal precision sums
    "q_brier_decomp",     // micro-unit forecasts, exact integer moments
    "q_mmd_drift",        // nano-unit kernel, exact integer pair sums
    "q_good_turing",      // exact count-of-count ratios
    "q_vocab_chao1",      // exact type counts, one IEEE division
    "q_propensity_match", // integer lexicographic nearest match
    "q_qini_curve",       // ceiling-rank deciles, exact cumulative cents
    "q_var_cvar",         // type-1 rank pick, exact cents, one division
    "q_holt_winters",     // sequential HOF fold, pinned IEEE order
    "q_rec_mrr",          // integer first-rank pick, decimal reciprocals
    "q_rec_map",          // lcm-cleared integer AP numerators
    "q_tukey_hsd",        // decimal moments, composite floats rounded
    "q_cronbach_alpha",   // integer count moments, one division
    "q_growth_accounting", // lag/lead classification, integer cells
    "q_textrank",         // integer micro-unit weighted PageRank
    "q_kmv_distinct",     // md5 order statistics, two IEEE estimator ops
    "q_mcnemar",          // integer contingency cells, one division
    "q_hosmer_lemeshow",  // decimal-pinned HL terms, exact 10-term sum
    "q_cohens_d",         // decimal arm moments, rounded effect chain
    "q_page_hinkley",     // decimal-pinned running sums, earliest-tie argmax
    "q_dow_hour_heatmap", // epoch-integer cells, one division each
    "q_span_alignments",  // md5-gram diag islands, integer run lengths
    "q_span_rewrite",     // HOF range cut, md5 fingerprint of kept words
    "q_mix_doremi",       // decimal surprisal sums, broadcast ln(T)
    "q_mix_schedule",     // integer floor allocation off the mix frame
    "q_dedup_manifest",   // verdict-frame actions, md5 span accounting
    "q_contamination")    // broadcast eval-gram probe, integer counts

  test("graded results are identical under a different shuffle partitioning") {
    val original = spark.conf.get("spark.sql.shuffle.partitions")
    val baseline = names.map(n =>
      n -> SparkEntry.queries(n)(spark, sfDir).collect().toSeq).toMap
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      names.foreach { n =>
        val again = SparkEntry.queries(n)(spark, sfDir).collect().toSeq
        assert(again == baseline(n), s"$n diverged under repartitioning")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", original)
  }
}
