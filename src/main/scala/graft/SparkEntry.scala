package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7.
  *
  * Every operator from SURVEY §2 (reference parity) and the extended
  * 100 TB analytics surface gets one entry in `queries` and, when
  * ANSI-SQL-expressible deterministically, a matching DuckDB oracle in
  * `oracleSql`. Column aliases match exactly between the two (the
  * driver sorts columns by name before hashing). Determinism rules
  * (FIXTURES.md): decimal-cast big float sums, round(.,6) small-frame
  * window means and dot products, unique-key ORDER BY everywhere, no
  * uuid()/current_timestamp() in outputs.
  */
object SparkEntry {

  /** Flagship: the whole reference hot path (normalize → clean → SMA →
    * alerts) on sf0.001; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    RefPipeline.pipeline(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- Reference parity (SURVEY §2.1-2.3, financial_engine.py) ----
    "ref_normalize_union" -> ((s, dir) =>
      RefPipeline.normalizeUnion(s, dir)
        .orderBy("id")),

    "ref_clean" -> ((s, dir) =>
      RefPipeline.clean(
        Tables.events(s, dir).select(
          col("event_id").as("id"),
          col("value").as("price"),
          get_json_object(col("props"), "$.k").cast("bigint").as("volume")))
        .orderBy("id")),

    "ref_sma" -> ((s, dir) =>
      RefPipeline.movingAverage(
        Tables.events(s, dir).select(
          col("event_id").as("id"),
          col("user_id").as("symbol"),
          col("value").as("price")),
        n = 5)
        .orderBy("id")),

    "ref_alerts" -> ((s, dir) =>
      RefPipeline.alerts(
        RefPipeline.movingAverage(
          Tables.events(s, dir).select(
            col("event_id").as("id"),
            col("user_id").as("symbol"),
            col("value").as("price")),
          n = 5),
        threshold = 108.0)
        .orderBy("id")),

    "ref_pipeline" -> ((s, dir) =>
      RefPipeline.pipeline(s, dir)
        .orderBy("id")),

    // ---- Extended analytics (SURVEY §2.3-2.7 absent categories, §7 step 3) ----
    "x_pricing_summary"    -> ((s, dir) => Analytics.pricingSummary(s, dir)),
    "x_top_revenue_orders" -> ((s, dir) => Analytics.topRevenueOrders(s, dir)),
    "x_disjunctive_rev"    -> ((s, dir) => Analytics.disjunctiveRevenue(s, dir)),
    "x_equidepth_hist"     -> ((s, dir) => Analytics.equidepthHistogram(s, dir)),
    "x_brand_volume"       -> ((s, dir) => Analytics.brandVolume(s, dir)),
    "x_order_priority"     -> ((s, dir) => Analytics.orderPriorityCount(s, dir)),
    "x_join_semi"          -> ((s, dir) => Analytics.customersWithOrders(s, dir)),
    "x_join_anti"          -> ((s, dir) => Analytics.customersWithoutOrders(s, dir)),
    "x_topk_per_supplier"  -> ((s, dir) => Analytics.topkPerSupplier(s, dir)),
    "x_topk_agg"           -> ((s, dir) => Analytics.topkPerSupplierAgg(s, dir)),
    "x_rollup"             -> ((s, dir) => Analytics.returnFlagRollup(s, dir)),
    "x_cube"               -> ((s, dir) => Analytics.orderStatusCube(s, dir)),
    "x_hourly_events"      -> ((s, dir) => Analytics.hourlyEventAgg(s, dir)),
    "x_cohort_retention"   -> ((s, dir) => Analytics.cohortRetention(s, dir)),
    "x_event_funnel"       -> ((s, dir) => Analytics.eventFunnel(s, dir)),
    "x_funnel_timing"      -> ((s, dir) => Analytics.funnelTiming(s, dir)),
    "x_ship_delay"         -> ((s, dir) => Analytics.shipDelay(s, dir)),
    "x_kcore_peel"         -> ((s, dir) => Graphs.kCorePeel(s, dir)),
    "x_assortativity"      -> ((s, dir) => Graphs.assortativity(s, dir)),
    "x_kanon"              -> ((s, dir) => Analytics.kAnonSuppression(s, dir)),
    "x_regional_revenue"   -> ((s, dir) => Analytics.regionalRevenue(s, dir)),
    "x_nation_trade"       -> ((s, dir) => Analytics.nationTrade(s, dir)),
    "x_market_basket"      -> ((s, dir) => Analytics.marketBasket(s, dir)),
    "x_triangles"          -> ((s, dir) => Graphs.triangleCount(s, dir)),
    "x_pagerank"           -> ((s, dir) => Graphs.pageRank(s, dir)),
    "x_ema"                -> ((s, dir) => Analytics.emaPerUser(s, dir)),
    "x_ohlc_bars"          -> ((s, dir) => Finance.ohlcBars(s, dir)),
    "x_vwap"               -> ((s, dir) => Finance.vwap(s, dir)),
    "x_volatility"         -> ((s, dir) => Finance.logReturnVolatility(s, dir)),
    "x_autocorr"           -> ((s, dir) => Finance.autocorr(s, dir)),
    "x_drawdown"           -> ((s, dir) => Finance.maxDrawdown(s, dir)),
    "x_rsi"                -> ((s, dir) => Finance.rsi(s, dir)),
    "x_bollinger"          -> ((s, dir) => Finance.bollinger(s, dir)),
    "x_macd"               -> ((s, dir) => Finance.macd(s, dir)),
    "x_stochastic"         -> ((s, dir) => Finance.stochastic(s, dir)),
    "x_sharpe"             -> ((s, dir) => Finance.sharpe(s, dir)),
    "x_beta"               -> ((s, dir) => Finance.beta(s, dir)),
    "x_obv"                -> ((s, dir) => Finance.obv(s, dir)),
    "x_regr_trend"         -> ((s, dir) => Finance.regrTrend(s, dir)),
    "x_cusum"              -> ((s, dir) => Finance.cusum(s, dir)),
    "x_kaplan_meier"       -> ((s, dir) => Analytics.kaplanMeier(s, dir)),
    "x_local_cc"           -> ((s, dir) => Graphs.localClustering(s, dir)),
    "x_link_predict"       -> ((s, dir) => Graphs.linkPrediction(s, dir)),
    "x_moments"            -> ((s, dir) => Finance.moments(s, dir)),
    "x_ewma_vol"           -> ((s, dir) => Finance.ewmaVolatility(s, dir)),
    "x_var_hist"           -> ((s, dir) => Finance.historicalVar(s, dir)),
    "x_amihud"             -> ((s, dir) => Finance.amihudIlliquidity(s, dir)),
    "x_underwater"         -> ((s, dir) => Finance.underwaterSpells(s, dir)),
    "x_eigencentrality"    -> ((s, dir) => Graphs.eigenCentrality(s, dir)),
    "x_waiting_suppliers"  -> ((s, dir) => Analytics.waitingSuppliers(s, dir)),
    "x_custdist"           -> ((s, dir) => Analytics.custDistribution(s, dir)),
    "x_atr"                -> ((s, dir) => Finance.atr(s, dir)),
    "x_donchian"           -> ((s, dir) => Finance.donchianBreakouts(s, dir)),
    "x_aroon"              -> ((s, dir) => Finance.aroon(s, dir)),
    "x_sortino"            -> ((s, dir) => Finance.sortino(s, dir)),
    "x_ulcer"              -> ((s, dir) => Finance.ulcerIndex(s, dir)),
    "x_parkinson"          -> ((s, dir) => Finance.parkinson(s, dir)),
    "x_streaks"            -> ((s, dir) => Finance.directionStreaks(s, dir)),
    "x_hhi"                -> ((s, dir) => Analytics.revenueConcentration(s, dir)),
    "x_mfi"                -> ((s, dir) => Finance.mfi(s, dir)),
    "x_cmf"                -> ((s, dir) => Finance.chaikinMoneyFlow(s, dir)),
    "x_cci"                -> ((s, dir) => Finance.cci(s, dir)),
    "x_williams_r"         -> ((s, dir) => Finance.williamsR(s, dir)),
    "x_ichimoku"           -> ((s, dir) => Finance.ichimoku(s, dir)),
    "x_keltner"            -> ((s, dir) => Finance.keltner(s, dir)),
    "x_vortex"             -> ((s, dir) => Finance.vortex(s, dir)),
    "x_cmo"                -> ((s, dir) => Finance.chandeMomentum(s, dir)),
    "x_force_index"        -> ((s, dir) => Finance.forceIndex(s, dir)),
    "x_calmar"             -> ((s, dir) => Finance.calmar(s, dir)),
    "x_variance_ratio"     -> ((s, dir) => Finance.varianceRatio(s, dir)),
    "x_ppr"                -> ((s, dir) => Graphs.personalizedPageRank(s, dir)),
    "x_js_sources"         -> ((s, dir) => CorpusOps.jsBetweenSources(s, dir)),
    "x_trix"               -> ((s, dir) => Finance.trix(s, dir)),
    "x_readability"        -> ((s, dir) => TextAnalysis.readability(s, dir)),
    "x_emb_anisotropy"     -> ((s, dir) => Similarity.embAnisotropy(s, dir)),
    "x_theil_sen"          -> ((s, dir) => Finance.theilSen(s, dir)),
    "x_roll_spread"        -> ((s, dir) => Finance.rollSpread(s, dir)),
    "x_dow_effect"         -> ((s, dir) => Finance.dowEffect(s, dir)),
    "x_ks_lengths"         -> ((s, dir) => CorpusOps.ksLengths(s, dir)),
    "x_hurst"              -> ((s, dir) => Finance.hurst(s, dir)),
    "x_rich_club"          -> ((s, dir) => Graphs.richClub(s, dir)),
    "x_burstiness"         -> ((s, dir) => TextAnalysis.burstiness(s, dir)),
    "x_abc_classes"        -> ((s, dir) => Analytics.abcClasses(s, dir)),
    "x_ldiversity"         -> ((s, dir) => Analytics.lDiversity(s, dir)),
    "x_centroid_sim"       -> ((s, dir) => Similarity.centroidSim(s, dir)),
    "x_dow_anova"          -> ((s, dir) => Finance.dowAnova(s, dir)),
    "x_markov_entropy"     -> ((s, dir) => Analytics.markovEntropy(s, dir)),
    "x_hill_diversity"     -> ((s, dir) => CorpusOps.hillDiversity(s, dir)),
    "x_novelty_curve"      -> ((s, dir) => CorpusOps.noveltyCurve(s, dir)),
    "x_kyle_lambda"        -> ((s, dir) => Finance.kyleLambda(s, dir)),
    "x_acf_profile"        -> ((s, dir) => Finance.acfProfile(s, dir)),
    "x_spearman"           -> ((s, dir) => Stats.spearman(s, dir)),
    "x_kendall_tau"        -> ((s, dir) => Stats.kendallTau(s, dir)),
    "x_mann_whitney"       -> ((s, dir) => Stats.mannWhitney(s, dir)),
    "x_welch_t"            -> ((s, dir) => Stats.welchT(s, dir)),
    "x_chi_square"         -> ((s, dir) => Stats.chiSquare(s, dir)),
    "x_tcloseness"         -> ((s, dir) => Stats.tCloseness(s, dir)),
    "x_adx"                -> ((s, dir) => Finance.adxDmi(s, dir)),
    "x_dpo"                -> ((s, dir) => Finance.dpo(s, dir)),
    "x_elder_ray"          -> ((s, dir) => Finance.elderRay(s, dir)),
    "x_omega"              -> ((s, dir) => Finance.omegaRatio(s, dir)),
    "x_pain_index"         -> ((s, dir) => Finance.painIndex(s, dir)),
    "x_coppock"            -> ((s, dir) => Finance.coppock(s, dir)),
    "x_treynor"            -> ((s, dir) => Finance.treynor(s, dir)),
    "x_ra_link"            -> ((s, dir) => Graphs.resourceAllocation(s, dir)),
    "x_ndcg"               -> ((s, dir) => Similarity.knnIvfNdcg(s, dir)),
    "x_gopher_rules"       -> ((s, dir) => TextAnalysis.gopherRules(s, dir)),
    "x_ams_f2"             -> ((s, dir) => Analytics.amsF2(s, dir)),
    "x_forecast_revenue"   -> ((s, dir) => Analytics.forecastRevenue(s, dir)),
    "x_kruskal_wallis"     -> ((s, dir) => Stats.kruskalWallis(s, dir)),
    "x_jarque_bera"        -> ((s, dir) => Finance.jarqueBera(s, dir)),
    "x_page_hinkley"       -> ((s, dir) => Finance.pageHinkley(s, dir)),
    "x_media_dhash"        -> ((s, dir) => Multimodal.dhashNearDup(s, dir)),
    "x_ljung_box"          -> ((s, dir) => Finance.ljungBox(s, dir)),
    "x_ljung_box_daily"    -> ((s, dir) => Finance.ljungBoxDaily(s, dir)),
    "x_tick_imbalance"     -> ((s, dir) => Finance.tickImbalance(s, dir)),
    "x_vpin"               -> ((s, dir) => Finance.vpin(s, dir)),
    "x_dp_release"         -> ((s, dir) => Analytics.dpRelease(s, dir)),
    "x_sax_motifs"         -> ((s, dir) => Finance.saxMotifs(s, dir)),
    "x_xi_correlation"     -> ((s, dir) => Stats.xiCorrelation(s, dir)),
    "x_cohens_kappa"       -> ((s, dir) => TextAnalysis.cohensKappa(s, dir)),
    "x_emb_mmd"            -> ((s, dir) => Similarity.embMmd(s, dir)),
    "x_theil_index"        -> ((s, dir) => Analytics.theilIndex(s, dir)),
    "x_brown_forsythe"     -> ((s, dir) => Analytics.brownForsythe(s, dir)),
    "x_runs_test"          -> ((s, dir) => Stats.runsTest(s, dir)),
    "x_ols_pricing"        -> ((s, dir) => Analytics.olsPricing(s, dir)),
    "x_communities"        -> ((s, dir) => Graphs.communities(s, dir)),
    "x_jaccard_link"       -> ((s, dir) => Graphs.jaccardLink(s, dir)),
    "x_hits"               -> ((s, dir) => Graphs.hits(s, dir)),
    "x_bfs_hops"           -> ((s, dir) => Graphs.bfsLevels(s, dir)),
    "x_lexical_profile"    -> ((s, dir) => TextAnalysis.lexicalProfile(s, dir)),
    "x_bloom_audit"        -> ((s, dir) => Analytics.bloomAudit(s, dir)),
    "x_promo_share"        -> ((s, dir) => Analytics.promoRevenueShare(s, dir)),
    "x_returned_customers" -> ((s, dir) => Analytics.returnedItemCustomers(s, dir)),
    "x_top_supplier"       -> ((s, dir) => Analytics.topRevenueSupplier(s, dir)),
    "x_min_cost_supplier"  -> ((s, dir) => Analytics.minCostSupplier(s, dir)),
    "x_small_qty_revenue"  -> ((s, dir) => Analytics.smallQtyBrandRevenue(s, dir)),
    "x_balance_no_orders"  -> ((s, dir) => Analytics.balanceNoOrders(s, dir)),
    "x_market_share"       -> ((s, dir) => Analytics.nationMarketShare(s, dir)),
    "x_profit_by_nation"   -> ((s, dir) => Analytics.profitByNation(s, dir)),
    "x_important_stock"    -> ((s, dir) => Analytics.importantStock(s, dir)),
    "x_supplier_parts"     -> ((s, dir) => Analytics.supplierPartCounts(s, dir)),
    "x_large_orders"       -> ((s, dir) => Analytics.largeQtyOrders(s, dir)),
    "x_dominant_suppliers" -> ((s, dir) => Analytics.dominantSuppliers(s, dir)),
    "x_benford"            -> ((s, dir) => Finance.benfordDigits(s, dir)),
    "x_rfm"                -> ((s, dir) => Analytics.rfmSegments(s, dir)),
    "x_attribution"        -> ((s, dir) => Analytics.lastTouchAttribution(s, dir)),
    "x_attribution_linear" -> ((s, dir) => Analytics.linearAttribution(s, dir)),
    "x_profile"            -> ((s, dir) => Analytics.columnProfile(s, dir)),
    "x_mad_outliers"       -> ((s, dir) => Analytics.madOutliers(s, dir)),
    "x_gini"               -> ((s, dir) => Analytics.giniSpend(s, dir)),
    "x_skyline"            -> ((s, dir) => Analytics.customerSkyline(s, dir)),
    "x_reorder_gap"        -> ((s, dir) => Analytics.reorderIntervals(s, dir)),
    "x_transition_matrix"  -> ((s, dir) => Analytics.transitionMatrix(s, dir)),
    "x_weighted_sample"    -> ((s, dir) => CorpusOps.weightedSample(s, dir)),
    "x_mutual_info"        -> ((s, dir) => Analytics.mutualInfo(s, dir)),
    "x_json_props"         -> ((s, dir) => Analytics.jsonPropsAgg(s, dir)),
    "x_running_spend"      -> ((s, dir) => Analytics.runningCustomerSpend(s, dir)),
    "x_value_bands"        -> ((s, dir) => Analytics.valueBandJoin(s, dir)),
    "x_value_bands_arith"  -> ((s, dir) => Analytics.valueBandArithmetic(s, dir)),
    "x_hll_error"          -> ((s, dir) => Analytics.hllErrorAudit(s, dir)),
    "x_distinct_exact"     -> ((s, dir) => Analytics.distinctPartsExact(s, dir)),
    "x_join_left_outer"    -> ((s, dir) => Analytics.customerOrderSummary(s, dir)),
    "x_intersect"          -> ((s, dir) => Analytics.usersViewAndClick(s, dir)),
    "x_except"             -> ((s, dir) => Analytics.usersViewNoPurchase(s, dir)),
    "x_lead_lag"           -> ((s, dir) => Analytics.eventValueSteps(s, dir)),
    "x_percentiles"        -> ((s, dir) => Analytics.quantityPercentiles(s, dir)),
    "x_tdigest_error"      -> ((s, dir) => Analytics.tdigestErrorAudit(s, dir)),
    "x_orders_by_month"    -> ((s, dir) => Analytics.ordersByMonth(s, dir)),
    "x_salted_agg"         -> ((s, dir) => Analytics.saltedEventAgg(s, dir)),
    "x_skew_join"          -> ((s, dir) => Analytics.skewedJoinAgg(s, dir)),
    "x_zorder_skipping"    -> ((s, dir) => Analytics.zorderSkipping(s, dir)),
    "x_sessionize"         -> ((s, dir) => Analytics.sessionize(s, dir)),
    "x_window_funcs"       -> ((s, dir) => Analytics.orderRankStats(s, dir)),
    "x_string_funcs"       -> ((s, dir) => Analytics.customerNameFormats(s, dir)),
    "x_pivot"              -> ((s, dir) => Analytics.orderStatusPivot(s, dir)),
    "x_scalar_subquery"    -> ((s, dir) => Analytics.aboveAverageOrders(s, dir)),
    "x_union_distinct"     -> ((s, dir) => Analytics.activeUsers(s, dir)),
    "x_cond_agg"           -> ((s, dir) => Analytics.conditionalEventAgg(s, dir)),
    "x_stats_corr"         -> ((s, dir) => Analytics.priceQuantityStats(s, dir)),
    "x_array_funcs"        -> ((s, dir) => Similarity.embeddingArrayStats(s, dir)),
    "x_explode"            -> ((s, dir) => Similarity.embeddingLeadingDims(s, dir)),
    "x_json_map"           -> ((s, dir) => Analytics.jsonMapAgg(s, dir)),
    "x_asof_join"          -> ((s, dir) => AsOfJoin.clickEnrichedWithLastView(s, dir)),
    "x_asof_forward"       -> ((s, dir) => AsOfJoin.clickEnrichedWithNextView(s, dir)),
    "x_asof_tolerance"     -> ((s, dir) => AsOfJoin.clickEnrichedWithLastViewWithin(s, dir)),
    "x_top_movers"         -> ((s, dir) => Finance.topMovers(s, dir)),
    "x_pair_corr"          -> ((s, dir) => Finance.pairCorrelation(s, dir)),

    "x_range_frame"        -> ((s, dir) => Analytics.slidingHourValue(s, dir)),
    "x_latest_snapshot"    -> ((s, dir) => Analytics.latestSnapshot(s, dir)),
    "x_unpivot"            -> ((s, dir) => Analytics.returnFlagUnpivot(s, dir)),
    "x_share_of_total"     -> ((s, dir) => Analytics.orderShareOfCustomer(s, dir)),
    "x_minmax_by"          -> ((s, dir) => Analytics.orderExtremesByStatus(s, dir)),
    "x_grouping_sets"      -> ((s, dir) => Analytics.lineStatusGroupingSets(s, dir)),
    "x_regex_extract"      -> ((s, dir) => Analytics.propsRegexAgg(s, dir)),
    "x_date_arith"         -> ((s, dir) => Analytics.shipLatencyByPriority(s, dir)),
    "x_bool_agg"           -> ((s, dir) => Analytics.eventBoolAgg(s, dir)),
    "x_schema_drift"       -> ((s, dir) => Analytics.schemaDriftUnion(s, dir)),
    "x_join_full_outer"    -> ((s, dir) => Analytics.userFunnelReconciliation(s, dir)),
    "x_winsorize"          -> ((s, dir) => Analytics.winsorizedQuantity(s, dir)),
    "x_runtime_filter"     -> ((s, dir) => Analytics.runtimeFilteredRevenue(s, dir)),
    "x_scd2"               -> ((s, dir) => Analytics.scd2UserValue(s, dir)),
    "x_histogram"          -> ((s, dir) => Analytics.valueHistogram(s, dir)),
    "x_interval_join"      -> ((s, dir) => Analytics.viewToPurchaseWithinHour(s, dir)),
    "x_zscore_outliers"    -> ((s, dir) => Analytics.zscoreOutliers(s, dir)),
    "x_locf"               -> ((s, dir) => Analytics.hourlyValueLocf(s, dir)),
    "x_variant"            -> ((s, dir) => Analytics.variantPropsAgg(s, dir)),
    "x_lateral_topn"       -> ((s, dir) => Analytics.lateralTopOrder(s, dir)),
    "x_recursive_cte"      -> ((s, dir) => Analytics.managementChains(s, dir)),
    "x_safe_arith"         -> ((s, dir) => Analytics.safeArithmetic(s, dir)),
    "x_gap_fill"           -> ((s, dir) => Analytics.hourlyGapFill(s, dir)),
    "x_hopping_window"     -> ((s, dir) => Analytics.hoppingEventCounts(s, dir)),
    "x_not_in"             -> ((s, dir) => Analytics.customersNoBigOrders(s, dir)),
    "x_except_all"         -> ((s, dir) => Analytics.purchaseSurplus(s, dir)),
    "x_intersect_all"      -> ((s, dir) => Analytics.purchaseViewOverlap(s, dir)),

    // ---- LLM-data-pipeline surface (dedup / similarity / text / multimodal) ----
    "x_stratified_sample"  -> ((s, dir) => CorpusOps.stratifiedSample(s, dir)),
    "x_domain_cap"         -> ((s, dir) => CorpusOps.domainCap(s, dir)),
    "x_training_order"     -> ((s, dir) => CorpusOps.trainingOrder(s, dir)),
    "x_split_leakage"      -> ((s, dir) => CorpusOps.splitLeakage(s, dir)),
    "x_quality_filter"     -> ((s, dir) => CorpusOps.qualityFilter(s, dir)),
    "x_decontaminate"      -> ((s, dir) => CorpusOps.decontaminate(s, dir)),
    "x_contam_sweep"       -> ((s, dir) => CorpusOps.contaminationSweep(s, dir)),
    "x_cdc_chunks"         -> ((s, dir) => CorpusOps.cdcChunks(s, dir)),
    "x_kl_sources"         -> ((s, dir) => CorpusOps.klBySources(s, dir)),
    "x_emb_dim_stats"      -> ((s, dir) => Similarity.embDimStats(s, dir)),
    "x_contam_by_bench"    -> ((s, dir) => CorpusOps.contaminationByBench(s, dir)),
    "x_tfidf_top_terms"    -> ((s, dir) => CorpusOps.tfidfTopTerms(s, dir)),
    "x_curation_pipeline"  -> ((s, dir) => CorpusOps.curationPipeline(s, dir)),
    "x_curation_funnel"    -> ((s, dir) => CorpusOps.curationFunnel(s, dir)),
    "x_doc_chunks"         -> ((s, dir) => CorpusOps.docChunks(s, dir)),
    "x_chunk_dedup"        -> ((s, dir) => CorpusOps.chunkDedup(s, dir)),
    "x_doc_packing"        -> ((s, dir) => CorpusOps.docPacking(s, dir)),
    "x_centroids"          -> ((s, dir) => Similarity.labelCentroids(s, dir)),
    "x_kmeans"             -> ((s, dir) => Similarity.kmeansCentroids(s, dir)),
    "x_cluster_quality"    -> ((s, dir) => Similarity.kmeansInertia(s, dir)),
    "x_semantic_dedup"     -> ((s, dir) => Similarity.semanticDedup(s, dir)),
    "x_mmr_rerank"         -> ((s, dir) => Similarity.mmrRerank(s, dir)),
    "x_rbo"                -> ((s, dir) => Similarity.knnIvfRbo(s, dir)),
    "x_semantic_decontam"  -> ((s, dir) => Similarity.semanticDecontam(s, dir)),
    "x_cluster_purity"     -> ((s, dir) => Similarity.clusterPurity(s, dir)),
    "x_hard_negatives"     -> ((s, dir) => Similarity.hardNegatives(s, dir)),
    "x_knn_ivf_trained"    -> ((s, dir) => Similarity.knnIvfTrained(s, dir)),
    "x_ivf_trained_recall" -> ((s, dir) => Similarity.knnIvfTrainedRecall(s, dir)),
    "x_ivf_probe_sweep"    -> ((s, dir) => Similarity.knnIvfProbeSweep(s, dir)),
    "x_dedup_exact"        -> ((s, dir) => Dedup.exactDedup(s, dir)),
    "x_dedup_minhash"      -> ((s, dir) => Dedup.nearDupMinhash(s, dir)),
    "x_minhash_error"      -> ((s, dir) => Dedup.minhashErrorAudit(s, dir)),
    "x_minhash_sweep"      -> ((s, dir) => Dedup.minhashThresholdSweep(s, dir)),
    "x_kmv_distinct"       -> ((s, dir) => Dedup.kmvDistinctShingles(s, dir)),
    "x_kmv_agg"            -> ((s, dir) => Dedup.kmvDistinctShinglesAgg(s, dir)),
    "x_dedup_simhash"      -> ((s, dir) => Dedup.simhashDocs(s, dir)),
    "x_dedup_simhash64"    -> ((s, dir) => Dedup.simhashDocs64(s, dir)),
    "x_doc_fingerprint"    -> ((s, dir) => Dedup.docFingerprint(s, dir)),
    "x_winnowing"          -> ((s, dir) => Dedup.winnowStats(s, dir)),
    "x_winnow_overlap"     -> ((s, dir) => Dedup.winnowOverlap(s, dir)),
    "x_winnow_audit"       -> ((s, dir) => Dedup.winnowGuaranteeAudit(s, dir)),
    "x_winnow_sweep"       -> ((s, dir) => Dedup.winnowSweep(s, dir)),
    "x_ngram_jaccard"      -> ((s, dir) => Dedup.ngramJaccard(s, dir)),
    "x_substring_dedup"    -> ((s, dir) => Dedup.substringDedup(s, dir)),
    "x_substring_hotspots" -> ((s, dir) => Dedup.substringHotspots(s, dir)),
    "x_substring_hotspots50" -> ((s, dir) => Dedup.substringHotspots(s, dir, gramN = 50)),
    "x_substring_sweep"    -> ((s, dir) => Dedup.substringSweep(s, dir)),
    "x_substring_strip"    -> ((s, dir) => Dedup.substringStrip(s, dir)),
    "x_text_stats"         -> ((s, dir) => TextAnalysis.textStats(s, dir)),
    "x_text_quality_by_lang" -> ((s, dir) => TextAnalysis.qualityByLang(s, dir)),
    "x_repetition"         -> ((s, dir) => TextAnalysis.repetitionStats(s, dir)),
    "x_heavy_hitters"      -> ((s, dir) => TextAnalysis.heavyHitterTokens(s, dir)),
    "x_lang_confusion"     -> ((s, dir) => TextAnalysis.langConfusion(s, dir)),
    "x_langid_ngram"       -> ((s, dir) => TextAnalysis.langIdNgram(s, dir)),
    "x_langid_holdout"     -> ((s, dir) => TextAnalysis.langIdHoldout(s, dir)),
    "x_nb_holdout"         -> ((s, dir) => TextAnalysis.nbHoldout(s, dir)),
    "x_dsir_select"        -> ((s, dir) => TextAnalysis.dsirSelect(s, dir)),
    "x_bpe_train"          -> ((s, dir) => TextAnalysis.bpeTrain(s, dir)),
    // mid-size trainer point: 32 merges, fully oracle-unrolled —
    // bounds trainer drift between the 8-merge pin and the 1024-merge
    // rows-only production demo (r12 verdict Missing #3)
    // rounds MUST be BpeMidRounds: the oracle's unrolled CTE chain is
    // generated from the same constant, so a drift here desyncs the
    // engine-vs-oracle comparison silently (ADVICE r13)
    "x_bpe_32"             -> ((s, dir) => TextAnalysis.bpeTrain(s, dir, rounds = BpeMidRounds)),
    "x_bpe_batched"        -> ((s, dir) => TextAnalysis.bpeTrainBatched(s, dir,
                                 totalMerges = 12, batchM = 4, topK = 16,
                                 maxRounds = 3)),
    "x_bpe_segments"       -> ((s, dir) => TextAnalysis.bpeSegments(s, dir)),
    "x_zipf"               -> ((s, dir) => TextAnalysis.zipfFit(s, dir)),
    "x_heaps"              -> ((s, dir) => TextAnalysis.heapsLaw(s, dir)),
    "x_token_pmi"          -> ((s, dir) => TextAnalysis.tokenPmi(s, dir)),
    "x_bpe_tokens"         -> ((s, dir) => TextAnalysis.bpeTokenCounts(s, dir)),
    "x_bpe_fertility"      -> ((s, dir) => TextAnalysis.bpeFertility(s, dir)),
    // production-sized vocabulary, one row set: 1024 batched merges
    // over the vocabulary-widened corpus (raw synthetic text has 31
    // distinct words — capacity ~113), plus the fertility audit AT
    // that vocabulary and n_merges/n_rounds evidence columns. No SQL
    // oracle (a 1k-merge greedy unroll is not CTE-expressible) —
    // rows-only gate; the 8-merge oracles pin the trainer semantics.
    "x_bpe_1k"             -> ((s, dir) => TextAnalysis.bpe1k(s, dir)),
    "x_unigram_train"      -> ((s, dir) => TextAnalysis.unigramTrain(s, dir)),
    "x_unigram_tokens"     -> ((s, dir) => TextAnalysis.unigramTokenCounts(s, dir)),
    "x_unigram_fertility"  -> ((s, dir) => TextAnalysis.unigramFertility(s, dir)),
    "x_unigram_segments"   -> ((s, dir) => TextAnalysis.unigramSegments(s, dir)),
    "x_tokenizer_compare"  -> ((s, dir) => TextAnalysis.tokenizerCompare(s, dir)),
    "x_bm25"               -> ((s, dir) => TextAnalysis.bm25TopK(s, dir)),
    "x_bigram_ppl"         -> ((s, dir) => TextAnalysis.bigramPerplexity(s, dir)),
    "x_ppl_holdout"        -> ((s, dir) => TextAnalysis.pplHoldout(s, dir)),
    "x_char_entropy"       -> ((s, dir) => TextAnalysis.charEntropy(s, dir)),
    "x_cms_error"          -> ((s, dir) => TextAnalysis.cmsError(s, dir)),
    "x_vocab_coverage"     -> ((s, dir) => TextAnalysis.vocabCoverage(s, dir)),
    "x_vocab_overlap"      -> ((s, dir) => TextAnalysis.vocabOverlap(s, dir)),
    "x_quality_deciles"    -> ((s, dir) => CorpusOps.qualityDeciles(s, dir)),
    "x_epoch_mix"          -> ((s, dir) => CorpusOps.epochMix(s, dir)),
    "x_temp_mix"           -> ((s, dir) => CorpusOps.temperatureMix(s, dir)),
    "x_knn_brute"          -> ((s, dir) => Similarity.knnBruteForce(s, dir)),
    "x_knn_lsh"            -> ((s, dir) => Similarity.knnLsh(s, dir)),
    "x_knn_ivf"            -> ((s, dir) => Similarity.knnIvf(s, dir)),
    "x_emb_neardup"        -> ((s, dir) => Similarity.embeddingNearDup(s, dir)),
    "x_simhash_clusters"   -> ((s, dir) => Dedup.simhashClusters(s, dir)),
    "x_simhash_clusters64" -> ((s, dir) => Dedup.simhashClusters64(s, dir)),
    "x_simhash_neardup"    -> ((s, dir) => Dedup.simhashNearDup(s, dir)),
    "x_fuzzy_dedup"        -> ((s, dir) => Dedup.fuzzyNameDedup(s, dir)),
    "x_prefix_jaccard"     -> ((s, dir) => Dedup.prefixJaccardJoin(s, dir)),
    "x_dup_components"     -> ((s, dir) => Dedup.dupComponents(s, dir)),
    "x_delete_cascade"     -> ((s, dir) => Dedup.deleteCascade(s, dir)),
    "x_shard_skew"         -> ((s, dir) => CorpusOps.shardSkew(s, dir)),
    "x_dedup_survivors"    -> ((s, dir) => Dedup.dedupSurvivors(s, dir)),
    "x_dedup_unified"      -> ((s, dir) => Dedup.dedupUnified(s, dir)),
    "x_source_overlap"     -> ((s, dir) => Dedup.sourceOverlap(s, dir)),
    "x_unified_survivors"  -> ((s, dir) => Dedup.dedupSurvivorsUnified(s, dir)),
    "x_knn_recall"         -> ((s, dir) => Similarity.knnLshRecall(s, dir)),
    "x_quantized_recall"   -> ((s, dir) => Similarity.knnQuantizedRecall(s, dir)),
    "x_rrf_fusion"         -> ((s, dir) => Similarity.rrfFusion(s, dir)),
    "x_jl_sweep"           -> ((s, dir) => Similarity.knnJlSweep(s, dir)),
    "x_pq_recall"          -> ((s, dir) => Similarity.pqRecall(s, dir)),
    "x_pq_rerank"          -> ((s, dir) => Similarity.pqRerankRecall(s, dir)),
    "x_ivfpq"              -> ((s, dir) => Similarity.ivfPqRecall(s, dir)),
    "x_ivfpq_residual"     -> ((s, dir) => Similarity.ivfPqResidualRecall(s, dir)),
    "x_ivf_recall"         -> ((s, dir) => Similarity.knnIvfRecall(s, dir)),
    "x_knn_lsh_banded"     -> ((s, dir) => Similarity.knnLshBanded(s, dir)),
    "x_banded_recall"      -> ((s, dir) => Similarity.knnLshBandedRecall(s, dir)),
    "x_multimodal_meta"    -> ((s, dir) => Multimodal.mediaMeta(s, dir)),
    "x_media_knn"          -> ((s, dir) => Similarity.mediaIvfKnn(s, dir)),
    "x_media_knn_real"     -> ((s, dir) => Similarity.mediaIvfKnnReal(s, dir)),
    "x_frame_sample"       -> ((s, dir) => Multimodal.frameSample(s, dir)),
    "x_frame_dedup"        -> ((s, dir) => Multimodal.frameDedup(s, dir)),
    "x_media_ahash"        -> ((s, dir) => Multimodal.ahashNearDup(s, dir))
  )

  /** Shared CTE prefix: 2 unrolled Lloyd k-means rounds (k=8, 64 dims,
    * integer micro-unit coordinates) ending in `c2` (final centroids)
    * and `a2` (final assignment) — used by x_kmeans and the
    * trained-IVF queries so the trainer definition cannot drift
    * between oracles.
    */
  private val kmeansCtes: String = kmeansCtesK("8")

  /** [[kmeansCtes]] with the centroid count as a SQL expression —
    * `x_semantic_dedup` derives k = round(sqrt(n)) (the
    * `Similarity.semanticK` rule) instead of the fixed 8.
    */
  private def kmeansCtesK(kExpr: String): String =
    s"""vq AS (
      |  SELECT vec_id, (i-1)::BIGINT AS pos,
      |         round(embedding[i]::DOUBLE * 1000000)::BIGINT AS vq
      |  FROM embeddings, range(1, 65) t(i)),
      |c0 AS (SELECT vec_id::BIGINT AS cid, pos, vq AS cq FROM vq WHERE vec_id < ($kExpr)),
      |a1 AS (SELECT vec_id, cid FROM (
      |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
      |  FROM (SELECT v.vec_id, c.cid, SUM((v.vq-c.cq)*(v.vq-c.cq)) AS d2
      |        FROM vq v JOIN c0 c USING (pos) GROUP BY 1, 2)) WHERE rk = 1),
      |c1 AS (SELECT a1.cid, vq.pos, round(SUM(vq.vq)::DOUBLE / COUNT(*))::BIGINT AS cq
      |       FROM a1 JOIN vq USING (vec_id) GROUP BY 1, 2),
      |a2 AS (SELECT vec_id, cid FROM (
      |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
      |  FROM (SELECT v.vec_id, c.cid, SUM((v.vq-c.cq)*(v.vq-c.cq)) AS d2
      |        FROM vq v JOIN c1 c USING (pos) GROUP BY 1, 2)) WHERE rk = 1),
      |c2 AS (SELECT a2.cid, vq.pos, round(SUM(vq.vq)::DOUBLE / COUNT(*))::BIGINT AS cq
      |       FROM a2 JOIN vq USING (vec_id) GROUP BY 1, 2)""".stripMargin

  /** Span-gram CTE for gram size `g` with name suffix `sx`: `g$sx` is
    * the `(doc_id, pos, gh)` position-gram table (PolyHash of the
    * space-joined g-token slice — the exact Spark hash, collisions
    * included). MATERIALIZED: each consumer pair (dup set + membership
    * probe) references it twice, and the sweep stacks four sizes.
    */
  private def spanGramCte(g: Int, sx: String): String =
    s"""g$sx AS MATERIALIZED (
       |  SELECT doc_id, u.i AS pos, u.gh AS gh FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(t)-${g - 2}), i ->
       |      {'i': i,
       |       'gh': list_reduce(list_transform(range(1, len(array_to_string(t[i:i+${g - 1}],' '))+1),
       |              j -> ascii(substr(array_to_string(t[i:i+${g - 1}],' '),j,1))::BIGINT),
       |              (a,c)->(a*31+c)%1000000007)})) AS u
       |    FROM tk WHERE len(t) >= $g))""".stripMargin

  /** One sweep point for [[Dedup.substringSweep]]'s oracle: the gram
    * table, duplicated-gram set, hit positions, gaps-and-islands
    * spans, and the one-row corpus rollup `roll$g`.
    */
  private def sweepPointCtes(g: Int): String =
    s"""${spanGramCte(g, g.toString)},
       |dup$g AS (SELECT gh FROM g$g GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
       |hit$g AS (SELECT g.doc_id, g.pos FROM g$g g JOIN dup$g USING (gh)),
       |isl$g AS (
       |  SELECT doc_id, pos, SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM (SELECT doc_id, pos,
       |          CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |                 OR pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $g
       |               THEN 1 ELSE 0 END AS b
       |        FROM hit$g)),
       |spans$g AS (
       |  SELECT doc_id, island, MAX(pos) - MIN(pos) + $g AS span_tokens
       |  FROM isl$g GROUP BY doc_id, island),
       |roll$g AS (
       |  SELECT $g::BIGINT AS gram_n, COUNT(DISTINCT doc_id) AS n_docs,
       |         COUNT(*) AS n_spans,
       |         CAST(COALESCE(SUM(span_tokens), 0) AS BIGINT) AS dup_tokens
       |  FROM spans$g)""".stripMargin

  /** Sweep dimensions for the JL oracle — must equal the Scala
    * default in `Similarity.knnJlSweep`.
    */
  private val JlDims = Seq(8, 16, 32, 48)

  /** Per-dimension CTE block of the JL sweep oracle: the shared
    * `red` reduced table's `j < d` prefix scores reduced-space brute
    * top-5, which joins the full-dimension truth `top_b` into a
    * per-query recall row stamped with the dimension.
    */
  private def jlDimCte(d: Int): String =
    s"""rq$d AS (SELECT vec_id AS query_id, j, r FROM red WHERE vec_id < 10 AND j < $d),
       |nr$d AS (SELECT vec_id, SUM(r*r)::BIGINT AS n2 FROM red WHERE j < $d GROUP BY vec_id),
       |sc0_$d AS (
       |  SELECT q.query_id, red.vec_id AS neighbor_id, SUM(red.r * q.r)::BIGINT AS dot
       |  FROM red JOIN rq$d q USING (j) WHERE red.vec_id <> q.query_id
       |  GROUP BY q.query_id, red.vec_id),
       |sc$d AS (
       |  SELECT query_id, neighbor_id,
       |    round(dot::DOUBLE / (sqrt(a.n2::DOUBLE) * sqrt(b.n2::DOUBLE)), 6) AS cos
       |  FROM sc0_$d JOIN nr$d a ON a.vec_id = neighbor_id
       |              JOIN nr$d b ON b.vec_id = query_id),
       |ap$d AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
       |    FROM sc$d) WHERE rk <= 5),
       |hits$d AS (
       |  SELECT b.query_id, COUNT(*) AS n_hits
       |  FROM top_b b JOIN ap$d l ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
       |  GROUP BY b.query_id),
       |res$d AS (
       |  SELECT $d::BIGINT AS jl_dim, qq.query_id, COALESCE(h.n_hits, 0) AS n_hits,
       |    round(COALESCE(h.n_hits, 0)::DOUBLE/5, 6) AS recall
       |  FROM (SELECT DISTINCT query_id FROM top_b) qq LEFT JOIN hits$d h USING (query_id))""".stripMargin

  /** One trained-and-scored bigram LM for the DSIR oracle: train on
    * the `filterSql` slice of the shared `p2` pair stream (the
    * x_ppl_holdout CTE shapes, suffixed by `tag`), then score EVERY
    * document's `dpc` counts through the frozen model with the
    * ctx/und fallbacks.
    */
  private def dsirLmCtes(tag: String, filterSql: String): String =
    s"""cb_$tag AS (SELECT prev, cur, COUNT(*) AS cb FROM p2 WHERE $filterSql
       |        GROUP BY prev, cur),
       |cu_$tag AS (SELECT prev, SUM(cb)::BIGINT AS cu FROM cb_$tag GROUP BY prev),
       |v_$tag AS (SELECT COUNT(DISTINCT cur) AS v FROM cb_$tag),
       |bi_$tag AS (SELECT prev, cur,
       |    CAST(round(-ln((cb + 1.0) / (cu + v)), 6) AS DECIMAL(18,6)) AS nll
       |  FROM cb_$tag JOIN cu_$tag USING (prev), v_$tag),
       |ctx_$tag AS (SELECT prev, CAST(round(ln(cu + v), 6) AS DECIMAL(18,6)) AS nll
       |  FROM cu_$tag, v_$tag),
       |und_$tag AS (SELECT CAST(round(ln(v), 6) AS DECIMAL(18,6)) AS nll FROM v_$tag),
       |sc_$tag AS (SELECT d.doc_id, d.c,
       |    COALESCE(bi_$tag.nll, ctx_$tag.nll, (SELECT nll FROM und_$tag)) AS nll
       |  FROM dpc d LEFT JOIN bi_$tag USING (prev, cur) LEFT JOIN ctx_$tag USING (prev)),
       |a_$tag AS (SELECT doc_id,
       |    round(SUM(nll * CAST(c AS DECIMAL(8,0)))::DOUBLE / SUM(c), 6) AS avg_nll
       |  FROM sc_$tag GROUP BY doc_id)""".stripMargin

  /** Unrolled 16-tap EMA terms for the x_ema oracle — coefficients
    * 2^(15-j) over integer cents, must mirror `Analytics.emaPerUser`.
    */
  /** Shared normalized-quote CTE for the finance family (mirrors
    * Finance.quotes: symbol from the entity id, JSON-side-channel
    * volume, second-resolution epoch, session-UTC calendar day). */
  private val finQuoteCte: String =
    """WITH q AS (
      |  SELECT event_id AS id, 'u' || CAST(user_id AS VARCHAR) AS symbol,
      |         value AS price, CAST(props->>'$.k' AS BIGINT) AS volume,
      |         epoch_us(ts)//1000000 AS ts_epoch, CAST(ts AS DATE) AS day
      |  FROM events)""".stripMargin

  /** Daily VWAP `v(symbol, day, vwap, day_volume, n_ticks)` over
    * [[finQuoteCte]], exact like `Finance.vwapOf`: the decimal
    * price·volume sum in integer micro-units, divided by the volume
    * with integer HALF_UP rounding (away from zero on a tie) at 6
    * decimals. A DOUBLE quotient rounded by ROUND would round some
    * half-way ties down (exact 11.0871875 divides to
    * 11.087187499999999).
    */
  private val finVwapCte: String =
    finQuoteCte + """,
      |vb AS (
      |  SELECT symbol, day,
      |    CAST(CAST(SUM(CAST(price AS DECIMAL(18,6)) * CAST(volume AS DECIMAL(18,6)))
      |      AS DECIMAL(38,6)) * 1000000 AS HUGEINT) AS pv_u,
      |    SUM(volume) AS vol,
      |    COUNT(*) AS n_ticks
      |  FROM q GROUP BY symbol, day HAVING SUM(volume) > 0),
      |v AS (
      |  SELECT symbol, day,
      |    CAST(SIGN(pv_u) * ((2 * ABS(pv_u) + vol) // (2 * vol)) AS DOUBLE) / 1e6 AS vwap,
      |    vol::BIGINT AS day_volume, n_ticks
      |  FROM vb)""".stripMargin

  /** Per-gram-size CTE block for the contamination sweep oracle —
    * the same PolyHash replication as x_decontaminate, parameterized
    * by gram width `n`. */
  private def contamSweepCtes(n: Int): String = {
    val gram = (0 until n).map(j => if (j == 0) "toks[i]" else s"toks[i+$j]")
      .mkString("||' '||")
    s"""g$n AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    list_transform(range(1, len(toks)-${n - 2}), i -> $gram),
       |    s -> list_reduce(list_transform(range(1,len(s)+1),
       |           i2 -> ascii(substr(s,i2,1))::BIGINT),
       |           (acc,c)->(acc*31+c)%1000000007)))) AS gh
       |  FROM tk WHERE len(toks) >= $n),
       |s$n AS (SELECT doc_id, COUNT(*) AS n_grams FROM g$n
       |        WHERE doc_id >= 20 GROUP BY doc_id),
       |h$n AS (SELECT c.doc_id, COUNT(*) AS n_shared
       |        FROM (SELECT * FROM g$n WHERE doc_id >= 20) c
       |        JOIN (SELECT DISTINCT gh FROM g$n WHERE doc_id < 20) b USING (gh)
       |        GROUP BY c.doc_id),
       |b$n AS (SELECT LEAST(FLOOR(COALESCE(h$n.n_shared, 0)::DOUBLE / s$n.n_grams * 10), 9)::BIGINT AS band,
       |               COALESCE(h$n.n_shared, 0) AS n_shared, s$n.n_grams AS n_grams
       |        FROM s$n LEFT JOIN h$n USING (doc_id)),
       |a$n AS (SELECT $n::BIGINT AS gram_n, band, COUNT(*) AS n_docs,
       |               SUM(n_shared)::BIGINT AS total_shared,
       |               SUM(n_grams)::BIGINT AS total_grams
       |        FROM b$n GROUP BY band)""".stripMargin
  }

  /** Shared IVF-vs-brute ranking CTEs (mirrors `Similarity.knnIvfFrom`
    * at nCells=16/nProbe=2 and `knnBruteFrom` at k=5/nQueries=10):
    * `top_i` is the IVF shortlist, `top_b` the brute truth — the
    * x_ndcg and x_rbo serving-quality oracles grade the same pair of
    * rankings. */
  private val ivfBruteTopCtes: String =
    """WITH e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE*x::DOUBLE), (a,b)->a+b)) AS nrm
      |  FROM embeddings
      |), cents AS (
      |  SELECT vec_id AS centroid_id, embedding AS c_emb, nrm AS c_nrm FROM e WHERE vec_id < 16
      |), ranked AS (
      |  SELECT e.vec_id, e.embedding, e.nrm, c.centroid_id,
      |    round(list_reduce(list_transform(range(1,65),
      |      i -> e.embedding[i]::DOUBLE * c.c_emb[i]::DOUBLE), (a,b)->a+b)/(e.nrm*c.c_nrm), 6) AS c_sim
      |  FROM e, cents c
      |), cells AS (
      |  SELECT vec_id, embedding, nrm, centroid_id AS cell FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rk
      |    FROM ranked
      |  ) WHERE rk = 1
      |), qcells AS (
      |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm, centroid_id AS cell FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rk
      |    FROM ranked WHERE vec_id < 10
      |  ) WHERE rk <= 2
      |), scored_i AS (
      |  SELECT DISTINCT q.query_id, c2.vec_id AS neighbor_id,
      |    round(list_reduce(list_transform(range(1,65),
      |      i -> c2.embedding[i]::DOUBLE * q.q_emb[i]::DOUBLE), (a,b)->a+b)/(c2.nrm*q.q_nrm), 6) AS cos
      |  FROM cells c2 JOIN qcells q ON c2.cell = q.cell AND c2.vec_id <> q.query_id
      |), top_i AS (
      |  SELECT query_id, neighbor_id, rk AS pos FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      |    FROM scored_i
      |  ) WHERE rk <= 5
      |), q2 AS (
      |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm FROM e WHERE vec_id < 10
      |), scored_b AS (
      |  SELECT q2.query_id, e.vec_id AS neighbor_id,
      |    round(list_reduce(list_transform(range(1,65),
      |      i -> e.embedding[i]::DOUBLE * q2.q_emb[i]::DOUBLE), (a,b)->a+b)/(e.nrm*q2.q_nrm), 6) AS cos
      |  FROM e, q2 WHERE e.vec_id <> q2.query_id
      |), top_b AS (
      |  SELECT query_id, neighbor_id, rk FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      |    FROM scored_b
      |  ) WHERE rk <= 5
      |)""".stripMargin

  /** Unrolled greedy MMR for the x_mmr_rerank oracle — round 1 is the
    * plain per-query argmin(d2q); each later round scores the
    * remaining shortlist against the accumulated pick set with the
    * integer (7, 3) weights, mirroring `Similarity.mmrRerank`'s
    * driver-paced rounds. Everything stays BIGINT micro-units; ties
    * break (mmr_scaled, cand_id) in both dialects.
    */
  private def mmrOracle(k: Int): String = {
    val rounds = (2 to k).map { r =>
      s"""s$r AS (SELECT query_id, cand_id, $r::BIGINT AS rk, d2q, mmr_scaled FROM (
         |  SELECT sc.*, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY mmr_scaled, cand_id) AS r
         |  FROM (SELECT sl.query_id, sl.cand_id, sl.d2q,
         |          (7*sl.d2q - 3*MIN(pd.d2c))::BIGINT AS mmr_scaled
         |        FROM sl
         |        JOIN pd ON pd.query_id = sl.query_id AND pd.cand_id = sl.cand_id
         |        JOIN a${r - 1} s ON s.query_id = pd.query_id AND s.cand_id = pd.other_id
         |        WHERE NOT EXISTS (SELECT 1 FROM a${r - 1} x
         |                          WHERE x.query_id = sl.query_id
         |                            AND x.cand_id = sl.cand_id)
         |        GROUP BY 1, 2, 3) sc) WHERE r = 1),
         |a$r AS (SELECT query_id, cand_id FROM a${r - 1}
         |        UNION ALL SELECT query_id, cand_id FROM s$r)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to k).map(r => s"SELECT * FROM s$r").mkString(" UNION ALL ")
    s"""WITH vq AS (
       |  SELECT e.vec_id, (i-1)::BIGINT AS pos,
       |         round(e.embedding[i]::DOUBLE * 1000000)::BIGINT AS vq
       |  FROM embeddings e, range(1, 65) t(i)),
       |q AS (SELECT vec_id AS query_id, pos, vq AS qq FROM vq WHERE vec_id < 10),
       |d0 AS (SELECT q.query_id, v.vec_id AS cand_id,
       |         SUM((v.vq-q.qq)*(v.vq-q.qq))::BIGINT AS d2q
       |       FROM vq v JOIN q ON v.pos = q.pos AND v.vec_id <> q.query_id
       |       GROUP BY 1, 2),
       |sl AS (SELECT query_id, cand_id, d2q FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY d2q, cand_id) AS rk0 FROM d0) WHERE rk0 <= 20),
       |pd AS (SELECT a.query_id, a.cand_id, b.cand_id AS other_id,
       |         SUM((va.vq - vb.vq)*(va.vq - vb.vq))::BIGINT AS d2c
       |       FROM sl a JOIN sl b ON a.query_id = b.query_id
       |                          AND a.cand_id <> b.cand_id
       |       JOIN vq va ON va.vec_id = a.cand_id
       |       JOIN vq vb ON vb.vec_id = b.cand_id AND vb.pos = va.pos
       |       GROUP BY 1, 2, 3),
       |s1 AS (SELECT query_id, cand_id, 1::BIGINT AS rk, d2q,
       |         (7*d2q)::BIGINT AS mmr_scaled FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY d2q, cand_id) AS r FROM sl) WHERE r = 1),
       |a1 AS (SELECT query_id, cand_id FROM s1),
       |$rounds
       |SELECT query_id, rk, cand_id, d2q, mmr_scaled FROM ($sel)
       |ORDER BY query_id, rk""".stripMargin
  }

  /** Shared co-purchase graph CTEs (mirrors Graphs.coEdges at
    * minSupport=2 plus the symmetrized adjacency / degree / uniform
    * initial rank the PageRank oracle unrolls from). Unreferenced CTEs
    * are pruned by DuckDB, so x_triangles can share the prefix. */
  private val graphCoCte: String =
    """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |co AS (
      |  SELECT a.pk AS pa, b.pk AS pb FROM items a
      |  JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |adj AS (SELECT pa AS u, pb AS v FROM co UNION ALL SELECT pb, pa FROM co),
      |degu AS (SELECT u, COUNT(*) AS d FROM adj GROUP BY u),
      |n AS (SELECT COUNT(*)::DOUBLE AS nn FROM degu),
      |r0 AS (SELECT u AS node, 1.0::DOUBLE/nn AS r FROM degu, n)""".stripMargin

  /** Truncated-EMA weighted-sum SQL (the MACD family): numerator /
    * present-weight denominator chains over `Finance.Macd*W`. The
    * Double coefficients print via toString (shortest round-trip
    * repr), so DuckDB parses back the bit-identical binary the Spark
    * plan multiplies as `lit`s — every product and the left-assoc sum
    * chain is the same IEEE arithmetic in both engines.
    */
  private def wsumNumSql(src: String, coefs: Seq[Double]): String =
    coefs.zipWithIndex.map { case (w, j) =>
      s"COALESCE(lag($src, $j) OVER w * $w, 0)" }.mkString(" + ")
  private def wsumDenSql(src: String, coefs: Seq[Double]): String =
    coefs.zipWithIndex.map { case (w, j) =>
      s"CASE WHEN lag($src, $j) OVER w IS NOT NULL THEN $w ELSE 0 END" }.mkString(" + ")

  private val emaNumSql: String = (0 until 16)
    .map(j => s"COALESCE(lag(m, $j) OVER w * ${1L << (15 - j)}, 0)")
    .mkString(" + ")
  private val emaDenSql: String = (0 until 16)
    .map(j => s"CASE WHEN lag(m, $j) OVER w IS NOT NULL THEN ${1L << (15 - j)} ELSE 0 END")
    .mkString(" + ")

  /** Merge rounds for the BPE oracle pair — must equal the Scala
    * default in `TextAnalysis.bpeTrain`/`bpeTokenCounts`.
    */
  private val BpeRounds = 8

  /** Unrolled BPE trainer CTE chain (one block per merge round, the
    * kmeans-oracle move): from the weighted word table and the
    * char+`</w>` initial state `s0`, each round r computes pair counts
    * `p_r`, the winning pair `b_r` (max count, lexical tie-break), the
    * greedily-merged positions `m_r` (gaps-and-islands: a run of
    * overlapping matches merges at even offsets), and the next state
    * `s_r`. Every round CTE is MATERIALIZED: each references the
    * previous state three times, so default inlining would expand the
    * plan 3^rounds-fold.
    */
  private def bpeRoundCte(r: Int): String = {
    val p = r - 1
    s"""p$r AS MATERIALIZED (
       |  SELECT sym AS sa, nsym AS sb, SUM(wfreq)::BIGINT AS cnt FROM (
       |    SELECT word, wfreq, sym, LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nsym FROM s$p)
       |  WHERE nsym IS NOT NULL GROUP BY 1, 2),
       |b$r AS MATERIALIZED (SELECT sa, sb, cnt FROM p$r ORDER BY cnt DESC, sa, sb LIMIT 1),
       |m$r AS MATERIALIZED (
       |  SELECT word, pos FROM (
       |    SELECT word, pos, (pos - MIN(pos) OVER (PARTITION BY word, grp)) % 2 = 0 AS merged FROM (
       |      SELECT word, pos, pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS grp FROM (
       |        SELECT s.word, s.pos FROM
       |          (SELECT word, pos, sym, LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nsym FROM s$p) s
       |          CROSS JOIN b$r
       |        WHERE s.sym = b$r.sa AND s.nsym = b$r.sb)))
       |  WHERE merged),
       |s$r AS MATERIALIZED (
       |  SELECT s.word, s.wfreq,
       |         ROW_NUMBER() OVER (PARTITION BY s.word ORDER BY s.pos)::BIGINT AS pos,
       |         CASE WHEN m1.pos IS NOT NULL THEN (SELECT sa || sb FROM b$r) ELSE s.sym END AS sym
       |  FROM s$p s
       |  LEFT JOIN m$r m1 ON m1.word = s.word AND m1.pos = s.pos
       |  LEFT JOIN m$r m0 ON m0.word = s.word AND m0.pos = s.pos - 1
       |  WHERE m0.pos IS NULL)""".stripMargin
  }

  /** Unrolled hard-EM unigram-trainer CTE chain — mirrors
    * `TextAnalysis.unigramFit` round for round (seed substrings ->
    * per-round micro-unit log weights -> the UnigramMaxWordLen-step
    * Viterbi DP unrolled as dp CTEs with the (score DESC, path DESC)
    * argmax -> count re-estimation -> count prune with the single-char
    * floor). All geometry constants read from TextAnalysis so the two
    * sides cannot desync. Every CTE is MATERIALIZED: dp CTEs are
    * referenced by up to UnigramMaxPiece successors and the seg union,
    * so inlining would expand the chain exponentially (the bpeCtesN
    * lesson). Ends in `vocab{R+1}` (trained vocabulary) and `seg{R}`
    * (final Viterbi segmentations).
    */
  private def unigramCtes: String = {
    val P = TextAnalysis.UnigramMaxPiece
    val R = TextAnalysis.UnigramEmRounds
    val L = TextAnalysis.UnigramMaxWordLen
    val sb = new StringBuilder
    sb ++= s"""WITH wt AS MATERIALIZED (
       |  SELECT word, COUNT(*)::BIGINT AS wfreq, length(word)::INT AS len
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) > 0 GROUP BY word),
       |sp AS MATERIALIZED (
       |  SELECT word, wfreq, len, i::INT AS i, l::INT AS l,
       |         substr(word, i::INT + 1, l::INT) AS piece
       |  FROM wt, range(0, $L) t0(i), range(1, ${P + 1}) t1(l)
       |  WHERE i < len AND l <= len - i),
       |seed0 AS MATERIALIZED (
       |  SELECT piece, SUM(wfreq)::BIGINT AS cnt FROM sp GROUP BY piece),
       |chars AS MATERIALIZED (SELECT piece FROM seed0 WHERE length(piece) = 1),
       |vocab1 AS MATERIALIZED (
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rk
       |    FROM seed0 WHERE length(piece) > 1) WHERE rk <= ${TextAnalysis.UnigramSeedKeep}
       |  UNION ALL SELECT piece, cnt FROM seed0 WHERE length(piece) = 1)""".stripMargin
    for (r <- 1 to R) {
      sb ++= s""",
       |w$r AS MATERIALIZED (
       |  SELECT piece, round(ln(cnt) * 1e6)::BIGINT -
       |    (SELECT round(ln(SUM(cnt)::BIGINT) * 1e6)::BIGINT FROM vocab$r) AS w_u
       |  FROM vocab$r),
       |dp${r}_0 AS MATERIALIZED (
       |  SELECT word, len, 0::INT AS pos, 0::BIGINT AS s, '' AS p FROM wt)""".stripMargin
      for (j <- 1 to L) {
        val srcs = (math.max(0, j - P) until j)
          .map(i => s"SELECT * FROM dp${r}_$i").mkString(" UNION ALL ")
        sb ++= s""",
       |dp${r}_$j AS MATERIALIZED (
       |  SELECT word, len, $j::INT AS pos, s, p FROM (
       |    SELECT d.word, d.len, d.s + v.w_u AS s,
       |      CASE WHEN d.p = '' THEN substr(d.word, d.pos + 1, $j - d.pos)
       |           ELSE d.p || ' ' || substr(d.word, d.pos + 1, $j - d.pos) END AS p,
       |      ROW_NUMBER() OVER (PARTITION BY d.word ORDER BY d.s + v.w_u DESC,
       |        CASE WHEN d.p = '' THEN substr(d.word, d.pos + 1, $j - d.pos)
       |             ELSE d.p || ' ' || substr(d.word, d.pos + 1, $j - d.pos) END DESC) AS rk
       |    FROM ($srcs) d
       |    JOIN w$r v ON v.piece = substr(d.word, d.pos + 1, $j - d.pos)
       |    WHERE d.len >= $j
       |  ) WHERE rk = 1)""".stripMargin
      }
      val segSrcs = (1 to L).map(j => s"SELECT * FROM dp${r}_$j").mkString(" UNION ALL ")
      sb ++= s""",
       |seg$r AS MATERIALIZED (
       |  SELECT wt.word, wt.wfreq, d.p AS path
       |  FROM wt JOIN ($segSrcs) d ON d.word = wt.word AND d.pos = wt.len),
       |cnts$r AS MATERIALIZED (
       |  SELECT piece, SUM(wfreq)::BIGINT AS cnt FROM
       |    (SELECT wfreq, unnest(string_split(path, ' ')) AS piece FROM seg$r)
       |  GROUP BY piece),
       |vocab${r + 1} AS MATERIALIZED (
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rk
       |    FROM cnts$r WHERE length(piece) > 1) WHERE rk <= ${TextAnalysis.UnigramPruneKeep}
       |  UNION ALL
       |  SELECT c.piece, greatest(COALESCE(n.cnt, 0), 1)::BIGINT AS cnt
       |  FROM chars c LEFT JOIN cnts$r n ON c.piece = n.piece)""".stripMargin
    }
    sb.toString
  }

  private def bpeCtesN(rounds: Int): String =
    """WITH words AS MATERIALIZED (
      |  SELECT w AS word, COUNT(*)::BIGINT AS wfreq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY 1),
      |s0 AS MATERIALIZED (
      |  SELECT word, wfreq, i::BIGINT AS pos,
      |         CASE WHEN i <= len(word) THEN substr(word, i, 1) ELSE '</w>' END AS sym
      |  FROM (SELECT word, wfreq, unnest(range(1, len(word)+2)) AS i FROM words)),""".stripMargin +
    "\n" + (1 to rounds).map(bpeRoundCte).mkString(",\n") + ","

  private val bpeCtes: String = bpeCtesN(BpeRounds)

  /** Mid-size trainer oracle (r12 verdict Missing #3): 32 unrolled
    * merge rounds — bounds trainer drift two octaves closer to the
    * 1024-merge production demo than the 8-round pin, keeping
    * `x_bpe_1k` the suite's only rows-only entry.
    */
  private val BpeMidRounds = 32

  /** Batched-trainer oracle parameters — must equal the Scala call in
    * the `x_bpe_batched` queries entry.
    */
  private val BpeBatchRounds = 3
  private val BpeBatchM = 4
  private val BpeBatchK = 16

  /** One unrolled BATCHED round: pair counts `p_r`, ranked top-K
    * candidates `c_r`, then the greedy symbol-disjoint scan unrolled
    * one CTE per keep — `g_r_i` is the first candidate ranked after
    * the last keep whose symbols avoid the kept set `k_r_{i-1}`
    * (greedy keeps have strictly increasing ranks and a skipped
    * candidate never re-qualifies, so no recursion is needed), `kk_r`
    * the round's selection with sel_rank, `m_r`/`s_r` the same
    * gaps-and-islands application as the exact trainer with the
    * matched pair's merged symbol carried through the join.
    */
  private def bpeBatchedRoundCte(r: Int): String = {
    val p = r - 1
    val steps = (1 to BpeBatchM).map { i =>
      if (i == 1)
        s"""g${r}_1 AS MATERIALIZED (SELECT rk, sa, sb, cnt FROM c$r ORDER BY rk LIMIT 1),
           |k${r}_1 AS MATERIALIZED (SELECT * FROM g${r}_1)""".stripMargin
      else
        s"""g${r}_$i AS MATERIALIZED (
           |  SELECT rk, sa, sb, cnt FROM c$r
           |  WHERE rk > (SELECT MAX(rk) FROM k${r}_${i - 1})
           |    AND sa NOT IN (SELECT sa FROM k${r}_${i - 1} UNION ALL SELECT sb FROM k${r}_${i - 1})
           |    AND sb NOT IN (SELECT sa FROM k${r}_${i - 1} UNION ALL SELECT sb FROM k${r}_${i - 1})
           |  ORDER BY rk LIMIT 1),
           |k${r}_$i AS MATERIALIZED (SELECT * FROM k${r}_${i - 1} UNION ALL SELECT * FROM g${r}_$i)""".stripMargin
    }.mkString(",\n")
    s"""p$r AS MATERIALIZED (
       |  SELECT sym AS sa, nsym AS sb, SUM(wfreq)::BIGINT AS cnt FROM (
       |    SELECT word, wfreq, sym, LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nsym FROM s$p)
       |  WHERE nsym IS NOT NULL GROUP BY 1, 2),
       |c$r AS MATERIALIZED (
       |  SELECT sa, sb, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, sa, sb) AS rk
       |  FROM p$r QUALIFY rk <= $BpeBatchK),
       |$steps,
       |kk$r AS MATERIALIZED (
       |  SELECT sa, sb, cnt, ROW_NUMBER() OVER (ORDER BY rk)::BIGINT AS sel_rank
       |  FROM k${r}_$BpeBatchM),
       |m$r AS MATERIALIZED (
       |  SELECT word, pos, merged FROM (
       |    SELECT word, pos, merged, (pos - MIN(pos) OVER (PARTITION BY word, grp)) % 2 = 0 AS mok FROM (
       |      SELECT word, pos, merged, pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS grp FROM (
       |        SELECT s.word, s.pos, k.sa || k.sb AS merged FROM
       |          (SELECT word, pos, sym, LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nsym FROM s$p) s
       |          JOIN kk$r k ON s.sym = k.sa AND s.nsym = k.sb)))
       |  WHERE mok),
       |s$r AS MATERIALIZED (
       |  SELECT s.word, s.wfreq,
       |         ROW_NUMBER() OVER (PARTITION BY s.word ORDER BY s.pos)::BIGINT AS pos,
       |         CASE WHEN m1.pos IS NOT NULL THEN m1.merged ELSE s.sym END AS sym
       |  FROM s$p s
       |  LEFT JOIN m$r m1 ON m1.word = s.word AND m1.pos = s.pos
       |  LEFT JOIN m$r m0 ON m0.word = s.word AND m0.pos = s.pos - 1
       |  WHERE m0.pos IS NULL)""".stripMargin
  }

  private val bpeBatchedCtes: String =
    """WITH words AS MATERIALIZED (
      |  SELECT w AS word, COUNT(*)::BIGINT AS wfreq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY 1),
      |s0 AS MATERIALIZED (
      |  SELECT word, wfreq, i::BIGINT AS pos,
      |         CASE WHEN i <= len(word) THEN substr(word, i, 1) ELSE '</w>' END AS sym
      |  FROM (SELECT word, wfreq, unnest(range(1, len(word)+2)) AS i FROM words)),""".stripMargin +
    "\n" + (1 to BpeBatchRounds).map(bpeBatchedRoundCte).mkString(",\n") + ","

  /** Deployment routing over the trained cells: every vector assigned
    * against the FINAL `c2` centroids (a FAISS index add() assigns
    * against the trained coarse quantizer — the training loop's own
    * last assignment `a2` is vs the previous round's centroids, a
    * training artifact). Used by the IVF-PQ serving oracles; mirrors
    * `Similarity.KmeansFit.routing` in `ivfPqModel` and the routing
    * projection of `ivfPqResidualRecall`.
    */
  private val routeCte: String =
    """a3 AS (SELECT vec_id, cid FROM (
      |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
      |  FROM (SELECT v.vec_id, c.cid, SUM((v.vq-c.cq)*(v.vq-c.cq)) AS d2
      |        FROM vq v JOIN c2 c USING (pos) GROUP BY 1, 2)) WHERE rk = 1)""".stripMargin

  /** One IVF retriever CTE chain for the x_rrf_fusion oracle, suffix
    * `s`, coarse centroids = corpus vectors [lo, lo+16) — the proven
    * x_knn_ivf fragment with a parameterized centroid seed range
    * (mirrors `Similarity.rrfFusion`'s cents(lo)). Expects `e
    * (vec_id, embedding, nrm)`; ends in `top$s (query_id,
    * neighbor_id, rk)`.
    */
  private def rrfIvfCtes(s: String, lo: Int): String =
    s"""ranked$s AS (
       |  SELECT e.vec_id, e.embedding, e.nrm, c.centroid_id,
       |    round(list_reduce(list_transform(range(1,65),
       |      i -> e.embedding[i]::DOUBLE * c.c_emb[i]::DOUBLE), (a,b)->a+b)/(e.nrm*c.c_nrm), 6) AS c_sim
       |  FROM e, (SELECT vec_id AS centroid_id, embedding AS c_emb, nrm AS c_nrm
       |           FROM e WHERE vec_id >= $lo AND vec_id < ${lo + 16}) c
       |), cells$s AS (
       |  SELECT vec_id, embedding, nrm, centroid_id AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS crk
       |    FROM ranked$s) WHERE crk = 1
       |), qcells$s AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm, centroid_id AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS crk
       |    FROM ranked$s WHERE vec_id < 10) WHERE crk <= 2
       |), scored$s AS (
       |  SELECT DISTINCT q.query_id, c2.vec_id AS neighbor_id,
       |    round(list_reduce(list_transform(range(1,65),
       |      i -> c2.embedding[i]::DOUBLE * q.q_emb[i]::DOUBLE), (a,b)->a+b)/(c2.nrm*q.q_nrm), 6) AS cos
       |  FROM cells$s c2 JOIN qcells$s q ON c2.cell = q.cell AND c2.vec_id <> q.query_id
       |), top$s AS (
       |  SELECT query_id, neighbor_id, rk FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)::BIGINT AS rk
       |    FROM scored$s) WHERE rk <= 5
       |)""".stripMargin

  /** Shared PQ trainer CTE chain with table-name prefix `p` — mirrors
    * the Spark trainer (Similarity.pqTrain: hash-spread seed by the
    * polynomial doc-id hash, two unrolled Lloyd rounds per subspace,
    * codes from the final books) so the trainer definition cannot
    * drift between the PQ oracles. Expects
    * `${p}sq (vec_id, sub, pos, vq)` to be defined; ends in the
    * trained books `${p}c2` and the encoding `${p}codes`.
    */
  private def pqTrainCtes(p: String): String =
    s"""${p}seed AS (
       |  SELECT vec_id FROM (SELECT DISTINCT vec_id FROM ${p}sq)
       |  ORDER BY list_reduce(list_transform(range(1, len(CAST(vec_id AS VARCHAR))+1),
       |    i -> ascii(substr(CAST(vec_id AS VARCHAR), i, 1))::BIGINT),
       |    (acc, c) -> (acc*31+c)%1000000007), vec_id
       |  LIMIT 16),
       |${p}c0 AS (SELECT s.vec_id::BIGINT AS cid, s.sub, s.pos, s.vq AS cq
       |           FROM ${p}sq s JOIN ${p}seed USING (vec_id)),
       |${p}a1 AS (SELECT vec_id, sub, cid FROM (
       |  SELECT vec_id, sub, cid, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rk
       |  FROM (SELECT s.vec_id, s.sub, c.cid, SUM((s.vq-c.cq)*(s.vq-c.cq)) AS d2
       |        FROM ${p}sq s JOIN ${p}c0 c ON s.sub = c.sub AND s.pos = c.pos GROUP BY 1, 2, 3)) WHERE rk = 1),
       |${p}c1 AS (SELECT a.cid, s.sub, s.pos, round(SUM(s.vq)::DOUBLE / COUNT(*))::BIGINT AS cq
       |           FROM ${p}a1 a JOIN ${p}sq s ON a.vec_id = s.vec_id AND a.sub = s.sub GROUP BY 1, 2, 3),
       |${p}a2 AS (SELECT vec_id, sub, cid FROM (
       |  SELECT vec_id, sub, cid, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rk
       |  FROM (SELECT s.vec_id, s.sub, c.cid, SUM((s.vq-c.cq)*(s.vq-c.cq)) AS d2
       |        FROM ${p}sq s JOIN ${p}c1 c ON s.sub = c.sub AND s.pos = c.pos GROUP BY 1, 2, 3)) WHERE rk = 1),
       |${p}c2 AS (SELECT a.cid, s.sub, s.pos, round(SUM(s.vq)::DOUBLE / COUNT(*))::BIGINT AS cq
       |           FROM ${p}a2 a JOIN ${p}sq s ON a.vec_id = s.vec_id AND a.sub = s.sub GROUP BY 1, 2, 3),
       |${p}codes AS (SELECT vec_id, sub, cid FROM (
       |  SELECT vec_id, sub, cid, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rk
       |  FROM (SELECT s.vec_id, s.sub, c.cid, SUM((s.vq-c.cq)*(s.vq-c.cq)) AS d2
       |        FROM ${p}sq s JOIN ${p}c2 c ON s.sub = c.sub AND s.pos = c.pos GROUP BY 1, 2, 3)) WHERE rk = 1)""".stripMargin

  /** The per-query ADC distance table over the trained `${p}c2` books
    * — the query side of every PQ oracle.
    */
  private def pqQdCte(p: String): String =
    s"""${p}qd AS (SELECT s.vec_id AS query_id, c.sub, c.cid, SUM((s.vq-c.cq)*(s.vq-c.cq)) AS d2q
       |       FROM ${p}sq s JOIN ${p}c2 c ON s.sub = c.sub AND s.pos = c.pos
       |       WHERE s.vec_id < 10 GROUP BY 1, 2, 3)""".stripMargin

  /** Trained-IVF CTE base: trained centroids as DOUBLE lists, corpus
    * with norms, centroid ranking, and first-cell assignment — ends in
    * `cells` / `ranked`. Shared by the fixed-2-probe suffix below and
    * the probe-sweep oracle (which varies only the probe filter).
    */
  private val trainedIvfBaseCtes: String =
    """tc AS (
      |  SELECT cid AS centroid_id, list(round(cq::DOUBLE/1000000.0, 6) ORDER BY pos) AS c_emb
      |  FROM c2 GROUP BY cid),
      |tcn AS (SELECT centroid_id, c_emb,
      |  sqrt(list_reduce(list_transform(c_emb, x -> x*x), (a,b)->a+b)) AS c_nrm FROM tc),
      |e AS (SELECT vec_id, embedding,
      |  sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE*x::DOUBLE), (a,b)->a+b)) AS nrm
      |  FROM embeddings),
      |ranked AS (
      |  SELECT e.vec_id, e.embedding, e.nrm, c.centroid_id,
      |    round(list_reduce(list_transform(range(1,65),
      |      i -> e.embedding[i]::DOUBLE * c.c_emb[i]), (a,b)->a+b)/(e.nrm*c.c_nrm), 6) AS c_sim
      |  FROM e, tcn c),
      |cells AS (
      |  SELECT vec_id, embedding, nrm, centroid_id AS cell FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rk
      |    FROM ranked) WHERE rk = 1)""".stripMargin

  /** Trained-IVF CTE suffix at nProbe=2 — ends in
    * `scored (query_id, neighbor_id, cos)`.
    */
  private val trainedIvfCtes: String =
    trainedIvfBaseCtes + ",\n" +
    """qcells AS (
      |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm, centroid_id AS cell FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rk
      |    FROM ranked WHERE vec_id < 10) WHERE rk <= 2),
      |scored AS (
      |  SELECT DISTINCT q.query_id, cv.vec_id AS neighbor_id,
      |    round(list_reduce(list_transform(range(1,65),
      |      i -> cv.embedding[i]::DOUBLE * q.q_emb[i]::DOUBLE), (a,b)->a+b)/(cv.nrm*q.q_nrm), 6) AS cos
      |  FROM cells cv JOIN qcells q ON cv.cell = q.cell AND cv.vec_id <> q.query_id)""".stripMargin

  /** Unified near-dup pair-graph CTE block ending in `dup (doc_a,
    * doc_b)`: the UNION of the MinHash-Jaccard (>= 0.7), 64-bit
    * SimHash (Hamming <= 3), and blocked n-gram Jaccard (>= 0.02)
    * pair sets — shared by x_dedup_unified and x_unified_survivors so
    * the three families' definitions cannot drift from their
    * standalone oracles (x_dedup_minhash / x_simhash_neardup /
    * x_ngram_jaccard, which use the identical arithmetic).
    */
  private val unifiedDupCtes: String =
    """tk AS (
      |  SELECT doc_id, string_split(text,' ') AS toks FROM documents
      |), sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
      |  FROM tk WHERE len(toks) >= 3
      |), hs AS (
      |  SELECT doc_id, list_distinct(list_transform(shingles, s ->
      |    list_reduce(list_transform(range(1,len(s)+1), i -> ascii(substr(s,i,1))::BIGINT),
      |      (acc,c) -> (acc*31+c)%1000000007))) AS hashes
      |  FROM sh
      |), sig AS (
      |  SELECT doc_id, list_transform(range(0,16), i ->
      |    list_min(list_transform(hashes, x -> ((i*2+1)*x + (i*5+3)) % 1000000007))) AS sig
      |  FROM hs
      |), bands AS (
      |  SELECT doc_id, b,
      |    ((((((sig[4*b+1]::BIGINT % 1000000007)*31 + sig[4*b+2]::BIGINT) % 1000000007)*31
      |       + sig[4*b+3]::BIGINT) % 1000000007 *31 + sig[4*b+4]::BIGINT) % 1000000007) AS bh
      |  FROM sig, range(0,4) t(b)
      |), cpairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
      |  FROM bands a JOIN bands c ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id
      |), scored AS (
      |  SELECT p.doc_a, p.doc_b,
      |    round(len(list_filter(ha.hashes, x -> list_contains(hb.hashes, x)))::DOUBLE /
      |      (len(ha.hashes)+len(hb.hashes)
      |       -len(list_filter(ha.hashes, x -> list_contains(hb.hashes, x)))), 6) AS jaccard
      |  FROM cpairs p JOIN hs ha ON p.doc_a = ha.doc_id JOIN hs hb ON p.doc_b = hb.doc_id
      |), mdup AS (
      |  SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.7
      |), s_sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(text)-7,1)+1),
      |    i -> substr(text,i,8))) AS shingles
      |  FROM documents
      |), s_hs AS (
      |  SELECT doc_id, list_transform(shingles, s ->
      |    list_reduce(list_transform(range(1,len(s)+1), i -> ascii(substr(s,i,1))::BIGINT),
      |      (acc,c) -> (acc*31+c)%1000000007)) AS hashes
      |  FROM s_sh
      |), sim AS (
      |  SELECT doc_id,
      |    list_sum(list_transform(range(0,32), j ->
      |      CASE WHEN list_sum(list_transform(hashes, h ->
      |        ((((h*2654435761) >> 15) & 4294967295) >> j & 1)*2 - 1)) > 0
      |           THEN (1::BIGINT)<<j ELSE 0 END))::BIGINT AS sim_lo,
      |    list_sum(list_transform(range(0,32), j ->
      |      CASE WHEN list_sum(list_transform(hashes, h ->
      |        ((((h*2246822519) >> 15) & 4294967295) >> j & 1)*2 - 1)) > 0
      |           THEN (1::BIGINT)<<j ELSE 0 END))::BIGINT AS sim_hi
      |  FROM s_hs
      |), s_bk AS (
      |  SELECT doc_id, sim_lo, sim_hi, band,
      |    ((CASE WHEN band < 2 THEN sim_lo ELSE sim_hi END) >> ((band % 2)*16)) & 65535 AS bk
      |  FROM sim, unnest([0,1,2,3]) t(band)
      |), s_cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM s_bk a JOIN s_bk b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
      |), sdup AS (
      |  SELECT c.doc_a, c.doc_b FROM s_cand c
      |  JOIN sim sa ON sa.doc_id = c.doc_a
      |  JOIN sim sb ON sb.doc_id = c.doc_b
      |  WHERE bit_count(xor(sa.sim_lo, sb.sim_lo)) + bit_count(xor(sa.sim_hi, sb.sim_hi)) <= 3
      |), n_tk AS (
      |  SELECT doc_id, lang, source, string_split(text,' ') AS toks FROM documents
      |), n_h AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct(list_transform(
      |      list_transform(range(1, len(toks)-1),
      |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
      |      g -> list_reduce(list_transform(range(1,len(g)+1),
      |             i -> ascii(substr(g,i,1))::BIGINT), (acc,c) -> (acc*31+c)%1000000007))) AS ghs
      |  FROM n_tk WHERE len(toks) >= 3
      |), n_r AS (
      |  SELECT doc_id, lang, source, unnest(ghs) AS gh FROM n_h
      |), n_kept AS (
      |  SELECT n_r.* FROM n_r JOIN (
      |    SELECT lang, source, gh FROM n_r GROUP BY lang, source, gh HAVING COUNT(*) <= 64
      |  ) k USING (lang, source, gh)
      |), n_sizes AS (
      |  SELECT doc_id, COUNT(*) AS sz FROM n_kept GROUP BY doc_id
      |), n_ins AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      |  FROM n_kept a JOIN n_kept b
      |    ON a.lang = b.lang AND a.source = b.source AND a.gh = b.gh
      |   AND a.doc_id < b.doc_id
      |  GROUP BY doc_a, doc_b
      |), ndup AS (
      |  SELECT doc_a, doc_b FROM (
      |    SELECT i.doc_a, i.doc_b,
      |      round(i.n_common::DOUBLE / (sa.sz + sb.sz - i.n_common), 6) AS jaccard
      |    FROM n_ins i JOIN n_sizes sa ON i.doc_a = sa.doc_id
      |                 JOIN n_sizes sb ON i.doc_b = sb.doc_id
      |  ) WHERE jaccard >= 0.02
      |), dup AS (
      |  SELECT doc_a, doc_b FROM mdup
      |  UNION SELECT doc_a, doc_b FROM sdup
      |  UNION SELECT doc_a, doc_b FROM ndup
      |)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "ref_normalize_union" ->
      """SELECT * FROM (
        |  SELECT event_id AS id, 'u' || CAST(user_id AS VARCHAR) AS symbol,
        |         CAST(CAST(value AS VARCHAR) AS DOUBLE) AS price,
        |         CAST(props->>'$.k' AS BIGINT) AS volume,
        |         epoch_us(ts)//1000000 AS ts_epoch,
        |         'AlphaVantage' AS source
        |  FROM events WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT event_id AS id, 'u' || CAST(user_id AS VARCHAR) AS symbol,
        |         value AS price,
        |         CAST(props->>'$.k' AS BIGINT) AS volume,
        |         epoch_us(ts)//1000000 AS ts_epoch,
        |         'WebSocketMock' AS source
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT event_id AS id, 'u' || CAST(user_id AS VARCHAR) AS symbol,
        |         CAST(CAST(value AS VARCHAR) AS DOUBLE) AS price,
        |         CAST(props->>'$.k' AS BIGINT) AS volume,
        |         epoch_us(ts)//1000000 AS ts_epoch,
        |         'CSVMock' AS source
        |  FROM events WHERE event_type NOT IN ('view','click')
        |) ORDER BY id""".stripMargin,

    "ref_clean" ->
      """SELECT id, price, GREATEST(0, COALESCE(volume, 0)) AS volume FROM (
        |  SELECT event_id AS id, value AS price,
        |         CAST(props->>'$.k' AS BIGINT) AS volume
        |  FROM events
        |) WHERE price IS NOT NULL AND price > 0
        |ORDER BY id""".stripMargin,

    "ref_sma" ->
      """SELECT id, symbol, price,
        |  CASE WHEN COUNT(*) OVER w = 5
        |       THEN ROUND(AVG(price) OVER w, 6) END AS moving_average
        |FROM (SELECT event_id AS id, user_id AS symbol, value AS price FROM events)
        |WINDOW w AS (PARTITION BY symbol ORDER BY id
        |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY id""".stripMargin,

    "ref_alerts" ->
      """SELECT * FROM (
        |  SELECT id, symbol, price,
        |    CASE WHEN COUNT(*) OVER w = 5
        |         THEN ROUND(AVG(price) OVER w, 6) END AS moving_average
        |  FROM (SELECT event_id AS id, user_id AS symbol, value AS price FROM events)
        |  WINDOW w AS (PARTITION BY symbol ORDER BY id
        |               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |) WHERE moving_average > 108.0 AND NOT isnan(moving_average)
        |ORDER BY id""".stripMargin,

    "ref_pipeline" ->
      """SELECT * FROM (
        |  SELECT id, symbol, price, volume, ts_epoch, source,
        |    CASE WHEN COUNT(*) OVER w = 5
        |         THEN ROUND(AVG(price) OVER w, 6) END AS moving_average
        |  FROM (
        |    SELECT id, symbol, price,
        |           GREATEST(0, COALESCE(volume, 0)) AS volume, ts_epoch, source
        |    FROM (
        |      SELECT event_id AS id, 'u' || CAST(user_id AS VARCHAR) AS symbol,
        |             CAST(CAST(value AS VARCHAR) AS DOUBLE) AS price,
        |             CAST(props->>'$.k' AS BIGINT) AS volume,
        |             epoch_us(ts)//1000000 AS ts_epoch, 'AlphaVantage' AS source
        |      FROM events WHERE event_type = 'view'
        |      UNION ALL
        |      SELECT event_id, 'u' || CAST(user_id AS VARCHAR), value,
        |             CAST(props->>'$.k' AS BIGINT), epoch_us(ts)//1000000,
        |             'WebSocketMock'
        |      FROM events WHERE event_type = 'click'
        |      UNION ALL
        |      SELECT event_id, 'u' || CAST(user_id AS VARCHAR),
        |             CAST(CAST(value AS VARCHAR) AS DOUBLE),
        |             CAST(props->>'$.k' AS BIGINT), epoch_us(ts)//1000000,
        |             'CSVMock'
        |      FROM events WHERE event_type NOT IN ('view','click')
        |    ) WHERE price IS NOT NULL AND price > 0
        |  )
        |  WINDOW w AS (PARTITION BY symbol ORDER BY id
        |               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |) WHERE moving_average > 108.0 AND NOT isnan(moving_average)
        |ORDER BY id""".stripMargin,

    "x_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |           (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "x_top_revenue_orders" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |           (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "x_brand_volume" ->
      """SELECT p_brand,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // exact equi-depth histogram: ((rank-1)*B) div n over the unique
    // (price, orderkey, linenumber) total order
    "x_equidepth_hist" ->
      """WITH r AS (
        |  SELECT l_extendedprice AS v,
        |    ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rk,
        |    COUNT(*) OVER () AS n
        |  FROM lineitem
        |)
        |SELECT ((rk - 1) * 16) // n AS bucket, COUNT(*)::BIGINT AS n_rows,
        |  MIN(v) AS lo, MAX(v) AS hi
        |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin,

    // TPC-H Q19-class disjunctive (brand, size, quantity) branches
    "x_disjunctive_rev" ->
      """SELECT COUNT(*)::BIGINT AS n_items,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |    (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "x_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "x_join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "x_join_anti" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,

    "x_join_full_outer" ->
      """WITH v AS (SELECT user_id, COUNT(*) AS n_views FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |p AS (SELECT user_id, COUNT(*) AS n_purchases FROM events
        |      WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT COALESCE(v.user_id, p.user_id) AS user_id,
        |  COALESCE(v.n_views, 0) AS n_views,
        |  COALESCE(p.n_purchases, 0) AS n_purchases,
        |  CASE WHEN v.user_id IS NOT NULL AND p.user_id IS NOT NULL THEN 'converted'
        |       WHEN v.user_id IS NOT NULL THEN 'browsed_only'
        |       ELSE 'purchased_direct' END AS funnel_state
        |FROM v FULL OUTER JOIN p ON v.user_id = p.user_id
        |ORDER BY user_id""".stripMargin,

    "x_topk_per_supplier" ->
      """SELECT * FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |    ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
        |  FROM lineitem
        |) WHERE rk <= 3 ORDER BY l_suppkey, rk""".stripMargin,

    // same oracle as x_topk_per_supplier — two physical strategies,
    // one logical result, both verified and benched
    "x_topk_agg" ->
      """SELECT * FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |    ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
        |  FROM lineitem
        |) WHERE rk <= 3 ORDER BY l_suppkey, rk""".stripMargin,

    "x_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,

    "x_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin,

    "x_hourly_events" ->
      """SELECT epoch_us(date_trunc('hour', ts))//1000000 AS bucket_s, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY bucket_s, event_type
        |ORDER BY bucket_s, event_type""".stripMargin,

    // first-seen-day cohort x day-offset retention matrix; day buckets
    // bridged as epoch seconds (the x_hourly_events convention)
    "x_cohort_retention" ->
      """WITH a AS (
        |  SELECT DISTINCT user_id, epoch_us(date_trunc('day', ts))//1000000 AS day_s
        |  FROM events),
        |f AS (SELECT user_id, MIN(day_s) AS cohort_s FROM a GROUP BY user_id),
        |s AS (SELECT cohort_s, COUNT(DISTINCT user_id) AS cohort_size FROM f GROUP BY cohort_s),
        |r AS (
        |  SELECT f.cohort_s, (a.day_s - f.cohort_s)//86400 AS offset_days,
        |    COUNT(DISTINCT a.user_id) AS n_users
        |  FROM a JOIN f USING (user_id) GROUP BY 1, 2)
        |SELECT r.cohort_s, r.offset_days, r.n_users, s.cohort_size,
        |  round(r.n_users::DOUBLE / s.cohort_size, 6) AS retention
        |FROM r JOIN s USING (cohort_s) ORDER BY cohort_s, offset_days""".stripMargin,

    // ordered signup -> click -> purchase funnel: each step's clock
    // starts at the previous step's event and must land within 24h of
    // it; counts + shares only (no timestamps escape)
    "x_event_funnel" ->
      """WITH t1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'signup'
        |  GROUP BY user_id),
        |t2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN t1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= t1.t1
        |    AND e.ts <= t1.t1 + INTERVAL 24 HOURS
        |  GROUP BY e.user_id),
        |t3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN t2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= t2.t2
        |    AND e.ts <= t2.t2 + INTERVAL 24 HOURS
        |  GROUP BY e.user_id),
        |u AS (
        |  SELECT 1::BIGINT AS step_no, 'signup' AS step, COUNT(*) AS n_users FROM t1
        |  UNION ALL
        |  SELECT 2::BIGINT, 'click_after_signup', COUNT(*) FROM t2
        |  UNION ALL
        |  SELECT 3::BIGINT, 'purchase_after_click', COUNT(*) FROM t3),
        |n0 AS (SELECT COUNT(*) AS n0 FROM t1)
        |SELECT step_no, step, n_users, round(n_users::DOUBLE / n0, 6) AS share
        |FROM u, n0 ORDER BY step_no""".stripMargin,

    // funnel step timing: same t1/t2/t3 derivation as x_event_funnel,
    // exact epoch-second lags (each side truncated before subtracting)
    "x_funnel_timing" ->
      """WITH t1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'signup'
        |  GROUP BY user_id),
        |t2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN t1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= t1.t1
        |    AND e.ts <= t1.t1 + INTERVAL 24 HOURS
        |  GROUP BY e.user_id),
        |t3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN t2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= t2.t2
        |    AND e.ts <= t2.t2 + INTERVAL 24 HOURS
        |  GROUP BY e.user_id),
        |l12 AS (SELECT epoch_us(t2)//1000000 - epoch_us(t1)//1000000 AS lag_s
        |        FROM t1 JOIN t2 USING (user_id)),
        |l23 AS (SELECT epoch_us(t3)//1000000 - epoch_us(t2)//1000000 AS lag_s
        |        FROM t2 JOIN t3 USING (user_id))
        |SELECT * FROM (
        |  SELECT 'signup_to_click' AS step, COUNT(*) AS n_users,
        |    ROUND(SUM(lag_s) / COUNT(*), 6) AS mean_lag_s,
        |    ROUND(quantile_cont(lag_s, 0.5), 6) AS p50_lag_s
        |  FROM l12
        |  UNION ALL
        |  SELECT 'click_to_purchase', COUNT(*),
        |    ROUND(SUM(lag_s) / COUNT(*), 6),
        |    ROUND(quantile_cont(lag_s, 0.5), 6)
        |  FROM l23)
        |ORDER BY step""".stripMargin,

    // shipping-delay SLA distribution per order priority, exact
    // integer day counts
    "x_ship_delay" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        |  MIN(dd) AS min_delay, MAX(dd) AS max_delay,
        |  ROUND(SUM(dd) / COUNT(*), 6) AS mean_delay,
        |  ROUND(quantile_cont(dd, 0.5), 6) AS p50_delay
        |FROM (SELECT o_orderpriority,
        |        date_diff('day', CAST(o_orderdate AS DATE),
        |                  CAST(l_shipdate AS DATE))::BIGINT AS dd
        |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // 5 unrolled k-core peel rounds at k=3 over the co-purchase edges.
    // Every CTE is MATERIALIZED: DuckDB inlines CTEs by default, and
    // each round references its predecessor three times — unmaterialized,
    // the base self-join would re-expand 3^5 times (measured: timeout
    // vs 0.13 s materialized).
    "x_kcore_peel" ->
      ("""WITH items AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |co AS MATERIALIZED (
         |  SELECT a.pk AS pa, b.pk AS pb FROM items a
         |  JOIN items b ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |e0 AS MATERIALIZED (SELECT pa AS u, pb AS v FROM co),""".stripMargin + "\n" +
       (1 to 5).map(i =>
         s"""d$i AS MATERIALIZED (SELECT x, COUNT(*) AS d FROM
            |  (SELECT u AS x FROM e${i-1} UNION ALL SELECT v FROM e${i-1}) GROUP BY x),
            |k$i AS MATERIALIZED (SELECT x FROM d$i WHERE d >= 3),
            |e$i AS MATERIALIZED (SELECT u, v FROM e${i-1}
            |        WHERE u IN (SELECT x FROM k$i) AND v IN (SELECT x FROM k$i))""".stripMargin)
         .mkString(",\n") + "\n" +
       (1 to 5).map(i =>
         s"SELECT $i::BIGINT AS round, (SELECT COUNT(*) FROM k$i) AS n_nodes, " +
         s"(SELECT COUNT(*) FROM e$i) AS n_edges")
         .mkString(" UNION ALL ") + " ORDER BY round"),

    // degree assortativity over the symmetrized co-purchase adjacency
    "x_assortativity" ->
      (graphCoCte + """
        |SELECT COUNT(*) AS n_directed_edges,
        |  ROUND(corr(du.d, dv.d), 6) + 0 AS assortativity
        |FROM adj JOIN degu du ON du.u = adj.u
        |JOIN degu dv ON dv.u = adj.v""".stripMargin),

    "x_json_props" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(props->>'$.k' AS BIGINT)) AS min_k,
        |  MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "x_running_spend" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        |  o_totalprice,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
        |    PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey
        |    ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE) AS running_spend
        |FROM orders
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,

    "x_value_bands" ->
      """SELECT band, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events JOIN (
        |  SELECT range AS band, range*50.0 AS lo, (range+1)*50.0 AS hi
        |  FROM range(0,10)
        |) ON value >= lo AND value < hi
        |GROUP BY band ORDER BY band""".stripMargin,

    "x_asof_join" ->
      """SELECT t.event_id, t.user_id, t.value,
        |       q.view_value AS asof_view_value,
        |       q.view_event_id AS asof_view_event_id
        |FROM (SELECT event_id, user_id, value FROM events
        |      WHERE event_type = 'click') t
        |ASOF LEFT JOIN (SELECT event_id AS view_event_id, user_id,
        |                       value AS view_value FROM events
        |                WHERE event_type = 'view') q
        |  ON t.user_id = q.user_id AND t.event_id >= q.view_event_id
        |ORDER BY t.event_id""".stripMargin,

    // as-of with a max-staleness contract: matches older than 100 in
    // the as-of ordering are masked to NULL on both engines
    "x_asof_tolerance" ->
      """SELECT t.event_id, t.user_id, t.value,
        |  CASE WHEN t.event_id - q.view_event_id <= 100
        |       THEN q.view_value END AS asof_view_value,
        |  CASE WHEN t.event_id - q.view_event_id <= 100
        |       THEN q.view_event_id END AS asof_view_event_id
        |FROM (SELECT event_id, user_id, value FROM events
        |      WHERE event_type = 'click') t
        |ASOF LEFT JOIN (SELECT event_id AS view_event_id, user_id,
        |                       value AS view_value FROM events
        |                WHERE event_type = 'view') q
        |  ON t.user_id = q.user_id AND t.event_id >= q.view_event_id
        |ORDER BY t.event_id""".stripMargin,

    // top day-over-day VWAP movers off the engine-exact round-6 dailies
    "x_top_movers" ->
      (finVwapCte + """,
        |d AS (SELECT symbol, day, vwap,
        |        LAG(vwap) OVER (PARTITION BY symbol ORDER BY day) AS prev_vwap
        |      FROM v),
        |f AS (SELECT symbol, day, prev_vwap, vwap,
        |        ROUND((vwap - prev_vwap) / prev_vwap, 6) AS pct_change
        |      FROM d WHERE prev_vwap IS NOT NULL AND prev_vwap <> 0),
        |top AS (SELECT * FROM f
        |        ORDER BY ABS(pct_change) DESC, symbol, day LIMIT 10)
        |SELECT ROW_NUMBER() OVER (ORDER BY ABS(pct_change) DESC, symbol, day)::BIGINT AS rk,
        |  symbol, day, prev_vwap, vwap, pct_change
        |FROM top ORDER BY rk""".stripMargin),

    // pairwise daily-mean-price correlation across the 10 most-traded
    // symbols; exact-decimal daily means, shared-day alignment
    "x_pair_corr" ->
      (finQuoteCte + """,
        |dm AS (
        |  SELECT symbol, day,
        |    CAST(CAST(SUM(CAST(price AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS mean_price,
        |    COUNT(*) AS n_ticks
        |  FROM q GROUP BY 1, 2),
        |top AS (SELECT symbol FROM (
        |          SELECT symbol, SUM(n_ticks) AS total FROM dm GROUP BY 1)
        |        ORDER BY total DESC, symbol LIMIT 10),
        |u AS (SELECT dm.symbol, day, mean_price FROM dm JOIN top USING (symbol))
        |SELECT a.symbol AS sym_a, b.symbol AS sym_b, COUNT(*) AS n_days,
        |  ROUND(corr(a.mean_price, b.mean_price), 6) + 0 AS price_corr
        |FROM u a JOIN u b ON a.day = b.day AND a.symbol < b.symbol
        |GROUP BY 1, 2 HAVING COUNT(*) >= 10 ORDER BY 1, 2""".stripMargin),

    "x_asof_forward" ->
      """SELECT t.event_id, t.user_id, t.value,
        |       q.view_value AS asof_view_value,
        |       q.view_event_id AS asof_view_event_id
        |FROM (SELECT event_id, user_id, value FROM events
        |      WHERE event_type = 'click') t
        |ASOF LEFT JOIN (SELECT event_id AS view_event_id, user_id,
        |                       value AS view_value FROM events
        |                WHERE event_type = 'view') q
        |  ON t.user_id = q.user_id AND t.event_id <= q.view_event_id
        |ORDER BY t.event_id""".stripMargin,

    "x_distinct_exact" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // The exact side is fully oracle-computed; the sketch side is
    // checked as a verified GUARANTEE (the boolean claim), which is
    // deterministic even though the sketch internals are not portable.
    "x_hll_error" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_rows,
        |  TRUE AS within_2rsd
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "x_tdigest_error" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50_exact,
        |  TRUE AS within_rank_eps
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "x_value_bands_arith" ->
      """SELECT CAST(FLOOR(value/50.0) AS BIGINT) AS band, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events WHERE value >= 0.0 AND value < 500.0
        |GROUP BY band ORDER BY band""".stripMargin,

    "x_join_left_outer" ->
      """SELECT c_custkey, n_name, r_name,
        |  COUNT(o_orderkey) AS n_orders,
        |  CAST(CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 0) AS VARCHAR) AS DOUBLE) AS total_spend
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, n_name, r_name
        |ORDER BY c_custkey""".stripMargin,

    "x_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'view'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'click'
        |ORDER BY user_id""".stripMargin,

    "x_except" ->
      """SELECT user_id FROM events WHERE event_type = 'view'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,

    "x_lead_lag" ->
      """SELECT event_id, user_id, value,
        |  LAG(value) OVER w AS prev_value,
        |  LEAD(value) OVER w AS next_value,
        |  value - LAG(value) OVER w AS delta
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY event_id""".stripMargin,

    "x_percentiles" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
        |  ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "x_runtime_filter" ->
      """SELECT p_size, COUNT(*) AS n_items,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |       (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS VARCHAR)
        |    AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#7' AND p_size <= 5
        |GROUP BY p_size ORDER BY p_size""".stripMargin,

    // Division-semantics-free binning (mirrors the Spark side's
    // pmod-subtraction): cents minus the POSITIVE mod is an exact
    // multiple of 2000, so the `//` is exact division — identical
    // under floor (DuckDB //) or truncate (Spark div) semantics for
    // ANY sign of value, no corpus non-negativity contract needed
    "x_histogram" ->
      """WITH c AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |b AS (
        |  SELECT event_type,
        |    (cents - ((cents % 2000) + 2000) % 2000) // 2000 AS bin
        |  FROM c)
        |SELECT event_type, bin, (bin * 20.0)::DOUBLE AS bin_lo,
        |  COUNT(*) AS n_events
        |FROM b GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin,

    // Spark try_cast/try_divide modeled as TRY_CAST / NULLIF-guarded
    // division in DuckDB; sums bridge through VARCHAR per §4b lesson 9
    "x_safe_arith" ->
      """WITH e AS (
        |  SELECT event_type, value, CAST(props->>'$.k' AS BIGINT) AS k FROM events),
        |m AS (
        |  SELECT event_type, value, k,
        |    CASE WHEN k % 10 = 0 THEN 'v' || CAST(k AS VARCHAR)
        |         ELSE CAST(k AS VARCHAR) END AS k_raw
        |  FROM e)
        |SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(TRY_CAST(k_raw AS BIGINT)) AS n_parsable,
        |  COUNT(CASE WHEN k IS NULL OR k % 7 = 0 THEN NULL ELSE value END) AS n_divisible,
        |  ROUND(CAST(CAST(SUM(CAST(ROUND(value / NULLIF(k % 7, 0), 6)
        |    AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE), 6) AS sum_ratio
        |FROM m GROUP BY event_type ORDER BY event_type""".stripMargin,

    "x_recursive_cte" ->
      """WITH RECURSIVE chain(custkey, anc, depth) AS (
        |  SELECT c_custkey, c_custkey, 0 FROM customer
        |  UNION ALL
        |  SELECT custkey, anc // 10, depth + 1 FROM chain WHERE anc > 0)
        |SELECT custkey AS c_custkey, MAX(depth) AS depth,
        |       COUNT(*) AS n_chain, SUM(anc)::BIGINT AS anc_sum
        |FROM chain GROUP BY custkey ORDER BY c_custkey""".stripMargin,

    "x_variant" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  SUM(CAST(props->>'$.k' AS BIGINT))::BIGINT AS sum_k,
        |  MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "x_lateral_topn" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) o
        |ORDER BY c.c_custkey""".stripMargin,

    "x_interval_join" ->
      """WITH v AS (
        |  SELECT user_id, event_id AS view_id, ts AS view_ts
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT v.user_id, COUNT(*) AS n_pairs,
        |  COUNT(DISTINCT v.view_id) AS n_attributed_views,
        |  COUNT(DISTINCT p.purchase_id) AS n_attributed_purchases
        |FROM v JOIN p ON v.user_id = p.user_id
        |  AND p.purchase_ts >= v.view_ts
        |  AND p.purchase_ts < v.view_ts + INTERVAL 1 HOUR
        |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin,

    // mean/std round to 6 decimals BEFORE the +-3 sigma comparison:
    // the engines' stddev summation orders differ, and classifying
    // against the raw double would flip boundary rows
    "x_zscore_outliers" ->
      """WITH s AS (
        |  SELECT event_type,
        |    round(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |          / COUNT(*), 6) AS mean_v,
        |    round(stddev_samp(value), 6) AS std_v
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, COUNT(*) AS n_events,
        |  MIN(s.mean_v) AS mean_v, MIN(s.std_v) AS std_v,
        |  SUM(CASE WHEN e.value > s.mean_v + 3.0*s.std_v THEN 1 ELSE 0 END)::BIGINT
        |    AS n_high_outliers,
        |  SUM(CASE WHEN e.value < s.mean_v - 3.0*s.std_v THEN 1 ELSE 0 END)::BIGINT
        |    AS n_low_outliers
        |FROM events e JOIN s ON e.event_type = s.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "x_locf" ->
      """WITH span AS (
        |  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
        |  FROM events),
        |spine AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM span),
        |h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |    round(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |          / COUNT(*), 6) AS avg_value
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT DISTINCT event_type FROM events)
        |SELECT t.event_type, spine.hour,
        |  last_value(h.avg_value IGNORE NULLS) OVER (
        |    PARTITION BY t.event_type ORDER BY spine.hour
        |    ROWS UNBOUNDED PRECEDING) AS filled_value,
        |  (h.avg_value IS NULL) AS is_filled
        |FROM t CROSS JOIN spine
        |LEFT JOIN h ON h.event_type = t.event_type AND h.hour = spine.hour
        |ORDER BY t.event_type, spine.hour""".stripMargin,

    // every event belongs to exactly window/slide = 4 hourly windows
    // stepped 15 min; slot arithmetic mirrors Spark's epoch-aligned
    // window() start computation. The start is built as a NAIVE
    // timestamp via epoch interval arithmetic — to_timestamp returns
    // TIMESTAMPTZ and its cast shifts with DuckDB's session TimeZone,
    // which would false-fail the gate on any non-UTC host
    "x_hopping_window" ->
      """WITH w AS (
        |  SELECT event_type, value,
        |    TIMESTAMP '1970-01-01 00:00:00' +
        |      ((CAST(floor(epoch(ts)/900) AS BIGINT) - i) * 900) * INTERVAL 1 SECOND
        |      AS win_start
        |  FROM events, range(0, 4) t(i))
        |SELECT win_start, win_start + INTERVAL 1 HOUR AS win_end, event_type,
        |  COUNT(*) AS n_events,
        |  ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE), 6)
        |    AS sum_value
        |FROM w GROUP BY win_start, event_type
        |ORDER BY win_start, event_type""".stripMargin,

    "x_gap_fill" ->
      """WITH span AS (
        |  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
        |  FROM events),
        |spine AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM span),
        |c AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT DISTINCT event_type FROM events)
        |SELECT t.event_type, spine.hour,
        |  COALESCE(c.n_events, 0) AS n_events
        |FROM t CROSS JOIN spine
        |LEFT JOIN c ON c.event_type = t.event_type AND c.hour = spine.hour
        |ORDER BY t.event_type, spine.hour""".stripMargin,

    "x_not_in" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,

    "x_scd2" ->
      """SELECT user_id,
        |  ROW_NUMBER() OVER w AS version, event_id, ts AS valid_from,
        |  LEAD(ts) OVER w AS valid_to,
        |  (LEAD(ts) OVER w IS NULL) AS is_current, value
        |FROM events WHERE event_type = 'purchase'
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,

    "x_except_all" ->
      """SELECT user_id, COUNT(*) AS n_surplus FROM (
        |  SELECT user_id FROM events WHERE event_type = 'purchase'
        |  EXCEPT ALL
        |  SELECT user_id FROM events WHERE event_type = 'view')
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "x_intersect_all" ->
      """SELECT user_id, COUNT(*) AS n_common FROM (
        |  SELECT user_id FROM events WHERE event_type = 'purchase'
        |  INTERSECT ALL
        |  SELECT user_id FROM events WHERE event_type = 'view')
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "x_winsorize" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |    ROUND(quantile_cont(l_quantity, 0.05), 6) AS p05,
        |    ROUND(quantile_cont(l_quantity, 0.95), 6) AS p95
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag, COUNT(*) AS n_rows,
        |  MIN(b.p05) AS p05, MIN(b.p95) AS p95,
        |  SUM(CASE WHEN l.l_quantity < b.p05 THEN 1 ELSE 0 END)::BIGINT AS n_lo_clamped,
        |  SUM(CASE WHEN l.l_quantity > b.p95 THEN 1 ELSE 0 END)::BIGINT AS n_hi_clamped,
        |  ROUND(CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |        / COUNT(*), 6) AS avg_raw,
        |  ROUND(CAST(CAST(SUM(CAST(LEAST(GREATEST(l.l_quantity, b.p05), b.p95)
        |        AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS avg_winsorized
        |FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin,

    "x_orders_by_month" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(month(o_orderdate) AS BIGINT) AS o_month,
        |  COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_price,
        |  CAST(MAX(day(o_orderdate)) AS BIGINT) AS max_day
        |FROM orders GROUP BY o_year, o_month ORDER BY o_year, o_month""".stripMargin,

    "x_salted_agg" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // 9:1 hot-key join — results identical with or without AQE's
    // runtime skew split (PlanSpec asserts the split fires)
    "x_skew_join" ->
      """WITH fact AS (
        |  SELECT CASE WHEN id % 10 <> 0 THEN 7 ELSE id % 2000 END AS k, id % 97 AS v
        |  FROM range(0, 200000) t(id)
        |), dim AS (
        |  SELECT id AS k, id % 13 AS w FROM range(0, 2000) t(id)
        |)
        |SELECT d.w, COUNT(*) AS n_rows, SUM(f.v)::BIGINT AS sum_v
        |FROM fact f JOIN dim d USING (k)
        |GROUP BY d.w ORDER BY d.w""".stripMargin,

    // z-order data-skipping audit: three layouts x 64 rank-arithmetic
    // shards, min/max prune vs the middle-quarter box of both key
    // domains; the interleave expression comes from the SAME generator
    // as the Spark side (Analytics.zInterleave) so the curve cannot
    // drift. // floor division is safe: every operand is non-negative
    "x_zorder_skipping" ->
      s"""WITH mx AS (SELECT max(l_partkey) AS xp, max(l_suppkey) AS xs FROM lineitem),
        |bx AS (SELECT (xp+1)//4 AS plo, (xp+1)//2-1 AS phi,
        |              (xs+1)//4 AS slo, (xs+1)//2-1 AS shi FROM mx),
        |li AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |         CAST(l_partkey AS BIGINT) * 1024 // (mx.xp + 1) AS np,
        |         CAST(l_suppkey AS BIGINT) * 1024 // (mx.xs + 1) AS ns
        |       FROM lineitem, mx),
        |lz AS (SELECT *, ${graft.operators.Analytics.zInterleave("np", "ns", 10, sparkSql = false)} AS zval FROM li),
        |tot AS (SELECT COUNT(*) AS n FROM lz),
        |lay AS (
        |  SELECT 'natural' AS layout,
        |    ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn,
        |    l_partkey, l_suppkey FROM lz
        |  UNION ALL
        |  SELECT 'bypart',
        |    ROW_NUMBER() OVER (ORDER BY l_partkey, l_orderkey, l_linenumber),
        |    l_partkey, l_suppkey FROM lz
        |  UNION ALL
        |  SELECT 'zorder',
        |    ROW_NUMBER() OVER (ORDER BY zval, l_orderkey, l_linenumber),
        |    l_partkey, l_suppkey FROM lz),
        |sh AS (SELECT layout, (rn - 1) * 64 // (SELECT n FROM tot) AS shard,
        |              l_partkey, l_suppkey FROM lay),
        |st AS (SELECT layout, shard,
        |         min(l_partkey) AS mp, max(l_partkey) AS xp2,
        |         min(l_suppkey) AS ms, max(l_suppkey) AS xs2,
        |         COUNT(*) AS c
        |       FROM sh GROUP BY 1, 2)
        |SELECT layout, COUNT(*)::BIGINT AS n_shards,
        |  SUM(CASE WHEN xp2 < bx.plo OR mp > bx.phi OR xs2 < bx.slo OR ms > bx.shi
        |           THEN 0 ELSE 1 END)::BIGINT AS shards_read,
        |  SUM(CASE WHEN xp2 < bx.plo OR mp > bx.phi OR xs2 < bx.slo OR ms > bx.shi
        |           THEN 0 ELSE c END)::BIGINT AS rows_scanned,
        |  round(SUM(CASE WHEN xp2 < bx.plo OR mp > bx.phi OR xs2 < bx.slo OR ms > bx.shi
        |                 THEN 0 ELSE c END)::DOUBLE / (SELECT n FROM tot), 6) AS read_frac
        |FROM st, bx GROUP BY layout ORDER BY layout""".stripMargin,

    "x_window_funcs" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
        |  ROUND(CUME_DIST() OVER w, 6) AS cume,
        |  FIRST_VALUE(o_orderkey) OVER wf AS cheapest_order,
        |  LAST_VALUE(o_orderkey) OVER wf AS priciest_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "x_string_funcs" ->
      """SELECT c_custkey,
        |  UPPER(c_name) AS name_upper,
        |  SUBSTRING(c_name, 1, 8) AS name_prefix,
        |  CAST(LENGTH(c_name) AS BIGINT) AS name_len,
        |  REPLACE(c_name, 'Customer', 'Acct') AS name_repl,
        |  LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
        |  CONCAT_WS('|', c_mktsegment, c_name) AS seg_name
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "x_pivot" ->
      """SELECT o_orderpriority,
        |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
        |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
        |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "x_scalar_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        |WHERE CAST(o_totalprice AS DECIMAL(18,6)) *
        |      (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey) >
        |      (SELECT SUM(CAST(o3.o_totalprice AS DECIMAL(18,6)))
        |       FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,

    "x_union_distinct" ->
      """SELECT user_id FROM events WHERE event_type = 'view'
        |UNION
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,

    "x_stats_corr" ->
      """SELECT l_returnflag,
        |  ROUND(corr(l_quantity, l_extendedprice), 6) + 0 AS corr_qty_price,
        |  ROUND(covar_samp(l_quantity, l_extendedprice), 4) + 0 AS covar_qty_price,
        |  ROUND(stddev_samp(l_quantity), 6) AS stddev_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "x_cond_agg" ->
      """SELECT event_type,
        |  COUNT(*) FILTER (WHERE value > 250.0) AS n_high,
        |  COUNT(*) FILTER (WHERE value <= 250.0) AS n_low,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) FILTER (WHERE value > 250.0) AS VARCHAR) AS DOUBLE) AS sum_high,
        |  COUNT(*) AS n_total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "x_explode" ->
      """SELECT vec_id, (i-1)::BIGINT AS pos, ROUND(embedding[i]::DOUBLE, 6) + 0 AS val
        |FROM embeddings, range(1, 4) t(i)
        |ORDER BY vec_id, pos""".stripMargin,

    "x_json_map" ->
      """SELECT event_type, COUNT(*) AS n,
        |  MAX(len(json_keys(props)))::BIGINT AS max_keys,
        |  SUM(CAST(props->>'$.k' AS BIGINT))::BIGINT AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "x_array_funcs" ->
      """SELECT vec_id,
        |  ROUND(list_max(embedding)::DOUBLE, 6) AS max_val,
        |  ROUND(list_min(embedding)::DOUBLE, 6) + 0 AS min_val,
        |  list_position(embedding, list_max(embedding))::BIGINT AS argmax_1based,
        |  len(embedding)::BIGINT AS dim,
        |  ROUND(embedding[1]::DOUBLE, 6) + 0 AS first_val
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "x_sessionize" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts)//1000000 AS ts_s, value FROM events
        |), flagged AS (
        |  SELECT *, CASE WHEN ts_s - LAG(ts_s) OVER w > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
        |), sessions AS (
        |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM flagged
        |)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  COUNT(*) AS n_events,
        |  MIN(ts_s) AS session_start_s, MAX(ts_s) AS session_end_s,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    "x_range_frame" ->
      """SELECT event_id, user_id, ts_s, value,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS VARCHAR) AS DOUBLE) AS sum_1h
        |FROM (SELECT event_id, user_id, epoch_us(ts)//1000000 AS ts_s, value FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "x_unpivot" ->
      """WITH base AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_price,
        |    CAST(COUNT(*) AS DOUBLE) AS n_rows
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, metric, value FROM (
        |  SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM base
        |  UNION ALL
        |  SELECT l_returnflag, 'sum_price', sum_price FROM base
        |  UNION ALL
        |  SELECT l_returnflag, 'n_rows', n_rows FROM base
        |) ORDER BY l_returnflag, metric""".stripMargin,

    "x_share_of_total" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS VARCHAR) AS DOUBLE) AS cust_total,
        |  round(CAST(CAST(o_totalprice AS DECIMAL(18,6)) AS DOUBLE) /
        |        CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS VARCHAR) AS DOUBLE), 6) AS share
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey)
        |ORDER BY o_orderkey""".stripMargin,

    "x_latest_snapshot" ->
      """SELECT event_id, user_id, event_type, ts_s, value FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts_s DESC, event_id DESC) AS rk
        |  FROM (SELECT event_id, user_id, event_type,
        |        epoch_us(ts)//1000000 AS ts_s, value FROM events)
        |) WHERE rk = 1 ORDER BY user_id, event_type""".stripMargin,

    "x_minmax_by" ->
      """WITH o AS (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    lpad(CAST(round(o_totalprice*100)::BIGINT AS VARCHAR), 18, '0') || '-' ||
        |    lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS k
        |  FROM orders)
        |SELECT o_orderstatus, arg_max(o_orderkey, k) AS priciest_order,
        |  arg_min(o_orderkey, k) AS cheapest_order,
        |  max(o_totalprice) AS max_price, min(o_totalprice) AS min_price,
        |  COUNT(*) AS n_orders
        |FROM o GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "x_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,

    "x_regex_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        |  COUNT(TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS n_matched,
        |  SUM(TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT))::BIGINT AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "x_date_arith" ->
      """SELECT o_orderpriority,
        |  SUM(date_diff('day', o_orderdate, l_shipdate))::DOUBLE / COUNT(*) AS avg_days,
        |  MIN(date_diff('day', o_orderdate, l_shipdate))::BIGINT AS min_days,
        |  MAX(date_diff('day', o_orderdate, l_shipdate))::BIGINT AS max_days,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "x_bool_agg" ->
      """SELECT event_type,
        |  bool_or(value > 495.0) AS any_extreme,
        |  bool_and(value >= 0.0) AS all_nonneg,
        |  COUNT(*) FILTER (WHERE value > 250.0) AS n_high
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "x_schema_drift" ->
      """SELECT * FROM (
        |  SELECT event_id, user_id, value FROM events WHERE event_type = 'view'
        |  UNION ALL BY NAME
        |  SELECT event_id, user_id, CAST(props->>'$.k' AS BIGINT) AS k
        |  FROM events WHERE event_type = 'purchase'
        |) ORDER BY event_id""".stripMargin,

    "x_stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE list_reduce(list_transform(range(1, len(CAST(doc_id AS VARCHAR))+1),
        |        i -> ascii(substr(CAST(doc_id AS VARCHAR),i,1))::BIGINT),
        |        (acc,c)->(acc*31+c)%1000000007) % 100
        |      < CASE WHEN lang = 'en' THEN 10 ELSE 50 END
        |ORDER BY doc_id""".stripMargin,

    "x_domain_cap" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    list_reduce(list_transform(range(1, len(CAST(doc_id AS VARCHAR))+1),
        |      i -> ascii(substr(CAST(doc_id AS VARCHAR), i, 1))::BIGINT),
        |      (acc, c) -> (acc*31+c)%1000000007) AS h
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
        |  FROM h)
        |SELECT source, rk, doc_id FROM r WHERE rk <= 20
        |ORDER BY source, rk""".stripMargin,

    "x_training_order" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    list_reduce(list_transform(range(1, len(CAST(doc_id AS VARCHAR))+1),
        |      i -> ascii(substr(CAST(doc_id AS VARCHAR), i, 1))::BIGINT),
        |      (acc, c) -> (acc*31+c)%1000000007) AS h
        |  FROM documents)
        |SELECT doc_id, h % 8 AS shard,
        |  ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin,

    // same MinHash pair set + WITH RECURSIVE reachability as
    // x_dup_components; split = polyhash(id) % 10 (0-7/8/9), by_root
    // hashes the component root (singletons root at themselves)
    "x_split_leakage" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id, string_split(text,' ') AS toks FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        |  FROM tk WHERE len(toks) >= 3
        |), hs AS (
        |  SELECT doc_id, list_distinct(list_transform(shingles, s ->
        |    list_reduce(list_transform(range(1,len(s)+1), i -> ascii(substr(s,i,1))::BIGINT),
        |      (acc,c) -> (acc*31+c)%1000000007))) AS hashes
        |  FROM sh
        |), sig AS (
        |  SELECT doc_id, list_transform(range(0,16), i ->
        |    list_min(list_transform(hashes, x -> ((i*2+1)*x + (i*5+3)) % 1000000007))) AS sig
        |  FROM hs
        |), bands AS (
        |  SELECT doc_id, b,
        |    ((((((sig[4*b+1]::BIGINT % 1000000007)*31 + sig[4*b+2]::BIGINT) % 1000000007)*31
        |       + sig[4*b+3]::BIGINT) % 1000000007 *31 + sig[4*b+4]::BIGINT) % 1000000007) AS bh
        |  FROM sig, range(0,4) t(b)
        |), cpairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM bands a JOIN bands c ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id
        |), scored AS (
        |  SELECT p.doc_a, p.doc_b,
        |    round(len(list_filter(ha.hashes, x -> list_contains(hb.hashes, x)))::DOUBLE /
        |      (len(ha.hashes)+len(hb.hashes)
        |       -len(list_filter(ha.hashes, x -> list_contains(hb.hashes, x)))), 6) AS jaccard
        |  FROM cpairs p JOIN hs ha ON p.doc_a = ha.doc_id JOIN hs hb ON p.doc_b = hb.doc_id
        |), dup AS (
        |  SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.7
        |), edges AS (
        |  SELECT doc_a, doc_b FROM dup UNION ALL SELECT doc_b, doc_a FROM dup
        |), nodes AS (
        |  SELECT DISTINCT doc_a AS doc_id FROM edges
        |), reach AS (
        |  SELECT doc_id AS doc, doc_id AS r FROM nodes
        |  UNION
        |  SELECT e.doc_b AS doc, reach.r FROM reach JOIN edges e ON e.doc_a = reach.doc
        |), lbl AS (
        |  SELECT doc, MIN(r) AS root FROM reach GROUP BY doc
        |), rt AS (
        |  SELECT d.doc_id, COALESCE(l.root, d.doc_id) AS root
        |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc
        |), hashed AS (
        |  SELECT doc_id,
        |    list_reduce(list_transform(range(1, len(CAST(doc_id AS VARCHAR))+1),
        |      i -> ascii(substr(CAST(doc_id AS VARCHAR), i, 1))::BIGINT),
        |      (acc,c) -> (acc*31+c)%1000000007) % 10 AS bd,
        |    list_reduce(list_transform(range(1, len(CAST(root AS VARCHAR))+1),
        |      i -> ascii(substr(CAST(root AS VARCHAR), i, 1))::BIGINT),
        |      (acc,c) -> (acc*31+c)%1000000007) % 10 AS br
        |  FROM rt
        |), asg AS (
        |  SELECT doc_id,
        |    CASE WHEN bd < 8 THEN 'train' WHEN bd = 8 THEN 'val' ELSE 'test' END AS by_doc,
        |    CASE WHEN br < 8 THEN 'train' WHEN br = 8 THEN 'val' ELSE 'test' END AS by_root
        |  FROM hashed
        |), crs AS (
        |  SELECT
        |    COALESCE(SUM(CASE WHEN sa.by_doc <> sb.by_doc THEN 1 ELSE 0 END)::BIGINT, 0) AS c_doc,
        |    COALESCE(SUM(CASE WHEN sa.by_root <> sb.by_root THEN 1 ELSE 0 END)::BIGINT, 0) AS c_root
        |  FROM dup p JOIN asg sa ON p.doc_a = sa.doc_id JOIN asg sb ON p.doc_b = sb.doc_id
        |), sizes AS (
        |  SELECT 'by_doc' AS scheme,
        |    SUM(CASE WHEN by_doc = 'train' THEN 1 ELSE 0 END)::BIGINT AS n_train,
        |    SUM(CASE WHEN by_doc = 'val' THEN 1 ELSE 0 END)::BIGINT AS n_val,
        |    SUM(CASE WHEN by_doc = 'test' THEN 1 ELSE 0 END)::BIGINT AS n_test
        |  FROM asg
        |  UNION ALL
        |  SELECT 'by_root',
        |    SUM(CASE WHEN by_root = 'train' THEN 1 ELSE 0 END)::BIGINT,
        |    SUM(CASE WHEN by_root = 'val' THEN 1 ELSE 0 END)::BIGINT,
        |    SUM(CASE WHEN by_root = 'test' THEN 1 ELSE 0 END)::BIGINT
        |  FROM asg)
        |SELECT s.scheme, s.n_train, s.n_val, s.n_test,
        |  CASE WHEN s.scheme = 'by_doc' THEN c.c_doc ELSE c.c_root END AS n_crossing
        |FROM sizes s CROSS JOIN crs c
        |ORDER BY scheme""".stripMargin,

    "x_quality_filter" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, source, text, string_split(text,' ') AS toks FROM documents
        |), f AS (
        |  SELECT lang, source,
        |    CASE WHEN len(toks) BETWEEN 20 AND 1000
        |          AND (len(text) - (len(toks)-1))::DOUBLE/len(toks) BETWEEN 2.0 AND 12.0
        |          AND len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in'], t)))::DOUBLE/len(toks) >= 0.03
        |          AND len(list_distinct(toks))::DOUBLE/len(toks) >= 0.2
        |    THEN 1 ELSE 0 END AS keep FROM tk)
        |SELECT lang, source, COUNT(*) AS n_docs, SUM(keep)::BIGINT AS n_kept,
        |  round(SUM(keep)::DOUBLE/COUNT(*), 6) AS keep_rate
        |FROM f GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    // content-defined chunking census: boundary after token i when the
    // trailing 4-gram hash is 0 mod 16; bands are 8-token-wide chunk
    // lengths capped at 8, with the distinct-hash storage-dedup ratio
    "x_cdc_chunks" ->
      """WITH tk AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |p AS (SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS i FROM tk),
        |g AS (
        |  SELECT doc_id, i,
        |    CASE WHEN i >= 4 THEN
        |      list_reduce(list_transform(range(1, len(toks[i-3]||' '||toks[i-2]||' '||toks[i-1]||' '||toks[i])+1),
        |        i2 -> ascii(substr(toks[i-3]||' '||toks[i-2]||' '||toks[i-1]||' '||toks[i], i2, 1))::BIGINT),
        |        (acc,cc)->(acc*31+cc)%1000000007)
        |    END AS gh
        |  FROM p),
        |b AS (SELECT doc_id, i,
        |        CASE WHEN gh IS NOT NULL AND gh % 16 = 0 THEN 1 ELSE 0 END AS b
        |      FROM g),
        |c AS (SELECT doc_id, i,
        |        1 + COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY i
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
        |      FROM b),
        |ch AS (SELECT doc_id, chunk_id, MIN(i) AS st, COUNT(*) AS len
        |       FROM c GROUP BY 1, 2),
        |sl AS (SELECT ch.len,
        |         array_to_string(tk.toks[ch.st : ch.st + ch.len - 1], ' ') AS cs
        |       FROM ch JOIN tk USING (doc_id)),
        |hh AS (SELECT len,
        |         list_reduce(list_transform(range(1, len(cs)+1),
        |           i2 -> ascii(substr(cs, i2, 1))::BIGINT),
        |           (acc,cc)->(acc*31+cc)%1000000007) AS chash
        |       FROM sl)
        |SELECT LEAST(len // 8, 8)::BIGINT AS band, COUNT(*) AS n_chunks,
        |  COUNT(DISTINCT chash) AS n_distinct, SUM(len)::BIGINT AS total_tokens,
        |  ROUND(SUM(len)::DOUBLE / COUNT(*), 6) AS avg_len
        |FROM hh GROUP BY band ORDER BY band""".stripMargin,

    // exact Jaccard >= 4/5 similarity join. The oracle runs the FULL
    // inverted-index pair join; the Spark side prunes candidates by
    // PPJoin prefix filtering — the prefix theorem guarantees equality
    "x_prefix_jaccard" ->
      """WITH tk AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    list_transform(range(1, len(toks)-1), i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]),
        |    s -> list_reduce(list_transform(range(1,len(s)+1),
        |           i2 -> ascii(substr(s,i2,1))::BIGINT),
        |           (acc,c)->(acc*31+c)%1000000007)))) AS gh
        |  FROM tk WHERE len(toks) >= 3),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
        |  FROM sh a JOIN sh b ON a.gh = b.gh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db, c AS n_common, sa.n AS na, sb.n AS nb,
        |  ROUND(c::DOUBLE/(sa.n + sb.n - c), 6) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |WHERE 9*c >= 4*(sa.n + sb.n)
        |ORDER BY da, db""".stripMargin,

    // contamination overlap-fraction sweep across 4/8/13-gram
    // operating points; bands are tenth-wide on the exact shared/total
    // ratio, clamped to 9
    "x_contam_sweep" ->
      ("WITH tk AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),\n" +
       Seq(4, 8, 13).map(contamSweepCtes).mkString(",\n") + "\n" +
       """SELECT * FROM (SELECT * FROM a4 UNION ALL SELECT * FROM a8
         |               UNION ALL SELECT * FROM a13)
         |ORDER BY gram_n, band""".stripMargin),

    "x_decontaminate" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text,' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    list_transform(range(1, len(toks)-2),
        |      i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]),
        |    s -> list_reduce(list_transform(range(1,len(s)+1),
        |           i2 -> ascii(substr(s,i2,1))::BIGINT),
        |           (acc,c)->(acc*31+c)%1000000007)))) AS gh
        |  FROM tk WHERE len(toks) >= 4
        |), bench AS (
        |  SELECT DISTINCT gh FROM g WHERE doc_id < 20
        |), corp AS (
        |  SELECT * FROM g WHERE doc_id >= 20
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n_grams FROM corp GROUP BY doc_id
        |), hits AS (
        |  SELECT c.doc_id, COUNT(*) AS n_shared
        |  FROM corp c JOIN bench b USING (gh) GROUP BY c.doc_id
        |)
        |SELECT s.doc_id, s.n_grams, h.n_shared,
        |  round(h.n_shared::DOUBLE/s.n_grams, 6) AS contamination
        |FROM sizes s JOIN hits h USING (doc_id) ORDER BY doc_id""".stripMargin,

    // the reverse audit: per BENCHMARK doc, its leakage into the
    // corpus; LEFT join keeps zero-leak bench docs (the clean rows are
    // the point of an integrity report)
    "x_contam_by_bench" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text,' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    list_transform(range(1, len(toks)-2),
        |      i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]),
        |    s -> list_reduce(list_transform(range(1,len(s)+1),
        |           i2 -> ascii(substr(s,i2,1))::BIGINT),
        |           (acc,c)->(acc*31+c)%1000000007)))) AS gh
        |  FROM tk WHERE len(toks) >= 4
        |), bench AS (
        |  SELECT doc_id AS bench_id, gh FROM g WHERE doc_id < 20
        |), corp AS (
        |  SELECT * FROM g WHERE doc_id >= 20
        |), sizes AS (
        |  SELECT bench_id, COUNT(*) AS n_grams FROM bench GROUP BY bench_id
        |), hits AS (
        |  SELECT b.bench_id, COUNT(DISTINCT c.doc_id) AS n_hit_docs,
        |         COUNT(DISTINCT b.gh) AS n_hit_grams
        |  FROM corp c JOIN bench b USING (gh) GROUP BY b.bench_id
        |)
        |SELECT s.bench_id, s.n_grams,
        |  COALESCE(h.n_hit_docs, 0)::BIGINT AS n_hit_docs,
        |  COALESCE(h.n_hit_grams, 0)::BIGINT AS n_hit_grams,
        |  round(COALESCE(h.n_hit_grams, 0)::DOUBLE / s.n_grams, 6) AS leak_ratio
        |FROM sizes s LEFT JOIN hits h USING (bench_id) ORDER BY bench_id""".stripMargin,

    "x_tfidf_top_terms" ->
      """WITH r AS (
        |  SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok FROM documents
        |), tf AS (
        |  SELECT lang, tok, COUNT(*) AS tf FROM r GROUP BY lang, tok
        |), dft AS (
        |  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM r GROUP BY tok
        |), nd AS (
        |  SELECT COUNT(*) AS n_docs FROM documents
        |), scored AS (
        |  SELECT lang, tok, tf, df,
        |    round(tf * ln((n_docs + 1.0)/(df + 1.0)), 6) AS score
        |  FROM tf JOIN dft USING (tok), nd
        |)
        |SELECT lang, rk, tok, tf, df, score FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY score DESC, tok)::BIGINT AS rk
        |  FROM scored
        |) WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,

    "x_curation_pipeline" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, source, text, string_split(text,' ') AS toks FROM documents
        |), kept AS (
        |  SELECT doc_id, lang, source, text FROM tk
        |  WHERE len(toks) BETWEEN 20 AND 1000
        |    AND (len(text) - (len(toks)-1))::DOUBLE/len(toks) BETWEEN 2.0 AND 12.0
        |    AND len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in'], t)))::DOUBLE/len(toks) >= 0.03
        |    AND len(list_distinct(toks))::DOUBLE/len(toks) >= 0.2
        |), deduped AS (
        |  SELECT lang, source, MIN(doc_id) AS keep_id
        |  FROM kept GROUP BY lang, source, md5(text)
        |)
        |SELECT lang, source, COUNT(*) AS n_unique_docs, MIN(keep_id) AS first_keep
        |FROM deduped GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "x_centroids" ->
      """SELECT label::BIGINT AS label, (i-1)::BIGINT AS pos, COUNT(*) AS n_vecs,
        |  round(SUM(round(embedding[i]::DOUBLE * 1000000)::BIGINT)::DOUBLE
        |        / (COUNT(*) * 1000000.0), 6) + 0 AS mean_val
        |FROM embeddings, range(1, 9) t(i)
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    // Lloyd k-means, 2 unrolled rounds, k=8, 64 dims. Exact mirror of
    // kmeansCentroids: integer micro-unit coordinates, BIGINT squared
    // distances (order-independent sums), (d2, cid)-ordered rank-1
    // assignment, round(sum/count) integer centroid updates.
    "x_kmeans" ->
      s"""WITH $kmeansCtes,
        |cnt AS (SELECT cid, COUNT(*) AS n_members FROM a2 GROUP BY cid)
        |SELECT c2.cid AS centroid_id, c2.pos, cnt.n_members,
        |  round(c2.cq::DOUBLE / 1000000.0, 6) + 0 AS mean_val
        |FROM c2 JOIN cnt USING (cid)
        |ORDER BY centroid_id, pos""".stripMargin,

    // inertia of the final assignment vs the UPDATED centroids; the
    // HUGEINT cluster sum bridges through VARCHAR (SURVEY §4b lesson 9)
    "x_cluster_quality" ->
      s"""WITH $kmeansCtes,
        |d AS (
        |  SELECT a2.vec_id, a2.cid, SUM((v.vq - c.cq)*(v.vq - c.cq)) AS d2
        |  FROM a2 JOIN vq v USING (vec_id) JOIN c2 c ON c.cid = a2.cid AND c.pos = v.pos
        |  GROUP BY a2.vec_id, a2.cid)
        |SELECT cid AS centroid_id, COUNT(*) AS n_members,
        |  CAST(CAST(SUM(d2) AS VARCHAR) AS DOUBLE) AS inertia,
        |  round(CAST(CAST(SUM(d2) AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS mean_d2
        |FROM d GROUP BY cid ORDER BY centroid_id""".stripMargin,

    // SemDeDup: membership by FINAL-cells routing (a3 — the same
    // membership a streaming ingest reproduces); cell-scoped pairs
    // under the micro-unit d2 threshold; drop the pair side closer to
    // its centroid — (cent_d2, vec_id) row comparison is the same
    // lexicographic tie-break both engines order structs/rows by
    "x_semantic_dedup" ->
      s"""WITH ${kmeansCtesK("SELECT CAST(round(sqrt(COUNT(*))) AS BIGINT) FROM embeddings")},
        |$routeCte,
        |cent AS (SELECT a3.vec_id, a3.cid, SUM((v.vq - c.cq)*(v.vq - c.cq)) AS cent_d2
        |         FROM a3 JOIN vq v USING (vec_id) JOIN c2 c ON c.cid = a3.cid AND c.pos = v.pos
        |         GROUP BY 1, 2),
        |prs AS (SELECT * FROM (
        |  SELECT aa.cid, va.vec_id AS u, vb.vec_id AS v,
        |         SUM((va.vq - vb.vq)*(va.vq - vb.vq)) AS d2
        |  FROM vq va JOIN a3 aa ON aa.vec_id = va.vec_id
        |  JOIN a3 ab ON ab.cid = aa.cid AND ab.vec_id > aa.vec_id
        |  JOIN vq vb ON vb.vec_id = ab.vec_id AND vb.pos = va.pos
        |  GROUP BY 1, 2, 3) WHERE d2 < 1400000000000),
        |nbrs AS (SELECT cid, u AS vec_id, v AS other FROM prs
        |         UNION ALL SELECT cid, v AS vec_id, u AS other FROM prs),
        |dropped AS (SELECT DISTINCT n.cid, n.vec_id
        |            FROM nbrs n JOIN cent c1 ON c1.vec_id = n.vec_id
        |            JOIN cent cx ON cx.vec_id = n.other
        |            WHERE (cx.cent_d2, cx.vec_id) > (c1.cent_d2, c1.vec_id)),
        |mem AS (SELECT cid, COUNT(*) AS n_members FROM a3 GROUP BY cid),
        |dp AS (SELECT cid, COUNT(*) AS n_dup_pairs FROM prs GROUP BY cid),
        |dr AS (SELECT cid, COUNT(*) AS n_dropped FROM dropped GROUP BY cid)
        |SELECT m.cid AS cell, m.n_members,
        |  COALESCE(dp.n_dup_pairs, 0)::BIGINT AS n_dup_pairs,
        |  COALESCE(dr.n_dropped, 0)::BIGINT AS n_dropped,
        |  (m.n_members - COALESCE(dr.n_dropped, 0))::BIGINT AS n_kept
        |FROM mem m LEFT JOIN dp USING (cid) LEFT JOIN dr USING (cid)
        |ORDER BY cell""".stripMargin,

    // semantic decontamination: nearest-bench micro-unit d2 under the
    // calibrated threshold; BIGINT cast pins the DuckDB HUGEINT sum
    "x_semantic_decontam" ->
      """WITH vq AS (
        |  SELECT vec_id, (i-1)::BIGINT AS pos,
        |         round(embedding[i]::DOUBLE * 1000000)::BIGINT AS vq
        |  FROM embeddings, range(1, 65) t(i)),
        |b AS (SELECT vec_id AS bench_id, pos, vq AS bq FROM vq WHERE vec_id < 20),
        |c AS (SELECT * FROM vq WHERE vec_id >= 20),
        |d AS (SELECT c.vec_id, b.bench_id, SUM((c.vq-b.bq)*(c.vq-b.bq))::BIGINT AS d2
        |      FROM c JOIN b USING (pos) GROUP BY 1, 2),
        |m AS (SELECT vec_id, bench_id, d2 FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, bench_id) AS rk
        |  FROM d) WHERE rk = 1)
        |SELECT vec_id, bench_id, d2 FROM m
        |WHERE d2 < 1300000000000
        |ORDER BY vec_id""".stripMargin,

    // cluster-vs-label purity over FINAL-cells routing; majority ties
    // break to the smallest label ((n DESC, label) rank)
    "x_cluster_purity" ->
      s"""WITH $kmeansCtes,
        |$routeCte,
        |bl AS (SELECT a3.cid, e.label::BIGINT AS label, COUNT(*) AS n
        |       FROM a3 JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
        |rkd AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cid ORDER BY n DESC, label) AS rk
        |        FROM bl)
        |SELECT cid AS cell, SUM(n)::BIGINT AS n_members, COUNT(*)::BIGINT AS n_labels,
        |  MAX(CASE WHEN rk = 1 THEN label END) AS top_label,
        |  MAX(CASE WHEN rk = 1 THEN n END)::BIGINT AS top_n,
        |  round(MAX(CASE WHEN rk = 1 THEN n END)::DOUBLE / SUM(n), 6) AS purity
        |FROM rkd GROUP BY cid ORDER BY cell""".stripMargin,

    // hard-negative mining: per query, nearest same-label and nearest
    // different-label by exact micro-unit d2, self excluded
    "x_hard_negatives" ->
      """WITH vq AS (
        |  SELECT e.vec_id, e.label::BIGINT AS label, (i-1)::BIGINT AS pos,
        |         round(e.embedding[i]::DOUBLE * 1000000)::BIGINT AS vq
        |  FROM embeddings e, range(1, 65) t(i)),
        |q AS (SELECT vec_id AS query_id, label AS q_label, pos, vq AS qq
        |      FROM vq WHERE vec_id < 10),
        |d AS (SELECT q.query_id, q.q_label, v.vec_id, v.label,
        |             SUM((v.vq-q.qq)*(v.vq-q.qq))::BIGINT AS d2
        |      FROM vq v JOIN q ON v.pos = q.pos AND v.vec_id <> q.query_id
        |      GROUP BY 1, 2, 3, 4),
        |p AS (SELECT query_id, q_label, vec_id, d2 FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rk
        |  FROM d WHERE label = q_label) WHERE rk = 1),
        |ng AS (SELECT query_id, vec_id, d2 FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rk
        |  FROM d WHERE label <> q_label) WHERE rk = 1)
        |SELECT p.query_id, p.q_label AS label,
        |  p.vec_id AS pos_id, p.d2 AS pos_d2,
        |  ng.vec_id AS neg_id, ng.d2 AS neg_d2,
        |  (ng.d2 - p.d2)::BIGINT AS margin
        |FROM p JOIN ng USING (query_id)
        |ORDER BY query_id""".stripMargin,

    // greedy MMR re-rank, unrolled to 5 rounds: integer (7,3)-weighted
    // micro-unit objective, (mmr_scaled, cand_id) tie-breaks
    "x_mmr_rerank" -> mmrOracle(5),

    "x_knn_ivf_trained" ->
      s"""WITH $kmeansCtes,
        |$trainedIvfCtes
        |SELECT query_id, neighbor_id, rk, cos FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)::BIGINT AS rk
        |  FROM scored) WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin,

    // int8-quantized scoring vs float brute truth; quantized values
    // are exact small integers in DOUBLE, so both engines rank
    // identically (round-half-away-from-zero matches Spark HALF_UP)
    "x_quantized_recall" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE*x::DOUBLE), (a,b)->a+b)) AS nrm
        |  FROM embeddings
        |), qs AS (
        |  SELECT vec_id, list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS sc
        |  FROM embeddings
        |), qv AS (
        |  SELECT q.vec_id, list_transform(e2.embedding, x -> round(x::DOUBLE/q.sc*127)) AS qemb
        |  FROM embeddings e2 JOIN qs q ON e2.vec_id = q.vec_id
        |), qn AS (
        |  SELECT vec_id, qemb,
        |    sqrt(list_reduce(list_transform(qemb, x -> x*x), (a,b)->a+b)) AS qnrm
        |  FROM qv
        |), scored_q AS (
        |  SELECT qq.query_id, cv.vec_id AS neighbor_id,
        |    round(list_reduce(list_transform(range(1,65),
        |      i -> cv.qemb[i] * qq.q_emb[i]), (a,b)->a+b)/(cv.qnrm*qq.q_nrm), 6) AS cos
        |  FROM qn cv, (SELECT vec_id AS query_id, qemb AS q_emb, qnrm AS q_nrm
        |               FROM qn WHERE vec_id < 10) qq
        |  WHERE cv.vec_id <> qq.query_id
        |), top_q AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        |    FROM scored_q) WHERE rk <= 5
        |), scored_b AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(list_reduce(list_transform(range(1,65),
        |      i -> e.embedding[i]::DOUBLE * q.q_emb[i]::DOUBLE), (a,b)->a+b)/(e.nrm*q.q_nrm), 6) AS cos
        |  FROM e, (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
        |           FROM e WHERE vec_id < 10) q
        |  WHERE e.vec_id <> q.query_id
        |), top_b AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        |    FROM scored_b) WHERE rk <= 5
        |), hits AS (
        |  SELECT b.query_id, COUNT(*) AS n_hits
        |  FROM top_b b JOIN top_q t ON b.query_id = t.query_id AND b.neighbor_id = t.neighbor_id
        |  GROUP BY b.query_id)
        |SELECT qq2.query_id, COALESCE(h.n_hits, 0) AS n_hits,
        |  round(COALESCE(h.n_hits, 0)::DOUBLE/5, 6) AS recall
        |FROM (SELECT DISTINCT query_id FROM top_b) qq2 LEFT JOIN hits h USING (query_id)
        |ORDER BY query_id""".stripMargin,

    // PQ-ADC: per-subspace 16-code books (hash-spread seed, two Lloyd
    // rounds — pqTrainCtes mirrors the Spark trainer), 8-code
    // encoding, asymmetric distance = sum of the query's exact
    // per-(sub, code) distances; truth = exact integer L2 — all
    // BIGINT micro-units, so the scheme itself oracle-checks
    "x_pq_recall" ->
      s"""WITH vq AS (
        |  SELECT vec_id, (i-1)::BIGINT AS pos,
        |         round(embedding[i]::DOUBLE * 1000000)::BIGINT AS vq
        |  FROM embeddings, range(1, 65) t(i)),
        |sq AS (SELECT vec_id, pos, pos // 8 AS sub, vq FROM vq),
        |${pqTrainCtes("")},
        |${pqQdCte("")},
        |adc AS (SELECT q.query_id, co.vec_id AS neighbor_id, SUM(q.d2q) AS adist
        |        FROM codes co JOIN qd q ON co.sub = q.sub AND co.cid = q.cid
        |        WHERE co.vec_id <> q.query_id GROUP BY 1, 2),
        |top_a AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rk
        |  FROM adc) WHERE rk <= 5),
        |bd AS (SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
        |         SUM((q.vq-v.vq)*(q.vq-v.vq)) AS d2
        |       FROM sq q JOIN sq v ON q.pos = v.pos AND v.vec_id <> q.vec_id
        |       WHERE q.vec_id < 10 GROUP BY 1, 2),
        |top_b AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rk
        |  FROM bd) WHERE rk <= 5),
        |hits AS (SELECT b.query_id, COUNT(*) AS n_hits
        |         FROM top_b b JOIN top_a a ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
        |         GROUP BY b.query_id)
        |SELECT qq.query_id, COALESCE(h.n_hits, 0) AS n_hits,
        |  round(COALESCE(h.n_hits, 0)::DOUBLE/5, 6) AS recall
        |FROM (SELECT DISTINCT query_id FROM top_b) qq LEFT JOIN hits h USING (query_id)
        |ORDER BY query_id""".stripMargin,

    // fetch-then-rerank: top-50 by ADC, exact re-rank of ONLY those
    // candidates, top-5 — the production PQ serving path; same CTE
    // chain as x_pq_recall up to `adc`
    "x_pq_rerank" ->
      s"""WITH vq AS (
        |  SELECT vec_id, (i-1)::BIGINT AS pos,
        |         round(embedding[i]::DOUBLE * 1000000)::BIGINT AS vq
        |  FROM embeddings, range(1, 65) t(i)),
        |sq AS (SELECT vec_id, pos, pos // 8 AS sub, vq FROM vq),
        |${pqTrainCtes("")},
        |${pqQdCte("")},
        |adc AS (SELECT q.query_id, co.vec_id AS neighbor_id, SUM(q.d2q) AS adist
        |        FROM codes co JOIN qd q ON co.sub = q.sub AND co.cid = q.cid
        |        WHERE co.vec_id <> q.query_id GROUP BY 1, 2),
        |cand AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rk
        |  FROM adc) WHERE rk <= 50),
        |rr AS (SELECT c.query_id, c.neighbor_id, SUM((q.vq - v.vq)*(q.vq - v.vq)) AS rd2
        |       FROM cand c
        |       JOIN sq q ON q.vec_id = c.query_id
        |       JOIN sq v ON v.vec_id = c.neighbor_id AND v.pos = q.pos
        |       GROUP BY 1, 2),
        |top_a AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rd2, neighbor_id) AS rk
        |  FROM rr) WHERE rk <= 5),
        |bd AS (SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
        |         SUM((q.vq-v.vq)*(q.vq-v.vq)) AS d2
        |       FROM sq q JOIN sq v ON q.pos = v.pos AND v.vec_id <> q.vec_id
        |       WHERE q.vec_id < 10 GROUP BY 1, 2),
        |top_b AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rk
        |  FROM bd) WHERE rk <= 5),
        |hits AS (SELECT b.query_id, COUNT(*) AS n_hits
        |         FROM top_b b JOIN top_a a ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
        |         GROUP BY b.query_id)
        |SELECT qq.query_id, COALESCE(h.n_hits, 0) AS n_hits,
        |  round(COALESCE(h.n_hits, 0)::DOUBLE/5, 6) AS recall
        |FROM (SELECT DISTINCT query_id FROM top_b) qq LEFT JOIN hits h USING (query_id)
        |ORDER BY query_id""".stripMargin,

    // IVF-PQ composite: trained L2 cells (kmeansCtes a2/c2) prune to
    // nProbe=2 cells, PQ-ADC (p-prefixed CTEs, identical to
    // x_pq_recall's) scores the candidates, exact re-rank of the
    // top-20 shortlist returns top-5; truth = exact integer L2
    "x_ivfpq" ->
      s"""WITH $kmeansCtes,
        |$routeCte,
        |psq AS (SELECT vec_id, pos, pos // 8 AS sub, vq FROM vq),
        |${pqTrainCtes("p")},
        |${pqQdCte("p")},
        |qcell AS (SELECT query_id, cid FROM (
        |  SELECT query_id, cid, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cd2, cid) AS rk
        |  FROM (SELECT v.vec_id AS query_id, c.cid, SUM((v.vq-c.cq)*(v.vq-c.cq)) AS cd2
        |        FROM vq v JOIN c2 c USING (pos) WHERE v.vec_id < 10 GROUP BY 1, 2)) WHERE rk <= 2),
        |cand AS (SELECT qc.query_id, a3.vec_id FROM qcell qc JOIN a3 ON a3.cid = qc.cid
        |         WHERE a3.vec_id <> qc.query_id),
        |adc AS (SELECT ca.query_id, ca.vec_id AS neighbor_id, SUM(q.d2q) AS adist
        |        FROM cand ca
        |        JOIN pcodes co ON co.vec_id = ca.vec_id
        |        JOIN pqd q ON q.query_id = ca.query_id AND q.sub = co.sub AND q.cid = co.cid
        |        GROUP BY 1, 2),
        |wide AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rk
        |  FROM adc) WHERE rk <= 20),
        |rr AS (SELECT w.query_id, w.neighbor_id, SUM((q.vq - v.vq)*(q.vq - v.vq)) AS rd2
        |       FROM wide w
        |       JOIN psq q ON q.vec_id = w.query_id
        |       JOIN psq v ON v.vec_id = w.neighbor_id AND v.pos = q.pos
        |       GROUP BY 1, 2),
        |top_a AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rd2, neighbor_id) AS rk
        |  FROM rr) WHERE rk <= 5),
        |bd AS (SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
        |         SUM((q.vq-v.vq)*(q.vq-v.vq)) AS d2
        |       FROM psq q JOIN psq v ON q.pos = v.pos AND v.vec_id <> q.vec_id
        |       WHERE q.vec_id < 10 GROUP BY 1, 2),
        |top_b AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rk
        |  FROM bd) WHERE rk <= 5),
        |hits AS (SELECT b.query_id, COUNT(*) AS n_hits
        |         FROM top_b b JOIN top_a a ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
        |         GROUP BY b.query_id)
        |SELECT qq.query_id, COALESCE(h.n_hits, 0) AS n_hits,
        |  round(COALESCE(h.n_hits, 0)::DOUBLE/5, 6) AS recall
        |FROM (SELECT DISTINCT query_id FROM top_b) qq LEFT JOIN hits h USING (query_id)
        |ORDER BY query_id""".stripMargin,

    // residual-encoded IVF-PQ: PQ books train on each vector's
    // residual vs its coarse cell (rsq; r-prefixed trainer CTEs,
    // identical chain to x_pq_recall's); the query ADC table is PER
    // PROBED CELL (the query residual differs per cell) and a
    // candidate is scored with the table of the cell it lives in
    "x_ivfpq_residual" ->
      s"""WITH $kmeansCtes,
        |$routeCte,
        |rsq AS (SELECT v.vec_id, v.pos, v.pos // 8 AS sub, v.vq - c.cq AS vq
        |        FROM vq v JOIN a3 USING (vec_id)
        |        JOIN c2 c ON c.cid = a3.cid AND c.pos = v.pos),
        |${pqTrainCtes("r")},
        |qcell AS (SELECT query_id, cid FROM (
        |  SELECT query_id, cid, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cd2, cid) AS rk
        |  FROM (SELECT v.vec_id AS query_id, c.cid, SUM((v.vq-c.cq)*(v.vq-c.cq)) AS cd2
        |        FROM vq v JOIN c2 c USING (pos) WHERE v.vec_id < 10 GROUP BY 1, 2)) WHERE rk <= 2),
        |qres AS (SELECT qc.query_id, qc.cid AS cell, v.pos, v.pos // 8 AS sub, v.vq - c.cq AS qv
        |         FROM qcell qc
        |         JOIN vq v ON v.vec_id = qc.query_id
        |         JOIN c2 c ON c.cid = qc.cid AND c.pos = v.pos),
        |rqd AS (SELECT q.query_id, q.cell, b.sub, b.cid AS code,
        |          SUM((q.qv - b.cq)*(q.qv - b.cq)) AS d2q
        |        FROM qres q JOIN rc2 b ON b.sub = q.sub AND b.pos = q.pos
        |        GROUP BY 1, 2, 3, 4),
        |cand AS (SELECT qc.query_id, qc.cid AS cell, a3.vec_id
        |         FROM qcell qc JOIN a3 ON a3.cid = qc.cid
        |         WHERE a3.vec_id <> qc.query_id),
        |adc AS (SELECT ca.query_id, ca.vec_id AS neighbor_id, SUM(q.d2q) AS adist
        |        FROM cand ca
        |        JOIN rcodes co ON co.vec_id = ca.vec_id
        |        JOIN rqd q ON q.query_id = ca.query_id AND q.cell = ca.cell
        |                  AND q.sub = co.sub AND q.code = co.cid
        |        GROUP BY 1, 2),
        |wide AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rk
        |  FROM adc) WHERE rk <= 20),
        |rr AS (SELECT w.query_id, w.neighbor_id, SUM((q.vq - v.vq)*(q.vq - v.vq)) AS rd2
        |       FROM wide w
        |       JOIN vq q ON q.vec_id = w.query_id
        |       JOIN vq v ON v.vec_id = w.neighbor_id AND v.pos = q.pos
        |       GROUP BY 1, 2),
        |top_a AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rd2, neighbor_id) AS rk
        |  FROM rr) WHERE rk <= 5),
        |bd AS (SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
        |         SUM((q.vq-v.vq)*(q.vq-v.vq)) AS d2
        |       FROM vq q JOIN vq v ON q.pos = v.pos AND v.vec_id <> q.vec_id
        |       WHERE q.vec_id < 10 GROUP BY 1, 2),
        |top_b AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rk
        |  FROM bd) WHERE rk <= 5),
        |hits AS (SELECT b.query_id, COUNT(*) AS n_hits
        |         FROM top_b b JOIN top_a a ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
        |         GROUP BY b.query_id)
        |SELECT qq.query_id, COALESCE(h.n_hits, 0) AS n_hits,
        |  round(COALESCE(h.n_hits, 0)::DOUBLE/5, 6) AS recall
        |FROM (SELECT DISTINCT query_id FROM top_b) qq LEFT JOIN hits h USING (query_id)
        |ORDER BY query_id""".stripMargin,

    // recall-vs-nProbe curve over the SAME trained cells: probe levels
    // share one centroid ranking (qcand keeps rk <= max probe) and one
    // brute-force truth — only the probe filter varies
    "x_ivf_probe_sweep" ->
      s"""WITH $kmeansCtes,
        |$trainedIvfBaseCtes,
        |qcand AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm, centroid_id AS cell, rk FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rk
        |    FROM ranked WHERE vec_id < 10) WHERE rk <= 8),
        |probes AS (SELECT unnest([2,4,8])::BIGINT AS n_probe),
        |scored_p AS (
        |  SELECT DISTINCT p.n_probe, q.query_id, cv.vec_id AS neighbor_id,
        |    round(list_reduce(list_transform(range(1,65),
        |      i -> cv.embedding[i]::DOUBLE * q.q_emb[i]::DOUBLE), (a,b)->a+b)/(cv.nrm*q.q_nrm), 6) AS cos
        |  FROM probes p
        |  JOIN qcand q ON q.rk <= p.n_probe
        |  JOIN cells cv ON cv.cell = q.cell AND cv.vec_id <> q.query_id),
        |top_t AS (
        |  SELECT n_probe, query_id, neighbor_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY n_probe, query_id ORDER BY cos DESC, neighbor_id) AS rk
        |    FROM scored_p) WHERE rk <= 5),
        |sweep_b AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(list_reduce(list_transform(range(1,65),
        |      i -> e.embedding[i]::DOUBLE * q.q_emb[i]::DOUBLE), (a,b)->a+b)/(e.nrm*q.q_nrm), 6) AS cos
        |  FROM e, (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
        |           FROM e WHERE vec_id < 10) q
        |  WHERE e.vec_id <> q.query_id),
        |top_b AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        |    FROM sweep_b) WHERE rk <= 5),
        |hits AS (
        |  SELECT t.n_probe, b.query_id, COUNT(*) AS n_hits
        |  FROM top_b b JOIN top_t t ON b.query_id = t.query_id AND b.neighbor_id = t.neighbor_id
        |  GROUP BY t.n_probe, b.query_id)
        |SELECT pq.n_probe, pq.query_id, COALESCE(h.n_hits, 0) AS n_hits,
        |  round(COALESCE(h.n_hits, 0)::DOUBLE/5, 6) AS recall
        |FROM (SELECT p.n_probe, qq.query_id
        |      FROM probes p, (SELECT DISTINCT query_id FROM top_b) qq) pq
        |LEFT JOIN hits h ON h.n_probe = pq.n_probe AND h.query_id = pq.query_id
        |ORDER BY pq.n_probe, pq.query_id""".stripMargin,

    "x_ivf_trained_recall" ->
      s"""WITH $kmeansCtes,
        |$trainedIvfCtes,
        |scored_b AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(list_reduce(list_transform(range(1,65),
        |      i -> e.embedding[i]::DOUBLE * q.q_emb[i]::DOUBLE), (a,b)->a+b)/(e.nrm*q.q_nrm), 6) AS cos
        |  FROM e, (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
        |           FROM e WHERE vec_id < 10) q
        |  WHERE e.vec_id <> q.query_id),
        |top_b AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        |    FROM scored_b) WHERE rk <= 5),
        |top_t AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        |    FROM scored) WHERE rk <= 5),
        |hits AS (
        |  SELECT b.query_id, COUNT(*) AS n_hits
        |  FROM top_b b JOIN top_t t ON b.query_id = t.query_id AND b.neighbor_id = t.neighbor_id
        |  GROUP BY b.query_id)
        |SELECT qq.query_id, COALESCE(h.n_hits, 0) AS n_hits,
        |  round(COALESCE(h.n_hits, 0)::DOUBLE/5, 6) AS recall
        |FROM (SELECT DISTINCT query_id FROM top_b) qq LEFT JOIN hits h USING (query_id)
        |ORDER BY query_id""".stripMargin,

    "x_dedup_exact" ->
      """SELECT keep_id, n_copies FROM (
        |  SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |  FROM documents GROUP BY md5(text)
        |) ORDER BY keep_id""".stripMargin,

    "x_dedup_minhash" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text,' ') AS toks FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        |  FROM tk WHERE len(toks) >= 3
        |), hs AS (
        |  SELECT doc_id, list_distinct(list_transform(shingles, s ->
        |    list_reduce(list_transform(range(1,len(s)+1), i -> ascii(substr(s,i,1))::BIGINT),
        |      (acc,c) -> (acc*31+c)%1000000007))) AS hashes
        |  FROM sh
        |), sig AS (
        |  SELECT doc_id, list_transform(range(0,16), i ->
        |    list_min(list_transform(hashes, x -> ((i*2+1)*x + (i*5+3)) % 1000000007))) AS sig
        |  FROM hs
        |), bands AS (
        |  SELECT doc_id, b,
        |    ((((((sig[4*b+1]::BIGINT % 1000000007)*31 + sig[4*b+2]::BIGINT) % 1000000007)*31
        |       + sig[4*b+3]::BIGINT) % 1000000007 *31 + sig[4*b+4]::BIGINT) % 1000000007) AS bh
        |  FROM sig, range(0,4) t(b)
        |), pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM bands a JOIN bands c ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id
        |), scored AS (
        |  SELECT p.doc_a, p.doc_b,
        |    round(len(list_filter(ha.hashes, x -> list_contains(hb.hashes, x)))::DOUBLE /
        |      (len(ha.hashes)+len(hb.hashes)
        |       -len(list_filter(ha.hashes, x -> list_contains(hb.hashes, x)))), 6) AS jaccard
        |  FROM pairs p JOIN hs ha ON p.doc_a = ha.doc_id JOIN hs hb ON p.doc_b = hb.doc_id
        |)
        |SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.7
        |ORDER BY doc_a, doc_b""".stripMargin,

    // estimate-vs-exact audit over the SAME candidate pairs as
    // x_dedup_minhash, WITHOUT the threshold: est = agreeing signature
    // components / 16, exact = shingle-set Jaccard, plus |error|
    "x_minhash_error" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text,' ') AS toks FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        |  FROM tk WHERE len(toks) >= 3
        |), hs AS (
        |  SELECT doc_id, list_distinct(list_transform(shingles, s ->
        |    list_reduce(list_transform(range(1,len(s)+1), i -> ascii(substr(s,i,1))::BIGINT),
        |      (acc,c) -> (acc*31+c)%1000000007))) AS hashes
        |  FROM sh
        |), sig AS (
        |  SELECT doc_id, list_transform(range(0,16), i ->
        |    list_min(list_transform(hashes, x -> ((i*2+1)*x + (i*5+3)) % 1000000007))) AS sig
        |  FROM hs
        |), bands AS (
        |  SELECT doc_id, b,
        |    ((((((sig[4*b+1]::BIGINT % 1000000007)*31 + sig[4*b+2]::BIGINT) % 1000000007)*31
        |       + sig[4*b+3]::BIGINT) % 1000000007 *31 + sig[4*b+4]::BIGINT) % 1000000007) AS bh
        |  FROM sig, range(0,4) t(b)
        |), pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM bands a JOIN bands c ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id
        |), est AS (
        |  SELECT p.doc_a, p.doc_b,
        |    round(len(list_filter(range(1,17), i -> sa.sig[i] = sb.sig[i]))::DOUBLE / 16, 6) AS est_jaccard
        |  FROM pairs p JOIN sig sa ON p.doc_a = sa.doc_id JOIN sig sb ON p.doc_b = sb.doc_id
        |), ex AS (
        |  SELECT p.doc_a, p.doc_b,
        |    round(len(list_filter(ha.hashes, x -> list_contains(hb.hashes, x)))::DOUBLE /
        |      (len(ha.hashes)+len(hb.hashes)
        |       -len(list_filter(ha.hashes, x -> list_contains(hb.hashes, x)))), 6) AS exact_jaccard
        |  FROM pairs p JOIN hs ha ON p.doc_a = ha.doc_id JOIN hs hb ON p.doc_b = hb.doc_id
        |)
        |SELECT e.doc_a, e.doc_b, e.est_jaccard, x.exact_jaccard,
        |  round(abs(e.est_jaccard - x.exact_jaccard), 6) AS abs_err
        |FROM est e JOIN ex x ON e.doc_a = x.doc_a AND e.doc_b = x.doc_b
        |ORDER BY e.doc_a, e.doc_b""".stripMargin,

    // the audit rolled up into the decision: per estimate-threshold,
    // the confusion counts vs exact-Jaccard truth over the same
    // candidate pairs (est/ex CTEs identical to x_minhash_error)
    "x_minhash_sweep" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text,' ') AS toks FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        |  FROM tk WHERE len(toks) >= 3
        |), hs AS (
        |  SELECT doc_id, list_distinct(list_transform(shingles, s ->
        |    list_reduce(list_transform(range(1,len(s)+1), i -> ascii(substr(s,i,1))::BIGINT),
        |      (acc,c) -> (acc*31+c)%1000000007))) AS hashes
        |  FROM sh
        |), sig AS (
        |  SELECT doc_id, list_transform(range(0,16), i ->
        |    list_min(list_transform(hashes, x -> ((i*2+1)*x + (i*5+3)) % 1000000007))) AS sig
        |  FROM hs
        |), bands AS (
        |  SELECT doc_id, b,
        |    ((((((sig[4*b+1]::BIGINT % 1000000007)*31 + sig[4*b+2]::BIGINT) % 1000000007)*31
        |       + sig[4*b+3]::BIGINT) % 1000000007 *31 + sig[4*b+4]::BIGINT) % 1000000007) AS bh
        |  FROM sig, range(0,4) t(b)
        |), pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM bands a JOIN bands c ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id
        |), est AS (
        |  SELECT p.doc_a, p.doc_b,
        |    round(len(list_filter(range(1,17), i -> sa.sig[i] = sb.sig[i]))::DOUBLE / 16, 6) AS est_jaccard
        |  FROM pairs p JOIN sig sa ON p.doc_a = sa.doc_id JOIN sig sb ON p.doc_b = sb.doc_id
        |), ex AS (
        |  SELECT p.doc_a, p.doc_b,
        |    round(len(list_filter(ha.hashes, x -> list_contains(hb.hashes, x)))::DOUBLE /
        |      (len(ha.hashes)+len(hb.hashes)
        |       -len(list_filter(ha.hashes, x -> list_contains(hb.hashes, x)))), 6) AS exact_jaccard
        |  FROM pairs p JOIN hs ha ON p.doc_a = ha.doc_id JOIN hs hb ON p.doc_b = hb.doc_id
        |), j AS (
        |  SELECT e.est_jaccard, x.exact_jaccard
        |  FROM est e JOIN ex x ON e.doc_a = x.doc_a AND e.doc_b = x.doc_b
        |), t AS (SELECT unnest([0.5::DOUBLE, 0.7::DOUBLE, 0.9::DOUBLE]) AS threshold)
        |SELECT threshold, n_pairs, tp, fp, fn,
        |  round(tp::DOUBLE / NULLIF(tp + fp, 0), 6) AS prec,
        |  round(tp::DOUBLE / NULLIF(tp + fn, 0), 6) AS recall
        |FROM (
        |  SELECT t.threshold, COUNT(*) AS n_pairs,
        |    SUM(CASE WHEN est_jaccard >= threshold AND exact_jaccard >= threshold
        |             THEN 1 ELSE 0 END)::BIGINT AS tp,
        |    SUM(CASE WHEN est_jaccard >= threshold AND exact_jaccard < threshold
        |             THEN 1 ELSE 0 END)::BIGINT AS fp,
        |    SUM(CASE WHEN est_jaccard < threshold AND exact_jaccard >= threshold
        |             THEN 1 ELSE 0 END)::BIGINT AS fn
        |  FROM j, t GROUP BY t.threshold)
        |ORDER BY threshold""".stripMargin,

    // KMV sketch, oracle-checked: the estimate is a pure function of
    // the deterministic poly-31 hash, so DuckDB reproduces the SKETCH
    // itself (contrast x_approx_distinct's HLL — engine-internal,
    // rows-only). est = (k-1)*P // h_k with k = 64.
    "x_kmv_distinct" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, string_split(text,' ') AS toks FROM documents
        |), g AS (
        |  SELECT DISTINCT lang,
        |    list_reduce(list_transform(range(1,len(s)+1), i2 -> ascii(substr(s,i2,1))::BIGINT),
        |      (acc,c) -> (acc*31+c)%1000000007) AS h
        |  FROM (SELECT lang, unnest(list_distinct(list_transform(range(1, len(toks)-1),
        |          i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]))) AS s
        |        FROM tk WHERE len(toks) >= 3)
        |), e AS (
        |  SELECT lang, COUNT(*) AS exact_distinct FROM g GROUP BY lang
        |), kk AS (
        |  SELECT lang, h AS hk FROM (
        |    SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rk FROM g)
        |  WHERE rk = 64
        |)
        |SELECT e.lang, e.exact_distinct,
        |  (63::BIGINT * 1000000007) // kk.hk AS kmv_estimate,
        |  round(abs((63::BIGINT * 1000000007) // kk.hk - e.exact_distinct)::DOUBLE
        |        / e.exact_distinct, 6) AS rel_err
        |FROM e JOIN kk USING (lang) ORDER BY lang""".stripMargin,

    // same oracle as x_kmv_distinct — salted-rank vs bounded-Aggregator
    // strategies, one logical sketch, both verified and benched
    "x_kmv_agg" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, string_split(text,' ') AS toks FROM documents
        |), g AS (
        |  SELECT DISTINCT lang,
        |    list_reduce(list_transform(range(1,len(s)+1), i2 -> ascii(substr(s,i2,1))::BIGINT),
        |      (acc,c) -> (acc*31+c)%1000000007) AS h
        |  FROM (SELECT lang, unnest(list_distinct(list_transform(range(1, len(toks)-1),
        |          i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]))) AS s
        |        FROM tk WHERE len(toks) >= 3)
        |), e AS (
        |  SELECT lang, COUNT(*) AS exact_distinct FROM g GROUP BY lang
        |), kk AS (
        |  SELECT lang, h AS hk FROM (
        |    SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rk FROM g)
        |  WHERE rk = 64
        |)
        |SELECT e.lang, e.exact_distinct,
        |  (63::BIGINT * 1000000007) // kk.hk AS kmv_estimate,
        |  round(abs((63::BIGINT * 1000000007) // kk.hk - e.exact_distinct)::DOUBLE
        |        / e.exact_distinct, 6) AS rel_err
        |FROM e JOIN kk USING (lang) ORDER BY lang""".stripMargin,

    // components over the SAME pair set as x_dedup_minhash (jaccard >=
    // 0.7), via WITH RECURSIVE reachability; Spark computes them with
    // distributed min-label propagation
    "x_dup_components" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id, string_split(text,' ') AS toks FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        |  FROM tk WHERE len(toks) >= 3
        |), hs AS (
        |  SELECT doc_id, list_distinct(list_transform(shingles, s ->
        |    list_reduce(list_transform(range(1,len(s)+1), i -> ascii(substr(s,i,1))::BIGINT),
        |      (acc,c) -> (acc*31+c)%1000000007))) AS hashes
        |  FROM sh
        |), sig AS (
        |  SELECT doc_id, list_transform(range(0,16), i ->
        |    list_min(list_transform(hashes, x -> ((i*2+1)*x + (i*5+3)) % 1000000007))) AS sig
        |  FROM hs
        |), bands AS (
        |  SELECT doc_id, b,
        |    ((((((sig[4*b+1]::BIGINT % 1000000007)*31 + sig[4*b+2]::BIGINT) % 1000000007)*31
        |       + sig[4*b+3]::BIGINT) % 1000000007 *31 + sig[4*b+4]::BIGINT) % 1000000007) AS bh
        |  FROM sig, range(0,4) t(b)
        |), cpairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM bands a JOIN bands c ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id
        |), scored AS (
        |  SELECT p.doc_a, p.doc_b,
        |    round(len(list_filter(ha.hashes, x -> list_contains(hb.hashes, x)))::DOUBLE /
        |      (len(ha.hashes)+len(hb.hashes)
        |       -len(list_filter(ha.hashes, x -> list_contains(hb.hashes, x)))), 6) AS jaccard
        |  FROM cpairs p JOIN hs ha ON p.doc_a = ha.doc_id JOIN hs hb ON p.doc_b = hb.doc_id
        |), dup AS (
        |  SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.7
        |), edges AS (
        |  SELECT doc_a, doc_b FROM dup UNION ALL SELECT doc_b, doc_a FROM dup
        |), nodes AS (
        |  SELECT DISTINCT doc_a AS doc_id FROM edges
        |), reach AS (
        |  SELECT doc_id AS doc, doc_id AS r FROM nodes
        |  UNION
        |  SELECT e.doc_b AS doc, reach.r FROM reach JOIN edges e ON e.doc_a = reach.doc
        |)
        |SELECT component_root, COUNT(*) AS n_members, MAX(doc) AS max_member FROM (
        |  SELECT doc, MIN(r) AS component_root FROM reach GROUP BY doc
        |) GROUP BY component_root ORDER BY component_root""".stripMargin,

    // the same component map AFTER the deletion list (doc_id % 7 == 0)
    // is applied to the pair graph: deleted survivors are replaced by
    // the next-smallest member, deleted bridges split their component
    "x_delete_cascade" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id, string_split(text,' ') AS toks FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        |  FROM tk WHERE len(toks) >= 3
        |), hs AS (
        |  SELECT doc_id, list_distinct(list_transform(shingles, s ->
        |    list_reduce(list_transform(range(1,len(s)+1), i -> ascii(substr(s,i,1))::BIGINT),
        |      (acc,c) -> (acc*31+c)%1000000007))) AS hashes
        |  FROM sh
        |), sig AS (
        |  SELECT doc_id, list_transform(range(0,16), i ->
        |    list_min(list_transform(hashes, x -> ((i*2+1)*x + (i*5+3)) % 1000000007))) AS sig
        |  FROM hs
        |), bands AS (
        |  SELECT doc_id, b,
        |    ((((((sig[4*b+1]::BIGINT % 1000000007)*31 + sig[4*b+2]::BIGINT) % 1000000007)*31
        |       + sig[4*b+3]::BIGINT) % 1000000007 *31 + sig[4*b+4]::BIGINT) % 1000000007) AS bh
        |  FROM sig, range(0,4) t(b)
        |), cpairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM bands a JOIN bands c ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id
        |), scored AS (
        |  SELECT p.doc_a, p.doc_b,
        |    round(len(list_filter(ha.hashes, x -> list_contains(hb.hashes, x)))::DOUBLE /
        |      (len(ha.hashes)+len(hb.hashes)
        |       -len(list_filter(ha.hashes, x -> list_contains(hb.hashes, x)))), 6) AS jaccard
        |  FROM cpairs p JOIN hs ha ON p.doc_a = ha.doc_id JOIN hs hb ON p.doc_b = hb.doc_id
        |), dup AS (
        |  SELECT doc_a, doc_b FROM scored
        |  WHERE jaccard >= 0.7 AND doc_a % 7 <> 0 AND doc_b % 7 <> 0
        |), edges AS (
        |  SELECT doc_a, doc_b FROM dup UNION ALL SELECT doc_b, doc_a FROM dup
        |), nodes AS (
        |  SELECT DISTINCT doc_a AS doc_id FROM edges
        |), reach AS (
        |  SELECT doc_id AS doc, doc_id AS r FROM nodes
        |  UNION
        |  SELECT e.doc_b AS doc, reach.r FROM reach JOIN edges e ON e.doc_a = reach.doc
        |)
        |SELECT component_root, COUNT(*) AS n_members, MAX(doc) AS max_member FROM (
        |  SELECT doc, MIN(r) AS component_root FROM reach GROUP BY doc
        |) GROUP BY component_root ORDER BY component_root""".stripMargin,

    // the 5-stage yield table; every stage predicate is the same SQL
    // fragment its standalone oracle uses (quality gate from
    // x_quality_filter, md5 survivor from x_dedup_exact, component
    // roots from x_dup_components, contaminated set from
    // x_decontaminate)
    "x_curation_funnel" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id, text, string_split(text,' ') AS toks FROM documents
        |), q AS (
        |  SELECT doc_id, text FROM tk
        |  WHERE len(toks) BETWEEN 20 AND 1000
        |    AND (len(text) - (len(toks)-1))::DOUBLE/len(toks) BETWEEN 2.0 AND 12.0
        |    AND len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in'], t)))::DOUBLE/len(toks) >= 0.03
        |    AND len(list_distinct(toks))::DOUBLE/len(toks) >= 0.2
        |), s3 AS (
        |  SELECT MIN(doc_id) AS doc_id FROM q GROUP BY md5(text)
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        |  FROM tk WHERE len(toks) >= 3
        |), hs AS (
        |  SELECT doc_id, list_distinct(list_transform(shingles, s ->
        |    list_reduce(list_transform(range(1,len(s)+1), i -> ascii(substr(s,i,1))::BIGINT),
        |      (acc,c) -> (acc*31+c)%1000000007))) AS hashes
        |  FROM sh
        |), sig AS (
        |  SELECT doc_id, list_transform(range(0,16), i ->
        |    list_min(list_transform(hashes, x -> ((i*2+1)*x + (i*5+3)) % 1000000007))) AS sig
        |  FROM hs
        |), bands AS (
        |  SELECT doc_id, b,
        |    ((((((sig[4*b+1]::BIGINT % 1000000007)*31 + sig[4*b+2]::BIGINT) % 1000000007)*31
        |       + sig[4*b+3]::BIGINT) % 1000000007 *31 + sig[4*b+4]::BIGINT) % 1000000007) AS bh
        |  FROM sig, range(0,4) t(b)
        |), cpairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM bands a JOIN bands c ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id
        |), scored AS (
        |  SELECT p.doc_a, p.doc_b,
        |    round(len(list_filter(ha.hashes, x -> list_contains(hb.hashes, x)))::DOUBLE /
        |      (len(ha.hashes)+len(hb.hashes)
        |       -len(list_filter(ha.hashes, x -> list_contains(hb.hashes, x)))), 6) AS jaccard
        |  FROM cpairs p JOIN hs ha ON p.doc_a = ha.doc_id JOIN hs hb ON p.doc_b = hb.doc_id
        |), dup AS (
        |  SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.7
        |), edges AS (
        |  SELECT doc_a, doc_b FROM dup UNION ALL SELECT doc_b, doc_a FROM dup
        |), nodes AS (
        |  SELECT DISTINCT doc_a AS doc_id FROM edges
        |), reach AS (
        |  SELECT doc_id AS doc, doc_id AS r FROM nodes
        |  UNION
        |  SELECT e.doc_b AS doc, reach.r FROM reach JOIN edges e ON e.doc_a = reach.doc
        |), nonroot AS (
        |  SELECT doc AS doc_id FROM (
        |    SELECT doc, MIN(r) AS root FROM reach GROUP BY doc) WHERE doc <> root
        |), s4 AS (
        |  SELECT doc_id FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM nonroot)
        |), dg AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    list_transform(range(1, len(toks)-2),
        |      i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]),
        |    s -> list_reduce(list_transform(range(1,len(s)+1),
        |           i2 -> ascii(substr(s,i2,1))::BIGINT),
        |           (acc,c)->(acc*31+c)%1000000007)))) AS gh
        |  FROM tk WHERE len(toks) >= 4
        |), bench AS (
        |  SELECT DISTINCT gh FROM dg WHERE doc_id < 20
        |), contaminated AS (
        |  SELECT DISTINCT c.doc_id FROM dg c JOIN bench b USING (gh) WHERE c.doc_id >= 20
        |), s5 AS (
        |  SELECT doc_id FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        |), f AS (
        |  SELECT 1 AS stage_id, 'raw' AS stage, (SELECT COUNT(*) FROM documents) AS n_docs
        |  UNION ALL SELECT 2, 'quality', (SELECT COUNT(*) FROM q)
        |  UNION ALL SELECT 3, 'exact_unique', (SELECT COUNT(*) FROM s3)
        |  UNION ALL SELECT 4, 'neardup_root', (SELECT COUNT(*) FROM s4)
        |  UNION ALL SELECT 5, 'decontaminated', (SELECT COUNT(*) FROM s5)
        |)
        |SELECT stage_id::BIGINT AS stage_id, stage, n_docs::BIGINT AS n_docs,
        |  round(n_docs::DOUBLE / (SELECT COUNT(*) FROM documents), 6) AS retained
        |FROM f ORDER BY stage_id""".stripMargin,

    "x_shard_skew" ->
      """WITH h AS (
        |  SELECT doc_id, len(string_split(text,' '))::BIGINT AS n_tok,
        |    list_reduce(list_transform(range(1, len(CAST(doc_id AS VARCHAR))+1),
        |      i -> ascii(substr(CAST(doc_id AS VARCHAR), i, 1))::BIGINT),
        |      (acc, c) -> (acc*31+c)%1000000007) % 8 AS shard
        |  FROM documents)
        |SELECT shard, COUNT(*) AS n_docs, SUM(n_tok)::BIGINT AS total_tokens,
        |  round(COUNT(*)::DOUBLE * 8 / (SELECT COUNT(*) FROM h), 6) AS doc_load,
        |  round(SUM(n_tok)::DOUBLE * 8 / (SELECT SUM(n_tok)::BIGINT FROM h), 6) AS tok_load
        |FROM h GROUP BY shard ORDER BY shard""".stripMargin,

    "x_dedup_survivors" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id, string_split(text,' ') AS toks FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        |  FROM tk WHERE len(toks) >= 3
        |), hs AS (
        |  SELECT doc_id, list_distinct(list_transform(shingles, s ->
        |    list_reduce(list_transform(range(1,len(s)+1), i -> ascii(substr(s,i,1))::BIGINT),
        |      (acc,c) -> (acc*31+c)%1000000007))) AS hashes
        |  FROM sh
        |), sig AS (
        |  SELECT doc_id, list_transform(range(0,16), i ->
        |    list_min(list_transform(hashes, x -> ((i*2+1)*x + (i*5+3)) % 1000000007))) AS sig
        |  FROM hs
        |), bands AS (
        |  SELECT doc_id, b,
        |    ((((((sig[4*b+1]::BIGINT % 1000000007)*31 + sig[4*b+2]::BIGINT) % 1000000007)*31
        |       + sig[4*b+3]::BIGINT) % 1000000007 *31 + sig[4*b+4]::BIGINT) % 1000000007) AS bh
        |  FROM sig, range(0,4) t(b)
        |), cpairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM bands a JOIN bands c ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id
        |), scored AS (
        |  SELECT p.doc_a, p.doc_b,
        |    round(len(list_filter(ha.hashes, x -> list_contains(hb.hashes, x)))::DOUBLE /
        |      (len(ha.hashes)+len(hb.hashes)
        |       -len(list_filter(ha.hashes, x -> list_contains(hb.hashes, x)))), 6) AS jaccard
        |  FROM cpairs p JOIN hs ha ON p.doc_a = ha.doc_id JOIN hs hb ON p.doc_b = hb.doc_id
        |), dup AS (
        |  SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.7
        |), edges AS (
        |  SELECT doc_a, doc_b FROM dup UNION ALL SELECT doc_b, doc_a FROM dup
        |), nodes AS (
        |  SELECT DISTINCT doc_a AS doc_id FROM edges
        |), reach AS (
        |  SELECT doc_id AS doc, doc_id AS r FROM nodes
        |  UNION
        |  SELECT e.doc_b AS doc, reach.r FROM reach JOIN edges e ON e.doc_a = reach.doc
        |), lbl AS (
        |  SELECT doc, MIN(r) AS root FROM reach GROUP BY doc
        |), nonroots AS (
        |  SELECT doc AS doc_id FROM lbl WHERE doc <> root
        |), keep AS (
        |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        |), surv AS (
        |  SELECT d.doc_id, d.lang FROM documents d
        |  JOIN keep k ON d.doc_id = k.doc_id
        |  LEFT JOIN nonroots nr ON d.doc_id = nr.doc_id
        |  WHERE nr.doc_id IS NULL
        |)
        |SELECT d.lang, COUNT(*) AS n_docs, COUNT(s.doc_id) AS n_survivors
        |FROM documents d LEFT JOIN surv s ON d.doc_id = s.doc_id
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    // components over the UNION of all three near-dup families — same
    // WITH RECURSIVE reachability as x_dup_components, over `dup`
    // cross-source duplication matrix over the unified pair graph:
    // within-source vs cross-source near-dup mass per source pair
    "x_source_overlap" ->
      s"""WITH RECURSIVE $unifiedDupCtes,
        |pd AS (
        |  -- explicit re-dedup: DuckDB 1.0's chained UNION leaves a pair
        |  -- present in two branches duplicated; the pair GRAPH consumers
        |  -- are insensitive to edge multiplicity but this COUNT is not
        |  SELECT DISTINCT doc_a, doc_b FROM dup),
        |ss AS (
        |  SELECT least(da.source, db.source) AS src_a,
        |         greatest(da.source, db.source) AS src_b
        |  FROM pd JOIN documents da ON da.doc_id = pd.doc_a
        |          JOIN documents db ON db.doc_id = pd.doc_b)
        |SELECT src_a, src_b, COUNT(*) AS n_dup_pairs,
        |  src_a <> src_b AS cross_source
        |FROM ss GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin,

    "x_dedup_unified" ->
      s"""WITH RECURSIVE $unifiedDupCtes,
        |edges AS (
        |  SELECT doc_a, doc_b FROM dup UNION ALL SELECT doc_b, doc_a FROM dup
        |), nodes AS (
        |  SELECT DISTINCT doc_a AS doc_id FROM edges
        |), reach AS (
        |  SELECT doc_id AS doc, doc_id AS r FROM nodes
        |  UNION
        |  SELECT e.doc_b AS doc, reach.r FROM reach JOIN edges e ON e.doc_a = reach.doc
        |)
        |SELECT component_root, COUNT(*) AS n_members, MAX(doc) AS max_member FROM (
        |  SELECT doc, MIN(r) AS component_root FROM reach GROUP BY doc
        |) GROUP BY component_root ORDER BY component_root""".stripMargin,

    "x_unified_survivors" ->
      s"""WITH RECURSIVE $unifiedDupCtes,
        |edges AS (
        |  SELECT doc_a, doc_b FROM dup UNION ALL SELECT doc_b, doc_a FROM dup
        |), nodes AS (
        |  SELECT DISTINCT doc_a AS doc_id FROM edges
        |), reach AS (
        |  SELECT doc_id AS doc, doc_id AS r FROM nodes
        |  UNION
        |  SELECT e.doc_b AS doc, reach.r FROM reach JOIN edges e ON e.doc_a = reach.doc
        |), lbl AS (
        |  SELECT doc, MIN(r) AS root FROM reach GROUP BY doc
        |), nonroots AS (
        |  SELECT doc AS doc_id FROM lbl WHERE doc <> root
        |), keep AS (
        |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        |), surv AS (
        |  SELECT d.doc_id, d.lang FROM documents d
        |  JOIN keep k ON d.doc_id = k.doc_id
        |  LEFT JOIN nonroots nr ON d.doc_id = nr.doc_id
        |  WHERE nr.doc_id IS NULL
        |)
        |SELECT d.lang, COUNT(*) AS n_docs, COUNT(s.doc_id) AS n_survivors
        |FROM documents d LEFT JOIN surv s ON d.doc_id = s.doc_id
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "x_dedup_simhash" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(text)-7,1)+1),
        |    i -> substr(text,i,8))) AS shingles
        |  FROM documents
        |), hs AS (
        |  SELECT doc_id, list_transform(shingles, s ->
        |    list_reduce(list_transform(range(1,len(s)+1), i -> ascii(substr(s,i,1))::BIGINT),
        |      (acc,c) -> (acc*31+c)%1000000007)) AS hashes
        |  FROM sh
        |)
        |SELECT doc_id, list_sum(list_transform(range(0,32), j ->
        |  CASE WHEN list_sum(list_transform(hashes, h -> ((h >> j) & 1)*2 - 1)) > 0
        |       THEN (1::BIGINT)<<j ELSE 0 END))::BIGINT AS simhash
        |FROM hs ORDER BY doc_id""".stripMargin,

    // 64-bit print as two 32-bit vote words (same Fibonacci-mix
    // arithmetic as Dedup.simhashDocs64 — h*Mix < 2^62, BIGINT-exact)
    "x_dedup_simhash64" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(text)-7,1)+1),
        |    i -> substr(text,i,8))) AS shingles
        |  FROM documents
        |), hs AS (
        |  SELECT doc_id, list_transform(shingles, s ->
        |    list_reduce(list_transform(range(1,len(s)+1), i -> ascii(substr(s,i,1))::BIGINT),
        |      (acc,c) -> (acc*31+c)%1000000007)) AS hashes
        |  FROM sh
        |)
        |SELECT doc_id,
        |  list_sum(list_transform(range(0,32), j ->
        |    CASE WHEN list_sum(list_transform(hashes, h ->
        |      ((((h*2654435761) >> 15) & 4294967295) >> j & 1)*2 - 1)) > 0
        |         THEN (1::BIGINT)<<j ELSE 0 END))::BIGINT AS sim_lo,
        |  list_sum(list_transform(range(0,32), j ->
        |    CASE WHEN list_sum(list_transform(hashes, h ->
        |      ((((h*2246822519) >> 15) & 4294967295) >> j & 1)*2 - 1)) > 0
        |         THEN (1::BIGINT)<<j ELSE 0 END))::BIGINT AS sim_hi
        |FROM hs ORDER BY doc_id""".stripMargin,

    // pigeonhole banding: 4 disjoint 16-bit bands of the 64-bit
    // two-word fingerprint; <= 3 flipped bits leave at least one band
    // intact. Hamming distance = popcount over both words.
    "x_simhash_neardup" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(text)-7,1)+1),
        |    i -> substr(text,i,8))) AS shingles
        |  FROM documents
        |), hs AS (
        |  SELECT doc_id, list_transform(shingles, s ->
        |    list_reduce(list_transform(range(1,len(s)+1), i -> ascii(substr(s,i,1))::BIGINT),
        |      (acc,c) -> (acc*31+c)%1000000007)) AS hashes
        |  FROM sh
        |), sim AS (
        |  SELECT doc_id,
        |    list_sum(list_transform(range(0,32), j ->
        |      CASE WHEN list_sum(list_transform(hashes, h ->
        |        ((((h*2654435761) >> 15) & 4294967295) >> j & 1)*2 - 1)) > 0
        |           THEN (1::BIGINT)<<j ELSE 0 END))::BIGINT AS sim_lo,
        |    list_sum(list_transform(range(0,32), j ->
        |      CASE WHEN list_sum(list_transform(hashes, h ->
        |        ((((h*2246822519) >> 15) & 4294967295) >> j & 1)*2 - 1)) > 0
        |           THEN (1::BIGINT)<<j ELSE 0 END))::BIGINT AS sim_hi
        |  FROM hs
        |), bk AS (
        |  SELECT doc_id, sim_lo, sim_hi, band,
        |    ((CASE WHEN band < 2 THEN sim_lo ELSE sim_hi END) >> ((band % 2)*16)) & 65535 AS bk
        |  FROM sim, unnest([0,1,2,3]) t(band)
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
        |)
        |SELECT c.doc_a, c.doc_b,
        |  (bit_count(xor(sa.sim_lo, sb.sim_lo)) + bit_count(xor(sa.sim_hi, sb.sim_hi)))::BIGINT AS hamming
        |FROM cand c
        |JOIN sim sa ON sa.doc_id = c.doc_a
        |JOIN sim sb ON sb.doc_id = c.doc_b
        |WHERE bit_count(xor(sa.sim_lo, sb.sim_lo)) + bit_count(xor(sa.sim_hi, sb.sim_hi)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    "x_simhash_clusters" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(text)-7,1)+1),
        |    i -> substr(text,i,8))) AS shingles
        |  FROM documents
        |), hs AS (
        |  SELECT doc_id, list_transform(shingles, s ->
        |    list_reduce(list_transform(range(1,len(s)+1), i -> ascii(substr(s,i,1))::BIGINT),
        |      (acc,c) -> (acc*31+c)%1000000007)) AS hashes
        |  FROM sh
        |), sims AS (
        |  SELECT doc_id, list_sum(list_transform(range(0,32), j ->
        |    CASE WHEN list_sum(list_transform(hashes, h -> ((h >> j) & 1)*2 - 1)) > 0
        |         THEN (1::BIGINT)<<j ELSE 0 END))::BIGINT AS simhash
        |  FROM hs
        |)
        |SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc,
        |       MAX(doc_id) AS last_doc
        |FROM sims GROUP BY simhash HAVING COUNT(*) > 1 ORDER BY simhash""".stripMargin,

    "x_simhash_clusters64" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(text)-7,1)+1),
        |    i -> substr(text,i,8))) AS shingles
        |  FROM documents
        |), hs AS (
        |  SELECT doc_id, list_transform(shingles, s ->
        |    list_reduce(list_transform(range(1,len(s)+1), i -> ascii(substr(s,i,1))::BIGINT),
        |      (acc,c) -> (acc*31+c)%1000000007)) AS hashes
        |  FROM sh
        |), sims AS (
        |  SELECT doc_id,
        |    list_sum(list_transform(range(0,32), j ->
        |      CASE WHEN list_sum(list_transform(hashes, h ->
        |        ((((h*2654435761) >> 15) & 4294967295) >> j & 1)*2 - 1)) > 0
        |           THEN (1::BIGINT)<<j ELSE 0 END))::BIGINT AS sim_lo,
        |    list_sum(list_transform(range(0,32), j ->
        |      CASE WHEN list_sum(list_transform(hashes, h ->
        |        ((((h*2246822519) >> 15) & 4294967295) >> j & 1)*2 - 1)) > 0
        |           THEN (1::BIGINT)<<j ELSE 0 END))::BIGINT AS sim_hi
        |  FROM hs
        |)
        |SELECT sim_lo, sim_hi, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc,
        |       MAX(doc_id) AS last_doc
        |FROM sims GROUP BY sim_lo, sim_hi HAVING COUNT(*) > 1
        |ORDER BY sim_lo, sim_hi""".stripMargin,

    "x_ivf_recall" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE*x::DOUBLE), (a,b)->a+b)) AS nrm
        |  FROM embeddings
        |), cents AS (
        |  SELECT vec_id AS centroid_id, embedding AS c_emb, nrm AS c_nrm FROM e WHERE vec_id < 16
        |), ranked AS (
        |  SELECT e.vec_id, e.embedding, e.nrm, c.centroid_id,
        |    round(list_reduce(list_transform(range(1,65),
        |      i -> e.embedding[i]::DOUBLE * c.c_emb[i]::DOUBLE), (a,b)->a+b)/(e.nrm*c.c_nrm), 6) AS c_sim
        |  FROM e, cents c
        |), cells AS (
        |  SELECT vec_id, embedding, nrm, centroid_id AS cell FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rk
        |    FROM ranked
        |  ) WHERE rk = 1
        |), qcells AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm, centroid_id AS cell FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rk
        |    FROM ranked WHERE vec_id < 10
        |  ) WHERE rk <= 2
        |), scored_i AS (
        |  SELECT DISTINCT q.query_id, c2.vec_id AS neighbor_id,
        |    round(list_reduce(list_transform(range(1,65),
        |      i -> c2.embedding[i]::DOUBLE * q.q_emb[i]::DOUBLE), (a,b)->a+b)/(c2.nrm*q.q_nrm), 6) AS cos
        |  FROM cells c2 JOIN qcells q ON c2.cell = q.cell AND c2.vec_id <> q.query_id
        |), top_i AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        |    FROM scored_i
        |  ) WHERE rk <= 5
        |), q2 AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm FROM e WHERE vec_id < 10
        |), scored_b AS (
        |  SELECT q2.query_id, e.vec_id AS neighbor_id,
        |    round(list_reduce(list_transform(range(1,65),
        |      i -> e.embedding[i]::DOUBLE * q2.q_emb[i]::DOUBLE), (a,b)->a+b)/(e.nrm*q2.q_nrm), 6) AS cos
        |  FROM e, q2 WHERE e.vec_id <> q2.query_id
        |), top_b AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        |    FROM scored_b
        |  ) WHERE rk <= 5
        |), hits AS (
        |  SELECT b.query_id, COUNT(*) AS n_hits
        |  FROM top_b b JOIN top_i l ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
        |  GROUP BY b.query_id
        |)
        |SELECT qq.query_id, COALESCE(h.n_hits, 0) AS n_hits,
        |  round(COALESCE(h.n_hits, 0)::DOUBLE/5, 6) AS recall
        |FROM (SELECT DISTINCT query_id FROM top_b) qq LEFT JOIN hits h USING (query_id)
        |ORDER BY query_id""".stripMargin,

    "x_knn_lsh_banded" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE*x::DOUBLE), (a,b)->a+b)) AS nrm,
        |    list_transform(range(0,2), b ->
        |      list_sum(list_transform(range(0,12), j ->
        |        CASE WHEN list_reduce(list_transform(range(0,64), i ->
        |          embedding[i+1]::DOUBLE * ((((b*12+j)*64+i)*1103515245 + 12345) % 65536 - 32768)::DOUBLE),
        |          (a2,b2)->a2+b2) > 0
        |        THEN (1::BIGINT)<<j ELSE 0 END))::BIGINT) AS bands
        |  FROM embeddings
        |), br AS (
        |  SELECT vec_id, b AS band, bands[b+1] AS bh FROM e, range(0,2) t(b)
        |), qb AS (
        |  SELECT vec_id AS query_id, band, bh FROM br WHERE vec_id < 10
        |), cand AS (
        |  SELECT DISTINCT qb.query_id, br.vec_id AS neighbor_id
        |  FROM br JOIN qb ON br.band = qb.band AND br.bh = qb.bh AND br.vec_id <> qb.query_id
        |), scored AS (
        |  SELECT c.query_id, c.neighbor_id,
        |    round(list_reduce(list_transform(range(1,65),
        |      i -> en.embedding[i]::DOUBLE * eq.embedding[i]::DOUBLE), (a,b)->a+b)/(en.nrm*eq.nrm), 6) + 0 AS cos
        |  FROM cand c JOIN e en ON c.neighbor_id = en.vec_id JOIN e eq ON c.query_id = eq.vec_id
        |)
        |SELECT query_id, neighbor_id, rk, cos FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)::BIGINT AS rk
        |  FROM scored
        |) WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    "x_banded_recall" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE*x::DOUBLE), (a,b)->a+b)) AS nrm,
        |    list_transform(range(0,2), b ->
        |      list_sum(list_transform(range(0,12), j ->
        |        CASE WHEN list_reduce(list_transform(range(0,64), i ->
        |          embedding[i+1]::DOUBLE * ((((b*12+j)*64+i)*1103515245 + 12345) % 65536 - 32768)::DOUBLE),
        |          (a2,b2)->a2+b2) > 0
        |        THEN (1::BIGINT)<<j ELSE 0 END))::BIGINT) AS bands
        |  FROM embeddings
        |), br AS (
        |  SELECT vec_id, b AS band, bands[b+1] AS bh FROM e, range(0,2) t(b)
        |), qb AS (
        |  SELECT vec_id AS query_id, band, bh FROM br WHERE vec_id < 10
        |), cand AS (
        |  SELECT DISTINCT qb.query_id, br.vec_id AS neighbor_id
        |  FROM br JOIN qb ON br.band = qb.band AND br.bh = qb.bh AND br.vec_id <> qb.query_id
        |), scored AS (
        |  SELECT c.query_id, c.neighbor_id,
        |    round(list_reduce(list_transform(range(1,65),
        |      i -> en.embedding[i]::DOUBLE * eq.embedding[i]::DOUBLE), (a,b)->a+b)/(en.nrm*eq.nrm), 6) AS cos
        |  FROM cand c JOIN e en ON c.neighbor_id = en.vec_id JOIN e eq ON c.query_id = eq.vec_id
        |), top_a AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        |    FROM scored
        |  ) WHERE rk <= 5
        |), q2 AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm FROM e WHERE vec_id < 10
        |), scored_b AS (
        |  SELECT q2.query_id, e.vec_id AS neighbor_id,
        |    round(list_reduce(list_transform(range(1,65),
        |      i -> e.embedding[i]::DOUBLE * q2.q_emb[i]::DOUBLE), (a,b)->a+b)/(e.nrm*q2.q_nrm), 6) AS cos
        |  FROM e, q2 WHERE e.vec_id <> q2.query_id
        |), top_b AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        |    FROM scored_b
        |  ) WHERE rk <= 5
        |), hits AS (
        |  SELECT b.query_id, COUNT(*) AS n_hits
        |  FROM top_b b JOIN top_a l ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
        |  GROUP BY b.query_id
        |)
        |SELECT qq.query_id, COALESCE(h.n_hits, 0) AS n_hits,
        |  round(COALESCE(h.n_hits, 0)::DOUBLE/5, 6) AS recall
        |FROM (SELECT DISTINCT query_id FROM top_b) qq LEFT JOIN hits h USING (query_id)
        |ORDER BY query_id""".stripMargin,

    "x_fuzzy_dedup" ->
      """WITH c AS (
        |  SELECT c_custkey, c_name, substr(c_name, 10, 7) AS blk FROM customer
        |)
        |SELECT a.blk, COUNT(*) AS n_fuzzy_pairs, MIN(a.c_custkey) AS first_custkey
        |FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
        | AND levenshtein(a.c_name, b.c_name) <= 1
        |GROUP BY a.blk ORDER BY a.blk""".stripMargin,

    // Johnson-Lindenstrauss ±1 sign-projection (Achlioptas) recall
    // sweep: micro-unit integer reduced vectors (one shared 48-wide
    // projection, each level reads the j < d prefix), exact BIGINT
    // dots, reduced-space brute top-k vs full-dimension brute truth
    "x_jl_sweep" ->
      ("""WITH m0 AS (
        |  SELECT vec_id, unnest(list_transform(range(0, len(embedding)),
        |    i -> {'pos': i,
        |          'vq': CAST(round(embedding[i+1]::DOUBLE * 1e6) AS BIGINT)})) AS pv
        |  FROM embeddings),
        |m AS (SELECT vec_id, pv.pos AS pos, pv.vq AS vq FROM m0),
        |jdim AS (SELECT unnest(range(0, 48)) AS j),
        |red AS MATERIALIZED (
        |  SELECT vec_id, j,
        |    SUM(vq * CASE WHEN ((j*64+pos)*1103515245 + 12345) % 65536 - 32768 >= 0
        |             THEN 1 ELSE -1 END)::BIGINT AS r
        |  FROM m, jdim GROUP BY vec_id, j),
        |e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE*x::DOUBLE), (a,b)->a+b)) AS nrm
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
        |  FROM e WHERE vec_id < 10),
        |scored_b AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(list_reduce(list_transform(range(1,65),
        |      i -> e.embedding[i]::DOUBLE * q.q_emb[i]::DOUBLE), (a,b)->a+b)/(e.nrm*q.q_nrm), 6) AS cos
        |  FROM e, q WHERE e.vec_id <> q.query_id),
        |top_b AS MATERIALIZED (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        |    FROM scored_b) WHERE rk <= 5),
        |""".stripMargin +
       JlDims.map(jlDimCte).mkString(",\n") + "\n" +
       JlDims.map(d => s"SELECT * FROM res$d").mkString(" UNION ALL ") +
       " ORDER BY jl_dim, query_id"),

    "x_knn_recall" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE*x::DOUBLE), (a,b)->a+b)) AS nrm,
        |    list_sum(list_transform(range(0,8), j ->
        |      CASE WHEN list_reduce(list_transform(range(0,64), i ->
        |        embedding[i+1]::DOUBLE * (((j*64+i)*1103515245 + 12345) % 65536 - 32768)::DOUBLE),
        |        (a,b)->a+b) > 0
        |      THEN (1::BIGINT)<<j ELSE 0 END))::BIGINT AS bucket
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm, bucket AS q_bucket
        |  FROM e WHERE vec_id < 10
        |), scored_b AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(list_reduce(list_transform(range(1,65),
        |      i -> e.embedding[i]::DOUBLE * q.q_emb[i]::DOUBLE), (a,b)->a+b)/(e.nrm*q.q_nrm), 6) AS cos
        |  FROM e, q WHERE e.vec_id <> q.query_id
        |), top_b AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        |    FROM scored_b
        |  ) WHERE rk <= 5
        |), scored_l AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(list_reduce(list_transform(range(1,65),
        |      i -> e.embedding[i]::DOUBLE * q.q_emb[i]::DOUBLE), (a,b)->a+b)/(e.nrm*q.q_nrm), 6) AS cos
        |  FROM e JOIN q ON e.bucket = q.q_bucket AND e.vec_id <> q.query_id
        |), top_l AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        |    FROM scored_l
        |  ) WHERE rk <= 5
        |), hits AS (
        |  SELECT b.query_id, COUNT(*) AS n_hits
        |  FROM top_b b JOIN top_l l ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
        |  GROUP BY b.query_id
        |)
        |SELECT qq.query_id, COALESCE(h.n_hits, 0) AS n_hits,
        |  round(COALESCE(h.n_hits, 0)::DOUBLE/5, 6) AS recall
        |FROM (SELECT DISTINCT query_id FROM top_b) qq LEFT JOIN hits h USING (query_id)
        |ORDER BY query_id""".stripMargin,

    "x_repetition" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1])) AS gram
        |  FROM d),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(list_transform(range(1, len(gram)+1), i -> ascii(substr(gram, i, 1))::BIGINT),
        |      (acc, c) -> (acc*31+c)%1000000007) AS gh
        |  FROM g),
        |c AS (SELECT doc_id, gh, COUNT(*) AS c FROM h GROUP BY doc_id, gh)
        |SELECT doc_id, SUM(c)::BIGINT AS n_grams, COUNT(*) AS n_distinct,
        |  round(MAX(c)::DOUBLE / SUM(c), 6) AS top_gram_share,
        |  round(COUNT(*)::DOUBLE / SUM(c), 6) AS distinct_ratio
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "x_heavy_hitters" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (
        |  SELECT tok, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs
        |  FROM tk GROUP BY tok),
        |t AS (SELECT SUM(n_occ) AS total_occ FROM c)
        |SELECT rk, tok, n_occ, n_docs,
        |  round(n_occ::DOUBLE / total_occ, 6) AS share
        |FROM (SELECT ROW_NUMBER() OVER (ORDER BY n_occ DESC, tok) AS rk,
        |             tok, n_occ, n_docs FROM c), t
        |WHERE rk <= 20 ORDER BY rk""".stripMargin,

    // add-1-smoothed word-bigram LM perplexity (CCNet-style quality
    // signal); nll per distinct bigram rounded to 6dp then decimal-
    // summed so the per-doc mean is order-independent in both engines
    "x_bigram_ppl" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |p AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)+1),
        |    i -> {'prev': CASE WHEN i = 1 THEN '<s>' ELSE toks[i-1] END,
        |          'cur': toks[i]})) AS pr
        |  FROM d),
        |p2 AS (SELECT doc_id, pr.prev AS prev, pr.cur AS cur FROM p),
        |dpc AS (SELECT doc_id, prev, cur, COUNT(*) AS c FROM p2
        |        GROUP BY doc_id, prev, cur),
        |cb AS (SELECT prev, cur, SUM(c)::BIGINT AS cb FROM dpc GROUP BY prev, cur),
        |cu AS (SELECT prev, SUM(cb)::BIGINT AS cu FROM cb GROUP BY prev),
        |v AS (SELECT COUNT(DISTINCT cur) AS v FROM cb),
        |m AS (SELECT prev, cur,
        |        CAST(round(-ln((cb + 1.0) / (cu + v)), 6) AS DECIMAL(18,6)) AS nll
        |      FROM cb JOIN cu USING (prev), v),
        |s AS (SELECT doc_id, SUM(c)::BIGINT AS n_scored,
        |        SUM(nll * CAST(c AS DECIMAL(8,0))) AS sn
        |      FROM dpc JOIN m USING (prev, cur) GROUP BY doc_id),
        |a AS (SELECT doc_id, n_scored, round(sn::DOUBLE / n_scored, 6) AS avg_nll FROM s)
        |SELECT doc_id, n_scored, avg_nll, round(exp(avg_nll), 6) AS ppl
        |FROM a ORDER BY doc_id""".stripMargin,

    // market-basket co-occurrence: top part pairs by co-order count
    // with exact-integer lift n_co*N/(n_a*n_b)
    "x_market_basket" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |no AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM items),
        |freq AS (SELECT pk, COUNT(*) AS cnt FROM items GROUP BY pk),
        |co AS (SELECT a.pk AS pa, b.pk AS pb, COUNT(*) AS n_co
        |       FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |       GROUP BY 1, 2),
        |top AS (SELECT pa, pb, n_co,
        |          ROW_NUMBER() OVER (ORDER BY n_co DESC, pa, pb)::BIGINT AS rk
        |        FROM co QUALIFY rk <= 20)
        |SELECT rk, pa, pb, n_co, fa.cnt AS n_a, fb.cnt AS n_b,
        |  round((n_co * n_orders)::DOUBLE / (fa.cnt * fb.cnt), 6) AS lift
        |FROM top JOIN freq fa ON fa.pk = top.pa JOIN freq fb ON fb.pk = top.pb, no
        |ORDER BY rk""".stripMargin,

    // TPC-H Q5-class regional revenue: six-table star join with the
    // local-supply condition, decimal-exact money, per-nation rollup
    "x_regional_revenue" ->
      """SELECT n_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |       (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    // TPC-H Q7-class two-nation trade flow by ship year
    "x_nation_trade" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  EXTRACT(year FROM l_shipdate)::BIGINT AS l_year,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |       (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_11', 'NATION_12')
        |  AND n2.n_name IN ('NATION_11', 'NATION_12')
        |  AND n1.n_name <> n2.n_name
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // k-anonymity suppression audit: (event_type, hour) cells with
    // fewer than 5 distinct users must be suppressed before export;
    // the audit prices what that costs per event type
    "x_kanon" ->
      """WITH c AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts))//1000000 AS hour_s,
        |    COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, COUNT(*) AS n_cells,
        |  SUM(CASE WHEN n_users < 5 THEN 1 ELSE 0 END)::BIGINT AS n_suppressed,
        |  SUM(n_events)::BIGINT AS n_events_total,
        |  SUM(CASE WHEN n_users < 5 THEN n_events ELSE 0 END)::BIGINT AS n_events_suppressed,
        |  round(SUM(CASE WHEN n_users < 5 THEN n_events ELSE 0 END)::DOUBLE
        |        / SUM(n_events), 6) AS suppressed_share
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,

    // 16-tap truncated EMA (alpha = 1/2): power-of-two coefficients
    // over exact integer cents make the smoothing engine-exact
    "x_ema" ->
      (s"""WITH e AS (
         |  SELECT user_id, event_id, ts, value,
         |    CAST(round(value * 100) AS BIGINT) AS m FROM events)
         |SELECT user_id, event_id, value,
         |  round(($emaNumSql)::DOUBLE / (($emaDenSql) * 100), 6) AS ema
         |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |ORDER BY event_id""".stripMargin),

    // daily OHLC candlestick bars: first/last by total tick order
    // (ts_epoch, id) via the same two-row_number trick as the Spark plan
    "x_ohlc_bars" ->
      (finQuoteCte + """,
        |r AS (
        |  SELECT symbol, day, price, volume,
        |    ROW_NUMBER() OVER (PARTITION BY symbol, day ORDER BY ts_epoch, id) AS rn_a,
        |    ROW_NUMBER() OVER (PARTITION BY symbol, day ORDER BY ts_epoch DESC, id DESC) AS rn_d
        |  FROM q)
        |SELECT symbol, day,
        |  MAX(CASE WHEN rn_a = 1 THEN price END) AS open_price,
        |  MAX(price) AS high_price,
        |  MIN(price) AS low_price,
        |  MAX(CASE WHEN rn_d = 1 THEN price END) AS close_price,
        |  SUM(volume)::BIGINT AS bar_volume,
        |  COUNT(*) AS n_ticks
        |FROM r GROUP BY symbol, day ORDER BY symbol, day""".stripMargin),

    "x_vwap" ->
      (finVwapCte + """
        |SELECT symbol, day, vwap, day_volume, n_ticks FROM v
        |ORDER BY symbol, day""".stripMargin),

    "x_volatility" ->
      (finQuoteCte + """,
        |r AS (
        |  SELECT symbol,
        |    ln(price / LAG(price) OVER (PARTITION BY symbol ORDER BY ts_epoch, id)) AS ret
        |  FROM q WHERE price > 0)
        |SELECT symbol, COUNT(ret) AS n_returns,
        |  ROUND(stddev_samp(ret), 6) AS vol,
        |  ROUND(AVG(ret), 6) + 0 AS mean_ret
        |FROM r GROUP BY symbol HAVING COUNT(ret) >= 2 ORDER BY symbol""".stripMargin),

    "x_autocorr" ->
      (finQuoteCte + """,
        |r AS (
        |  SELECT symbol, ts_epoch, id,
        |    ln(price / LAG(price) OVER (PARTITION BY symbol ORDER BY ts_epoch, id)) AS ret
        |  FROM q WHERE price > 0),
        |p AS (
        |  SELECT symbol, ret,
        |    LAG(ret) OVER (PARTITION BY symbol ORDER BY ts_epoch, id) AS ret_lag
        |  FROM r)
        |SELECT symbol, COUNT(*)::BIGINT AS n_pairs,
        |  ROUND(corr(ret, ret_lag), 6) + 0 AS acf1
        |FROM p WHERE ret IS NOT NULL AND ret_lag IS NOT NULL
        |GROUP BY symbol
        |HAVING COUNT(*) >= 3 AND stddev_samp(ret) > 0 AND stddev_samp(ret_lag) > 0
        |ORDER BY symbol""".stripMargin),

    // MACD(12,26,9) as truncated explicit-weight EMAs — the weight
    // doubles come from Finance.Macd*W via toString, so both engines
    // run the identical IEEE chain (see wsumNumSql)
    "x_macd" ->
      (finQuoteCte + s""",
        |e AS (SELECT symbol, id, price, ts_epoch,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |f AS (SELECT symbol, id, price, ts_epoch,
        |        (${wsumNumSql("m", graft.operators.Finance.MacdFastW)})
        |          / (${wsumDenSql("m", graft.operators.Finance.MacdFastW)})
        |        - (${wsumNumSql("m", graft.operators.Finance.MacdSlowW)})
        |          / (${wsumDenSql("m", graft.operators.Finance.MacdSlowW)}) AS macd_raw
        |      FROM e WINDOW w AS (PARTITION BY symbol ORDER BY ts_epoch, id)),
        |g AS (SELECT symbol, id, price, macd_raw,
        |        (${wsumNumSql("macd_raw", graft.operators.Finance.MacdSignalW)})
        |          / (${wsumDenSql("macd_raw", graft.operators.Finance.MacdSignalW)}) AS signal_raw
        |      FROM f WINDOW w AS (PARTITION BY symbol ORDER BY ts_epoch, id))
        |SELECT symbol, id, price,
        |  round(macd_raw / 100, 6) + 0 AS macd,
        |  round(signal_raw / 100, 6) + 0 AS signal_line,
        |  round((macd_raw - signal_raw) / 100, 6) + 0 AS histogram
        |FROM g ORDER BY symbol, id""".stripMargin),

    // Kyle's lambda — all-integer OLS slope of tick moves on signed
    // volume, reported per 1000 shares
    "x_kyle_lambda" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, volume,
        |        CAST(round(price * 100) AS BIGINT) AS m,
        |        ROW_NUMBER() OVER (PARTITION BY symbol
        |          ORDER BY ts_epoch ASC, id ASC) AS rn
        |      FROM q),
        |t AS (SELECT symbol, volume,
        |        m - lag(m, 1) OVER (PARTITION BY symbol ORDER BY rn) AS d
        |      FROM e),
        |u AS (SELECT symbol, d,
        |        (CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1 ELSE 0 END)
        |          * COALESCE(volume, 0) AS v
        |      FROM t WHERE d IS NOT NULL),
        |g AS (SELECT symbol, COUNT(*)::BIGINT AS n, SUM(d)::BIGINT AS sd,
        |        SUM(v)::BIGINT AS sv, SUM(d * v) AS sdv, SUM(v * v) AS svv
        |      FROM u GROUP BY symbol)
        |SELECT symbol, n AS n_moves,
        |  round(1000.0 * CAST(n * sdv - sd * sv AS DOUBLE)
        |        / CAST(n * svv - sv * sv AS DOUBLE), 6)
        |    AS kyle_lambda_per_kshare
        |FROM g WHERE n >= 3 AND n * svv - sv * sv > 0
        |ORDER BY symbol""".stripMargin),

    // ACF profile at lags 1/2/4/8 — pivoted all-integer Pearson
    // expansions, HUGEINT/DECIMAL(38,0) power sums
    "x_acf_profile" ->
      (finQuoteCte + s""",
        |e AS (SELECT symbol,
        |        CAST(round(price * 100) AS BIGINT) AS m,
        |        ROW_NUMBER() OVER (PARTITION BY symbol
        |          ORDER BY ts_epoch ASC, id ASC) AS rn
        |      FROM q),
        |t AS (SELECT symbol, m,
        |${Seq(1, 2, 4, 8).map(k => s"        lag(m, $k) OVER w AS y$k")
           .mkString(",\n")}
        |      FROM e WINDOW w AS (PARTITION BY symbol ORDER BY rn)),
        |g AS (SELECT symbol,
        |${Seq(1, 2, 4, 8).map(k =>
            s"        COUNT(y$k)::BIGINT AS n$k,\n" +
            s"        SUM(CASE WHEN y$k IS NOT NULL THEN m END)::BIGINT AS sx$k,\n" +
            s"        SUM(y$k)::BIGINT AS sy$k,\n" +
            s"        SUM(CASE WHEN y$k IS NOT NULL THEN m * m END) AS qx$k,\n" +
            s"        SUM(y$k * y$k) AS qy$k,\n" +
            s"        SUM(m * y$k) AS xy$k").mkString(",\n")}
        |      FROM t GROUP BY symbol)
        |SELECT symbol, n1 AS n_pairs_1,
        |${Seq(1, 2, 4, 8).map(k =>
            s"  round(CAST(n$k * xy$k - sx$k * sy$k AS DOUBLE)\n" +
            s"        / sqrt(CAST(n$k * qx$k - sx$k * sx$k AS DOUBLE)\n" +
            s"               * CAST(n$k * qy$k - sy$k * sy$k AS DOUBLE)), 6) + 0 AS acf_$k")
            .mkString(",\n")}
        |FROM g WHERE n8 >= 2
        |${Seq(1, 2, 4, 8).map(k =>
            s"  AND n$k * qx$k - sx$k * sx$k > 0 AND n$k * qy$k - sy$k * sy$k > 0")
            .mkString("\n")}
        |ORDER BY symbol""".stripMargin),

    // Spearman rho on integer doubled average ranks — Pearson's
    // formula over BIGINT rank moments, one divide+sqrt at the end
    "x_spearman" ->
      (finQuoteCte + """,
        |b AS (SELECT symbol, CAST(round(price * 100) AS BIGINT) AS m, volume
        |      FROM q WHERE volume IS NOT NULL),
        |r AS (SELECT symbol,
        |        2*RANK() OVER (PARTITION BY symbol ORDER BY m)
        |          + COUNT(*) OVER (PARTITION BY symbol ORDER BY m
        |              RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - 1 AS dx,
        |        2*RANK() OVER (PARTITION BY symbol ORDER BY volume)
        |          + COUNT(*) OVER (PARTITION BY symbol ORDER BY volume
        |              RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - 1 AS dy
        |      FROM b),
        |g AS (SELECT symbol, COUNT(*) AS n,
        |        SUM(dx)::BIGINT AS sx, SUM(dy)::BIGINT AS sy,
        |        SUM(dx*dx)::BIGINT AS sxx, SUM(dy*dy)::BIGINT AS syy,
        |        SUM(dx*dy)::BIGINT AS sxy
        |      FROM r GROUP BY symbol)
        |SELECT symbol, n,
        |  round(CAST(n*sxy - sx*sy AS DOUBLE) /
        |        sqrt(CAST(n*sxx - sx*sx AS DOUBLE) *
        |             CAST(n*syy - sy*sy AS DOUBLE)), 6) + 0 AS rho
        |FROM g
        |WHERE n >= 3 AND n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
        |ORDER BY symbol""".stripMargin),

    // per-symbol Kendall tau-b over daily (close, volume): explicit
    // day-pair concordance sum (per-symbol day counts are bounded),
    // integer tie corrections, ONE final divide+sqrt
    "x_kendall_tau" ->
      (finQuoteCte + """,
        |t AS (SELECT symbol, day, price, volume,
        |        ROW_NUMBER() OVER (PARTITION BY symbol, day
        |          ORDER BY ts_epoch DESC, id DESC) AS rn_d
        |      FROM q WHERE volume IS NOT NULL),
        |b AS (SELECT symbol, day,
        |        CAST(round(MAX(CASE WHEN rn_d = 1 THEN price END) * 100)
        |          AS BIGINT) AS m,
        |        SUM(volume)::BIGINT AS v
        |      FROM t GROUP BY symbol, day),
        |p AS (SELECT x.symbol,
        |        (CASE WHEN y.m > x.m THEN 1 WHEN y.m < x.m THEN -1 ELSE 0 END *
        |         CASE WHEN y.v > x.v THEN 1 WHEN y.v < x.v THEN -1 ELSE 0 END)::BIGINT AS s
        |      FROM b x JOIN b y ON x.symbol = y.symbol AND x.day < y.day),
        |sa AS (SELECT symbol, SUM(s)::BIGINT AS s_stat FROM p GROUP BY symbol),
        |nt AS (SELECT symbol, COUNT(*)::BIGINT AS n_days FROM b GROUP BY symbol),
        |t1 AS (SELECT symbol, SUM(c*(c-1)//2)::BIGINT AS n1 FROM
        |        (SELECT symbol, m, COUNT(*)::BIGINT AS c FROM b GROUP BY 1,2)
        |       GROUP BY symbol),
        |t2 AS (SELECT symbol, SUM(c*(c-1)//2)::BIGINT AS n2 FROM
        |        (SELECT symbol, v, COUNT(*)::BIGINT AS c FROM b GROUP BY 1,2)
        |       GROUP BY symbol),
        |g AS (SELECT nt.symbol, n_days, s_stat,
        |        n_days*(n_days-1)//2 AS n0, n1, n2
        |      FROM nt JOIN sa USING (symbol) JOIN t1 USING (symbol)
        |        JOIN t2 USING (symbol))
        |SELECT symbol, n_days, s_stat,
        |  round(CAST(s_stat AS DOUBLE) /
        |        sqrt(CAST((n0-n1)*(n0-n2) AS DOUBLE)), 6) + 0 AS tau_b
        |FROM g WHERE n_days >= 2 AND (n0-n1)*(n0-n2) > 0
        |ORDER BY symbol""".stripMargin),

    // per-user Mann-Whitney U, tie-corrected z — doubled ranks and
    // the sum(peer^2-1) = sum(t^3-t) identity keep everything BIGINT
    "x_mann_whitney" ->
      """WITH b AS (SELECT user_id, event_type,
        |        CAST(round(value * 100) AS BIGINT) AS m
        |      FROM events WHERE event_type IN ('purchase', 'view')),
        |r AS (SELECT user_id, event_type,
        |        2*RANK() OVER (PARTITION BY user_id ORDER BY m)
        |          + COUNT(*) OVER (PARTITION BY user_id ORDER BY m
        |              RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - 1 AS dr,
        |        COUNT(*) OVER (PARTITION BY user_id ORDER BY m
        |            RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS peer
        |      FROM b),
        |g AS (SELECT user_id,
        |        SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n1,
        |        SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n2,
        |        SUM(CASE WHEN event_type = 'purchase' THEN dr ELSE 0 END)::BIGINT AS r1x2,
        |        SUM(peer*peer - 1)::BIGINT AS tsum
        |      FROM r GROUP BY user_id),
        |h AS (SELECT user_id, n1, n2, r1x2 - n1*(n1+1) AS u2x, n1+n2 AS nn, tsum
        |      FROM g WHERE n1 >= 5 AND n2 >= 5),
        |i AS (SELECT *,
        |        CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE)/12.0 *
        |          (CAST(nn+1 AS DOUBLE) - CAST(tsum AS DOUBLE) /
        |            (CAST(nn AS DOUBLE)*CAST(nn-1 AS DOUBLE))) AS sig2
        |      FROM h)
        |SELECT user_id, n1, n2,
        |  round(CAST(u2x AS DOUBLE)/2, 6) AS u_stat,
        |  round((CAST(u2x AS DOUBLE)/2 -
        |         CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE)/2) / sqrt(sig2), 6) + 0 AS z_score
        |FROM i WHERE sig2 > 0 ORDER BY user_id""".stripMargin,

    // Welch's t over every event-type pair — DECIMAL cent sums, one
    // fixed double expression for t and the Welch-Satterthwaite df
    "x_welch_t" ->
      """WITH s AS (SELECT event_type, COUNT(*) AS n,
        |        CAST(CAST(SUM(CAST(CAST(round(value*100) AS BIGINT)
        |          AS DECIMAL(28,0))) AS VARCHAR) AS DOUBLE) AS s1,
        |        CAST(CAST(SUM(CAST(CAST(round(value*100) AS BIGINT) *
        |          CAST(round(value*100) AS BIGINT) AS DECIMAL(28,0)))
        |          AS VARCHAR) AS DOUBLE) AS s2
        |      FROM events GROUP BY event_type HAVING COUNT(*) >= 2),
        |t AS (SELECT event_type, n,
        |        s1 / CAST(n AS DOUBLE) / 100 AS mean,
        |        (s2 - s1*s1/CAST(n AS DOUBLE)) / CAST(n-1 AS DOUBLE) / 10000 AS v
        |      FROM s),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |        a.n AS na, b.n AS nb, a.mean AS ma, b.mean AS mb,
        |        a.v AS va, b.v AS vb
        |      FROM t a, t b WHERE a.event_type < b.event_type),
        |w AS (SELECT *, va/CAST(na AS DOUBLE) AS sea,
        |        vb/CAST(nb AS DOUBLE) AS seb FROM p)
        |SELECT type_a, type_b, na, nb,
        |  round((ma - mb) / sqrt(sea + seb), 6) + 0 AS t_stat,
        |  round((sea + seb)*(sea + seb) /
        |        (sea*sea/CAST(na-1 AS DOUBLE) + seb*seb/CAST(nb-1 AS DOUBLE)), 6)
        |    AS df
        |FROM w WHERE sea + seb > 0 ORDER BY type_a, type_b""".stripMargin,

    // chi-square + Cramér's V — micro-unit rounded cell terms summed
    // as BIGINT; marginals from the bounded contingency table
    "x_chi_square" ->
      """WITH cells AS (SELECT o_orderpriority AS pri, o_orderstatus AS st,
        |        COUNT(*) AS o
        |      FROM orders GROUP BY 1, 2),
        |rt AS (SELECT pri, SUM(o)::BIGINT AS rt FROM cells GROUP BY pri),
        |ct AS (SELECT st, SUM(o)::BIGINT AS ct FROM cells GROUP BY st),
        |tot AS (SELECT SUM(o)::BIGINT AS n_total,
        |          COUNT(DISTINCT pri)::BIGINT AS r,
        |          COUNT(DISTINCT st)::BIGINT AS c FROM cells),
        |term AS (SELECT n_total, r, c,
        |        CAST(round((CAST(o AS DOUBLE) - e)*(CAST(o AS DOUBLE) - e)
        |          / e * 1e6) AS BIGINT) AS term_u
        |      FROM (SELECT cells.o, tot.n_total, tot.r, tot.c,
        |              CAST(rt.rt AS DOUBLE)*CAST(ct.ct AS DOUBLE) /
        |                CAST(tot.n_total AS DOUBLE) AS e
        |            FROM cells JOIN rt USING(pri) JOIN ct USING(st)
        |              CROSS JOIN tot)),
        |g AS (SELECT n_total, r, c, SUM(term_u)::BIGINT AS chi_u
        |      FROM term GROUP BY 1, 2, 3)
        |SELECT n_total,
        |  round(CAST(chi_u AS DOUBLE)/1e6, 6) AS chi2,
        |  (r-1)*(c-1) AS df,
        |  round(sqrt(CAST(chi_u AS DOUBLE)/1e6 /
        |        (CAST(n_total AS DOUBLE)*CAST(least(r-1, c-1) AS DOUBLE))), 6)
        |    AS cramers_v
        |FROM g""".stripMargin,

    // t-closeness EMD over a fixed 10-band grid — cumulative count
    // ratios, micro-unit positions, integer rollup per event type
    "x_tcloseness" ->
      """WITH e AS (SELECT event_type,
        |        epoch_us(date_trunc('hour', ts))//1000000 AS hour_s,
        |        least(CAST(round(value*100) AS BIGINT)//5000, 9) AS band
        |      FROM events),
        |cb AS (SELECT event_type, hour_s, band, COUNT(*) AS cb
        |      FROM e GROUP BY 1, 2, 3),
        |nc AS (SELECT event_type, hour_s, SUM(cb)::BIGINT AS n_cell
        |      FROM cb GROUP BY 1, 2),
        |grid AS (SELECT nc.event_type, nc.hour_s, nc.n_cell, b.band
        |      FROM nc CROSS JOIN (SELECT unnest(range(0, 10)) AS band) b),
        |gl AS (SELECT band, COUNT(*) AS g FROM e GROUP BY band),
        |nt AS (SELECT COUNT(*) AS n_total FROM e),
        |cum AS (SELECT grid.event_type, grid.hour_s, grid.n_cell, grid.band,
        |          SUM(COALESCE(cb.cb, 0)) OVER w AS cum_c,
        |          SUM(COALESCE(gl.g, 0)) OVER w AS cum_g,
        |          nt.n_total
        |        FROM grid LEFT JOIN cb USING(event_type, hour_s, band)
        |          LEFT JOIN gl USING(band) CROSS JOIN nt
        |        WINDOW w AS (PARTITION BY grid.event_type, grid.hour_s
        |                     ORDER BY grid.band)),
        |d AS (SELECT event_type, hour_s,
        |        SUM(CAST(round(abs(CAST(cum_c AS DOUBLE)/CAST(n_cell AS DOUBLE)
        |          - CAST(cum_g AS DOUBLE)/CAST(n_total AS DOUBLE))*1e9)
        |          AS BIGINT))::BIGINT AS emd_u
        |      FROM cum WHERE band <= 8 GROUP BY 1, 2)
        |SELECT event_type, COUNT(*) AS n_cells,
        |  round(CAST(MAX(emd_u) AS DOUBLE)/9e9, 6) AS max_emd,
        |  round(SUM(emd_u)::DOUBLE/9e9/CAST(COUNT(*) AS DOUBLE), 6) AS mean_emd,
        |  SUM(CASE WHEN CAST(emd_u AS DOUBLE)/9e9 > 0.2 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_violations
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Theil T/L inequality per segment — micro-unit ln terms, exact
    // integer sums, one divide each
    "x_theil_index" ->
      """WITH spend AS (SELECT o_custkey,
        |        SUM(CAST(round(o_totalprice*100) AS BIGINT))::BIGINT AS cents
        |      FROM orders GROUP BY o_custkey),
        |sp2 AS (SELECT c_mktsegment AS segment, cents
        |        FROM spend JOIN customer ON o_custkey = c_custkey),
        |tot AS (SELECT segment, COUNT(*) AS n,
        |          CAST(CAST(SUM(CAST(cents AS DECIMAL(28,0))) AS VARCHAR) AS DOUBLE)
        |            AS s
        |        FROM sp2 GROUP BY segment),
        |tot2 AS (SELECT segment, n, s / CAST(n AS DOUBLE) AS mu FROM tot),
        |t AS (SELECT sp2.segment, CAST(cents AS DOUBLE)/mu AS ratio, n
        |      FROM sp2 JOIN tot2 USING (segment)),
        |u AS (SELECT segment, n,
        |        CAST(round(ratio*ln(ratio)*1e6) AS BIGINT) AS t_u,
        |        CAST(round(-ln(ratio)*1e6) AS BIGINT) AS l_u FROM t)
        |SELECT segment, MAX(n)::BIGINT AS n_customers,
        |  round(CAST(SUM(t_u) AS DOUBLE)/(CAST(MAX(n) AS DOUBLE)*1e6), 6)
        |    AS theil_t,
        |  round(CAST(SUM(l_u) AS DOUBLE)/(CAST(MAX(n) AS DOUBLE)*1e6), 6)
        |    AS theil_l
        |FROM u GROUP BY segment ORDER BY segment""".stripMargin,

    // Brown-Forsythe — exact lower-median centers off the bounded
    // distinct-cent table, literal-pivoted ANOVA
    "x_brown_forsythe" ->
      """WITH ev AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS m
        |      FROM events),
        |bv AS (SELECT event_type, m, COUNT(*) AS c FROM ev GROUP BY 1, 2),
        |cw AS (SELECT event_type, m, c,
        |         (SUM(c) OVER (PARTITION BY event_type ORDER BY m ASC
        |            ROWS UNBOUNDED PRECEDING))::BIGINT AS cum,
        |         (SUM(c) OVER (PARTITION BY event_type))::BIGINT AS tot
        |       FROM bv),
        |med AS (SELECT event_type, m AS med FROM cw
        |        WHERE cum - c < (tot+1)//2 AND (tot+1)//2 <= cum),
        |dev AS (SELECT ev.event_type, abs(ev.m - med.med) AS d
        |        FROM ev JOIN med USING (event_type)),
        |g AS (SELECT COUNT(*)::BIGINT AS n, SUM(d)::BIGINT AS s,
        |        CAST(CAST(SUM(CAST(d*d AS DECIMAL(28,0))) AS VARCHAR) AS DOUBLE)
        |          AS q,
        |        SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_click,
        |        SUM(CASE WHEN event_type = 'click' THEN d ELSE 0 END)::BIGINT AS s_click,
        |        SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_error,
        |        SUM(CASE WHEN event_type = 'error' THEN d ELSE 0 END)::BIGINT AS s_error,
        |        SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
        |        SUM(CASE WHEN event_type = 'purchase' THEN d ELSE 0 END)::BIGINT AS s_purchase,
        |        SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS n_signup,
        |        SUM(CASE WHEN event_type = 'signup' THEN d ELSE 0 END)::BIGINT AS s_signup,
        |        SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_view,
        |        SUM(CASE WHEN event_type = 'view' THEN d ELSE 0 END)::BIGINT AS s_view
        |      FROM dev),
        |w AS (SELECT *, CAST(n AS DOUBLE) AS nd,
        |        CASE WHEN n_click > 0 THEN CAST(s_click AS DOUBLE)*CAST(s_click AS DOUBLE)/CAST(n_click AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END + CASE WHEN n_error > 0 THEN CAST(s_error AS DOUBLE)*CAST(s_error AS DOUBLE)/CAST(n_error AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END + CASE WHEN n_purchase > 0 THEN CAST(s_purchase AS DOUBLE)*CAST(s_purchase AS DOUBLE)/CAST(n_purchase AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END + CASE WHEN n_signup > 0 THEN CAST(s_signup AS DOUBLE)*CAST(s_signup AS DOUBLE)/CAST(n_signup AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END + CASE WHEN n_view > 0 THEN CAST(s_view AS DOUBLE)*CAST(s_view AS DOUBLE)/CAST(n_view AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS gt,
        |        (CASE WHEN n_click > 0 THEN 1 ELSE 0 END) + (CASE WHEN n_error > 0 THEN 1 ELSE 0 END) + (CASE WHEN n_purchase > 0 THEN 1 ELSE 0 END) + (CASE WHEN n_signup > 0 THEN 1 ELSE 0 END) + (CASE WHEN n_view > 0 THEN 1 ELSE 0 END) AS k
        |      FROM g),
        |w2 AS (SELECT *, gt - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/nd AS ssb,
        |        q - gt AS ssw FROM w)
        |SELECT n AS n_events, CAST(k - 1 AS BIGINT) AS df_between,
        |  CAST(n - k AS BIGINT) AS df_within,
        |  round(ssb/CAST(k-1 AS DOUBLE)/(ssw/CAST(n-k AS DOUBLE)), 6) AS f_stat,
        |  round(ssb/(ssb + ssw), 6) AS eta_sq
        |FROM w2 WHERE n > k AND ssw > 0""".stripMargin,

    // Wald-Wolfowitz runs test — sign-change counting, exact
    // randomization moments from three BIGINTs
    "x_runs_test" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |t AS (SELECT symbol, id, ts_epoch,
        |        m - lag(m, 1) OVER (PARTITION BY symbol ORDER BY ts_epoch, id)
        |          AS d
        |      FROM e),
        |sg AS (SELECT symbol, id, ts_epoch,
        |        CASE WHEN d > 0 THEN 1 ELSE -1 END AS sgn
        |      FROM t WHERE d IS NOT NULL AND d <> 0),
        |ch AS (SELECT symbol, sgn,
        |        CASE WHEN lag(sgn, 1) OVER w IS NULL THEN 0
        |             WHEN sgn <> lag(sgn, 1) OVER w THEN 1 ELSE 0 END AS chg
        |      FROM sg WINDOW w AS (PARTITION BY symbol ORDER BY ts_epoch, id)),
        |g AS (SELECT symbol,
        |        SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END)::BIGINT AS np,
        |        SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END)::BIGINT AS nm,
        |        (SUM(chg) + 1)::BIGINT AS r_runs
        |      FROM ch GROUP BY symbol),
        |h AS (SELECT symbol, np, nm, r_runs, np + nm AS n FROM g
        |      WHERE np > 0 AND nm > 0 AND np + nm >= 3),
        |w2 AS (SELECT symbol, n, r_runs, CAST(n AS DOUBLE) AS nd,
        |        2.0 * CAST(np AS DOUBLE) * CAST(nm AS DOUBLE) AS p2
        |      FROM h)
        |SELECT symbol, n AS n_moves, r_runs,
        |  round(p2 / nd + 1, 6) AS expected_runs,
        |  round((CAST(r_runs AS DOUBLE) - (p2 / nd + 1)) /
        |        sqrt(p2 * (p2 - nd) / (nd * nd * (nd - 1))), 6) + 0 AS z_score
        |FROM w2 WHERE p2 * (p2 - nd) > 0 ORDER BY symbol""".stripMargin),

    // Chatterjee's xi — max-tie and min-tie ranks, consecutive rank
    // gaps under the x order, tie-robust denominator, all BIGINT
    "x_xi_correlation" ->
      (finQuoteCte + """,
        |b AS (SELECT symbol, id, CAST(round(price * 100) AS BIGINT) AS m,
        |        volume AS v
        |      FROM q WHERE volume IS NOT NULL),
        |r AS (SELECT symbol, id, m, v,
        |        COUNT(*) OVER (PARTITION BY symbol) AS nn,
        |        RANK() OVER wv
        |          + COUNT(*) OVER (PARTITION BY symbol ORDER BY v
        |              RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - 1 AS r,
        |        nn - RANK() OVER wv + 1 AS l
        |      FROM b WINDOW wv AS (PARTITION BY symbol ORDER BY v)),
        |d AS (SELECT symbol, nn, l,
        |        abs(r - lag(r, 1) OVER (PARTITION BY symbol ORDER BY m, id)) AS dr
        |      FROM r),
        |g AS (SELECT symbol, MAX(nn)::BIGINT AS n, SUM(dr)::BIGINT AS sdr,
        |        SUM(l * (nn - l))::BIGINT AS sl
        |      FROM d GROUP BY symbol)
        |SELECT symbol, n,
        |  round(1.0 - CAST(n * sdr AS DOUBLE) / (2.0 * CAST(sl AS DOUBLE)), 6)
        | + 0    AS xi
        |FROM g WHERE n >= 3 AND sl > 0 ORDER BY symbol""".stripMargin),

    // Cohen's kappa — 2x2 all-integer chance correction
    "x_cohens_kappa" ->
      """WITH f AS (
        |  SELECT (CAST(len(list_filter(string_split(text, ' '),
        |            x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
        |          / len(string_split(text, ' ')) > 0.05) AS g,
        |    (lang = 'en') AS t
        |  FROM documents),
        |c AS (SELECT
        |    SUM(CASE WHEN g AND t THEN 1 ELSE 0 END)::BIGINT AS a,
        |    SUM(CASE WHEN g AND NOT t THEN 1 ELSE 0 END)::BIGINT AS b,
        |    SUM(CASE WHEN NOT g AND t THEN 1 ELSE 0 END)::BIGINT AS c2,
        |    SUM(CASE WHEN NOT g AND NOT t THEN 1 ELSE 0 END)::BIGINT AS d
        |  FROM f),
        |k AS (SELECT a, b, c2, d, a + b + c2 + d AS n_docs,
        |        (a + b)*(a + c2) + (c2 + d)*(b + d) AS e
        |      FROM c)
        |SELECT n_docs, a AS true_pos, d AS true_neg,
        |  round(CAST(a + d AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS accuracy,
        |  round(CAST(n_docs*(a + d) - e AS DOUBLE) /
        |        CAST(n_docs*n_docs - e AS DOUBLE), 6) AS kappa
        |FROM k WHERE n_docs*n_docs - e > 0""".stripMargin,

    // linear-kernel MMD^2 between label means — micro-unit dim sums,
    // nano-unit squared gaps, integer dim rollup
    "x_emb_mmd" ->
      """WITH s AS (
        |  SELECT CAST(label AS BIGINT) AS label, (i-1)::BIGINT AS pos,
        |    COUNT(*) AS n,
        |    SUM(CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT))::BIGINT AS sm
        |  FROM embeddings, range(1, 65) t(i)
        |  GROUP BY 1, 2),
        |p AS (SELECT a.label AS label_a, b.label AS label_b, a.pos,
        |        a.n AS na, a.sm AS sa, b.n AS nb, b.sm AS sb
        |      FROM s a JOIN s b ON a.pos = b.pos AND a.label < b.label),
        |t AS (SELECT label_a, label_b, na, nb,
        |        CAST(sa AS DOUBLE)/(CAST(na AS DOUBLE)*1e6)
        |          - CAST(sb AS DOUBLE)/(CAST(nb AS DOUBLE)*1e6) AS diff
        |      FROM p),
        |u AS (SELECT label_a, label_b, na, nb,
        |        CAST(round(diff*diff*1e9) AS BIGINT) AS t_u FROM t)
        |SELECT label_a, label_b, MAX(na)::BIGINT AS n_a, MAX(nb)::BIGINT AS n_b,
        |  round(CAST(SUM(t_u) AS DOUBLE)/1e9, 6) AS mmd_sq
        |FROM u GROUP BY 1, 2 ORDER BY label_a, label_b""".stripMargin,

    // Ljung-Box Q — five pivoted lag covariances cleared of the
    // rational mean by n^2, DECIMAL(38,0) products, literal-ordered Q
    "x_ljung_box" ->
      (finQuoteCte + s""",
        |e AS (SELECT symbol, id, ts_epoch,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |l AS (SELECT symbol, m,
        |${(1 to 5).map(k => s"        lag(m, $k) OVER w AS y$k").mkString(",\n")}
        |      FROM e WINDOW w AS (PARTITION BY symbol ORDER BY ts_epoch, id)),
        |g AS (SELECT symbol, COUNT(*)::BIGINT AS n, SUM(m)::BIGINT AS s,
        |        CAST(SUM(CAST(m*m AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS q2,
        |${(1 to 5).map(k =>
           s"        CAST(SUM(CASE WHEN y$k IS NOT NULL THEN CAST(m*y$k AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS xy$k,\n" +
           s"        SUM(CASE WHEN y$k IS NOT NULL THEN m END)::BIGINT AS sa$k,\n" +
           s"        SUM(y$k)::BIGINT AS sb$k").mkString(",\n")}
        |      FROM l GROUP BY symbol),
        |r AS (SELECT symbol, n, CAST(n AS DOUBLE) AS nd,
        |        n * (n * q2 - CAST(s AS DECIMAL(38,0)) * s) AS bden,
        |${(1 to 5).map(k =>
           s"        CAST(n * (n * xy$k) - n * (CAST(s AS DECIMAL(38,0)) * (sa$k + sb$k))\n" +
           s"          + (n - $k) * (CAST(s AS DECIMAL(38,0)) * s) AS DOUBLE) AS num$k").mkString(",\n")}
        |      FROM g
        |      WHERE n > 5 AND n * q2 - CAST(s AS DECIMAL(38,0)) * s > 0),
        |r2 AS (SELECT symbol, n, nd,
        |${(1 to 5).map(k =>
           s"        num$k / CAST(bden AS DOUBLE) AS rho$k").mkString(",\n")}
        |       FROM r)
        |SELECT symbol, n AS n_ticks,
        |  round(nd * (nd + 2) * (${(1 to 5).map(k =>
             s"rho$k * rho$k / (nd - $k)").mkString(" + ")}), 6) AS q_lb,
        |  CAST(5 AS BIGINT) AS df
        |FROM r2 ORDER BY symbol""".stripMargin),

    // daily-bar Ljung-Box — same portmanteau pivots over the
    // per-(symbol, day) mean-price cents (the streaming monitor's
    // granularity; VARCHAR bridge = Spark's decimal->double cast)
    "x_ljung_box_daily" ->
      (finQuoteCte + s""",
        |e AS (SELECT symbol, day,
        |        CAST(round((CAST(CAST(SUM(CAST(price AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |          / COUNT(*)) * 100) AS BIGINT) AS m
        |      FROM q GROUP BY symbol, day),
        |l AS (SELECT symbol, m,
        |${(1 to 5).map(k => s"        lag(m, $k) OVER w AS y$k").mkString(",\n")}
        |      FROM e WINDOW w AS (PARTITION BY symbol ORDER BY day)),
        |g AS (SELECT symbol, COUNT(*)::BIGINT AS n, SUM(m)::BIGINT AS s,
        |        CAST(SUM(CAST(m*m AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS q2,
        |${(1 to 5).map(k =>
           s"        CAST(SUM(CASE WHEN y$k IS NOT NULL THEN CAST(m*y$k AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS xy$k,\n" +
           s"        SUM(CASE WHEN y$k IS NOT NULL THEN m END)::BIGINT AS sa$k,\n" +
           s"        SUM(y$k)::BIGINT AS sb$k").mkString(",\n")}
        |      FROM l GROUP BY symbol),
        |r AS (SELECT symbol, n, CAST(n AS DOUBLE) AS nd,
        |        n * (n * q2 - CAST(s AS DECIMAL(38,0)) * s) AS bden,
        |${(1 to 5).map(k =>
           s"        CAST(n * (n * xy$k) - n * (CAST(s AS DECIMAL(38,0)) * (sa$k + sb$k))\n" +
           s"          + (n - $k) * (CAST(s AS DECIMAL(38,0)) * s) AS DOUBLE) AS num$k").mkString(",\n")}
        |      FROM g
        |      WHERE n > 5 AND n * q2 - CAST(s AS DECIMAL(38,0)) * s > 0),
        |r2 AS (SELECT symbol, n, nd,
        |${(1 to 5).map(k =>
           s"        num$k / CAST(bden AS DOUBLE) AS rho$k").mkString(",\n")}
        |       FROM r)
        |SELECT symbol, n AS n_days,
        |  round(nd * (nd + 2) * (${(1 to 5).map(k =>
             s"rho$k * rho$k / (nd - $k)").mkString(" + ")}), 6) AS q_lb,
        |  CAST(5 AS BIGINT) AS df
        |FROM r2 ORDER BY symbol""".stripMargin),

    // tick-rule order-flow imbalance — integer signed volume sums
    "x_tick_imbalance" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, day, volume,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |t AS (SELECT symbol, day, volume,
        |        m - lag(m, 1) OVER (PARTITION BY symbol ORDER BY ts_epoch, id) AS d
        |      FROM e),
        |u AS (SELECT symbol, day,
        |        CASE WHEN d > 0 THEN COALESCE(volume, 0)
        |             WHEN d < 0 THEN -COALESCE(volume, 0) ELSE 0 END AS sv,
        |        CASE WHEN d <> 0 THEN COALESCE(volume, 0) ELSE 0 END AS av
        |      FROM t WHERE d IS NOT NULL),
        |g AS (SELECT symbol, day, COUNT(*) AS n_moves, SUM(sv)::BIGINT AS net_vol,
        |        SUM(av)::BIGINT AS classified_vol
        |      FROM u GROUP BY 1, 2)
        |SELECT symbol, day, n_moves, net_vol,
        |  round(CAST(net_vol AS DOUBLE)/CAST(classified_vol AS DOUBLE), 6)
        | + 0    AS imbalance
        |FROM g WHERE classified_vol > 0 ORDER BY symbol, day""".stripMargin),

    // VPIN: tick-rule classified volume in equal-volume buckets
    // (whole-tick assignment, cum div 500), |net|/vol per bucket
    "x_vpin" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, volume,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |t AS (SELECT symbol, id, ts_epoch, volume,
        |        m - lag(m, 1) OVER (PARTITION BY symbol ORDER BY ts_epoch, id) AS d
        |      FROM e),
        |u AS (SELECT symbol, id, ts_epoch,
        |        CASE WHEN d > 0 THEN COALESCE(volume, 0)
        |             WHEN d < 0 THEN -COALESCE(volume, 0) ELSE 0 END AS sv,
        |        CASE WHEN d <> 0 THEN COALESCE(volume, 0) ELSE 0 END AS av
        |      FROM t WHERE d IS NOT NULL),
        |c AS (SELECT symbol, sv, av,
        |        COALESCE(SUM(av) OVER (PARTITION BY symbol ORDER BY ts_epoch, id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_av
        |      FROM u),
        |b AS (SELECT symbol, cum_av // 500 AS bucket,
        |        SUM(sv)::BIGINT AS net, SUM(av)::BIGINT AS vol
        |      FROM c GROUP BY 1, 2)
        |SELECT symbol, COUNT(*)::BIGINT AS n_buckets, SUM(vol)::BIGINT AS classified_vol,
        |  round(SUM(ABS(net))::DOUBLE / SUM(vol), 6) AS vpin,
        |  MAX(round(ABS(net)::DOUBLE / vol, 6)) AS worst_bucket
        |FROM b WHERE vol > 0 GROUP BY symbol ORDER BY symbol""".stripMargin),

    // DP Laplace release audit — deterministic per-cell hash uniform,
    // inverse-CDF noise micro-unit rounded before every sum
    "x_dp_release" ->
      """WITH cells AS (SELECT event_type,
        |        epoch_us(date_trunc('day', ts))//1000000 AS day_s, COUNT(*) AS c
        |      FROM events GROUP BY 1, 2),
        |k AS (SELECT event_type, c,
        |        day_s + (CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
        |          WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 WHEN 'view' THEN 4
        |          ELSE -1 END) AS key
        |      FROM cells),
        |n AS (SELECT event_type, c,
        |        ((key*8191 + 131071) % 1000000007 % 1048576 + 1) AS t
        |      FROM k),
        |v AS (SELECT event_type, c, CAST(t AS DOUBLE)/1048577 AS u FROM n),
        |w AS (SELECT event_type, c,
        |        CAST(round(-(CASE WHEN u - 0.5 > 0 THEN CAST(1.0 AS DOUBLE)
        |            WHEN u - 0.5 < 0 THEN CAST(-1.0 AS DOUBLE)
        |            ELSE CAST(0.0 AS DOUBLE) END)
        |          * ln(1.0 - 2.0*abs(u - 0.5)) / 1.0 * 1e6) AS BIGINT) AS noise_u
        |      FROM v)
        |SELECT event_type, COUNT(*) AS n_cells, SUM(c)::BIGINT AS true_total,
        |  round(CAST(SUM(c) AS DOUBLE) + CAST(SUM(noise_u) AS DOUBLE)/1e6, 6)
        |    AS released_total,
        |  round(CAST(SUM(abs(noise_u)) AS DOUBLE)/1e6, 6) AS l1_error,
        |  round(CAST(MAX(abs(noise_u)) AS DOUBLE)/1e6, 6) AS max_abs_error,
        |  CAST(1.0 AS DOUBLE) AS epsilon
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin,

    // SAX motif census — exact z-normalized PAA, published Gaussian
    // breakpoints as shared literals, word-keyed census
    "x_sax_motifs" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, day,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cb AS (SELECT symbol, day,
        |         MAX(CASE WHEN rn_d = 1 THEN m END) AS cl
        |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol, day
        |                        ORDER BY ts_epoch DESC, id DESC) AS rn_d FROM e)
        |       GROUP BY symbol, day),
        |b2 AS (SELECT symbol, day, cl,
        |        CAST((ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY day) - 1) // 4
        |          AS BIGINT) AS seg
        |      FROM cb),
        |st AS (SELECT symbol, COUNT(*)::BIGINT AS n,
        |         CAST(SUM(cl) AS DECIMAL(19,0)) AS s,
        |         CAST(SUM(CAST(cl*cl AS DECIMAL(28,0))) AS DECIMAL(28,0)) AS q2
        |       FROM b2 GROUP BY symbol),
        |st2 AS (SELECT symbol,
        |          CAST(CAST(s AS VARCHAR) AS DOUBLE)/CAST(n AS DOUBLE) AS mu,
        |          sqrt((CAST(CAST(q2 AS VARCHAR) AS DOUBLE)
        |            - CAST(CAST(s AS VARCHAR) AS DOUBLE)*CAST(CAST(s AS VARCHAR) AS DOUBLE)
        |              /CAST(n AS DOUBLE))/CAST(n-1 AS DOUBLE)) AS sig
        |        FROM st WHERE n >= 16),
        |st3 AS (SELECT * FROM st2 WHERE sig > 0),
        |sg AS (SELECT symbol, seg, COUNT(*) AS cnt, SUM(cl)::BIGINT AS segsum
        |       FROM b2 GROUP BY 1, 2),
        |z AS (SELECT sg.symbol, sg.seg,
        |        (CAST(segsum AS DOUBLE)/4.0 - mu)/sig AS z
        |      FROM sg JOIN st3 USING (symbol) WHERE cnt = 4),
        |lt AS (SELECT symbol, seg,
        |        CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0.0 THEN 'b'
        |             WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS letter
        |      FROM z),
        |wd AS (SELECT symbol, letter AS w0,
        |        lead(letter, 1) OVER w AS w1, lead(letter, 2) OVER w AS w2,
        |        lead(letter, 3) OVER w AS w3
        |      FROM lt WINDOW w AS (PARTITION BY symbol ORDER BY seg)),
        |wf AS (SELECT symbol, w0 || w1 || w2 || w3 AS word FROM wd
        |       WHERE w1 IS NOT NULL AND w2 IS NOT NULL AND w3 IS NOT NULL),
        |cs AS (SELECT word, COUNT(*) AS n_occurrences,
        |         COUNT(DISTINCT symbol)::BIGINT AS n_symbols FROM wf GROUP BY word),
        |top AS (SELECT * FROM cs ORDER BY n_occurrences DESC, word ASC LIMIT 10)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, word ASC)
        |    AS BIGINT) AS rk,
        |  word, n_occurrences, n_symbols
        |FROM top ORDER BY rk""".stripMargin),

    // Kruskal-Wallis H — domain-bounded distinct-value rank table,
    // literal-pivoted per-type rank sums, tie-corrected denominator
    "x_kruskal_wallis" ->
      ("""WITH ev AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS m
        |      FROM events),
        |bv AS (SELECT m, COUNT(*) AS c FROM ev GROUP BY m),
        |rk AS (SELECT m, c,
        |        (SUM(c) OVER (ORDER BY m ASC ROWS UNBOUNDED PRECEDING))::BIGINT
        |          AS cum
        |      FROM bv),
        |dr AS (SELECT m, 2*(cum - c) + c + 1 AS dr FROM rk),
        |pt AS (SELECT event_type, m, COUNT(*) AS cj FROM ev GROUP BY 1, 2),
        |j AS (SELECT pt.event_type, pt.cj, dr.dr FROM pt JOIN dr USING (m)),
        |pv AS (SELECT SUM(cj)::BIGINT AS n_total,
        |""".stripMargin +
        Seq("click", "error", "purchase", "signup", "view").map { t =>
          s"        SUM(CASE WHEN event_type = '$t' THEN cj ELSE 0 END)::BIGINT AS n_$t,\n" +
          s"        CAST(SUM(CASE WHEN event_type = '$t' THEN cj*dr ELSE 0 END) AS DECIMAL(19,0)) AS r2_$t"
        }.mkString(",\n") + """
        |      FROM j),
        |tt AS (SELECT CAST(SUM(CAST(CAST(c*c AS DECIMAL(19,0)) *
        |          CAST(c AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0))
        |          AS c3,
        |        CAST(SUM(c) AS DECIMAL(19,0)) AS csum FROM bv),
        |w AS (SELECT *, CAST(n_total AS DOUBLE) AS nd,
        |        CAST(CAST(c3 AS VARCHAR) AS DOUBLE) -
        |          CAST(CAST(csum AS VARCHAR) AS DOUBLE) AS tiet
        |      FROM pv CROSS JOIN tt)
        |SELECT n_total,
        |  CAST(""".stripMargin +
        Seq("click", "error", "purchase", "signup", "view").map(t =>
          s"(CASE WHEN n_$t > 0 THEN 1 ELSE 0 END)").mkString(" + ") +
        """ - 1 AS BIGINT) AS df,
        |  round((12.0/(nd*(nd+1)) * (""".stripMargin +
        Seq("click", "error", "purchase", "signup", "view").map(t =>
          s"CASE WHEN n_$t > 0 THEN CAST(CAST(r2_$t AS VARCHAR) AS DOUBLE)*" +
          s"CAST(CAST(r2_$t AS VARCHAR) AS DOUBLE)/(4.0*CAST(n_$t AS DOUBLE)) " +
          s"ELSE 0.0 END").mkString(" + ") + """)
        |    - 3.0*(nd+1)) / (1.0 - tiet/(nd*nd*nd - nd)), 6) AS h_stat
        |FROM w WHERE n_total >= 2 AND tiet < nd*nd*nd - nd""".stripMargin),

    // Jarque-Bera on daily micro-returns — moments power sums with
    // DECIMAL promotion, one fixed expression for S, K, JB
    "x_jarque_bera" ->
      (finQuoteCte + """,
        |dm AS (SELECT symbol, day,
        |         CAST(CAST(SUM(CAST(price AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |           / COUNT(*) AS mean_price
        |       FROM q GROUP BY 1, 2),
        |r AS (SELECT symbol, day, mean_price,
        |        lag(mean_price, 1) OVER (PARTITION BY symbol ORDER BY day) AS prev
        |      FROM dm),
        |rr AS (SELECT symbol,
        |        CAST(round(round(ln(mean_price / prev), 6) * 1e6) AS BIGINT) AS rv
        |       FROM r WHERE prev IS NOT NULL AND prev > 0 AND mean_price > 0),
        |p AS (SELECT symbol, rv, rv*rv AS r2,
        |        CAST(CAST(rv*rv AS DECIMAL(19,0)) * CAST(rv AS DECIMAL(19,0))
        |          AS DECIMAL(38,0)) AS r3d,
        |        CAST(CAST(rv*rv AS DECIMAL(19,0)) * CAST(rv*rv AS DECIMAL(19,0))
        |          AS DECIMAL(38,0)) AS r4d
        |      FROM rr),
        |g AS (SELECT symbol, COUNT(*)::BIGINT AS n_days,
        |        CAST(SUM(rv) AS DECIMAL(19,0)) AS s1,
        |        CAST(SUM(r2) AS DECIMAL(19,0)) AS s2,
        |        CAST(SUM(r3d) AS DECIMAL(38,0)) AS s3,
        |        CAST(SUM(r4d) AS DECIMAL(38,0)) AS s4
        |      FROM p GROUP BY symbol),
        |d AS (SELECT symbol, n_days, CAST(n_days AS DOUBLE) AS dn,
        |        CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS ds1,
        |        CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS ds2,
        |        CAST(CAST(s3 AS VARCHAR) AS DOUBLE) AS ds3,
        |        CAST(CAST(s4 AS VARCHAR) AS DOUBLE) AS ds4
        |      FROM g),
        |mm AS (SELECT symbol, n_days, dn, ds2, ds3, ds4, ds1 / dn AS mean FROM d),
        |mom AS (SELECT symbol, n_days, dn,
        |          ds2 / dn - mean * mean AS m2,
        |          ds3 / dn - 3.0 * mean * (ds2 / dn) + 2.0 * mean * mean * mean AS m3,
        |          ds4 / dn - 4.0 * mean * (ds3 / dn) + 6.0 * mean * mean * (ds2 / dn)
        |            - 3.0 * mean * mean * mean * mean AS m4
        |        FROM mm),
        |sk AS (SELECT symbol, n_days, dn, m2,
        |         m3 / (m2 * sqrt(m2)) AS skew, m4 / (m2 * m2) - 3 AS exk
        |       FROM mom)
        |SELECT symbol, n_days,
        |  round(skew, 6) + 0 AS skewness, round(exk, 6) + 0 AS excess_kurtosis,
        |  round(dn / 6 * (skew * skew + exk * exk / 4), 6) AS jb_stat
        |FROM sk WHERE n_days >= 10 AND m2 > 0 ORDER BY symbol""".stripMargin),

    // Page-Hinkley drift — integer cusum dev minus its running min,
    // max gap per symbol, one normalizing divide
    "x_page_hinkley" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cw AS (SELECT symbol, id,
        |         CAST(ROW_NUMBER() OVER w AS BIGINT) AS t,
        |         (SUM(m) OVER (PARTITION BY symbol ORDER BY ts_epoch, id
        |                       ROWS UNBOUNDED PRECEDING))::BIGINT AS cum,
        |         (COUNT(*) OVER (PARTITION BY symbol))::BIGINT AS n,
        |         (SUM(m) OVER (PARTITION BY symbol))::BIGINT AS total
        |       FROM e WINDOW w AS (PARTITION BY symbol ORDER BY ts_epoch, id)),
        |d AS (SELECT symbol, t, n, n * cum - t * total AS dev FROM cw),
        |rm AS (SELECT symbol, n, dev,
        |         MIN(dev) OVER (PARTITION BY symbol ORDER BY t
        |                        ROWS UNBOUNDED PRECEDING) AS runmin
        |       FROM d),
        |g AS (SELECT symbol, MAX(n)::BIGINT AS n_ticks,
        |        MAX(dev - runmin)::BIGINT AS ph_raw
        |      FROM rm GROUP BY symbol)
        |SELECT symbol, n_ticks,
        |  round(CAST(ph_raw AS DOUBLE) /
        |        (CAST(n_ticks AS DOUBLE) * CAST(n_ticks AS DOUBLE)) / 100, 6)
        |    AS ph_stat
        |FROM g WHERE n_ticks >= 3 ORDER BY symbol""".stripMargin),

    // dHash near-dup census — adjacent-pixel gradient bits predicted
    // from the BMP text payload, pigeonhole bands, exact hamming
    "x_media_dhash" ->
      """WITH px AS (SELECT doc_id, rpad(text, 48, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(0, 16),
        |    p -> {'p': p, 'gray': ascii(substr(t, 3*p+1, 1)) + ascii(substr(t, 3*p+2, 1))
        |                          + ascii(substr(t, 3*p+3, 1))})) AS pg
        |  FROM px),
        |g2 AS (SELECT doc_id, pg.p AS p, pg.gray AS gray FROM g),
        |h AS (
        |  SELECT doc_id,
        |    SUM(CASE WHEN nxt > gray THEN (1::BIGINT)<<p ELSE 0 END)::BIGINT AS dhash
        |  FROM (SELECT doc_id, p, gray,
        |          lead(gray) OVER (PARTITION BY doc_id ORDER BY p) AS nxt FROM g2)
        |  WHERE p < 15
        |  GROUP BY doc_id),
        |b AS (SELECT doc_id, dhash, 0 AS band, dhash % 256 AS key FROM h
        |      UNION ALL SELECT doc_id, dhash, 1, dhash // 256 FROM h),
        |pr AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b2,
        |    bit_count(xor(x.dhash, y.dhash))::BIGINT AS hamming
        |  FROM b x JOIN b y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
        |f AS (SELECT * FROM pr WHERE hamming <= 1),
        |np AS (SELECT hamming, COUNT(*) AS n_pairs FROM f GROUP BY hamming),
        |nd AS (SELECT hamming, COUNT(DISTINCT d) AS n_docs FROM (
        |        SELECT hamming, a AS d FROM f
        |        UNION ALL SELECT hamming, b2 FROM f) GROUP BY hamming)
        |SELECT hamming, n_pairs, n_docs FROM np JOIN nd USING (hamming)
        |ORDER BY hamming""".stripMargin,

    // resource-allocation index — micro-unit 1/deg center weights,
    // exact integer pair sums, degree-capped wedges, edge anti-join
    "x_ra_link" ->
      (graphCoCte + """,
        |wz AS (SELECT u AS z, CAST(round(1e6/CAST(d AS DOUBLE)) AS BIGINT)
        |         AS w_u
        |       FROM degu WHERE d >= 2 AND d <= 200),
        |c AS (SELECT wz.z, adj.v AS x, wz.w_u
        |      FROM adj JOIN wz ON wz.z = adj.u),
        |p AS (SELECT l.x AS a, r.x AS b, COUNT(*)::BIGINT AS n_common,
        |        SUM(l.w_u)::BIGINT AS aa_u
        |      FROM c l JOIN c r ON l.z = r.z AND l.x < r.x GROUP BY 1, 2),
        |cand AS (SELECT a, b, n_common, aa_u FROM p
        |         WHERE NOT EXISTS (SELECT 1 FROM co
        |                           WHERE co.pa = p.a AND co.pb = p.b)),
        |top AS (SELECT * FROM cand ORDER BY aa_u DESC, a, b LIMIT 50)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY aa_u DESC, a, b) AS BIGINT)
        |    AS rk,
        |  a AS node_a, b AS node_b, n_common,
        |  round(CAST(aa_u AS DOUBLE)/1e6, 6) AS ra_score
        |FROM top ORDER BY rk""".stripMargin),

    // NDCG@5 + reciprocal rank of the IVF shortlist vs brute truth —
    // frozen integer DCG weights, exact BIGINT gain sums
    "x_ndcg" ->
      (ivfBruteTopCtes + s""", dcg AS (
        |  SELECT i.query_id,
        |    SUM(COALESCE(6 - b.rk, 0) *
        |      CASE i.pos ${graft.operators.Similarity.ndcgWeightsU(5)
                .zipWithIndex.map { case (w, j) => s"WHEN ${j + 1} THEN $w" }
                .mkString(" ")} END)::BIGINT AS dcg_u
        |  FROM top_i i LEFT JOIN top_b b
        |    ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
        |  GROUP BY i.query_id
        |), rr AS (
        |  SELECT b.query_id,
        |    CASE WHEN i.pos IS NOT NULL
        |         THEN CAST(round(1e6 / CAST(i.pos AS DOUBLE)) AS BIGINT)
        |         ELSE 0 END AS rr_u
        |  FROM top_b b LEFT JOIN top_i i
        |    ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
        |  WHERE b.rk = 1
        |)
        |SELECT qq.query_id,
        |  round(COALESCE(d.dcg_u, 0)::DOUBLE / ${graft.operators.Similarity
                .ndcgWeightsU(5).zipWithIndex
                .map { case (w, j) => (5 - j).toLong * w }.sum}.0, 6) AS ndcg,
        |  round(COALESCE(r.rr_u, 0)::DOUBLE / 1e6, 6) AS reciprocal_rank
        |FROM (SELECT DISTINCT query_id FROM top_b) qq
        |  LEFT JOIN dcg d USING (query_id) LEFT JOIN rr r USING (query_id)
        |ORDER BY query_id""".stripMargin),

    // truncated RBO@5 between the same two rankings: a shared neighbor
    // first co-present at depth m contributes the frozen integer
    // C(m) = sum_{d=m..5} w_d*(60/d); one join, one sum, one divide
    "x_rbo" ->
      (ivfBruteTopCtes + s""", ov AS (
        |  SELECT b.query_id, GREATEST(b.rk, i.pos) AS m
        |  FROM top_b b JOIN top_i i
        |    ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
        |), num AS (
        |  SELECT query_id,
        |    SUM(CASE m ${graft.operators.Similarity.rboContribU(5)
              .map { case (m, cm) => s"WHEN $m THEN $cm" }.mkString(" ")}
        |      END)::BIGINT AS num_u
        |  FROM ov GROUP BY query_id
        |)
        |SELECT qq.query_id,
        |  round(COALESCE(n.num_u, 0)::DOUBLE /
        |        ${60L * graft.operators.Similarity.rboWeightsU(5).sum}.0, 6) AS rbo
        |FROM (SELECT DISTINCT query_id FROM top_b) qq
        |  LEFT JOIN num n USING (query_id)
        |ORDER BY query_id""".stripMargin),

    // Gopher rule census — integer inequalities only (3w <= chars <=
    // 10w replaces the mean-word-length divide)
    "x_gopher_rules" ->
      """WITH d AS (
        |  SELECT source, string_split(text, ' ') AS t,
        |    length(replace(text, ' ', '')) AS nchars
        |  FROM documents),
        |f AS (SELECT source,
        |    len(t)::BIGINT AS nw, nchars::BIGINT AS nc,
        |    len(list_filter(t, x -> x IN ('the','a','of','and','to','in')))::BIGINT AS nstop,
        |    list_max(list_transform(t, x -> length(x)))::BIGINT AS maxlen
        |  FROM d),
        |r AS (SELECT source,
        |    (nw >= 50 AND nw <= 100000) AS r1,
        |    (3*nw <= nc AND nc <= 10*nw) AS r2,
        |    (nstop >= 2) AS r3, (maxlen <= 15) AS r4
        |  FROM f)
        |SELECT source, COUNT(*) AS n_docs,
        |  SUM(CASE WHEN r1 THEN 1 ELSE 0 END)::BIGINT AS n_wordcount_ok,
        |  SUM(CASE WHEN r2 THEN 1 ELSE 0 END)::BIGINT AS n_meanlen_ok,
        |  SUM(CASE WHEN r3 THEN 1 ELSE 0 END)::BIGINT AS n_stopword_ok,
        |  SUM(CASE WHEN r4 THEN 1 ELSE 0 END)::BIGINT AS n_maxlen_ok,
        |  SUM(CASE WHEN r1 AND r2 AND r3 AND r4 THEN 1 ELSE 0 END)::BIGINT AS n_pass,
        |  round(SUM(CASE WHEN r1 AND r2 AND r3 AND r4 THEN 1 ELSE 0 END)::DOUBLE
        |        / CAST(COUNT(*) AS DOUBLE), 6) AS pass_rate
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    // AMS F2 sketch audit — 9 sign estimators, exact BIGINT sums,
    // median = row 5 of 9
    "x_ams_f2" ->
      """WITH counts AS (SELECT user_id, COUNT(*) AS c FROM events
        |      GROUP BY user_id),
        |sd AS (SELECT * FROM (VALUES (0,31,7),(1,131,911),(2,8191,131071),
        |        (3,37,101),(4,61,509),(5,127,8191),(6,211,1009),(7,331,77),
        |        (8,523,13)) v(seed, a, b)),
        |signed AS (SELECT sd.seed,
        |        ((counts.user_id*sd.a + sd.b) % 1000000007 % 2 * 2 - 1)
        |          * counts.c AS sc
        |      FROM counts CROSS JOIN sd),
        |ests AS (SELECT seed, SUM(sc)::BIGINT AS s FROM signed GROUP BY seed),
        |med AS (SELECT est AS f2_est FROM (
        |        SELECT s*s AS est, seed,
        |          ROW_NUMBER() OVER (ORDER BY s*s ASC, seed ASC) AS rn
        |        FROM ests) WHERE rn = 5),
        |ex AS (SELECT SUM(c*c)::BIGINT AS f2_exact, COUNT(*) AS n_keys
        |       FROM counts)
        |SELECT n_keys, f2_exact, f2_est,
        |  round(CAST(abs(f2_est - f2_exact) AS DOUBLE)
        |        / CAST(f2_exact AS DOUBLE), 6) AS rel_err
        |FROM ex CROSS JOIN med""".stripMargin,

    // TPC-H Q6-class pushdown scan — one decimal sum behind four
    // pushed range predicates
    "x_forecast_revenue" ->
      """SELECT
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |       CAST(l_discount AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |    AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    // DMI/ADX — frame-sum directional movement; DX micro-unit rounded
    // and integer-summed into the ADX mean
    "x_adx" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, day,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cb AS (SELECT symbol, day, MAX(m) AS hi, MIN(m) AS lo,
        |         MAX(CASE WHEN rn_d = 1 THEN m END) AS cl
        |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol, day
        |                        ORDER BY ts_epoch DESC, id DESC) AS rn_d FROM e)
        |       GROUP BY symbol, day),
        |t AS (SELECT symbol, day, hi, lo, cl,
        |        lag(hi, 1) OVER w AS prev_hi, lag(lo, 1) OVER w AS prev_lo,
        |        lag(cl, 1) OVER w AS prev_cl
        |      FROM cb WINDOW w AS (PARTITION BY symbol ORDER BY day)),
        |u AS (SELECT symbol, day,
        |        CASE WHEN hi-prev_hi > prev_lo-lo AND hi-prev_hi > 0
        |             THEN hi-prev_hi ELSE 0 END AS pdm,
        |        CASE WHEN prev_lo-lo > hi-prev_hi AND prev_lo-lo > 0
        |             THEN prev_lo-lo ELSE 0 END AS mdm,
        |        greatest(hi-lo, abs(hi-prev_cl), abs(lo-prev_cl)) AS tr
        |      FROM t WHERE prev_cl IS NOT NULL),
        |v AS (SELECT symbol, day,
        |        SUM(pdm) OVER fr AS sp, SUM(mdm) OVER fr AS sm,
        |        SUM(tr) OVER fr AS st, ROW_NUMBER() OVER w AS rn
        |      FROM u WINDOW w AS (PARTITION BY symbol ORDER BY day),
        |        fr AS (PARTITION BY symbol ORDER BY day
        |               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |x AS (SELECT symbol, day, sp, sm, st, rn,
        |        CASE WHEN sp+sm > 0 THEN
        |          CAST(round(100.0*CAST(abs(sp-sm) AS DOUBLE)
        |            / CAST(sp+sm AS DOUBLE)*1e6) AS BIGINT)
        |        ELSE 0 END AS dx_u
        |      FROM v),
        |y AS (SELECT symbol, day, sp, sm, st, rn, dx_u,
        |        SUM(dx_u) OVER (PARTITION BY symbol ORDER BY day
        |          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS adx_u
        |      FROM x)
        |SELECT symbol, day,
        |  round(100.0*CAST(sp AS DOUBLE)/CAST(st AS DOUBLE), 6) AS di_plus,
        |  round(100.0*CAST(sm AS DOUBLE)/CAST(st AS DOUBLE), 6) AS di_minus,
        |  round(CAST(dx_u AS DOUBLE)/1e6, 6) AS dx,
        |  round(CAST(adx_u AS DOUBLE)/(14.0*1e6), 6) AS adx
        |FROM y WHERE rn >= 27 AND st > 0 ORDER BY symbol, day""".stripMargin),

    // detrended price oscillator — integer 20*cl minus the displaced
    // frame sum, one divide
    "x_dpo" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, day,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cb AS (SELECT symbol, day,
        |         MAX(CASE WHEN rn_d = 1 THEN m END) AS cl
        |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol, day
        |                        ORDER BY ts_epoch DESC, id DESC) AS rn_d FROM e)
        |       GROUP BY symbol, day),
        |v AS (SELECT symbol, day, cl,
        |        SUM(cl) OVER (PARTITION BY symbol ORDER BY day
        |          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS s,
        |        ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY day) AS rn
        |      FROM cb),
        |w2 AS (SELECT symbol, day, cl, rn,
        |        lag(s, 6) OVER (PARTITION BY symbol ORDER BY day) AS s_shift
        |      FROM v)
        |SELECT symbol, day,
        |  round(CAST(10*cl - s_shift AS DOUBLE)/(100.0*10), 6) + 0 AS dpo
        |FROM w2 WHERE rn >= 16 ORDER BY symbol, day""".stripMargin),

    // Elder Ray — EMA13 of close via the shared explicit-weight
    // ladder, bull/bear power in dollars
    "x_elder_ray" ->
      (finQuoteCte + s""",
        |e AS (SELECT symbol, id, ts_epoch, day,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cb AS (SELECT symbol, day, MAX(m) AS hi, MIN(m) AS lo,
        |         MAX(CASE WHEN rn_d = 1 THEN m END) AS cl
        |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol, day
        |                        ORDER BY ts_epoch DESC, id DESC) AS rn_d FROM e)
        |       GROUP BY symbol, day),
        |f AS (SELECT symbol, day, hi, lo,
        |        (${wsumNumSql("cl", graft.operators.Finance.ElderW)})
        |          / (${wsumDenSql("cl", graft.operators.Finance.ElderW)}) AS ema
        |      FROM cb WINDOW w AS (PARTITION BY symbol ORDER BY day))
        |SELECT symbol, day,
        |  round((CAST(hi AS DOUBLE) - ema)/100, 6) + 0 AS bull_power,
        |  round((CAST(lo AS DOUBLE) - ema)/100, 6) + 0 AS bear_power
        |FROM f ORDER BY symbol, day""".stripMargin),

    // Omega ratio at threshold 0 — integer gain/loss sums, one divide
    "x_omega" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, day,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cb AS (SELECT symbol, day,
        |         MAX(CASE WHEN rn_d = 1 THEN m END) AS cl
        |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol, day
        |                        ORDER BY ts_epoch DESC, id DESC) AS rn_d FROM e)
        |       GROUP BY symbol, day),
        |t AS (SELECT symbol, day,
        |        cl - lag(cl, 1) OVER (PARTITION BY symbol ORDER BY day) AS d
        |      FROM cb),
        |g AS (SELECT symbol, COUNT(*) AS n_days,
        |        SUM(CASE WHEN d > 0 THEN d ELSE 0 END)::BIGINT AS gains,
        |        SUM(CASE WHEN d < 0 THEN -d ELSE 0 END)::BIGINT AS losses
        |      FROM t WHERE d IS NOT NULL GROUP BY symbol)
        |SELECT symbol, n_days,
        |  round(CAST(gains AS DOUBLE)/CAST(losses AS DOUBLE), 6) AS omega,
        |  round(CAST(gains AS DOUBLE)/CAST(gains+losses AS DOUBLE), 6)
        |    AS upside_share
        |FROM g WHERE n_days >= 10 AND losses > 0 ORDER BY symbol""".stripMargin),

    // pain index — micro-unit drawdowns from the integer running
    // peak, exact integer mean
    "x_pain_index" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, day,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cb AS (SELECT symbol, day,
        |         MAX(CASE WHEN rn_d = 1 THEN m END) AS cl
        |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol, day
        |                        ORDER BY ts_epoch DESC, id DESC) AS rn_d FROM e)
        |       GROUP BY symbol, day),
        |t AS (SELECT symbol, day, cl,
        |        MAX(cl) OVER (PARTITION BY symbol ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |      FROM cb),
        |u AS (SELECT symbol,
        |        CASE WHEN peak > 0 THEN
        |          CAST(round(CAST(peak-cl AS DOUBLE)/CAST(peak AS DOUBLE)*1e6)
        |            AS BIGINT) ELSE 0 END AS dd_u
        |      FROM t),
        |g AS (SELECT symbol, COUNT(*) AS n_days, SUM(dd_u)::BIGINT AS pain_u,
        |        MAX(dd_u) AS max_u
        |      FROM u GROUP BY symbol)
        |SELECT symbol, n_days,
        |  round(CAST(pain_u AS DOUBLE)/CAST(n_days AS DOUBLE)/1e6, 6)
        |    AS pain_index,
        |  round(CAST(max_u AS DOUBLE)/1e6, 6) AS max_drawdown
        |FROM g WHERE n_days >= 5 ORDER BY symbol""".stripMargin),

    // Coppock curve — micro-percent ROCs, integer-weighted WMA(10),
    // one divide by 55e6
    "x_coppock" ->
      (finQuoteCte + s""",
        |e AS (SELECT symbol, id, ts_epoch, day,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cb AS (SELECT symbol, day,
        |         MAX(CASE WHEN rn_d = 1 THEN m END) AS cl
        |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol, day
        |                        ORDER BY ts_epoch DESC, id DESC) AS rn_d FROM e)
        |       GROUP BY symbol, day),
        |r AS (SELECT symbol, day,
        |        (CASE WHEN lag(cl, 14) OVER w > 0 THEN
        |          CAST(round(CAST(cl - lag(cl, 14) OVER w AS DOUBLE)
        |            / CAST(lag(cl, 14) OVER w AS DOUBLE)*1e8) AS BIGINT)
        |         ELSE NULL END)
        |        + (CASE WHEN lag(cl, 11) OVER w > 0 THEN
        |          CAST(round(CAST(cl - lag(cl, 11) OVER w AS DOUBLE)
        |            / CAST(lag(cl, 11) OVER w AS DOUBLE)*1e8) AS BIGINT)
        |         ELSE NULL END) AS s_u,
        |        ROW_NUMBER() OVER w AS rn
        |      FROM cb WINDOW w AS (PARTITION BY symbol ORDER BY day)),
        |l AS (SELECT symbol, day, rn,
        |${(0 until 10).map(j =>
           s"        lag(s_u, $j) OVER w AS s_$j").mkString(",\n")}
        |      FROM r WINDOW w AS (PARTITION BY symbol ORDER BY day))
        |SELECT symbol, day,
        |  round(CAST(${(0 until 10).map(j => s"s_$j*${10 - j}").mkString(" + ")}
        |    AS DOUBLE)/(55.0*1e6), 6) + 0 AS coppock
        |FROM l WHERE rn >= 24 ORDER BY symbol, day""".stripMargin),

    // Treynor — micro-unit returns make beta an all-integer ratio;
    // mean return over beta in one fixed double expression
    "x_treynor" ->
      (finQuoteCte + """,
        |dm AS (SELECT symbol, day,
        |         CAST(CAST(SUM(CAST(price AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |           / COUNT(*) AS mean_price
        |       FROM q GROUP BY 1, 2),
        |r AS (SELECT symbol, day, mean_price,
        |        lag(mean_price, 1) OVER (PARTITION BY symbol ORDER BY day) AS prev
        |      FROM dm),
        |rr AS (SELECT symbol, day,
        |        CAST(round(round(ln(mean_price / prev), 6) * 1e6) AS BIGINT) AS r_u
        |       FROM r WHERE prev IS NOT NULL AND prev > 0 AND mean_price > 0),
        |mkt AS (SELECT day,
        |          CAST(round(CAST(SUM(r_u) AS DOUBLE) / COUNT(*)) AS BIGINT) AS y_u
        |        FROM rr GROUP BY day),
        |g AS (SELECT symbol, COUNT(*)::BIGINT AS n_days,
        |        SUM(r_u)::BIGINT AS sx, SUM(y_u)::BIGINT AS sy,
        |        SUM(r_u*y_u)::BIGINT AS sxy, SUM(y_u*y_u)::BIGINT AS syy
        |      FROM rr JOIN mkt USING (day) GROUP BY symbol),
        |h AS (SELECT symbol, n_days, sx,
        |        n_days*sxy - sx*sy AS bnum, n_days*syy - sy*sy AS bden
        |      FROM g)
        |SELECT symbol, n_days,
        |  round(CAST(bnum AS DOUBLE)/CAST(bden AS DOUBLE), 6) + 0 AS beta,
        |  round(CAST(sx AS DOUBLE)/(CAST(n_days AS DOUBLE)*1e6)
        |        *(CAST(bden AS DOUBLE)/CAST(bnum AS DOUBLE)), 6) + 0 AS treynor
        |FROM h WHERE n_days >= 10 AND bden > 0 AND bnum <> 0
        |ORDER BY symbol""".stripMargin),

    // one-way DOW ANOVA — 7 pivoted weekday triples, literal-ordered
    // sums of squares, all-integer inputs
    "x_dow_anova" ->
      (finQuoteCte + s""",
        |e AS (SELECT symbol, id, ts_epoch, day,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cb AS (SELECT symbol, day,
        |         MAX(CASE WHEN rn_d = 1 THEN m END) AS cl
        |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol, day
        |                        ORDER BY ts_epoch DESC, id DESC) AS rn_d FROM e)
        |       GROUP BY symbol, day),
        |t AS (SELECT day,
        |        cl - lag(cl, 1) OVER (PARTITION BY symbol ORDER BY day) AS d
        |      FROM cb),
        |u AS (SELECT (dayofweek(day) + 1) AS dow, d FROM t WHERE d IS NOT NULL),
        |g AS (SELECT COUNT(*)::BIGINT AS n, SUM(d)::BIGINT AS s,
        |        SUM(d*d)::BIGINT AS q,
        |${(1 to 7).map(i =>
             s"        SUM(CASE WHEN dow = $i THEN 1 ELSE 0 END)::BIGINT AS n$i,\n" +
             s"        SUM(CASE WHEN dow = $i THEN d ELSE 0 END)::BIGINT AS s$i")
             .mkString(",\n")}
        |      FROM u),
        |v AS (SELECT n, q,
        |${(1 to 7).map(i =>
             s"        CASE WHEN n$i > 0 THEN CAST(s$i AS DOUBLE) * CAST(s$i AS DOUBLE) / CAST(n$i AS DOUBLE) ELSE 0 END")
             .mkString(" +\n")} AS gt,
        |        (${(1 to 7).map(i => s"CASE WHEN n$i > 0 THEN 1 ELSE 0 END")
             .mkString(" + ")})::BIGINT AS k,
        |        CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
        |          AS grand
        |      FROM g)
        |SELECT n AS n_moves, k AS k_groups,
        |  round((gt - grand) / (CAST(q AS DOUBLE) - grand), 6) AS eta_sq,
        |  round(((gt - grand) / CAST(k - 1 AS DOUBLE))
        |        / ((CAST(q AS DOUBLE) - gt) / CAST(n - k AS DOUBLE)), 6)
        |    AS f_stat
        |FROM v WHERE k >= 2 AND n > k AND CAST(q AS DOUBLE) - grand > 0
        |  AND CAST(q AS DOUBLE) - gt > 0""".stripMargin),

    // Markov conditional entropy per source event type — round-12
    // decimal-locked terms over the bounded transition cells
    "x_markov_entropy" ->
      """WITH p AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts)//1000000, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, COUNT(*) AS c
        |      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT SUM(c)::BIGINT AS n_total FROM c),
        |u AS (SELECT from_type, c,
        |        SUM(c) OVER (PARTITION BY from_type) AS cx FROM c),
        |v AS (SELECT from_type, c,
        |        CAST(round((CAST(c AS DOUBLE) / cx)
        |                   * ln(CAST(cx AS DOUBLE) / c), 12)
        |          AS DECIMAL(16,12)) AS term
        |      FROM u)
        |SELECT from_type, SUM(c)::BIGINT AS n_out, COUNT(*)::BIGINT AS n_targets,
        |  round(CAST(SUM(c) AS DOUBLE) / n_total, 6) AS marginal_share,
        |  round(CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE), 6) AS cond_entropy
        |FROM v, t GROUP BY from_type, n_total ORDER BY from_type""".stripMargin,

    // training-order novelty curve — first-exposure rank per gram
    // hash, per-decile already-seen gram share, all exact integers
    "x_novelty_curve" ->
      """WITH o AS (
        |  SELECT doc_id,
        |    list_reduce(list_transform(range(1, len(CAST(doc_id AS VARCHAR))+1),
        |      i -> ascii(substr(CAST(doc_id AS VARCHAR),i,1))::BIGINT),
        |      (acc,c)->(acc*31+c)%1000000007) AS oh
        |  FROM documents),
        |rk AS (SELECT doc_id,
        |         ROW_NUMBER() OVER (ORDER BY oh, doc_id)::BIGINT AS trank
        |       FROM o),
        |n AS (SELECT COUNT(*)::BIGINT AS total FROM documents),
        |tk AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |h AS (SELECT doc_id,
        |    list_distinct(list_transform(
        |      list_transform(range(1, len(toks)-1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
        |      g -> list_reduce(list_transform(range(1,len(g)+1),
        |             i -> ascii(substr(g,i,1))::BIGINT),
        |             (acc,c)->(acc*31+c)%1000000007))) AS ghs
        |  FROM tk WHERE len(toks) >= 3),
        |r AS (SELECT h.doc_id, trank, unnest(ghs) AS gh
        |      FROM h JOIN rk ON h.doc_id = rk.doc_id),
        |f AS (SELECT gh, MIN(trank) AS first_rank FROM r GROUP BY gh),
        |pd AS (SELECT r.doc_id, r.trank, COUNT(*)::BIGINT AS n_grams,
        |        SUM(CASE WHEN f.first_rank < r.trank THEN 1 ELSE 0 END)::BIGINT
        |          AS n_seen
        |      FROM r JOIN f USING (gh) GROUP BY 1, 2),
        |b AS (SELECT ((trank - 1) * 10) // total + 1 AS band, n_grams, n_seen
        |      FROM pd, n)
        |SELECT band, COUNT(*)::BIGINT AS n_docs, SUM(n_grams)::BIGINT AS grams,
        |  SUM(n_seen)::BIGINT AS seen_before,
        |  round(CAST(SUM(n_seen) AS DOUBLE) / CAST(SUM(n_grams) AS DOUBLE), 6)
        |    AS dup_share
        |FROM b GROUP BY band ORDER BY band""".stripMargin,

    // Hill diversity profile per source — exact inverse Simpson,
    // round-12-locked Shannon terms
    "x_hill_diversity" ->
      """WITH c AS (
        |  SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2),
        |u AS (SELECT source, c,
        |        SUM(c) OVER (PARTITION BY source) AS n FROM c),
        |v AS (SELECT source, n, c,
        |        CAST(round((CAST(c AS DOUBLE) / n)
        |                   * ln(CAST(n AS DOUBLE) / c), 12)
        |          AS DECIMAL(16,12)) AS term
        |      FROM u)
        |SELECT source, MAX(n)::BIGINT AS n_docs, COUNT(*)::BIGINT AS richness,
        |  round(exp(CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE)), 6) AS hill_1,
        |  round(CAST(MAX(n) * MAX(n) AS DOUBLE) / CAST(SUM(c*c) AS DOUBLE), 6)
        |    AS inv_simpson
        |FROM v GROUP BY source ORDER BY source""".stripMargin,

    // Aggregated-variance Hurst — 5 pivoted lag variances, one
    // literal-ordered OLS expression, hardcoded ln 2
    "x_hurst" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, CAST(round(price * 100) AS BIGINT) AS m,
        |        ROW_NUMBER() OVER (PARTITION BY symbol
        |          ORDER BY ts_epoch ASC, id ASC) AS rn
        |      FROM q),
        |d AS (SELECT symbol,
        |        m - lag(m, 1) OVER w AS d1, m - lag(m, 2) OVER w AS d2,
        |        m - lag(m, 4) OVER w AS d4, m - lag(m, 8) OVER w AS d8,
        |        m - lag(m, 16) OVER w AS d16
        |      FROM e WINDOW w AS (PARTITION BY symbol ORDER BY rn)),
        |g AS (SELECT symbol,
        |        COUNT(d1)::BIGINT AS n1, SUM(d1)::BIGINT AS s1,
        |        SUM(d1*d1)::BIGINT AS q1,
        |        COUNT(d2)::BIGINT AS n2, SUM(d2)::BIGINT AS s2,
        |        SUM(d2*d2)::BIGINT AS q2,
        |        COUNT(d4)::BIGINT AS n4, SUM(d4)::BIGINT AS s4,
        |        SUM(d4*d4)::BIGINT AS q4,
        |        COUNT(d8)::BIGINT AS n8, SUM(d8)::BIGINT AS s8,
        |        SUM(d8*d8)::BIGINT AS q8,
        |        COUNT(d16)::BIGINT AS n16, SUM(d16)::BIGINT AS s16,
        |        SUM(d16*d16)::BIGINT AS q16
        |      FROM d GROUP BY symbol),
        |v AS (SELECT symbol, n1,
        |        CAST(n1*q1 - s1*s1 AS DOUBLE)/CAST(n1*(n1-1) AS DOUBLE) AS v1,
        |        CAST(n2*q2 - s2*s2 AS DOUBLE)/CAST(n2*(n2-1) AS DOUBLE) AS v2,
        |        CAST(n4*q4 - s4*s4 AS DOUBLE)/CAST(n4*(n4-1) AS DOUBLE) AS v4,
        |        CAST(n8*q8 - s8*s8 AS DOUBLE)/CAST(n8*(n8-1) AS DOUBLE) AS v8,
        |        CAST(n16*q16 - s16*s16 AS DOUBLE)/CAST(n16*(n16-1) AS DOUBLE)
        |          AS v16
        |      FROM g
        |      WHERE n16 >= 2 AND n1*q1 - s1*s1 > 0 AND n2*q2 - s2*s2 > 0
        |        AND n4*q4 - s4*s4 > 0 AND n8*q8 - s8*s8 > 0
        |        AND n16*q16 - s16*s16 > 0)
        |SELECT symbol, n1 AS n_moves,
        |  round((5.0 * (ln(v1) * 0.0 + ln(v2) * 1.0 + ln(v4) * 2.0
        |                + ln(v8) * 3.0 + ln(v16) * 4.0)
        |         - 10.0 * (ln(v1) + ln(v2) + ln(v4) + ln(v8) + ln(v16)))
        |        / 50.0 / (2.0 * 0.6931471805599453), 6) + 0 AS hurst
        |FROM v ORDER BY symbol""".stripMargin),

    // Rich-club sweep — top-k hub density in exact integers
    "x_rich_club" ->
      (graphCoCte + """,
        |c10 AS (SELECT u FROM degu ORDER BY d DESC, u LIMIT 10),
        |c20 AS (SELECT u FROM degu ORDER BY d DESC, u LIMIT 20),
        |c40 AS (SELECT u FROM degu ORDER BY d DESC, u LIMIT 40),
        |e10 AS (SELECT 10::BIGINT AS club_k, COUNT(*)::BIGINT AS e_club
        |        FROM co WHERE pa IN (SELECT u FROM c10)
        |                  AND pb IN (SELECT u FROM c10)),
        |e20 AS (SELECT 20::BIGINT, COUNT(*)::BIGINT
        |        FROM co WHERE pa IN (SELECT u FROM c20)
        |                  AND pb IN (SELECT u FROM c20)),
        |e40 AS (SELECT 40::BIGINT, COUNT(*)::BIGINT
        |        FROM co WHERE pa IN (SELECT u FROM c40)
        |                  AND pb IN (SELECT u FROM c40)),
        |uu AS (SELECT * FROM e10 UNION ALL SELECT * FROM e20
        |       UNION ALL SELECT * FROM e40)
        |SELECT club_k, e_club,
        |  round(2.0 * e_club / CAST(club_k * (club_k - 1) AS DOUBLE), 6) AS phi
        |FROM uu ORDER BY club_k""".stripMargin),

    // Token burstiness — dispersion index with implicit zero docs:
    // (N·Σc² − (Σc)²)/((N−1)·Σc), all-integer
    "x_burstiness" ->
      """WITH nd AS (SELECT COUNT(*)::BIGINT AS n FROM documents),
        |pd AS (SELECT doc_id, tok, COUNT(*)::BIGINT AS c
        |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents)
        |       WHERE len(tok) > 0 GROUP BY 1, 2),
        |st AS (SELECT tok, COUNT(*)::BIGINT AS n_docs_with,
        |         SUM(c)::BIGINT AS sc, SUM(c*c)::BIGINT AS scc
        |       FROM pd GROUP BY 1),
        |top AS (SELECT * FROM st ORDER BY sc DESC, tok LIMIT 20)
        |SELECT tok, n_docs_with, sc AS occurrences,
        |  round(CAST(n * scc - sc * sc AS DOUBLE)
        |        / CAST((n - 1) * sc AS DOUBLE), 6) AS vmr
        |FROM top, nd ORDER BY occurrences DESC, tok""".stripMargin,

    // ABC Pareto classes — exact global prefix sum of revenue micros,
    // integer 80/95 gates
    "x_abc_classes" ->
      """WITH pp AS (
        |  SELECT l_partkey AS part,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |             (CAST(1 AS DECIMAL(18,6)) -
        |              CAST(l_discount AS DECIMAL(18,6)))) * 1000000 AS BIGINT)
        |      AS micro
        |  FROM lineitem GROUP BY 1),
        |c AS (SELECT part, micro,
        |        SUM(micro) OVER (ORDER BY micro DESC, part
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        SUM(micro) OVER () AS tot
        |      FROM pp),
        |cl AS (SELECT CASE WHEN cum * 10 <= tot * 8 THEN 'A'
        |                   WHEN cum * 100 <= tot * 95 THEN 'B'
        |                   ELSE 'C' END AS abc_class, micro, tot
        |       FROM c)
        |SELECT abc_class, COUNT(*)::BIGINT AS n_parts,
        |  round(CAST(SUM(micro) AS DOUBLE) / 1000000.0, 6) AS revenue,
        |  round(CAST(SUM(micro) AS DOUBLE) / CAST(MAX(tot) AS DOUBLE), 6)
        |    AS revenue_share
        |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin,

    // l-diversity per nation over the (nation, segment) QI grid
    "x_ldiversity" ->
      """WITH cells AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    COUNT(DISTINCT o_orderpriority)::BIGINT AS l_div,
        |    COUNT(*)::BIGINT AS n_orders
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |g AS (SELECT c_nationkey, COUNT(*)::BIGINT AS n_groups,
        |        MIN(l_div) AS min_l,
        |        SUM(CASE WHEN l_div < 3 THEN 1 ELSE 0 END)::BIGINT
        |          AS n_low_diversity,
        |        SUM(n_orders)::BIGINT AS n_tot,
        |        SUM(CASE WHEN l_div < 3 THEN n_orders ELSE 0 END)::BIGINT
        |          AS n_exp
        |      FROM cells GROUP BY 1)
        |SELECT n_name, n_groups, min_l, n_low_diversity,
        |  round(CAST(n_exp AS DOUBLE) / n_tot, 6) AS exposed_share
        |FROM g JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY n_name""".stripMargin,

    // label-centroid pairwise cosine — round-6 decimal-locked means,
    // exact decimal dot/norm sums, VARCHAR-bridged exits
    "x_centroid_sim" ->
      """WITH m AS (
        |  SELECT label::BIGINT AS label, (i-1)::BIGINT AS pos,
        |    CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT) AS micro
        |  FROM embeddings, range(1, 9) t(i)),
        |cent AS (SELECT label, pos,
        |    CAST(round(CAST(SUM(micro) AS DOUBLE) / (COUNT(*) * 1000000.0), 6)
        |      AS DECIMAL(12,6)) AS m6
        |  FROM m GROUP BY 1, 2),
        |norms AS (SELECT label, SUM(m6*m6) AS q FROM cent GROUP BY 1
        |          HAVING SUM(m6*m6) > 0),
        |dots AS (SELECT a.label AS label_a, b.label AS label_b,
        |           SUM(a.m6 * b.m6) AS dot
        |         FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
        |         GROUP BY 1, 2)
        |SELECT label_a, label_b,
        |  round(CAST(CAST(dot AS VARCHAR) AS DOUBLE)
        |        / (sqrt(CAST(CAST(na.q AS VARCHAR) AS DOUBLE))
        |           * sqrt(CAST(CAST(nb.q AS VARCHAR) AS DOUBLE))), 6)
        | + 0    AS centroid_cos
        |FROM dots
        |JOIN norms na ON na.label = label_a
        |JOIN norms nb ON nb.label = label_b
        |ORDER BY label_a, label_b""".stripMargin,

    // Theil–Sen: lower-median of exact pairwise slope fractions over
    // calendar-bounded daily bars; IEEE-ratio sort, full integer tie-break
    "x_theil_sen" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, day,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cb AS (SELECT symbol, day,
        |         MAX(CASE WHEN rn_d = 1 THEN m END) AS cl
        |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol, day
        |                        ORDER BY ts_epoch DESC, id DESC) AS rn_d FROM e)
        |       GROUP BY symbol, day),
        |b AS (SELECT symbol, ROW_NUMBER() OVER (PARTITION BY symbol
        |        ORDER BY day) AS rn, cl FROM cb),
        |p AS (SELECT i.symbol, j.cl - i.cl AS d, j.rn - i.rn AS g,
        |        i.rn AS i, j.rn AS jj
        |      FROM b i JOIN b j ON i.symbol = j.symbol AND j.rn > i.rn),
        |r AS (SELECT *,
        |        ROW_NUMBER() OVER (PARTITION BY symbol
        |          ORDER BY CAST(d AS DOUBLE)/g ASC, d ASC, g ASC,
        |                   i ASC, jj ASC) AS rk,
        |        COUNT(*) OVER (PARTITION BY symbol) AS np
        |      FROM p)
        |SELECT symbol, np AS n_pairs,
        |  round(CAST(d AS DOUBLE) / g / 100.0, 6) + 0 AS theil_sen_slope
        |FROM r WHERE rk = (np + 1) // 2 ORDER BY symbol""".stripMargin),

    // Roll (1984) implied spread — all-integer serial covariance,
    // defined only on negative covariance
    "x_roll_spread" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol,
        |        CAST(round(price * 100) AS BIGINT) AS m,
        |        ROW_NUMBER() OVER (PARTITION BY symbol
        |          ORDER BY ts_epoch ASC, id ASC) AS rn
        |      FROM q),
        |dx AS (SELECT symbol, rn,
        |        m - lag(m, 1) OVER (PARTITION BY symbol ORDER BY rn) AS x
        |      FROM e),
        |dy AS (SELECT symbol, x,
        |        lag(x, 1) OVER (PARTITION BY symbol ORDER BY rn) AS y
        |      FROM dx),
        |g AS (SELECT symbol, COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sx,
        |        SUM(y)::BIGINT AS sy, SUM(x * y)::BIGINT AS sxy
        |      FROM dy WHERE y IS NOT NULL GROUP BY symbol)
        |SELECT symbol, n AS n_move_pairs,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |        / CAST(n * (n - 1) AS DOUBLE), 6) + 0 AS serial_cov,
        |  round(2.0 * sqrt(-(CAST(n * sxy - sx * sy AS DOUBLE)
        |        / CAST(n * (n - 1) AS DOUBLE))) / 100.0, 6) AS roll_spread
        |FROM g WHERE n >= 2 AND n * sxy - sx * sy < 0
        |ORDER BY symbol""".stripMargin),

    // Day-of-week move census — 7-row rollup of exact integer moves
    "x_dow_effect" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, day,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cb AS (SELECT symbol, day,
        |         MAX(CASE WHEN rn_d = 1 THEN m END) AS cl
        |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol, day
        |                        ORDER BY ts_epoch DESC, id DESC) AS rn_d FROM e)
        |       GROUP BY symbol, day),
        |t AS (SELECT day,
        |        cl - lag(cl, 1) OVER (PARTITION BY symbol ORDER BY day) AS d
        |      FROM cb),
        |g AS (SELECT (dayofweek(day) + 1)::BIGINT AS dow,
        |        COUNT(*)::BIGINT AS n_moves, SUM(d)::BIGINT AS sd,
        |        SUM(d * d)::BIGINT AS sdd,
        |        SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END)::BIGINT AS n_up
        |      FROM t WHERE d IS NOT NULL GROUP BY 1)
        |SELECT dow, n_moves,
        |  round(CAST(sd AS DOUBLE) / n_moves / 100.0, 6) + 0 AS mean_move,
        |  round(CAST(n_up AS DOUBLE) / n_moves, 6) AS up_share,
        |  round(sqrt(CAST(n_moves * sdd - sd * sd AS DOUBLE)
        |        / CAST(n_moves * (n_moves - 1) AS DOUBLE)) / 100.0, 6)
        |    AS move_std
        |FROM g WHERE n_moves >= 2 ORDER BY dow""".stripMargin),

    // TRIX(15) — triple truncated-EMA rate of change in basis points;
    // three nested weight-chain layers share the MACD Double contract
    "x_trix" ->
      (finQuoteCte + s""",
        |e AS (SELECT symbol, id, price, ts_epoch,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |f1 AS (SELECT symbol, id, price, ts_epoch,
        |        (${wsumNumSql("m", graft.operators.Finance.TrixW)})
        |          / (${wsumDenSql("m", graft.operators.Finance.TrixW)}) AS e1
        |      FROM e WINDOW w AS (PARTITION BY symbol ORDER BY ts_epoch, id)),
        |f2 AS (SELECT symbol, id, price, ts_epoch,
        |        (${wsumNumSql("e1", graft.operators.Finance.TrixW)})
        |          / (${wsumDenSql("e1", graft.operators.Finance.TrixW)}) AS e2
        |      FROM f1 WINDOW w AS (PARTITION BY symbol ORDER BY ts_epoch, id)),
        |f3 AS (SELECT symbol, id, price, ts_epoch,
        |        (${wsumNumSql("e2", graft.operators.Finance.TrixW)})
        |          / (${wsumDenSql("e2", graft.operators.Finance.TrixW)}) AS e3
        |      FROM f2 WINDOW w AS (PARTITION BY symbol ORDER BY ts_epoch, id)),
        |g AS (SELECT symbol, id, price, e3,
        |        lag(e3, 1) OVER (PARTITION BY symbol ORDER BY ts_epoch, id)
        |          AS e3_prev
        |      FROM f3)
        |SELECT symbol, id, price,
        |  round(e3 / 100, 6) AS triple_ema,
        |  round(10000.0 * (e3 - e3_prev) / e3_prev, 6) + 0 AS trix_bp
        |FROM g WHERE e3_prev IS NOT NULL AND e3_prev <> 0
        |ORDER BY symbol, id""".stripMargin),

    "x_stochastic" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, price, ts_epoch,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |k AS (SELECT symbol, id, price, ts_epoch, m,
        |        ROW_NUMBER() OVER w AS rn, MIN(m) OVER f AS mn, MAX(m) OVER f AS mx
        |      FROM e WINDOW
        |        w AS (PARTITION BY symbol ORDER BY ts_epoch, id),
        |        f AS (PARTITION BY symbol ORDER BY ts_epoch, id
        |              ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |p AS (SELECT symbol, id, price, ts_epoch, rn,
        |        CASE WHEN mx = mn THEN 50.0
        |             ELSE round(100.0 * (m - mn) / (mx - mn), 6) END AS pct_k
        |      FROM k),
        |d AS (SELECT symbol, id, price, rn, pct_k,
        |        round((pct_k + lag(pct_k, 1) OVER w + lag(pct_k, 2) OVER w) / 3, 6) AS pct_d
        |      FROM p WINDOW w AS (PARTITION BY symbol ORDER BY ts_epoch, id))
        |SELECT symbol, id, price, pct_k, pct_d FROM d
        |WHERE rn >= 16 ORDER BY symbol, id""".stripMargin),

    "x_sharpe" ->
      (finQuoteCte + """,
        |r AS (SELECT symbol,
        |        ln(price / LAG(price) OVER (PARTITION BY symbol ORDER BY ts_epoch, id)) AS ret
        |      FROM q WHERE price > 0)
        |SELECT symbol, COUNT(*)::BIGINT AS n_returns,
        |  round(avg(ret) / stddev_samp(ret), 6) + 0 AS sharpe
        |FROM r WHERE ret IS NOT NULL
        |GROUP BY symbol
        |HAVING COUNT(*) >= 3 AND stddev_samp(ret) > 0
        |ORDER BY symbol""".stripMargin),

    "x_beta" ->
      (finQuoteCte + """,
        |dm AS (SELECT symbol, day,
        |         CAST(CAST(SUM(CAST(price AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |           / COUNT(*) AS mean_price
        |       FROM q GROUP BY 1, 2),
        |r AS (SELECT symbol, day, mean_price,
        |        lag(mean_price, 1) OVER (PARTITION BY symbol ORDER BY day) AS prev
        |      FROM dm),
        |rr AS (SELECT symbol, day, round(ln(mean_price / prev), 6) AS ret
        |       FROM r WHERE prev IS NOT NULL AND prev > 0 AND mean_price > 0),
        |mkt AS (SELECT day,
        |          CAST(CAST(SUM(CAST(ret AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |            / COUNT(*) AS mkt_ret
        |        FROM rr GROUP BY day)
        |SELECT symbol, COUNT(*)::BIGINT AS n_days,
        |  round(covar_samp(ret, mkt_ret) / var_samp(mkt_ret), 6) + 0 AS beta
        |FROM rr JOIN mkt USING (day)
        |GROUP BY symbol
        |HAVING COUNT(*) >= 10 AND var_samp(mkt_ret) > 0
        |ORDER BY symbol""".stripMargin),

    "x_obv" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, price, volume, ts_epoch,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |s AS (SELECT symbol, id, price, ts_epoch,
        |        CASE WHEN m - lag(m, 1) OVER w > 0 THEN volume
        |             WHEN m - lag(m, 1) OVER w < 0 THEN -volume
        |             ELSE 0 END AS sv
        |      FROM e WINDOW w AS (PARTITION BY symbol ORDER BY ts_epoch, id))
        |SELECT symbol, id, price,
        |  (SUM(sv) OVER (PARTITION BY symbol ORDER BY ts_epoch, id
        |                 ROWS UNBOUNDED PRECEDING))::BIGINT AS obv
        |FROM s ORDER BY symbol, id""".stripMargin),

    "x_regr_trend" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, CAST(round(price * 100) AS BIGINT) AS m,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY ts_epoch, id) AS BIGINT) AS x
        |      FROM q),
        |s AS (SELECT symbol, COUNT(*)::BIGINT AS n_ticks,
        |        CAST(SUM(x) AS DECIMAL(19,0)) AS sx, CAST(SUM(m) AS DECIMAL(19,0)) AS sy,
        |        CAST(SUM(x * x) AS DECIMAL(19,0)) AS sxx, CAST(SUM(x * m) AS DECIMAL(19,0)) AS sxy
        |      FROM e GROUP BY symbol),
        |t AS (SELECT symbol, n_ticks, sx, sy, sxy,
        |        CAST(n_ticks AS DECIMAL(19,0)) * sxx - sx * sx AS den
        |      FROM s)
        |SELECT symbol, n_ticks,
        |  round(CAST(CAST(CAST(n_ticks AS DECIMAL(19,0)) * sxy - sx * sy AS VARCHAR) AS DOUBLE)
        |        / CAST(CAST(den AS VARCHAR) AS DOUBLE) / 100, 6) + 0 AS slope_per_tick,
        |  round((CAST(CAST(sy AS VARCHAR) AS DOUBLE)
        |         - CAST(CAST(CAST(n_ticks AS DECIMAL(19,0)) * sxy - sx * sy AS VARCHAR) AS DOUBLE)
        |           / CAST(CAST(den AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
        |        / n_ticks / 100, 6) AS intercept
        |FROM t WHERE n_ticks >= 3 AND den <> 0 ORDER BY symbol""".stripMargin),

    "x_cusum" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cw AS (SELECT symbol, id,
        |         CAST(ROW_NUMBER() OVER w AS BIGINT) AS t,
        |         (SUM(m) OVER (PARTITION BY symbol ORDER BY ts_epoch, id
        |                       ROWS UNBOUNDED PRECEDING))::BIGINT AS cum,
        |         (COUNT(*) OVER (PARTITION BY symbol))::BIGINT AS n,
        |         (SUM(m) OVER (PARTITION BY symbol))::BIGINT AS total
        |       FROM e WINDOW w AS (PARTITION BY symbol ORDER BY ts_epoch, id)),
        |d AS (SELECT symbol, id, t, n, n * cum - t * total AS dev FROM cw),
        |r AS (SELECT symbol, id, t, n, dev,
        |        ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY abs(dev) DESC, t) AS rk
        |      FROM d)
        |SELECT symbol, n AS n_ticks, t AS cp_tick, id AS cp_id, abs(dev)::BIGINT AS abs_dev,
        |  round(CAST(abs(dev) AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 100, 6)
        |    AS cusum_stat
        |FROM r WHERE rk = 1 AND n >= 3 ORDER BY symbol""".stripMargin),

    "x_kaplan_meier" ->
      """WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey FROM orders),
        |r AS (SELECT o_custkey, d,
        |        ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey) AS rn FROM o),
        |f AS (SELECT o_custkey, d AS d0 FROM r WHERE rn = 1),
        |s AS (SELECT o_custkey, d AS d1 FROM r WHERE rn = 2),
        |mx AS (SELECT MAX(d) AS dmax FROM o),
        |dur AS (SELECT CAST(CASE WHEN s.d1 IS NOT NULL THEN date_diff('day', f.d0, s.d1)
        |                         ELSE date_diff('day', f.d0, mx.dmax) END AS BIGINT) AS t,
        |               CASE WHEN s.d1 IS NOT NULL THEN 1 ELSE 0 END AS ev
        |        FROM f LEFT JOIN s USING (o_custkey), mx),
        |byt AS (SELECT t, SUM(ev)::BIGINT AS d_events, SUM(1 - ev)::BIGINT AS c_censored,
        |               COUNT(*)::BIGINT AS n_at FROM dur GROUP BY t),
        |rsk AS (SELECT t, d_events, c_censored,
        |          (SUM(n_at) OVER ()
        |           - COALESCE(SUM(n_at) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |                                      AND 1 PRECEDING), 0))::BIGINT AS n_risk
        |        FROM byt),
        |evt AS (SELECT t, n_risk, d_events, c_censored,
        |          CASE WHEN d_events < n_risk
        |               THEN CAST(round(ln(1 - d_events / CAST(n_risk AS DOUBLE)), 12)
        |                         AS DECIMAL(18,12)) END AS factor
        |        FROM rsk WHERE d_events > 0),
        |km AS (SELECT t, n_risk, d_events, c_censored,
        |         SUM(factor) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cum FROM evt)
        |SELECT t AS t_days, n_risk, d_events, c_censored,
        |  round(exp(CAST(cum AS DOUBLE)), 6) AS km_survival
        |FROM km ORDER BY t_days""".stripMargin,

    // RiskMetrics EWMA volatility: the MACD weight-chain discipline
    // over squared log returns (shared Doubles via toString)
    "x_ewma_vol" ->
      (finQuoteCte + s""",
        |r AS (SELECT symbol, id, price, ts_epoch,
        |        ln(price / LAG(price) OVER (PARTITION BY symbol ORDER BY ts_epoch, id)) AS ret
        |      FROM q WHERE price > 0),
        |r2 AS (SELECT symbol, id, price, ts_epoch, ret * ret AS rsq
        |       FROM r WHERE ret IS NOT NULL)
        |SELECT symbol, id, price,
        |  round(sqrt((${wsumNumSql("rsq", graft.operators.Finance.EwmaVolW)})
        |             / (${wsumDenSql("rsq", graft.operators.Finance.EwmaVolW)})), 6) AS ewma_vol
        |FROM r2 WINDOW w AS (PARTITION BY symbol ORDER BY ts_epoch, id)
        |ORDER BY symbol, id""".stripMargin),

    // order-statistic VaR/ES: k = ceil(n/20) in pure integer
    // arithmetic; no percentile interpolation (engine-divergent)
    "x_var_hist" ->
      (finQuoteCte + """,
        |r AS (SELECT symbol, id, ts_epoch,
        |        ln(price / LAG(price) OVER (PARTITION BY symbol ORDER BY ts_epoch, id)) AS ret
        |      FROM q WHERE price > 0),
        |rr AS (SELECT symbol, id, ret FROM r WHERE ret IS NOT NULL),
        |kt AS (SELECT symbol, id, ret,
        |         COUNT(*) OVER (PARTITION BY symbol)::BIGINT AS n,
        |         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY ret, id) AS rn
        |       FROM rr),
        |k2 AS (SELECT symbol, ret, n, rn,
        |         GREATEST((n + 19) // 20, 1)::BIGINT AS kk FROM kt),
        |g AS (SELECT symbol, MAX(n) AS n_returns, MAX(kk) AS k_tail,
        |        round(MAX(CASE WHEN rn = kk THEN ret END), 6) + 0 AS var95,
        |        CAST(SUM(CAST(round(ret, 6) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS num
        |      FROM k2 WHERE rn <= kk AND n >= 20 GROUP BY symbol),
        |e AS (SELECT symbol, n_returns, k_tail, var95,
        |        CASE WHEN num >= 0 THEN (2 * num + k_tail) // (2 * k_tail)
        |             ELSE -((2 * -num + k_tail) // (2 * k_tail)) END AS es_micro
        |      FROM g)
        |SELECT symbol, n_returns, k_tail, var95,
        |  CAST(es_micro AS DOUBLE) / 1000000 AS es95
        |FROM e ORDER BY symbol""".stripMargin),

    // Amihud illiquidity: 1e9-scaled |ret|/dollar-volume terms
    // quantized at 6 into a decimal sum, mean in integer micro-units
    // (the x_var_hist ES discipline)
    "x_amihud" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, price, volume, ts_epoch,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q
        |      WHERE price > 0 AND volume > 0),
        |r AS (SELECT symbol, m, volume,
        |        ln(price / LAG(price) OVER (PARTITION BY symbol ORDER BY ts_epoch, id)) AS ret
        |      FROM e),
        |t AS (SELECT symbol,
        |        CAST(round(1e9 * abs(ret) / (m * volume), 6) AS DECIMAL(18,6)) AS term
        |      FROM r WHERE ret IS NOT NULL),
        |g AS (SELECT symbol, COUNT(*)::BIGINT AS n_returns,
        |        CAST(SUM(term) * 1000000 AS BIGINT) AS num
        |      FROM t GROUP BY symbol HAVING COUNT(*) >= 3),
        |mi AS (SELECT symbol, n_returns,
        |         CASE WHEN num >= 0 THEN (2 * num + n_returns) // (2 * n_returns)
        |              ELSE -((2 * -num + n_returns) // (2 * n_returns)) END AS micro
        |       FROM g)
        |SELECT symbol, n_returns, CAST(micro AS DOUBLE) / 1000000 AS amihud_x1e9
        |FROM mi ORDER BY symbol""".stripMargin),

    // longest underwater spell: integer gaps-and-islands under the
    // running peak
    "x_underwater" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |p AS (SELECT symbol, id, ts_epoch, m,
        |        MAX(m) OVER (PARTITION BY symbol ORDER BY ts_epoch, id
        |                     ROWS UNBOUNDED PRECEDING) AS peak
        |      FROM e),
        |u AS (SELECT symbol, id, ts_epoch, m < peak AS uw FROM p),
        |gg AS (SELECT symbol, uw,
        |         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY ts_epoch, id)
        |         - ROW_NUMBER() OVER (PARTITION BY symbol, uw ORDER BY ts_epoch, id) AS grp
        |       FROM u),
        |i AS (SELECT symbol, grp, COUNT(*)::BIGINT AS len FROM gg WHERE uw GROUP BY symbol, grp)
        |SELECT symbol, COUNT(*)::BIGINT AS n_spells, MAX(len)::BIGINT AS max_underwater_ticks,
        |  SUM(len)::BIGINT AS total_underwater_ticks
        |FROM i GROUP BY symbol ORDER BY symbol""".stripMargin),

    // higher moments from exact power sums: the built-in skewness/
    // kurtosis aggregates define DIFFERENT statistics per engine
    // (population vs bias-corrected), so the definition here is the
    // operator's own; all decimal sums bridge to double via VARCHAR
    // (scale-0 decimals convert correctly-rounded on both sides)
    "x_moments" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |e2 AS (SELECT symbol, m, m * m AS m2 FROM e),
        |s AS (SELECT symbol, COUNT(*)::BIGINT AS n_ticks,
        |        CAST(SUM(m) AS DECIMAL(19,0)) AS s1,
        |        CAST(SUM(m2) AS DECIMAL(19,0)) AS s2,
        |        CAST(SUM(CAST(CAST(m2 AS DECIMAL(19,0)) * CAST(m AS DECIMAL(19,0))
        |                 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s3,
        |        CAST(SUM(CAST(CAST(m2 AS DECIMAL(19,0)) * CAST(m2 AS DECIMAL(19,0))
        |                 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s4
        |      FROM e2 GROUP BY symbol),
        |d AS (SELECT symbol, n_ticks, CAST(n_ticks AS DOUBLE) AS dn,
        |        CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS ds1,
        |        CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS ds2,
        |        CAST(CAST(s3 AS VARCHAR) AS DOUBLE) AS ds3,
        |        CAST(CAST(s4 AS VARCHAR) AS DOUBLE) AS ds4
        |      FROM s),
        |mm AS (SELECT symbol, n_ticks, dn, ds2, ds3, ds4, ds1 / dn AS mean FROM d),
        |mom AS (SELECT symbol, n_ticks, mean,
        |          ds2 / dn - mean * mean AS m2,
        |          ds3 / dn - 3.0 * mean * (ds2 / dn) + 2.0 * mean * mean * mean AS m3,
        |          ds4 / dn - 4.0 * mean * (ds3 / dn) + 6.0 * mean * mean * (ds2 / dn)
        |            - 3.0 * mean * mean * mean * mean AS m4
        |        FROM mm)
        |SELECT symbol, n_ticks, round(mean / 100, 6) AS mean_price,
        |  round(m3 / (m2 * sqrt(m2)), 6) + 0 AS skewness,
        |  round(m4 / (m2 * m2) - 3, 6) + 0 AS excess_kurtosis
        |FROM mom WHERE n_ticks >= 3 AND m2 > 0 ORDER BY symbol""".stripMargin),

    // power-iteration eigenvector centrality, PageRank's unrolled-CTE
    // discipline: per-round ROUND(sum,12) then ROUND(s/max,12)
    "x_eigencentrality" ->
      (graphCoCte + ",\n" +
       "c0 AS (SELECT u AS node, 1.0::DOUBLE AS r FROM degu),\n" +
       (1 to 5).map(i =>
         s"""s$i AS (SELECT adj.v AS node, ROUND(SUM(c${i - 1}.r), 12) AS s
            |  FROM adj JOIN c${i - 1} ON c${i - 1}.node = adj.u GROUP BY adj.v),
            |m$i AS (SELECT MAX(s) AS mx FROM s$i),
            |c$i AS (SELECT node, ROUND(s / mx, 12) AS r FROM s$i, m$i)""".stripMargin)
         .mkString(",\n") + """,
        |top AS (SELECT node, ROUND(r, 6) AS centrality FROM c5
        |        ORDER BY centrality DESC, node LIMIT 20)
        |SELECT ROW_NUMBER() OVER (ORDER BY centrality DESC, node)::BIGINT AS rk,
        |  node, d AS degree, centrality
        |FROM top JOIN degu ON degu.u = top.node
        |ORDER BY rk""".stripMargin),

    // TPC-H Q21-class: the oracle keeps the textbook correlated
    // EXISTS / NOT-EXISTS form as an independent derivation of the
    // Spark side's per-order aggregate rewrite (skyline discipline)
    "x_waiting_suppliers" ->
      """WITH l AS (SELECT l_orderkey, l_suppkey, CAST(l_shipdate AS DATE) AS sd FROM lineitem),
        |o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od FROM orders),
        |late AS (SELECT l.l_orderkey, l.l_suppkey
        |         FROM l JOIN o ON l.l_orderkey = o.o_orderkey
        |         WHERE date_diff('day', od, sd) > 60 GROUP BY 1, 2),
        |supp AS (SELECT DISTINCT l_orderkey, l_suppkey FROM l),
        |w AS (SELECT s1.l_suppkey AS suppkey, COUNT(*)::BIGINT AS numwait
        |      FROM late s1
        |      WHERE EXISTS (SELECT 1 FROM supp s2
        |                    WHERE s2.l_orderkey = s1.l_orderkey
        |                      AND s2.l_suppkey <> s1.l_suppkey)
        |        AND NOT EXISTS (SELECT 1 FROM late s3
        |                        WHERE s3.l_orderkey = s1.l_orderkey
        |                          AND s3.l_suppkey <> s1.l_suppkey)
        |      GROUP BY 1),
        |top AS (SELECT suppkey, numwait FROM w ORDER BY numwait DESC, suppkey LIMIT 20)
        |SELECT ROW_NUMBER() OVER (ORDER BY numwait DESC, suppkey)::BIGINT AS rk,
        |  suppkey, numwait
        |FROM top ORDER BY rk""".stripMargin,

    // Jaccard link prediction — exact integer common/union counts
    "x_jaccard_link" ->
      (graphCoCte + """,
        |c AS (SELECT u AS z, v AS x FROM adj JOIN degu USING (u)
        |      WHERE d >= 2 AND d <= 200),
        |p AS (SELECT l.x AS a, r.x AS b, COUNT(*)::BIGINT AS n_common
        |      FROM c l JOIN c r ON l.z = r.z AND l.x < r.x GROUP BY 1, 2),
        |cand AS (SELECT a, b, n_common,
        |          round(CAST(n_common AS DOUBLE) / (da.d + db.d - n_common), 6)
        |            AS jaccard
        |         FROM p JOIN degu da ON da.u = p.a JOIN degu db ON db.u = p.b
        |         WHERE NOT EXISTS (SELECT 1 FROM co
        |                           WHERE co.pa = p.a AND co.pb = p.b)),
        |top AS (SELECT * FROM cand ORDER BY jaccard DESC, a, b LIMIT 50)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY jaccard DESC, a, b) AS BIGINT) AS rk,
        |  a AS node_a, b AS node_b, n_common, jaccard
        |FROM top ORDER BY rk""".stripMargin),

    // HITS authorities over the directed sequential-purchase graph,
    // 3 unrolled rounds with round-12 quantization at both stages
    "x_hits" ->
      ("""WITH fp AS (SELECT o_custkey AS c, l_partkey AS p,
        |             MIN(CAST(o_orderdate AS DATE)) AS d0
        |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
        |sz AS (SELECT c FROM fp GROUP BY c HAVING COUNT(*) <= 100),
        |fpc AS (SELECT fp.c, fp.p, fp.d0 FROM fp JOIN sz USING (c)),
        |e AS (SELECT a.p AS src, b.p AS dst FROM fpc a JOIN fpc b
        |      ON a.c = b.c AND a.d0 < b.d0 GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |h0 AS (SELECT node, 1.0::DOUBLE AS h
        |       FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
        |""".stripMargin
        + (1 to 3).map { i =>
          val hPrev = if (i == 1) "h0" else s"h${i - 1}"
          s"""a${i}r AS (SELECT dst AS node, ROUND(SUM(h), 12) AS s
             |  FROM e JOIN $hPrev ON $hPrev.node = e.src GROUP BY dst),
             |a$i AS (SELECT node, ROUND(s / (SELECT MAX(s) FROM a${i}r), 12) AS a
             |  FROM a${i}r)""".stripMargin +
          (if (i < 3)
            s""",
               |h${i}r AS (SELECT src AS node, ROUND(SUM(a), 12) AS s
               |  FROM e JOIN a$i ON a$i.node = e.dst GROUP BY src),
               |h$i AS (SELECT node, ROUND(s / (SELECT MAX(s) FROM h${i}r), 12) AS h
               |  FROM h${i}r)""".stripMargin
           else "")
        }.mkString(",\n")
        + """,
        |ind AS (SELECT dst AS node, COUNT(*)::BIGINT AS in_degree FROM e GROUP BY 1),
        |top AS (SELECT node, ROUND(a, 6) AS authority FROM a3
        |        ORDER BY authority DESC, node LIMIT 20)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY authority DESC, node) AS BIGINT) AS rk,
        |  node, in_degree, authority
        |FROM top JOIN ind USING (node) ORDER BY rk""".stripMargin),

    // BFS hop census from the max-degree node, 4 unrolled levels
    "x_bfs_hops" ->
      (graphCoCte + """,
        |src AS (SELECT u AS node FROM degu ORDER BY d DESC, u LIMIT 1),
        |l0 AS (SELECT node, CAST(0 AS BIGINT) AS lvl FROM src),
        |v0 AS (SELECT node FROM l0),
        |""".stripMargin
        + (1 to 4).map { i =>
          s"""f$i AS (SELECT DISTINCT adj.v AS node
             |  FROM adj JOIN l${i - 1} ON adj.u = l${i - 1}.node
             |  WHERE adj.v NOT IN (SELECT node FROM v${i - 1})),
             |l$i AS (SELECT node, CAST($i AS BIGINT) AS lvl FROM f$i),
             |v$i AS (SELECT node FROM v${i - 1} UNION SELECT node FROM l$i)""".stripMargin
        }.mkString(",\n")
        + """,
        |allv AS (SELECT lvl FROM l0 UNION ALL SELECT lvl FROM l1
        |         UNION ALL SELECT lvl FROM l2 UNION ALL SELECT lvl FROM l3
        |         UNION ALL SELECT lvl FROM l4)
        |SELECT lvl, COUNT(*)::BIGINT AS n_nodes
        |FROM allv GROUP BY lvl ORDER BY lvl""".stripMargin),

    // per-language lexical profile — vocabulary-sized exact rollup
    "x_lexical_profile" ->
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |t AS (SELECT lang, tok, COUNT(*)::BIGINT AS cnt FROM tok
        |      WHERE len(tok) > 0 GROUP BY 1, 2),
        |a AS (SELECT lang,
        |        CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        |        COUNT(*)::BIGINT AS n_types,
        |        CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |        CAST(SUM(len(tok) * cnt) AS BIGINT) AS n_chars,
        |        CAST(SUM(greatest(1, len(regexp_extract_all(tok, '[aeiouy]+'))) * cnt)
        |          AS BIGINT) AS n_syllables
        |      FROM t GROUP BY lang),
        |d AS (SELECT lang, COUNT(*)::BIGINT AS n_docs FROM documents GROUP BY lang)
        |SELECT lang, n_docs, n_tokens, n_types,
        |  round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
        |  round(CAST(hapax AS DOUBLE) / n_types, 6) AS hapax_rate,
        |  round(CAST(n_chars AS DOUBLE) / n_tokens, 6) AS avg_chars,
        |  round(CAST(n_syllables AS DOUBLE) / n_tokens, 6) AS avg_syllables
        |FROM a JOIN d USING (lang) ORDER BY lang""".stripMargin,

    // Bloom membership audit — integer slot arithmetic, measured FP rate
    "x_bloom_audit" ->
      """WITH cust AS (SELECT c_custkey, c_mktsegment FROM customer),
        |mem AS (SELECT c_custkey FROM cust WHERE c_mktsegment = 'BUILDING'),
        |bits AS (SELECT DISTINCT pos FROM (
        |  SELECT unnest(ARRAY[
        |    (c_custkey * 31 + 7) % 1000000007 % 65536,
        |    (c_custkey * 131 + 911) % 1000000007 % 65536,
        |    (c_custkey * 8191 + 131071) % 1000000007 % 65536]) AS pos FROM mem)),
        |nb AS (SELECT COUNT(*)::BIGINT AS bits_set FROM bits),
        |pr AS (SELECT c_custkey, c_mktsegment, unnest(ARRAY[
        |    (c_custkey * 31 + 7) % 1000000007 % 65536,
        |    (c_custkey * 131 + 911) % 1000000007 % 65536,
        |    (c_custkey * 8191 + 131071) % 1000000007 % 65536]) AS pos FROM cust),
        |hk AS (SELECT c_custkey, COUNT(*)::BIGINT AS nhit
        |       FROM pr JOIN bits USING (pos) GROUP BY 1),
        |j AS (SELECT cust.c_custkey, c_mktsegment,
        |        COALESCE(nhit, 0) = 3 AS predicted
        |      FROM cust LEFT JOIN hk ON cust.c_custkey = hk.c_custkey)
        |SELECT c_mktsegment AS segment,
        |  c_mktsegment = 'BUILDING' AS is_member_segment,
        |  COUNT(*)::BIGINT AS n_keys,
        |  CAST(SUM(CASE WHEN predicted THEN 1 ELSE 0 END) AS BIGINT) AS n_predicted,
        |  round(CAST(SUM(CASE WHEN predicted THEN 1 ELSE 0 END) AS DOUBLE)
        |        / COUNT(*), 6) AS pred_rate,
        |  bits_set, CAST(65536 AS BIGINT) AS m_bits
        |FROM j CROSS JOIN nb
        |GROUP BY c_mktsegment, bits_set ORDER BY segment""".stripMargin,

    // ATR(14) over daily cent bars — integer TR, one final divide
    "x_atr" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, day,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cb AS (SELECT symbol, day, MAX(m) AS hi, MIN(m) AS lo,
        |         MAX(CASE WHEN rn_d = 1 THEN m END) AS cl
        |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol, day
        |                        ORDER BY ts_epoch DESC, id DESC) AS rn_d FROM e)
        |       GROUP BY symbol, day),
        |t AS (SELECT symbol, day, hi, lo, cl,
        |        lag(cl, 1) OVER w AS prev_cl, ROW_NUMBER() OVER w AS rn
        |      FROM cb WINDOW w AS (PARTITION BY symbol ORDER BY day)),
        |u AS (SELECT symbol, day, rn,
        |        CASE WHEN prev_cl IS NULL THEN hi - lo
        |             ELSE greatest(hi - lo, abs(hi - prev_cl), abs(lo - prev_cl))
        |        END AS tr
        |      FROM t),
        |v AS (SELECT symbol, day, rn, tr,
        |        CAST(SUM(tr) OVER (PARTITION BY symbol ORDER BY day
        |          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS DOUBLE) AS tr_sum
        |      FROM u)
        |SELECT symbol, day, tr::BIGINT AS tr_cents,
        |  round(tr_sum / 14 / 100.0, 6) AS atr
        |FROM v WHERE rn >= 14 ORDER BY symbol, day""".stripMargin),

    // MFI(14) — volume-weighted RSI over daily bars, integer 3·tp·vol flows
    "x_mfi" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, day, volume,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cb AS (SELECT symbol, day, MAX(m) AS hi, MIN(m) AS lo,
        |         MAX(CASE WHEN rn_d = 1 THEN m END) AS cl,
        |         SUM(COALESCE(volume, 0))::BIGINT AS vol
        |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol, day
        |                        ORDER BY ts_epoch DESC, id DESC) AS rn_d FROM e)
        |       GROUP BY symbol, day),
        |t AS (SELECT symbol, day, hi + lo + cl AS s, vol,
        |        lag(hi + lo + cl, 1) OVER (PARTITION BY symbol ORDER BY day) AS prev_s
        |      FROM cb),
        |u AS (SELECT symbol, day, s, prev_s, s * vol AS f
        |      FROM t WHERE prev_s IS NOT NULL),
        |v AS (SELECT symbol, day,
        |        SUM(CASE WHEN s > prev_s THEN f ELSE 0 END) OVER fr AS pos,
        |        SUM(CASE WHEN s < prev_s THEN f ELSE 0 END) OVER fr AS neg,
        |        ROW_NUMBER() OVER w AS rn
        |      FROM u WINDOW w AS (PARTITION BY symbol ORDER BY day),
        |        fr AS (PARTITION BY symbol ORDER BY day
        |               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT symbol, day, pos::BIGINT AS pos_flow3, neg::BIGINT AS neg_flow3,
        |  round(100.0 * CAST(pos AS DOUBLE) / CAST(pos + neg AS DOUBLE), 6) AS mfi
        |FROM v WHERE rn >= 14 AND pos + neg > 0
        |ORDER BY symbol, day""".stripMargin),

    // CMF(20) — Chaikin money flow, round-12 decimal mfv sums / integer volume
    "x_cmf" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, day, volume,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cb AS (SELECT symbol, day, MAX(m) AS hi, MIN(m) AS lo,
        |         MAX(CASE WHEN rn_d = 1 THEN m END) AS cl,
        |         SUM(COALESCE(volume, 0))::BIGINT AS vol
        |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol, day
        |                        ORDER BY ts_epoch DESC, id DESC) AS rn_d FROM e)
        |       GROUP BY symbol, day),
        |t AS (SELECT symbol, day, vol,
        |        CASE WHEN hi = lo THEN CAST(0 AS DECIMAL(18,12))
        |             ELSE CAST(round(CAST((2 * cl - lo - hi) * vol AS DOUBLE)
        |                    / CAST(hi - lo AS DOUBLE), 12) AS DECIMAL(18,12))
        |        END AS mfv
        |      FROM cb),
        |v AS (SELECT symbol, day,
        |        SUM(mfv) OVER fr AS mfv_sum,
        |        SUM(vol) OVER fr AS vol_sum,
        |        ROW_NUMBER() OVER w AS rn
        |      FROM t WINDOW w AS (PARTITION BY symbol ORDER BY day),
        |        fr AS (PARTITION BY symbol ORDER BY day
        |               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT symbol, day, vol_sum::BIGINT AS frame_volume,
        |  round(CAST(CAST(mfv_sum AS VARCHAR) AS DOUBLE)
        |        / CAST(vol_sum AS DOUBLE), 6) + 0 AS cmf
        |FROM v WHERE rn >= 20 AND vol_sum > 0
        |ORDER BY symbol, day""".stripMargin),

    // CCI(20) — integer numerator/denominator via the banded bar self-join
    "x_cci" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, day,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cb AS (SELECT symbol, day, MAX(m) AS hi, MIN(m) AS lo,
        |         MAX(CASE WHEN rn_d = 1 THEN m END) AS cl
        |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol, day
        |                        ORDER BY ts_epoch DESC, id DESC) AS rn_d FROM e)
        |       GROUP BY symbol, day),
        |b AS (SELECT symbol, day, hi + lo + cl AS s,
        |        ROW_NUMBER() OVER w AS rn,
        |        SUM(hi + lo + cl) OVER (PARTITION BY symbol ORDER BY day
        |          ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS ssum
        |      FROM cb WINDOW w AS (PARTITION BY symbol ORDER BY day)),
        |a AS (SELECT i.symbol, i.day, i.s, i.ssum,
        |        SUM(ABS(20 * j.s - i.ssum)) AS adev
        |      FROM (SELECT * FROM b WHERE rn >= 20) i
        |      JOIN b j ON i.symbol = j.symbol
        |              AND j.rn BETWEEN i.rn - 19 AND i.rn
        |      GROUP BY 1, 2, 3, 4)
        |SELECT symbol, day,
        |  round(CAST((20 * s - ssum) * 4000 AS DOUBLE)
        |        / CAST(3 * adev AS DOUBLE), 6) + 0 AS cci
        |FROM a WHERE adev > 0 ORDER BY symbol, day""".stripMargin),

    // Williams %R(14) — integer cents ratio over the daily-bar frame
    "x_williams_r" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, day,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cb AS (SELECT symbol, day, MAX(m) AS hi, MIN(m) AS lo,
        |         MAX(CASE WHEN rn_d = 1 THEN m END) AS cl
        |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol, day
        |                        ORDER BY ts_epoch DESC, id DESC) AS rn_d FROM e)
        |       GROUP BY symbol, day),
        |v AS (SELECT symbol, day, cl,
        |        MAX(hi) OVER fr AS fh, MIN(lo) OVER fr AS fl,
        |        ROW_NUMBER() OVER w AS rn
        |      FROM cb WINDOW w AS (PARTITION BY symbol ORDER BY day),
        |        fr AS (PARTITION BY symbol ORDER BY day
        |               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT symbol, day,
        |  round(-100.0 * CAST(fh - cl AS DOUBLE) / CAST(fh - fl AS DOUBLE), 6)
        | + 0    AS williams_r
        |FROM v WHERE rn >= 14 AND fh > fl ORDER BY symbol, day""".stripMargin),

    // Ichimoku (5/10/20) — Donchian midpoints in exact half-cents
    "x_ichimoku" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, day,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cb AS (SELECT symbol, day, MAX(m) AS hi, MIN(m) AS lo
        |       FROM e GROUP BY symbol, day),
        |v AS (SELECT symbol, day,
        |        MAX(hi) OVER f1 + MIN(lo) OVER f1 AS t2,
        |        MAX(hi) OVER f2 + MIN(lo) OVER f2 AS k2,
        |        MAX(hi) OVER f3 + MIN(lo) OVER f3 AS b2,
        |        ROW_NUMBER() OVER w AS rn
        |      FROM cb WINDOW w AS (PARTITION BY symbol ORDER BY day),
        |        f1 AS (PARTITION BY symbol ORDER BY day
        |               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
        |        f2 AS (PARTITION BY symbol ORDER BY day
        |               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
        |        f3 AS (PARTITION BY symbol ORDER BY day
        |               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT symbol, day,
        |  round(CAST(t2 AS DOUBLE) / 200.0, 6) AS tenkan,
        |  round(CAST(k2 AS DOUBLE) / 200.0, 6) AS kijun,
        |  round(CAST(t2 + k2 AS DOUBLE) / 400.0, 6) AS senkou_a,
        |  round(CAST(b2 AS DOUBLE) / 200.0, 6) AS senkou_b
        |FROM v WHERE rn >= 20 ORDER BY symbol, day""".stripMargin),

    // Keltner(10) original SMA form — all-integer channel numerators
    "x_keltner" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, day,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cb AS (SELECT symbol, day, MAX(m) AS hi, MIN(m) AS lo,
        |         MAX(CASE WHEN rn_d = 1 THEN m END) AS cl
        |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol, day
        |                        ORDER BY ts_epoch DESC, id DESC) AS rn_d FROM e)
        |       GROUP BY symbol, day),
        |v AS (SELECT symbol, day,
        |        SUM(hi + lo + cl) OVER fr AS ssum,
        |        SUM(hi - lo) OVER fr AS rsum,
        |        ROW_NUMBER() OVER w AS rn
        |      FROM cb WINDOW w AS (PARTITION BY symbol ORDER BY day),
        |        fr AS (PARTITION BY symbol ORDER BY day
        |               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
        |SELECT symbol, day,
        |  round(CAST(ssum AS DOUBLE) / 3000.0, 6) AS center,
        |  round(CAST(ssum + 3 * rsum AS DOUBLE) / 3000.0, 6) AS upper_band,
        |  round(CAST(ssum - 3 * rsum AS DOUBLE) / 3000.0, 6) + 0 AS lower_band
        |FROM v WHERE rn >= 10 ORDER BY symbol, day""".stripMargin),

    // Vortex(14) — integer VM/TR frame sums, two divides
    "x_vortex" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, day,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cb AS (SELECT symbol, day, MAX(m) AS hi, MIN(m) AS lo,
        |         MAX(CASE WHEN rn_d = 1 THEN m END) AS cl
        |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol, day
        |                        ORDER BY ts_epoch DESC, id DESC) AS rn_d FROM e)
        |       GROUP BY symbol, day),
        |t AS (SELECT symbol, day, hi, lo,
        |        lag(cl, 1) OVER w AS prev_cl,
        |        lag(hi, 1) OVER w AS prev_hi,
        |        lag(lo, 1) OVER w AS prev_lo
        |      FROM cb WINDOW w AS (PARTITION BY symbol ORDER BY day)),
        |u AS (SELECT symbol, day,
        |        GREATEST(hi - lo, ABS(hi - prev_cl), ABS(lo - prev_cl)) AS tr,
        |        ABS(hi - prev_lo) AS vmp, ABS(lo - prev_hi) AS vmm
        |      FROM t WHERE prev_cl IS NOT NULL),
        |v AS (SELECT symbol, day,
        |        SUM(tr) OVER fr AS tr_sum,
        |        SUM(vmp) OVER fr AS vmp_sum,
        |        SUM(vmm) OVER fr AS vmm_sum,
        |        ROW_NUMBER() OVER w AS rn
        |      FROM u WINDOW w AS (PARTITION BY symbol ORDER BY day),
        |        fr AS (PARTITION BY symbol ORDER BY day
        |               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT symbol, day,
        |  round(CAST(vmp_sum AS DOUBLE) / CAST(tr_sum AS DOUBLE), 6) AS vi_plus,
        |  round(CAST(vmm_sum AS DOUBLE) / CAST(tr_sum AS DOUBLE), 6) AS vi_minus
        |FROM v WHERE rn >= 14 AND tr_sum > 0 ORDER BY symbol, day""".stripMargin),

    // CMO(14) — unsmoothed symmetric RSI, integer up/down frame sums
    "x_cmo" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, day,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cb AS (SELECT symbol, day,
        |         MAX(CASE WHEN rn_d = 1 THEN m END) AS cl
        |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol, day
        |                        ORDER BY ts_epoch DESC, id DESC) AS rn_d FROM e)
        |       GROUP BY symbol, day),
        |t AS (SELECT symbol, day,
        |        cl - lag(cl, 1) OVER (PARTITION BY symbol ORDER BY day) AS d
        |      FROM cb),
        |v AS (SELECT symbol, day,
        |        SUM(CASE WHEN d > 0 THEN d ELSE 0 END) OVER fr AS up,
        |        SUM(CASE WHEN d < 0 THEN -d ELSE 0 END) OVER fr AS dn,
        |        ROW_NUMBER() OVER w AS rn
        |      FROM (SELECT * FROM t WHERE d IS NOT NULL)
        |      WINDOW w AS (PARTITION BY symbol ORDER BY day),
        |        fr AS (PARTITION BY symbol ORDER BY day
        |               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT symbol, day,
        |  round(100.0 * CAST(up - dn AS DOUBLE) / CAST(up + dn AS DOUBLE), 6)
        | + 0    AS cmo
        |FROM v WHERE rn >= 14 AND up + dn > 0 ORDER BY symbol, day""".stripMargin),

    // Force index(13) — SMA of (Δclose·volume), integer cent·share sums
    "x_force_index" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, day, volume,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cb AS (SELECT symbol, day,
        |         MAX(CASE WHEN rn_d = 1 THEN m END) AS cl,
        |         SUM(COALESCE(volume, 0))::BIGINT AS vol
        |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol, day
        |                        ORDER BY ts_epoch DESC, id DESC) AS rn_d FROM e)
        |       GROUP BY symbol, day),
        |t AS (SELECT symbol, day, vol,
        |        cl - lag(cl, 1) OVER (PARTITION BY symbol ORDER BY day) AS d
        |      FROM cb),
        |u AS (SELECT symbol, day, d * vol AS f FROM t WHERE d IS NOT NULL),
        |v AS (SELECT symbol, day, f,
        |        SUM(f) OVER fr AS fsum,
        |        ROW_NUMBER() OVER w AS rn
        |      FROM u WINDOW w AS (PARTITION BY symbol ORDER BY day),
        |        fr AS (PARTITION BY symbol ORDER BY day
        |               ROWS BETWEEN 12 PRECEDING AND CURRENT ROW))
        |SELECT symbol, day, f::BIGINT AS force_raw_centshares,
        |  round(CAST(fsum AS DOUBLE) / 1300.0, 6) + 0 AS force_index
        |FROM v WHERE rn >= 13 ORDER BY symbol, day""".stripMargin),

    // Calmar-style ratio — total return / max drawdown, exact-int divides
    "x_calmar" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, day,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cb AS (SELECT symbol, day,
        |         MAX(CASE WHEN rn_d = 1 THEN m END) AS cl
        |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol, day
        |                        ORDER BY ts_epoch DESC, id DESC) AS rn_d FROM e)
        |       GROUP BY symbol, day),
        |t AS (SELECT symbol, day, cl,
        |        MAX(cl) OVER (PARTITION BY symbol ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |      FROM cb),
        |u AS (SELECT symbol, cl,
        |        CAST(peak - cl AS DOUBLE) / CAST(peak AS DOUBLE) AS dd,
        |        ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY day) AS rn
        |      FROM t WHERE peak > 0),
        |g AS (SELECT symbol, COUNT(*) AS n_days,
        |        MAX(CASE WHEN rn = 1 THEN cl END) AS first_cl,
        |        MAX(rn * 8589934592 + cl) AS pack_last,
        |        MAX(dd) AS maxdd
        |      FROM u GROUP BY symbol)
        |SELECT symbol, n_days,
        |  round(CAST(pack_last % 8589934592 - first_cl AS DOUBLE)
        |        / CAST(first_cl AS DOUBLE), 6) + 0 AS total_return,
        |  round(maxdd, 6) AS max_drawdown,
        |  round((CAST(pack_last % 8589934592 - first_cl AS DOUBLE)
        |         / CAST(first_cl AS DOUBLE)) / maxdd, 6) + 0 AS calmar
        |FROM g WHERE n_days >= 2 AND maxdd > 0 ORDER BY symbol""".stripMargin),

    // Lo–MacKinlay VR(5) — all-integer variance numerators, one formula
    "x_variance_ratio" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol,
        |        CAST(round(price * 100) AS BIGINT) AS m,
        |        ROW_NUMBER() OVER (PARTITION BY symbol
        |          ORDER BY ts_epoch ASC, id ASC) AS rn
        |      FROM q),
        |d AS (SELECT symbol,
        |        m - lag(m, 1) OVER w AS d1,
        |        m - lag(m, 5) OVER w AS dk
        |      FROM e WINDOW w AS (PARTITION BY symbol ORDER BY rn)),
        |g AS (SELECT symbol,
        |        COUNT(d1)::BIGINT AS n1, SUM(d1)::BIGINT AS s1,
        |        SUM(d1 * d1)::BIGINT AS q1,
        |        COUNT(dk)::BIGINT AS nk, SUM(dk)::BIGINT AS sk,
        |        SUM(dk * dk)::BIGINT AS qk
        |      FROM d GROUP BY symbol)
        |SELECT symbol, n1 AS n_moves,
        |  round((CAST(nk * qk - sk * sk AS DOUBLE)
        |         / CAST(nk * (nk - 1) AS DOUBLE))
        |        / (5.0 * CAST(n1 * q1 - s1 * s1 AS DOUBLE)
        |           / CAST(n1 * (n1 - 1) AS DOUBLE)), 6) AS vr_5
        |FROM g WHERE nk >= 2 AND n1 * q1 - s1 * s1 > 0
        |ORDER BY symbol""".stripMargin),

    // Donchian(20) breakout census — prev-frame max/min, integer cents
    "x_donchian" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |k AS (SELECT symbol, id, m,
        |        ROW_NUMBER() OVER w AS rn,
        |        MAX(m) OVER (PARTITION BY symbol ORDER BY ts_epoch, id
        |          ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS ch_hi,
        |        MIN(m) OVER (PARTITION BY symbol ORDER BY ts_epoch, id
        |          ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS ch_lo
        |      FROM e WINDOW w AS (PARTITION BY symbol ORDER BY ts_epoch, id))
        |SELECT symbol, COUNT(*)::BIGINT AS n_eval,
        |  CAST(SUM(CASE WHEN m > ch_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_breakout_up,
        |  CAST(SUM(CASE WHEN m < ch_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_breakout_down,
        |  MAX(CASE WHEN m > ch_hi THEN id END) AS last_up_id
        |FROM k WHERE rn > 20 GROUP BY symbol ORDER BY symbol""".stripMargin),

    // Aroon(25) — packed argmax/argmin (m*2^33 + rn), exact integers
    "x_aroon" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |k AS (SELECT symbol, id, ts_epoch, m,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY ts_epoch, id)
        |          AS BIGINT) AS rn
        |      FROM e),
        |p AS (SELECT symbol, id, rn,
        |        MAX(m * 8589934592 + rn) OVER f AS pack_hi,
        |        MIN(m * 8589934592 + (8589934591 - rn)) OVER f AS pack_lo
        |      FROM k WINDOW f AS (PARTITION BY symbol ORDER BY rn
        |        ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)),
        |a AS (SELECT symbol, id,
        |        4 * (25 - (rn - (pack_hi % 8589934592))) AS aroon_up,
        |        4 * (25 - (rn - (8589934591 - (pack_lo % 8589934592)))) AS aroon_down
        |      FROM p WHERE rn >= 25)
        |SELECT symbol, id, aroon_up, aroon_down,
        |  aroon_up - aroon_down AS oscillator
        |FROM a ORDER BY symbol, id""".stripMargin),

    // Sortino ratio — downside deviation, round-6 tolerance class
    "x_sortino" ->
      (finQuoteCte + """,
        |r AS (SELECT symbol,
        |        ln(price / LAG(price) OVER (PARTITION BY symbol ORDER BY ts_epoch, id)) AS ret
        |      FROM q WHERE price > 0)
        |SELECT symbol, COUNT(*)::BIGINT AS n_returns,
        |  round(avg(ret) / sqrt(avg(CASE WHEN ret < 0 THEN ret * ret ELSE 0.0 END)), 6)
        | + 0    AS sortino
        |FROM r WHERE ret IS NOT NULL
        |GROUP BY symbol
        |HAVING COUNT(*) >= 3
        |   AND avg(CASE WHEN ret < 0 THEN ret * ret ELSE 0.0 END) > 0
        |ORDER BY symbol""".stripMargin),

    // Ulcer index — round-6 drawdown pct locked into DECIMAL before squaring
    "x_ulcer" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |p AS (SELECT symbol, m,
        |        MAX(m) OVER (PARTITION BY symbol ORDER BY ts_epoch, id
        |          ROWS UNBOUNDED PRECEDING) AS peak
        |      FROM e),
        |d AS (SELECT symbol,
        |        CAST(round(100.0 * CAST(peak - m AS DOUBLE) / peak, 6)
        |          AS DECIMAL(12,6)) AS dd6
        |      FROM p WHERE peak > 0)
        |SELECT symbol, COUNT(*)::BIGINT AS n_ticks,
        |  round(sqrt(CAST(CAST(SUM(dd6 * dd6) AS VARCHAR) AS DOUBLE) / COUNT(*)), 6)
        |    AS ulcer_index
        |FROM d GROUP BY symbol ORDER BY symbol""".stripMargin),

    // Parkinson range volatility — round-12 decimal-summed ln² per bar
    "x_parkinson" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch, day,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |cb AS (SELECT symbol, day, MAX(m) AS hi, MIN(m) AS lo
        |       FROM e GROUP BY symbol, day),
        |d AS (SELECT symbol,
        |        CAST(round(ln(CAST(hi AS DOUBLE) / lo) * ln(CAST(hi AS DOUBLE) / lo), 12)
        |          AS DECIMAL(18,12)) AS l2
        |      FROM cb WHERE lo > 0)
        |SELECT symbol, COUNT(*)::BIGINT AS n_days,
        |  round(sqrt(CAST(CAST(SUM(l2) AS VARCHAR) AS DOUBLE)
        |        / (CAST(2.772588722239781 AS DOUBLE) * COUNT(*))), 6) AS parkinson_vol
        |FROM d GROUP BY symbol HAVING COUNT(*) >= 2 ORDER BY symbol""".stripMargin),

    // Tick-direction streaks — gaps-and-islands on the move sign
    "x_streaks" ->
      (finQuoteCte + """,
        |e AS (SELECT symbol, id, ts_epoch,
        |        CAST(round(price * 100) AS BIGINT) AS m FROM q),
        |s AS (SELECT symbol, id, ts_epoch,
        |        CAST(sign(m - lag(m, 1) OVER w) AS BIGINT) AS dir
        |      FROM e WINDOW w AS (PARTITION BY symbol ORDER BY ts_epoch, id)),
        |f AS (SELECT * FROM s WHERE dir IS NOT NULL),
        |g AS (SELECT symbol, dir,
        |        ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY ts_epoch, id)
        |        - ROW_NUMBER() OVER (PARTITION BY symbol, dir ORDER BY ts_epoch, id)
        |          AS grp
        |      FROM f),
        |r AS (SELECT symbol, dir, grp, COUNT(*) AS len FROM g GROUP BY 1, 2, 3)
        |SELECT symbol, dir, COUNT(*)::BIGINT AS n_runs, MAX(len)::BIGINT AS max_run,
        |  CAST(SUM(len) AS BIGINT) AS total_ticks
        |FROM r GROUP BY symbol, dir ORDER BY symbol, dir""".stripMargin),

    // HHI supplier-revenue concentration per nation — exact-decimal squares
    "x_hhi" ->
      """WITH r AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |        (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS revd
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT n_name, revd FROM r
        |      JOIN supplier ON l_suppkey = s_suppkey
        |      JOIN nation ON s_nationkey = n_nationkey),
        |w AS (SELECT n_name,
        |        CAST(round(100.0 * CAST(CAST(revd AS VARCHAR) AS DOUBLE)
        |          / CAST(CAST(SUM(revd) OVER (PARTITION BY n_name) AS VARCHAR) AS DOUBLE),
        |          6) AS DECIMAL(12,6)) AS share6
        |      FROM j)
        |SELECT n_name, COUNT(*)::BIGINT AS n_suppliers,
        |  round(CAST(CAST(SUM(share6 * share6) AS VARCHAR) AS DOUBLE), 6) AS hhi
        |FROM w GROUP BY n_name ORDER BY n_name""".stripMargin,

    // TPC-H Q13-class: order-count distribution incl. zero-order customers
    "x_custdist" ->
      """SELECT c_count, COUNT(*)::BIGINT AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey)::BIGINT AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    // TPC-H Q14-class: promo revenue share per ship month
    "x_promo_share" ->
      """WITH j AS (
        |  SELECT strftime(l_shipdate, '%Y-%m') AS mon, p_type,
        |    CAST(l_extendedprice AS DECIMAL(18,6)) *
        |      (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |a AS (SELECT mon,
        |        SUM(CASE WHEN p_type = 'PROMO' THEN rev
        |                 ELSE CAST(0 AS DECIMAL(18,6)) END) AS promod,
        |        SUM(rev) AS totald
        |      FROM j GROUP BY mon)
        |SELECT mon,
        |  round(100.0 * CAST(CAST(promod AS VARCHAR) AS DOUBLE)
        |        / CAST(CAST(totald AS VARCHAR) AS DOUBLE), 6) AS promo_share,
        |  CAST(CAST(totald AS VARCHAR) AS DOUBLE) AS revenue
        |FROM a ORDER BY mon""".stripMargin,

    // TPC-H Q10-class: top-20 customers by returned revenue (exact-decimal cut)
    "x_returned_customers" ->
      """WITH a AS (
        |  SELECT c_custkey, c_name, c_acctbal, n_name,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |        (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS revd
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
        |  GROUP BY 1, 2, 3, 4
        |  ORDER BY revd DESC, c_custkey LIMIT 20)
        |SELECT c_custkey, c_name, CAST(CAST(revd AS VARCHAR) AS DOUBLE) AS revenue,
        |  c_acctbal, n_name
        |FROM a""".stripMargin,

    // TPC-H Q15-class: tie-preserving max-revenue supplier over one quarter
    "x_top_supplier" ->
      """WITH r AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |        (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS revd
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(CAST(revd AS VARCHAR) AS DOUBLE) AS total_revenue
        |FROM r JOIN supplier ON l_suppkey = s_suppkey
        |WHERE revd = (SELECT MAX(revd) FROM r)
        |ORDER BY s_suppkey""".stripMargin,

    // TPC-H Q2-class: cheapest observed unit price per part (cents-exact)
    "x_min_cost_supplier" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    MIN(CAST(round(l_extendedprice / l_quantity * 100) AS BIGINT)) AS cost_cents
        |  FROM lineitem GROUP BY 1, 2),
        |best AS (SELECT l_partkey, MIN(cost_cents) AS best_cents FROM ps GROUP BY 1),
        |win AS (SELECT ps.l_partkey, best_cents, MIN(ps.l_suppkey) AS suppkey
        |        FROM ps JOIN best ON ps.l_partkey = best.l_partkey
        |                         AND ps.cost_cents = best.best_cents
        |        GROUP BY 1, 2)
        |SELECT p_partkey, p_brand, suppkey, s_name, n_name,
        |  CAST(best_cents AS DOUBLE) / 100.0 AS unit_cost
        |FROM win
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY p_partkey""".stripMargin,

    // TPC-H Q17-class: small-quantity revenue per brand (integer avg gate)
    "x_small_qty_revenue" ->
      """WITH li AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |              l_extendedprice FROM lineitem),
        |pa AS (SELECT l_partkey, SUM(qty)::BIGINT AS qsum, COUNT(*)::BIGINT AS qcnt
        |       FROM li GROUP BY 1)
        |SELECT p_brand, COUNT(*)::BIGINT AS n_lines,
        |  round(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR)
        |        AS DOUBLE) / 7.0, 6) AS avg_yearly
        |FROM li
        |JOIN pa USING (l_partkey)
        |JOIN part ON l_partkey = p_partkey
        |WHERE qty * 5 * qcnt < qsum
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // TPC-H Q22-class: dormant above-average-balance customers per nation
    "x_balance_no_orders" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
        |             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |           FROM customer),
        |st AS (SELECT SUM(bal_cents)::BIGINT AS tot, COUNT(*)::BIGINT AS n
        |       FROM c WHERE bal_cents > 0)
        |SELECT n_name, COUNT(*)::BIGINT AS numcust,
        |  CAST(SUM(bal_cents) AS DOUBLE) / 100.0 AS totacctbal
        |FROM c
        |JOIN nation ON c_nationkey = n_nationkey
        |CROSS JOIN st
        |WHERE bal_cents * n > tot
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // TPC-H Q8-class: one nation's yearly share of a region's revenue
    "x_market_share" ->
      """WITH j AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    ns.n_name AS supp_nation,
        |    CAST(l_extendedprice AS DECIMAL(18,6)) *
        |      (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))) AS rev
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation nc ON c_nationkey = nc.n_nationkey
        |  JOIN region ON nc.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ns ON s_nationkey = ns.n_nationkey
        |  WHERE r_name = 'ASIA'),
        |a AS (SELECT o_year,
        |        SUM(CASE WHEN supp_nation = 'NATION_5' THEN rev
        |                 ELSE CAST(0 AS DECIMAL(18,6)) END) AS natd,
        |        SUM(rev) AS totald
        |      FROM j GROUP BY o_year)
        |SELECT o_year,
        |  round(CAST(CAST(natd AS VARCHAR) AS DOUBLE)
        |        / CAST(CAST(totald AS VARCHAR) AS DOUBLE), 6) AS mkt_share,
        |  CAST(CAST(totald AS VARCHAR) AS DOUBLE) AS revenue
        |FROM a ORDER BY o_year""".stripMargin,

    // Two-feature OLS per brand: exact integer moments, IEEE Cramer solve
    "x_ols_pricing" ->
      """WITH li AS (
        |  SELECT p_brand, CAST(l_quantity AS BIGINT) AS x1,
        |    CAST(round(l_discount * 100) AS BIGINT) AS x2,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |a AS (SELECT p_brand, COUNT(*)::BIGINT AS n,
        |        SUM(x1)::BIGINT AS s1, SUM(x2)::BIGINT AS s2,
        |        SUM(x1 * x1)::BIGINT AS s11, SUM(x2 * x2)::BIGINT AS s22,
        |        SUM(x1 * x2)::BIGINT AS s12, SUM(y)::BIGINT AS sy,
        |        SUM(x1 * y)::BIGINT AS s1y, SUM(x2 * y)::BIGINT AS s2y,
        |        CAST(SUM(y * y) AS DOUBLE) AS syy
        |      FROM li GROUP BY p_brand),
        |b AS (SELECT p_brand, n, sy, s1y, s2y, syy,
        |        CAST(n AS DOUBLE) AS dn, CAST(s1 AS DOUBLE) AS d1,
        |        CAST(s2 AS DOUBLE) AS d2, CAST(s11 AS DOUBLE) AS d11,
        |        CAST(s22 AS DOUBLE) AS d22, CAST(s12 AS DOUBLE) AS d12,
        |        CAST(sy AS DOUBLE) AS dy, CAST(s1y AS DOUBLE) AS d1y,
        |        CAST(s2y AS DOUBLE) AS d2y
        |      FROM a),
        |c AS (SELECT p_brand, n, syy, dn, dy, d1y, d2y, d1, d2,
        |        dn * (d11 * d22 - d12 * d12) -
        |          d1 * (d1 * d22 - d2 * d12) +
        |          d2 * (d1 * d12 - d2 * d11) AS det,
        |        dy * (d11 * d22 - d12 * d12) -
        |          d1 * (d1y * d22 - d2y * d12) +
        |          d2 * (d1y * d12 - d2y * d11) AS det0,
        |        dn * (d1y * d22 - d2y * d12) -
        |          dy * (d1 * d22 - d2 * d12) +
        |          d2 * (d1 * d2y - d2 * d1y) AS det1,
        |        dn * (d11 * d2y - d12 * d1y) -
        |          d1 * (d1 * d2y - d2 * d1y) +
        |          dy * (d1 * d12 - d2 * d11) AS det2
        |      FROM b),
        |s AS (SELECT p_brand, n, syy, dn, dy, d1y, d2y,
        |        det0 / det AS b0, det1 / det AS b1, det2 / det AS b2
        |      FROM c WHERE det <> 0.0)
        |SELECT p_brand, n AS n_lines,
        |  round(b0, 6) AS b0_cents,
        |  round(b1, 6) + 0 AS b1_cents_per_qty,
        |  round(b2, 6) + 0 AS b2_cents_per_bp,
        |  round(1.0 - (syy - b0 * dy - b1 * d1y - b2 * d2y)
        |            / (syy - dy * dy / dn), 6) AS r2
        |FROM s ORDER BY p_brand""".stripMargin,

    // TPC-H Q9-class: profit by supplier nation x year (integer 1e-4-dollar units)
    "x_profit_by_nation" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  COUNT(*)::BIGINT AS n_lines,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |           (100 - CAST(round(l_discount * 100) AS BIGINT)) -
        |           60 * CAST(round(p_retailprice * 100) AS BIGINT) *
        |           CAST(l_quantity AS BIGINT)) AS DOUBLE) / 10000.0 AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    // TPC-H Q11-class: important parts by one region's trade value (decimal gate)
    "x_important_stock" ->
      """WITH v AS (
        |  SELECT l_partkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |        (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS vald
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |  GROUP BY 1),
        |t AS (SELECT SUM(vald) AS totd FROM v)
        |SELECT l_partkey AS p_partkey,
        |  CAST(CAST(vald AS VARCHAR) AS DOUBLE) AS value,
        |  round(CAST(CAST(vald AS VARCHAR) AS DOUBLE)
        |        / CAST(CAST(totd AS VARCHAR) AS DOUBLE), 6) AS share
        |FROM v CROSS JOIN t
        |WHERE vald * 1000 > totd
        |ORDER BY p_partkey""".stripMargin,

    // TPC-H Q16-class: distinct-supplier census per part config, blacklist excluded
    "x_supplier_parts" ->
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    // TPC-H Q18-class: top-100 large-quantity orders (integer cents cut)
    "x_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS BIGINT))::BIGINT AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING SUM(CAST(l_quantity AS BIGINT)) > 200)
        |SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |  o_totalprice AS total_price, sum_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC, o_orderkey
        |LIMIT 100""".stripMargin,

    // TPC-H Q20-class: suppliers shipping >1/8 of a part's quantity (integer gate)
    "x_dominant_suppliers" ->
      """WITH li AS (
        |  SELECT l_partkey, l_suppkey, CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'small%'),
        |ps AS (SELECT l_partkey, l_suppkey, SUM(qty)::BIGINT AS q_ps
        |       FROM li GROUP BY 1, 2),
        |pa AS (SELECT l_partkey, SUM(qty)::BIGINT AS q_part FROM li GROUP BY 1)
        |SELECT s_suppkey, s_name, n_name,
        |  COUNT(*)::BIGINT AS n_parts_dominated, SUM(q_ps)::BIGINT AS qty_shipped
        |FROM ps
        |JOIN pa USING (l_partkey)
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE q_ps * 8 > q_part
        |GROUP BY 1, 2, 3 ORDER BY s_suppkey""".stripMargin,

    "x_local_cc" ->
      (graphCoCte + """,
        |degv AS (SELECT v, COUNT(*) AS d FROM
        |  (SELECT pa AS v FROM co UNION ALL SELECT pb FROM co) GROUP BY v),
        |o AS (
        |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND pa < pb) THEN pa ELSE pb END AS src,
        |         CASE WHEN da.d < db.d OR (da.d = db.d AND pa < pb) THEN pb ELSE pa END AS dst
        |  FROM co JOIN degv da ON da.v = co.pa JOIN degv db ON db.v = co.pb),
        |w AS (SELECT e1.src AS ctr, e1.dst AS w1, e2.dst AS w2 FROM o e1
        |      JOIN o e2 ON e1.src = e2.src AND e1.dst < e2.dst),
        |cl AS (SELECT ctr, w1, w2 FROM w JOIN o ON w.w1 = o.src AND w.w2 = o.dst
        |       UNION ALL
        |       SELECT ctr, w1, w2 FROM w JOIN o ON w.w2 = o.src AND w.w1 = o.dst),
        |tri AS (SELECT v, COUNT(*) AS t FROM (
        |          SELECT ctr AS v FROM cl UNION ALL SELECT w1 FROM cl
        |          UNION ALL SELECT w2 FROM cl)
        |        GROUP BY v)
        |SELECT degv.v AS node, degv.d::BIGINT AS degree,
        |  COALESCE(tri.t, 0)::BIGINT AS n_triangles,
        |  round(2.0 * COALESCE(tri.t, 0) / (degv.d * (degv.d - 1)), 6) AS local_cc
        |FROM degv LEFT JOIN tri ON tri.v = degv.v
        |WHERE degv.d >= 2 ORDER BY node""".stripMargin),

    // the round(1e12/ln d) BIGINT micro-unit weights are the SAME
    // frozen Scala-computed Longs the Spark side joins against
    // (Graphs.aaWeightsE12) — a BIGINT SUM is bit-identical in every
    // engine, unlike the r11-r13 DECIMAL SUM/CAST path that hash-failed
    // on the driver host while passing the local bitwise gate
    "x_link_predict" ->
      (graphCoCte + s""",
        |wtab(wd, wgt) AS (VALUES
        |${graft.operators.Graphs.aaWeightsE12(200)
            .map { case (d, w) => s"  ($d, CAST($w AS BIGINT))" }
            .grouped(4).map(_.mkString(", ")).mkString(",\n        |")}),
        |c AS (SELECT u AS z, v AS x, wgt
        |      FROM adj JOIN degu USING (u) JOIN wtab ON wd = d
        |      WHERE d >= 2 AND d <= 200),
        |p AS (SELECT l.x AS a, r.x AS b, COUNT(*)::BIGINT AS n_common,
        |        CAST(SUM(l.wgt) AS BIGINT) AS aa_score_e12
        |      FROM c l JOIN c r ON l.z = r.z AND l.x < r.x
        |      GROUP BY 1, 2),
        |cand AS (SELECT a, b, n_common, aa_score_e12 FROM p
        |         WHERE NOT EXISTS (SELECT 1 FROM co WHERE co.pa = p.a AND co.pb = p.b)),
        |top AS (SELECT * FROM cand ORDER BY aa_score_e12 DESC, a, b LIMIT 50)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY aa_score_e12 DESC, a, b) AS BIGINT) AS rk,
        |  a AS node_a, b AS node_b, n_common, aa_score_e12
        |FROM top ORDER BY rk""".stripMargin),

    "x_drawdown" ->
      (finQuoteCte + """,
        |r AS (
        |  SELECT symbol, price,
        |    MAX(price) OVER (PARTITION BY symbol ORDER BY ts_epoch, id
        |                     ROWS UNBOUNDED PRECEDING) AS peak
        |  FROM q WHERE price > 0)
        |SELECT symbol,
        |  ROUND(MAX((peak - price) / peak), 6) AS max_drawdown,
        |  ROUND(MAX(peak), 6) AS peak_price,
        |  COUNT(*) AS n_ticks
        |FROM r GROUP BY symbol ORDER BY symbol""".stripMargin),

    // Cutler's 14-period RSI (SMA form). Emitted rows (rn >= 15) have a
    // full NULL-free delta frame, so GREATEST-vs-NULL semantics never
    // reach the output in either engine.
    "x_rsi" ->
      (finQuoteCte + """,
        |d AS (
        |  SELECT symbol, id, price,
        |    ROW_NUMBER() OVER w AS rn,
        |    price - LAG(price) OVER w AS delta
        |  FROM q WINDOW w AS (PARTITION BY symbol ORDER BY ts_epoch, id)),
        |g AS (
        |  SELECT symbol, id, price, rn,
        |    AVG(GREATEST(delta, 0)) OVER f AS avg_gain,
        |    AVG(GREATEST(-delta, 0)) OVER f AS avg_loss
        |  FROM d WINDOW f AS (PARTITION BY symbol ORDER BY rn
        |                      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT symbol, id, price,
        |  ROUND(CASE WHEN avg_gain + avg_loss = 0 THEN 50.0
        |        ELSE 100.0 * avg_gain / (avg_gain + avg_loss) END, 6) AS rsi14
        |FROM g WHERE rn >= 15 ORDER BY symbol, id""".stripMargin),

    // 20-tick Bollinger bands: band edges built from ROUNDED sma/sd so
    // the breach comparisons test bit-identical doubles
    "x_bollinger" ->
      (finQuoteCte + """,
        |d AS (
        |  SELECT symbol, id, price,
        |    ROW_NUMBER() OVER w AS rn,
        |    ROUND(AVG(price) OVER f, 6) AS sma20,
        |    ROUND(stddev_samp(price) OVER f, 6) AS sd20
        |  FROM q
        |  WINDOW w AS (PARTITION BY symbol ORDER BY ts_epoch, id),
        |         f AS (PARTITION BY symbol ORDER BY ts_epoch, id
        |               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |g AS (
        |  SELECT symbol, id, price, sma20,
        |    ROUND(sma20 + 2 * sd20, 6) AS upper_band,
        |    ROUND(sma20 - 2 * sd20, 6) + 0 AS lower_band
        |  FROM d WHERE rn >= 20)
        |SELECT symbol, id, price, sma20, upper_band, lower_band,
        |  price > upper_band AS breach_up,
        |  price < lower_band AS breach_dn
        |FROM g ORDER BY symbol, id""".stripMargin),

    // per-source language-mix KL divergence from the corpus mix;
    // exact integer cross-ratios inside ln
    "x_kl_sources" ->
      """WITH c AS (
        |  SELECT source, lang, COUNT(*) AS c_ls FROM documents GROUP BY 1, 2),
        |cs AS (SELECT source, SUM(c_ls)::BIGINT AS c_s FROM c GROUP BY 1),
        |cl AS (SELECT lang, SUM(c_ls)::BIGINT AS c_l FROM c GROUP BY 1),
        |t AS (SELECT SUM(c_ls)::BIGINT AS n FROM c)
        |SELECT source, MAX(c_s)::BIGINT AS n_docs, COUNT(*) AS n_langs,
        |  ROUND(SUM(c_ls / c_s * ln((c_ls * n)::DOUBLE / (c_s * c_l))), 6) AS kl_from_corpus
        |FROM c JOIN cs USING (source) JOIN cl USING (lang), t
        |GROUP BY source ORDER BY source""".stripMargin,

    // exact K-S statistic per source vs rest-of-corpus on the integer
    // lattice — sup of |cum_s·n_r − cum_r·n_s| over the length grid
    "x_ks_lengths" ->
      """WITH c AS (
        |  SELECT source, n_chars, COUNT(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |s AS (SELECT source, SUM(c)::BIGINT AS n_s FROM c GROUP BY 1),
        |l AS (SELECT DISTINCT n_chars FROM c),
        |tt AS (SELECT SUM(c)::BIGINT AS n_tot FROM c),
        |grid AS (SELECT s.source, s.n_s, l.n_chars, COALESCE(cc.c, 0) AS c
        |         FROM s CROSS JOIN l
        |         LEFT JOIN c cc ON cc.source = s.source
        |                       AND cc.n_chars = l.n_chars),
        |g2 AS (SELECT source, n_s, n_chars,
        |        SUM(c) OVER (PARTITION BY source ORDER BY n_chars
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s
        |       FROM grid),
        |ct AS (SELECT n_chars,
        |        SUM(ctotal) OVER (ORDER BY n_chars
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_t
        |       FROM (SELECT n_chars, SUM(c)::BIGINT AS ctotal
        |             FROM c GROUP BY 1)),
        |v AS (SELECT g2.source, n_s, g2.n_chars, n_tot - n_s AS n_r,
        |        ABS(cum_s * (n_tot - n_s) - (cum_t - cum_s) * n_s) AS dev
        |      FROM g2 JOIN ct ON g2.n_chars = ct.n_chars, tt),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |        ORDER BY dev DESC, n_chars ASC) AS rk FROM v)
        |SELECT source, n_s AS n_docs, n_chars AS split_length,
        |  round(CAST(dev AS DOUBLE) / CAST(n_s * n_r AS DOUBLE), 6) AS ks_stat
        |FROM r WHERE rk = 1 AND n_r > 0 ORDER BY source""".stripMargin,

    // Flesch / Flesch–Kincaid per (lang, source) — exact integer
    // word/sentence/vowel-run counts, two deterministic formulas
    "x_readability" ->
      """WITH d AS (
        |  SELECT lang, source,
        |    len(list_filter(string_split(text, ' '),
        |        t -> len(t) > 0))::BIGINT AS w,
        |    (len(regexp_extract_all(lower(text), '[aeiouy]+')) +
        |     len(list_filter(string_split(lower(text), ' '),
        |         t -> len(t) > 0 AND NOT regexp_matches(t, '[aeiouy]'))))::BIGINT
        |      AS y,
        |    GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))::BIGINT AS s
        |  FROM documents),
        |g AS (SELECT lang, source, COUNT(*) AS n_docs, SUM(w)::BIGINT AS n_words,
        |        SUM(s)::BIGINT AS n_sentences, SUM(y)::BIGINT AS n_syllables
        |      FROM d GROUP BY 1, 2)
        |SELECT lang, source, n_docs, n_words, n_sentences, n_syllables,
        |  round(206.835 - 1.015 * CAST(n_words AS DOUBLE) / n_sentences
        |        - 84.6 * CAST(n_syllables AS DOUBLE) / n_words, 6) + 0 AS flesch,
        |  round(0.39 * CAST(n_words AS DOUBLE) / n_sentences
        |        + 11.8 * CAST(n_syllables AS DOUBLE) / n_words - 15.59, 6)
        |    AS fk_grade
        |FROM g WHERE n_words > 0 ORDER BY lang, source""".stripMargin,

    // corpus anisotropy — ||Σu||² − Σ||u||² over round-12 decimal
    // unit components; every decimal exits via the VARCHAR bridge
    "x_emb_anisotropy" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE*x::DOUBLE),
        |         (a,b)->a+b)) AS nrm
        |  FROM embeddings),
        |u AS (SELECT (i-1)::BIGINT AS pos,
        |        CAST(round(embedding[i]::DOUBLE / nrm, 12) AS DECIMAL(16,12)) AS u
        |      FROM e, range(1, 65) t(i) WHERE nrm > 0),
        |d AS (SELECT pos, COUNT(*) AS n, SUM(u) AS s, SUM(u*u) AS qq
        |      FROM u GROUP BY pos),
        |g AS (SELECT MAX(n)::BIGINT AS n_vectors,
        |        SUM(CAST(round(CAST(CAST(s AS VARCHAR) AS DOUBLE)
        |                     * CAST(CAST(s AS VARCHAR) AS DOUBLE), 6)
        |            AS DECIMAL(28,6))) AS s2,
        |        SUM(qq) AS q
        |      FROM d)
        |SELECT n_vectors,
        |  round((CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
        |         - CAST(CAST(q AS VARCHAR) AS DOUBLE))
        |        / (CAST(n_vectors AS DOUBLE)
        |           * (CAST(n_vectors AS DOUBLE) - 1.0)), 6) AS avg_pair_cos
        |FROM g""".stripMargin,

    // Jensen–Shannon divergence per source pair over language mixes —
    // bounded sources² × languages grid, exact-integer probabilities
    "x_js_sources" ->
      """WITH c AS (
        |  SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2),
        |cs AS (SELECT source, SUM(c)::BIGINT AS n FROM c GROUP BY 1),
        |langs AS (SELECT DISTINCT lang FROM c),
        |pairs AS (SELECT a.source AS source_a, a.n AS na,
        |            b.source AS source_b, b.n AS nb
        |          FROM cs a JOIN cs b ON a.source < b.source),
        |t AS (SELECT source_a, source_b,
        |        COALESCE(ca.c, 0) / na AS pa, COALESCE(cb.c, 0) / nb AS pb
        |      FROM pairs CROSS JOIN langs l
        |      LEFT JOIN c ca ON ca.source = source_a AND ca.lang = l.lang
        |      LEFT JOIN c cb ON cb.source = source_b AND cb.lang = l.lang)
        |SELECT source_a, source_b, COUNT(*) AS n_langs_union,
        |  ROUND(SUM(
        |    CASE WHEN pa > 0 THEN pa * ln(2.0 * pa / (pa + pb)) ELSE 0 END / 2 +
        |    CASE WHEN pb > 0 THEN pb * ln(2.0 * pb / (pa + pb)) ELSE 0 END / 2),
        |    6) AS js_divergence
        |FROM t WHERE pa + pb > 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // per-dimension embedding stats in exact integer micro-units;
    // variance via n*S2 - S1^2 (bounded corpus contract documented)
    "x_emb_dim_stats" ->
      """WITH m AS (
        |  SELECT (i-1)::BIGINT AS pos,
        |    CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT) AS m
        |  FROM embeddings, range(1, 65) t(i)),
        |g AS (
        |  SELECT pos, COUNT(*) AS n, SUM(m)::BIGINT AS s1,
        |    SUM(m*m)::BIGINT AS s2, MIN(m) AS mn, MAX(m) AS mx
        |  FROM m GROUP BY pos)
        |SELECT pos, n,
        |  ROUND(s1::DOUBLE / (n * 1000000.0), 6) + 0 AS mean_v,
        |  ROUND(sqrt((n*s2 - s1*s1)::DOUBLE / (n*(n-1))) / 1000000.0, 6) AS std_v,
        |  ROUND(mn / 1000000.0, 6) + 0 AS min_v,
        |  ROUND(mx / 1000000.0, 6) AS max_v
        |FROM g ORDER BY pos""".stripMargin,

    // Benford first-significant-digit audit: the digit comes from the
    // integer-cents STRING (exact binning, no float log10 boundaries)
    "x_benford" ->
      """WITH d AS (
        |  SELECT CAST(SUBSTRING(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders WHERE o_totalprice > 0),
        |c AS (SELECT digit, COUNT(*) AS n_orders FROM d GROUP BY digit),
        |f AS (
        |  SELECT digit, n_orders,
        |    ROUND(n_orders / SUM(n_orders) OVER (), 6) AS obs_freq,
        |    ROUND(log10(1.0 + 1.0 / digit), 6) AS exp_freq
        |  FROM c)
        |SELECT digit, n_orders, obs_freq, exp_freq,
        |  ROUND(ABS(obs_freq - exp_freq), 6) AS abs_dev
        |FROM f ORDER BY digit""".stripMargin,

    // exact triangle count by degree orientation: each triangle counted
    // once at its (degree, id)-lowest vertex; wedge lists bounded by
    // oriented out-degree. Same thresholded co-purchase edge set as
    // x_market_basket.
    "x_triangles" ->
      (graphCoCte + """,
        |degv AS (SELECT v, COUNT(*) AS d FROM
        |  (SELECT pa AS v FROM co UNION ALL SELECT pb FROM co) GROUP BY v),
        |o AS (
        |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND pa < pb) THEN pa ELSE pb END AS src,
        |         CASE WHEN da.d < db.d OR (da.d = db.d AND pa < pb) THEN pb ELSE pa END AS dst
        |  FROM co JOIN degv da ON da.v = co.pa JOIN degv db ON db.v = co.pb),
        |w AS (SELECT e1.dst AS w1, e2.dst AS w2 FROM o e1
        |      JOIN o e2 ON e1.src = e2.src AND e1.dst < e2.dst),
        |c AS (SELECT COUNT(*) AS n_triangles FROM w JOIN o
        |      ON (w.w1 = o.src AND w.w2 = o.dst) OR (w.w2 = o.src AND w.w1 = o.dst)),
        |s AS (SELECT (SELECT COUNT(*) FROM o) AS n_edges,
        |             (SELECT COUNT(*) FROM w) AS n_wedges, n_triangles FROM c)
        |SELECT n_edges, n_wedges, n_triangles,
        |  CASE WHEN n_wedges = 0 THEN 0.0
        |       ELSE ROUND(n_triangles::DOUBLE / n_wedges, 6) END AS clustering
        |FROM s""".stripMargin),

    // 5 unrolled PageRank rounds over the symmetrized edge set;
    // (1.0 - 0.85) is computed in double on BOTH engines so the
    // teleport term is the identical binary value; each round's rank
    // quantizes to 12 decimals on BOTH engines so summation-order
    // last-ulp drift cannot compound across rounds
    "x_pagerank" ->
      (graphCoCte + ",\n" + (1 to 5).map(i =>
        s"""r$i AS (
           |  SELECT adj.v AS node, ROUND((1.0::DOUBLE - 0.85::DOUBLE)/nn + 0.85::DOUBLE * SUM(r${i-1}.r / degu.d), 12) AS r
           |  FROM adj JOIN r${i-1} ON r${i-1}.node = adj.u
           |  JOIN degu ON degu.u = adj.u, n GROUP BY adj.v, nn)""".stripMargin)
        .mkString(",\n") + """,
        |top AS (SELECT node, ROUND(r, 6) AS rank FROM r5
        |        ORDER BY rank DESC, node LIMIT 20)
        |SELECT ROW_NUMBER() OVER (ORDER BY rank DESC, node)::BIGINT AS rk,
        |  node, d AS degree, rank
        |FROM top JOIN degu ON degu.u = top.node
        |ORDER BY rk""".stripMargin),

    // Personalized PageRank — sparse walk-with-restart from the
    // top-3-degree seed set, 5 unrolled rounds, full-join teleport
    "x_ppr" ->
      (graphCoCte + """,
        |seeds AS (SELECT u AS node, 1.0::DOUBLE/3 AS e FROM degu
        |          ORDER BY d DESC, u LIMIT 3),
        |p0 AS (SELECT node, e AS r FROM seeds)""".stripMargin + ",\n" +
        (1 to 5).map(i =>
          s"""p$i AS (
             |  SELECT COALESCE(c.node, s.node) AS node,
             |    ROUND(0.85::DOUBLE * COALESCE(c.sm, 0) +
             |          (1.0::DOUBLE - 0.85::DOUBLE) * COALESCE(s.e, 0), 12) AS r
             |  FROM (SELECT adj.v AS node, SUM(p${i - 1}.r / degu.d) AS sm
             |        FROM adj JOIN p${i - 1} ON p${i - 1}.node = adj.u
             |        JOIN degu ON degu.u = adj.u GROUP BY adj.v) c
             |  FULL JOIN seeds s ON s.node = c.node)""".stripMargin)
          .mkString(",\n") + """,
        |top AS (SELECT node, ROUND(r, 6) AS rank FROM p5
        |        ORDER BY rank DESC, node LIMIT 20)
        |SELECT ROW_NUMBER() OVER (ORDER BY rank DESC, top.node)::BIGINT AS rk,
        |  top.node AS node, d AS degree, rank, (s.node IS NOT NULL) AS is_seed
        |FROM top JOIN degu ON degu.u = top.node
        |LEFT JOIN seeds s ON s.node = top.node
        |ORDER BY rk""".stripMargin),

    // LPA communities (3 sync rounds, packed-argmax ties) + exact modularity
    "x_communities" ->
      (graphCoCte + ",\n" +
        "l0 AS (SELECT u AS node, u AS lab FROM degu),\n" +
        (1 to 3).map(i =>
          s"""c$i AS (SELECT adj.v AS v, l${i - 1}.lab AS lab, COUNT(*)::BIGINT AS cnt
             |  FROM adj JOIN l${i - 1} ON l${i - 1}.node = adj.u GROUP BY 1, 2),
             |l$i AS (SELECT v AS node,
             |    8589934591 - (MAX(cnt * 8589934592 + (8589934591 - lab)) % 8589934592) AS lab
             |  FROM c$i GROUP BY v)""".stripMargin).mkString(",\n") + """,
        |mm AS (SELECT COUNT(*)::BIGINT AS m FROM co),
        |ds AS (SELECT lab, SUM(d)::BIGINT AS d_c, COUNT(*)::BIGINT AS n_nodes
        |       FROM degu JOIN l3 ON l3.node = degu.u GROUP BY lab),
        |ei AS (SELECT la.lab AS lab, COUNT(*)::BIGINT AS e_c
        |       FROM co JOIN l3 la ON la.node = co.pa
        |       JOIN l3 lb ON lb.node = co.pb
        |       WHERE la.lab = lb.lab GROUP BY 1),
        |st AS (SELECT ds.lab, n_nodes, d_c, COALESCE(e_c, 0)::BIGINT AS e_c
        |       FROM ds LEFT JOIN ei ON ds.lab = ei.lab),
        |qq AS (SELECT round(CAST(SUM(4 * m * e_c - d_c * d_c) AS DOUBLE)
        |               / (4.0 * m * m), 6) AS modularity
        |       FROM st, mm GROUP BY m)
        |SELECT lab AS community, n_nodes, e_c AS internal_edges,
        |  d_c AS degree_sum, modularity
        |FROM (SELECT * FROM st ORDER BY n_nodes DESC, lab LIMIT 50)
        |CROSS JOIN qq
        |ORDER BY n_nodes DESC, community""".stripMargin),

    // first-order Markov transition matrix over user event sequences;
    // probabilities divide exact integer counts, normalization windows
    // run over the bounded cell table
    "x_transition_matrix" ->
      """WITH p AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts)//1000000, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, COUNT(*) AS n_transitions
        |      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_transitions,
        |  ROUND(n_transitions / SUM(n_transitions) OVER (PARTITION BY from_type), 6) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    // repeat-purchase inter-arrival gaps per market segment, exact
    // integer day counts over the (date, orderkey) total order
    "x_reorder_gap" ->
      """WITH g AS (
        |  SELECT o_custkey,
        |    date_diff('day',
        |      CAST(LAG(o_orderdate) OVER w AS DATE),
        |      CAST(o_orderdate AS DATE))::BIGINT AS gap_days
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
        |SELECT c_mktsegment, COUNT(*) AS n_gaps,
        |  MIN(gap_days) AS min_gap, MAX(gap_days) AS max_gap,
        |  ROUND(SUM(gap_days) / COUNT(*), 6) AS mean_gap,
        |  ROUND(quantile_cont(gap_days, 0.5), 6) AS p50_gap
        |FROM g JOIN customer ON o_custkey = c_custkey
        |WHERE gap_days IS NOT NULL
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // skyline (Pareto frontier) of customers over (order count, cent
    // spend) — the oracle is the INDEPENDENT NOT EXISTS dominance
    // formulation, so the Spark side's bounded-window reduction is
    // what's being checked
    "x_skyline" ->
      """WITH fm AS (
        |  SELECT o_custkey, COUNT(*) AS freq,
        |         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_cents
        |  FROM orders GROUP BY o_custkey)
        |SELECT o_custkey, freq, spend_cents::BIGINT AS spend_cents
        |FROM fm a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM fm b
        |  WHERE b.freq >= a.freq AND b.spend_cents >= a.spend_cents
        |    AND (b.freq > a.freq OR b.spend_cents > a.spend_cents))
        |ORDER BY o_custkey""".stripMargin,

    // quality-weighted deterministic sampling: per-doc continuous
    // keep-rate gated by the stratified-sample hash
    "x_weighted_sample" ->
      """WITH tk AS (SELECT doc_id, lang, string_split(text,' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, lang, len(toks)::BIGINT AS n_tokens,
        |    round(least(1.0, len(toks)/50.0)*0.4
        |        + (len(list_distinct(toks))::DOUBLE/len(toks))*0.3
        |        + least(1.0, (len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in'], t)))::DOUBLE/len(toks))*5.0)*0.3, 6) AS quality
        |  FROM tk),
        |g AS (
        |  SELECT lang, n_tokens, quality,
        |    (list_reduce(list_transform(range(1, len(CAST(doc_id AS VARCHAR))+1),
        |       i -> ascii(substr(CAST(doc_id AS VARCHAR),i,1))::BIGINT),
        |       (acc,c)->(acc*31+c)%1000000007) % 1000000
        |     < CAST(round(quality * 1000000) AS BIGINT)) AS keep
        |  FROM s)
        |SELECT lang, COUNT(*) AS n_docs,
        |  SUM(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_sampled,
        |  SUM(CASE WHEN keep THEN n_tokens ELSE 0 END)::BIGINT AS sampled_tokens,
        |  ROUND(SUM(CASE WHEN keep THEN 1 ELSE 0 END) / COUNT(*), 6) AS accept_rate,
        |  CAST(CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS mean_quality
        |FROM g GROUP BY lang ORDER BY lang""".stripMargin,

    // per-segment Gini of customer spend: exact integer cents, Lorenz
    // rank by (cents, custkey), all-integer rank form with one final
    // double division
    "x_gini" ->
      """WITH sp AS (
        |  SELECT o_custkey, SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY o_custkey),
        |j AS (
        |  SELECT c_mktsegment, cents,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |      ORDER BY cents, o_custkey) AS rn
        |  FROM sp JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment, COUNT(*) AS n_customers,
        |  SUM(cents)::BIGINT AS total_cents,
        |  ROUND((2 * SUM(rn * cents) - (COUNT(*) + 1) * SUM(cents))::DOUBLE /
        |        (COUNT(*) * SUM(cents)), 6) AS gini
        |FROM j GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // mutual information between event type and the exact-cents value
    // band; every log argument is the identical integer-ratio double
    "x_mutual_info" ->
      """WITH c AS (
        |  SELECT event_type,
        |    (CAST(round(value * 100) AS BIGINT)
        |      - ((CAST(round(value * 100) AS BIGINT) % 2000) + 2000) % 2000) // 2000 AS band,
        |    COUNT(*) AS c_xy
        |  FROM events GROUP BY 1, 2),
        |cx AS (SELECT event_type, SUM(c_xy)::BIGINT AS c_x FROM c GROUP BY 1),
        |cy AS (SELECT band, SUM(c_xy)::BIGINT AS c_y FROM c GROUP BY 1),
        |t AS (SELECT SUM(c_xy)::BIGINT AS n FROM c),
        |mi AS (
        |  SELECT COUNT(*) AS n_cells,
        |    ROUND(SUM(c_xy / n * ln((c_xy * n)::DOUBLE / (c_x * c_y))), 6) AS mi
        |  FROM c JOIN cx USING (event_type) JOIN cy USING (band), t),
        |hx AS (SELECT ROUND(-SUM(c_x / n * ln(c_x::DOUBLE / n)), 6) AS h_type FROM cx, t),
        |hy AS (SELECT ROUND(-SUM(c_y / n * ln(c_y::DOUBLE / n)), 6) AS h_band FROM cy, t)
        |SELECT n_cells, mi, h_type, h_band FROM mi, hx, hy""".stripMargin,

    // median/MAD robust outliers: the unrounded median feeds the
    // deviation pass in both engines; 4.4478 (= 3·1.4826) is a single
    // literal so the scaling double is identical
    "x_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY event_type),
        |dv AS (
        |  SELECT e.event_type, ABS(e.value - med.med) AS dev, med.med
        |  FROM events e JOIN med USING (event_type)),
        |st AS (
        |  SELECT event_type, COUNT(*) AS n_events, MAX(med) AS med_raw,
        |         quantile_cont(dev, 0.5) AS mad_raw
        |  FROM dv GROUP BY event_type),
        |o AS (
        |  SELECT dv.event_type, COUNT(*) AS n_outliers
        |  FROM dv JOIN st USING (event_type)
        |  WHERE dv.dev > 4.4478::DOUBLE * st.mad_raw
        |  GROUP BY dv.event_type)
        |SELECT st.event_type, st.n_events,
        |  ROUND(st.med_raw, 6) AS med, ROUND(st.mad_raw, 6) AS mad,
        |  COALESCE(o.n_outliers, 0) AS n_outliers,
        |  ROUND(COALESCE(o.n_outliers, 0) / st.n_events, 6) AS outlier_share
        |FROM st LEFT JOIN o USING (event_type)
        |ORDER BY st.event_type""".stripMargin,

    // RFM segmentation: the band formula mirrors the Spark side's
    // ((rank-1)·k) div total + 1 with ROW_NUMBER (NOT NTILE — its
    // remainder distribution differs); floor vs truncating integer
    // division agree because every term is non-negative
    "x_rfm" ->
      """WITH b AS (
        |  SELECT o_custkey, MAX(o_orderdate) AS last_order, COUNT(*) AS freq,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS mon
        |  FROM orders GROUP BY o_custkey),
        |t AS (SELECT COUNT(*) AS total FROM b),
        |r AS (
        |  SELECT freq, mon,
        |    ROW_NUMBER() OVER (ORDER BY last_order DESC, o_custkey) AS rr,
        |    ROW_NUMBER() OVER (ORDER BY freq DESC, o_custkey) AS rf,
        |    ROW_NUMBER() OVER (ORDER BY mon DESC, o_custkey) AS rm
        |  FROM b),
        |g AS (
        |  SELECT ((rr - 1) * 4) // total + 1 AS r_band,
        |         ((rf - 1) * 4) // total + 1 AS f_band,
        |         ((rm - 1) * 4) // total + 1 AS m_band,
        |         freq, mon
        |  FROM r, t)
        |SELECT r_band, f_band, m_band, COUNT(*) AS n_customers,
        |  SUM(freq)::BIGINT AS total_orders,
        |  CAST(CAST(SUM(mon) AS VARCHAR) AS DOUBLE) AS total_spend
        |FROM g GROUP BY r_band, f_band, m_band
        |ORDER BY r_band, f_band, m_band""".stripMargin,

    // last-touch attribution: the event type immediately before each
    // user's first purchase in (ts, id) tick order, 'none' if first
    "x_attribution" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts)//1000000, event_id) AS rn
        |  FROM events),
        |fp AS (SELECT user_id, MIN(rn) AS fp_rn FROM e
        |       WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT COALESCE(p.event_type, 'none') AS touch_type,
        |  COUNT(*) AS n_users
        |FROM fp LEFT JOIN e p
        |  ON p.user_id = fp.user_id AND p.rn = fp.fp_rn - 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // linear multi-touch: every pre-first-purchase event shares
    // 1/path_len credit, quantized at 6 decimals then decimal-summed
    "x_attribution_linear" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts)//1000000, event_id) AS rn
        |  FROM events),
        |fp AS (SELECT user_id, MIN(rn) AS fp_rn FROM e
        |       WHERE event_type = 'purchase' GROUP BY user_id),
        |path AS (SELECT e.* FROM e JOIN fp USING (user_id) WHERE rn < fp_rn),
        |sz AS (SELECT user_id, COUNT(*) AS path_len FROM path GROUP BY user_id)
        |SELECT p.event_type AS touch_type, COUNT(*)::BIGINT AS n_events,
        |  CAST(CAST(SUM(CAST(round(1::DOUBLE / sz.path_len, 6) AS DECIMAL(18,6)))
        |    AS VARCHAR) AS DOUBLE) AS credit
        |FROM path p JOIN sz USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // column-profiling sweep (string-space: exact for keys/flags and
    // the explicitly formatted date; doubles excluded by design)
    "x_profile" ->
      """WITH s AS (
        |  SELECT 'l_orderkey' AS col_name, CAST(l_orderkey AS VARCHAR) AS v FROM lineitem
        |  UNION ALL SELECT 'l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem
        |  UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem
        |  UNION ALL SELECT 'l_linenumber', CAST(l_linenumber AS VARCHAR) FROM lineitem
        |  UNION ALL SELECT 'l_returnflag', l_returnflag FROM lineitem
        |  UNION ALL SELECT 'l_linestatus', l_linestatus FROM lineitem
        |  UNION ALL SELECT 'l_shipdate', strftime(l_shipdate, '%Y-%m-%d') FROM lineitem)
        |SELECT col_name, COUNT(*) AS n_rows, COUNT(v) AS n_present,
        |  COUNT(DISTINCT v) AS n_distinct, MIN(v) AS min_v, MAX(v) AS max_v
        |FROM s GROUP BY col_name ORDER BY col_name""".stripMargin,

    // DSIR importance selection: two bigram LMs (target = lang 'en'
    // slice, raw = whole corpus) over the SHARED pair stream; top-50
    // docs by log importance ratio nll_raw - nll_target
    "x_dsir_select" ->
      ("""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |p AS (
        |  SELECT doc_id, lang, unnest(list_transform(range(1, len(toks)+1),
        |    i -> {'prev': CASE WHEN i = 1 THEN '<s>' ELSE toks[i-1] END,
        |          'cur': toks[i]})) AS pr
        |  FROM d),
        |p2 AS (SELECT doc_id, lang, pr.prev AS prev, pr.cur AS cur FROM p),
        |dpc AS (SELECT doc_id, prev, cur, COUNT(*) AS c FROM p2
        |        GROUP BY doc_id, prev, cur),
        |""".stripMargin +
       dsirLmCtes("t", "lang = 'en'") + ",\n" +
       dsirLmCtes("r", "TRUE") + ",\n" +
       """j AS (
         |  SELECT a_t.doc_id, a_t.avg_nll AS nll_target, a_r.avg_nll AS nll_raw
         |  FROM a_t JOIN a_r USING (doc_id))
         |SELECT rk, doc_id, lang, nll_target, nll_raw, log_ratio FROM (
         |  SELECT j.doc_id, d0.lang, j.nll_target, j.nll_raw,
         |    round(j.nll_raw - j.nll_target, 6) AS log_ratio,
         |    ROW_NUMBER() OVER (ORDER BY round(j.nll_raw - j.nll_target, 6) DESC, j.doc_id)::BIGINT AS rk
         |  FROM j JOIN (SELECT doc_id, lang FROM documents) d0 USING (doc_id))
         |WHERE rk <= 50 ORDER BY rk""".stripMargin),

    // held-out multinomial Naive Bayes language classification:
    // add-1 word likelihoods + class priors in negative log space,
    // per-class unseen-word fallback, argmin with lexical tie-break
    "x_nb_holdout" ->
      """WITH ph AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS toks,
        |    list_reduce(list_transform(range(1, len(CAST(doc_id AS VARCHAR))+1),
        |      i -> ascii(substr(CAST(doc_id AS VARCHAR), i, 1))::BIGINT),
        |      (acc,c) -> (acc*31+c)%1000000007) % 10 AS b
        |  FROM documents),
        |w_tr AS (SELECT lang, unnest(toks) AS word FROM ph WHERE b < 8),
        |clw AS (SELECT lang, word, COUNT(*) AS c FROM w_tr GROUP BY lang, word),
        |tl AS (SELECT lang, SUM(c)::BIGINT AS t FROM clw GROUP BY lang),
        |v AS (SELECT COUNT(DISTINCT word) AS v FROM clw),
        |dl AS (SELECT lang, COUNT(*) AS d FROM ph WHERE b < 8 GROUP BY lang),
        |dt AS (SELECT SUM(d)::BIGINT AS dt FROM dl),
        |cls AS (
        |  SELECT tl.lang AS plang,
        |    CAST(round(-ln(dl.d::DOUBLE / dt), 6) AS DECIMAL(18,6)) AS prior_nll,
        |    CAST(round(ln(tl.t + v), 6) AS DECIMAL(18,6)) AS unseen_nll
        |  FROM tl JOIN dl USING (lang), v, dt),
        |m AS (
        |  SELECT lang AS plang, word,
        |    CAST(round(-ln((c + 1.0) / (t + v)), 6) AS DECIMAL(18,6)) AS nll
        |  FROM clw JOIN tl USING (lang), v),
        |w_ho AS (SELECT doc_id, unnest(toks) AS word FROM ph WHERE b >= 8),
        |dwc AS (SELECT doc_id, word, COUNT(*) AS c FROM w_ho GROUP BY doc_id, word),
        |sc AS (
        |  SELECT d.doc_id, cls.plang,
        |    cls.prior_nll + SUM(COALESCE(m.nll, cls.unseen_nll)
        |      * CAST(d.c AS DECIMAL(8,0))) AS score
        |  FROM dwc d CROSS JOIN cls
        |  LEFT JOIN m ON m.plang = cls.plang AND m.word = d.word
        |  GROUP BY d.doc_id, cls.plang, cls.prior_nll),
        |pred AS (
        |  SELECT doc_id, plang AS lang_pred FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score ASC, plang) AS rk
        |    FROM sc) WHERE rk = 1),
        |j AS (SELECT ph.lang, p.lang_pred FROM ph JOIN pred p USING (doc_id) WHERE ph.b >= 8)
        |SELECT lang, lang_pred, COUNT(*) AS n_docs,
        |  round(COUNT(*)::DOUBLE / SUM(COUNT(*)) OVER (PARTITION BY lang), 6) AS lang_share
        |FROM j GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin,

    // held-out perplexity: LM trained on the 80% PolyHash(doc_id)
    // split, the held-out 20% scored through the frozen model with
    // add-1 unseen fallbacks (ctx: ln(cu+V); und: ln(V))
    "x_ppl_holdout" ->
      """WITH ph AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    list_reduce(list_transform(range(1, len(CAST(doc_id AS VARCHAR))+1),
        |      i -> ascii(substr(CAST(doc_id AS VARCHAR), i, 1))::BIGINT),
        |      (acc,c) -> (acc*31+c)%1000000007) % 10 AS b
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, b, unnest(list_transform(range(1, len(toks)+1),
        |    i -> {'prev': CASE WHEN i = 1 THEN '<s>' ELSE toks[i-1] END,
        |          'cur': toks[i]})) AS pr
        |  FROM ph),
        |p2 AS (SELECT doc_id, b, pr.prev AS prev, pr.cur AS cur FROM p),
        |cb AS (SELECT prev, cur, COUNT(*) AS cb FROM p2 WHERE b < 8
        |       GROUP BY prev, cur),
        |cu AS (SELECT prev, SUM(cb)::BIGINT AS cu FROM cb GROUP BY prev),
        |v AS (SELECT COUNT(DISTINCT cur) AS v FROM cb),
        |bi AS (SELECT prev, cur,
        |         CAST(round(-ln((cb + 1.0) / (cu + v)), 6) AS DECIMAL(18,6)) AS nll
        |       FROM cb JOIN cu USING (prev), v),
        |ctx AS (SELECT prev, CAST(round(ln(cu + v), 6) AS DECIMAL(18,6)) AS nll
        |        FROM cu, v),
        |und AS (SELECT CAST(round(ln(v), 6) AS DECIMAL(18,6)) AS nll FROM v),
        |dpc AS (SELECT doc_id, prev, cur, COUNT(*) AS c FROM p2 WHERE b >= 8
        |        GROUP BY doc_id, prev, cur),
        |sc AS (SELECT d.doc_id, d.c,
        |         COALESCE(bi.nll, ctx.nll, (SELECT nll FROM und)) AS nll,
        |         bi.nll IS NULL AS unseen
        |       FROM dpc d LEFT JOIN bi USING (prev, cur) LEFT JOIN ctx USING (prev)),
        |s AS (SELECT doc_id, SUM(c)::BIGINT AS n_scored,
        |        SUM(CASE WHEN unseen THEN c ELSE 0 END)::BIGINT AS n_unseen,
        |        SUM(nll * CAST(c AS DECIMAL(8,0))) AS sn
        |      FROM sc GROUP BY doc_id),
        |a AS (SELECT doc_id, n_scored, n_unseen,
        |        round(sn::DOUBLE / n_scored, 6) AS avg_nll FROM s)
        |SELECT doc_id, n_scored, n_unseen, avg_nll, round(exp(avg_nll), 6) AS ppl
        |FROM a ORDER BY doc_id""".stripMargin,

    // per-doc character Shannon entropy (compression-proxy quality
    // signal); same rounded-term decimal-sum determinism discipline
    "x_char_entropy" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE len(text) >= 1),
        |c0 AS (SELECT doc_id, unnest(list_transform(range(1, len(text)+1),
        |         i -> substr(text, i, 1))) AS ch FROM d),
        |cc AS (SELECT doc_id, ch, COUNT(*) AS c FROM c0 GROUP BY doc_id, ch),
        |s AS (SELECT doc_id, SUM(c)::BIGINT AS n_chars, COUNT(*) AS n_distinct_chars,
        |        SUM(CAST(round(c * ln(c), 6) AS DECIMAL(18,6))) AS sc
        |      FROM cc GROUP BY doc_id)
        |SELECT doc_id, n_chars, n_distinct_chars,
        |  round((ln(n_chars) - sc::DOUBLE / n_chars) / ln(2.0), 6) AS entropy_bits
        |FROM s ORDER BY doc_id""".stripMargin,

    // count-min sketch (4 x 256, minhash-style hash family) audited
    // against the exact top-20 heavy hitters: estimate, overestimate,
    // the deterministic est >= exact contract, and eps*N-form share
    "x_cms_error" ->
      """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |e AS (SELECT tok, COUNT(*) AS exact FROM tk GROUP BY tok),
        |h AS (SELECT tok, exact,
        |        list_reduce(list_transform(range(1, len(tok)+1),
        |          i -> ascii(substr(tok, i, 1))::BIGINT),
        |          (acc, c) -> (acc*31 + c) % 1000000007) AS th
        |      FROM e),
        |cdim AS (SELECT unnest(range(0, 4)) AS i),
        |ctr AS (SELECT i, ((2*i+1)*th + (5*i+3)) % 1000000007 % 256 AS bucket,
        |          SUM(exact)::BIGINT AS cnt
        |        FROM h, cdim GROUP BY i, bucket),
        |tot AS (SELECT SUM(exact)::BIGINT AS n_total FROM e),
        |t AS (SELECT ROW_NUMBER() OVER (ORDER BY exact DESC, tok) AS rk, tok, exact, th
        |      FROM h QUALIFY rk <= 20),
        |pe AS (SELECT rk, tok, exact, i,
        |         ((2*i+1)*th + (5*i+3)) % 1000000007 % 256 AS bucket
        |       FROM t, cdim),
        |est AS (SELECT rk, tok, exact, MIN(cnt) AS est FROM pe
        |        JOIN ctr USING (i, bucket) GROUP BY rk, tok, exact)
        |SELECT rk, tok, exact, est, est - exact AS overestimate,
        |  est >= exact AS guarantee_ok,
        |  round((est - exact)::DOUBLE / n_total, 6) AS over_share
        |FROM est, tot ORDER BY rk""".stripMargin,

    // unigram-LM trainer (Kudo 2018): the full hard-EM replay —
    // unigramCtes unrolls seed/weights/Viterbi-DP/prune per round from
    // the SAME TextAnalysis geometry constants the engine trains with
    "x_unigram_train" ->
      (unigramCtes + s"""
       |SELECT piece, length(piece)::BIGINT AS piece_len, cnt,
       |  ROW_NUMBER() OVER (ORDER BY cnt DESC, piece)::BIGINT AS vocab_rank
       |FROM vocab${TextAnalysis.UnigramEmRounds + 1} ORDER BY vocab_rank""".stripMargin),

    "x_unigram_tokens" ->
      (unigramCtes + s"""
       |SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
       |  SUM(s.n_pieces)::BIGINT AS n_unigram_tokens
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) d
       |JOIN (SELECT word, len(string_split(path, ' '))::BIGINT AS n_pieces
       |      FROM seg${TextAnalysis.UnigramEmRounds}) s USING (word)
       |WHERE length(d.word) > 0
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    "x_unigram_fertility" ->
      (unigramCtes + s"""
       |SELECT d.lang, COUNT(*)::BIGINT AS n_words,
       |  SUM(s.n_pieces)::BIGINT AS n_unigram_tokens,
       |  round(SUM(s.n_pieces)::DOUBLE / COUNT(*), 6) + 0 AS fertility,
       |  round(SUM(length(d.word))::DOUBLE / SUM(s.n_pieces)::DOUBLE, 6) + 0 AS chars_per_token
       |FROM (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents) d
       |JOIN (SELECT word, len(string_split(path, ' '))::BIGINT AS n_pieces
       |      FROM seg${TextAnalysis.UnigramEmRounds}) s USING (word)
       |WHERE length(d.word) > 0
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin),

    "x_unigram_segments" ->
      (unigramCtes + s"""
       |SELECT word, wfreq, path,
       |  len(string_split(path, ' '))::BIGINT AS n_pieces
       |FROM seg${TextAnalysis.UnigramEmRounds} ORDER BY word""".stripMargin),

    // BPE vs unigram head-to-head: BOTH proven trainer chains in one
    // WITH (no CTE-name overlap: bpe uses words/s0/b·m·s per round,
    // unigram wt/sp/seed0/chars/vocab·w·dp·seg·cnts per round)
    "x_tokenizer_compare" ->
      (unigramCtes + ",\n" + bpeCtes.stripPrefix("WITH ") + "\n" +
       s"""wl AS (SELECT word, COUNT(*)::BIGINT AS n_syms FROM s$BpeRounds GROUP BY 1)
          |SELECT d.lang, COUNT(*)::BIGINT AS n_words,
          |  SUM(wl.n_syms)::BIGINT AS n_bpe_tokens,
          |  SUM(s.n_pieces)::BIGINT AS n_unigram_tokens,
          |  round(SUM(wl.n_syms)::DOUBLE / COUNT(*), 6) + 0 AS bpe_fertility,
          |  round(SUM(s.n_pieces)::DOUBLE / COUNT(*), 6) + 0 AS unigram_fertility,
          |  round(SUM(s.n_pieces)::DOUBLE / SUM(wl.n_syms)::DOUBLE, 6) + 0 AS unigram_vs_bpe
          |FROM (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents) d
          |JOIN wl USING (word)
          |JOIN (SELECT word, len(string_split(path, ' '))::BIGINT AS n_pieces
          |      FROM seg${TextAnalysis.UnigramEmRounds}) s USING (word)
          |WHERE length(d.word) > 0
          |GROUP BY d.lang ORDER BY d.lang""".stripMargin),

    "x_bpe_train" ->
      (bpeCtes + "\n" +
       s"""mm AS (${(1 to BpeRounds).map(r =>
            s"SELECT ${r}::BIGINT AS round, sa AS sym_a, sb AS sym_b, cnt AS pair_count FROM b$r")
            .mkString(" UNION ALL ")})
          |SELECT round, sym_a, sym_b, sym_a || sym_b AS merged, pair_count
          |FROM mm ORDER BY round""".stripMargin),

    // the 32-merge mid-size trainer point: same unrolled round CTE,
    // four octaves of merges verified exactly (8 → 32), two octaves
    // from the 1024-merge production demo
    "x_bpe_32" ->
      (bpeCtesN(BpeMidRounds) + "\n" +
       s"""mm AS (${(1 to BpeMidRounds).map(r =>
            s"SELECT ${r}::BIGINT AS round, sa AS sym_a, sb AS sym_b, cnt AS pair_count FROM b$r")
            .mkString(" UNION ALL ")})
          |SELECT round, sym_a, sym_b, sym_a || sym_b AS merged, pair_count
          |FROM mm ORDER BY round""".stripMargin),

    // Zipf-law OLS fit over the top-100 token ranks; (ln rank, ln
    // freq) terms rounded once then decimal-summed so both engines
    // regress over bit-identical sums
    "x_zipf" ->
      """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |f AS (SELECT tok, COUNT(*)::BIGINT AS freq FROM tk GROUP BY tok),
        |st AS (SELECT SUM(freq)::BIGINT AS n_tokens, COUNT(*) AS vocab FROM f),
        |top AS (SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, tok)::BIGINT AS rk
        |        FROM f ORDER BY freq DESC, tok LIMIT 100),
        |t AS (SELECT CAST(round(ln(rk), 6) AS DECIMAL(18,6)) AS x,
        |             CAST(round(ln(freq), 6) AS DECIMAL(18,6)) AS y FROM top),
        |fit AS (SELECT COUNT(*) AS r_used, SUM(x) AS sx, SUM(y) AS sy,
        |               SUM(x*y) AS sxy, SUM(x*x) AS sxx FROM t)
        |SELECT n_tokens, vocab, r_used,
        |  round((r_used*sxy - sx*sy)::DOUBLE / (r_used*sxx - sx*sx)::DOUBLE, 6) + 0 AS zipf_slope
        |FROM st, fit""".stripMargin,

    // Heaps'-law growth table: checkpoint id is the decile-bin integer
    // formula over a doc_id global rank (no NTILE), type arrivals are
    // MIN(bucket) per token, cumulative sums are integer — the one
    // double is the final round-6 ratio of identical integers
    "x_heaps" ->
      s"""WITH r AS (SELECT text, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn,
        |             COUNT(*) OVER () AS n FROM documents),
        |tk AS (SELECT ((rn - 1) * ${TextAnalysis.HeapsBuckets}) // n + 1 AS bkt,
        |              unnest(string_split(text, ' ')) AS tok FROM r),
        |tf AS (SELECT bkt, tok FROM tk WHERE length(tok) > 0),
        |mass AS (SELECT bkt, COUNT(*)::BIGINT AS n_toks FROM tf GROUP BY bkt),
        |arr AS (SELECT bkt, COUNT(*)::BIGINT AS n_new FROM
        |          (SELECT tok, MIN(bkt) AS bkt FROM tf GROUP BY tok) GROUP BY bkt),
        |c AS (SELECT mass.bkt AS bkt, n_toks, COALESCE(n_new, 0)::BIGINT AS n_new
        |      FROM mass LEFT JOIN arr ON mass.bkt = arr.bkt),
        |w AS (SELECT bkt,
        |        CAST(SUM(n_toks) OVER (ORDER BY bkt ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
        |        CAST(SUM(n_new)  OVER (ORDER BY bkt ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
        |      FROM c)
        |SELECT bkt, cum_tokens, cum_types,
        |  round(cum_types::DOUBLE / cum_tokens, 6) + 0 AS type_token_ratio
        |FROM w ORDER BY bkt""".stripMargin,

    // the trained tokenizer's serve-side artifact: each vocabulary
    // word's final segmentation under the 8-round merges
    "x_bpe_segments" ->
      (bpeCtes + "\n" +
       s"""fin AS (SELECT word, wfreq, COUNT(*)::BIGINT AS n_syms,
          |          string_agg(sym, ' ' ORDER BY pos) AS segmentation
          |        FROM s$BpeRounds GROUP BY word, wfreq)
          |SELECT word, wfreq, n_syms, segmentation FROM fin ORDER BY word""".stripMargin),

    // batched BPE trainer: per round, the greedy symbol-disjoint
    // top-M selection from the ranked top-K candidates (the greedy
    // scan unrolled one CTE per keep), merges applied simultaneously
    "x_bpe_batched" ->
      (bpeBatchedCtes + "\n" +
       s"""mm AS (${(1 to BpeBatchRounds).map(r =>
            s"SELECT ${r}::BIGINT AS round, sel_rank, sa AS sym_a, sb AS sym_b, cnt AS pair_count FROM kk$r")
            .mkString(" UNION ALL ")})
          |SELECT round, sel_rank, sym_a, sym_b, sym_a || sym_b AS merged, pair_count
          |FROM mm ORDER BY round, sel_rank""".stripMargin),

    "x_bpe_tokens" ->
      (bpeCtes + "\n" +
       s"""wl AS (SELECT word, COUNT(*)::BIGINT AS n_syms FROM s$BpeRounds GROUP BY 1)
          |SELECT doc_id,
          |  COUNT(*) AS n_tokens,
          |  SUM(wl.n_syms)::BIGINT AS n_bpe_tokens,
          |  ceil(MAX(len(text))/4.0)::BIGINT AS est_bpe_tokens
          |FROM (SELECT doc_id, text, unnest(string_split(text, ' ')) AS word FROM documents) d
          |JOIN wl USING (word)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Adjacent-bigram PMI: one double expression over exact BIGINT
    // counts, identical association order on both engines
    "x_token_pmi" ->
      """WITH tk AS (SELECT string_split(text,' ') AS t FROM documents),
        |bg AS (
        |  SELECT t[i] AS a, t[i+1] AS b
        |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM tk WHERE len(t) >= 2)
        |), big AS (SELECT a, b, COUNT(*) AS c_ab FROM bg GROUP BY a, b),
        |unic AS (SELECT tok, COUNT(*) AS c
        |         FROM (SELECT unnest(t) AS tok FROM tk) GROUP BY tok),
        |tot AS (SELECT (SELECT SUM(c) FROM unic) AS n_uni,
        |               (SELECT SUM(c_ab) FROM big) AS n_big)
        |SELECT big.a, big.b, c_ab,
        |  ROUND(ln(c_ab::DOUBLE * n_uni * n_uni /
        |           (n_big::DOUBLE * ua.c * ub.c)), 6) + 0 AS pmi
        |FROM big
        |CROSS JOIN tot
        |JOIN unic ua ON ua.tok = big.a
        |JOIN unic ub ON ub.tok = big.b
        |WHERE c_ab >= 5 ORDER BY a, b""".stripMargin,

    // BM25 top-20 retrieval for a fixed query-term set; every float
    // literal pinned ::DOUBLE so DuckDB's DECIMAL-literal arithmetic
    // cannot diverge from Spark's double semantics
    "x_bm25" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM w GROUP BY doc_id),
        |st AS (SELECT COUNT(*) AS n_docs, SUM(dl)::BIGINT AS total_len FROM dl),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w
        |       WHERE word IN ('spark', 'query', 'window') GROUP BY doc_id, word),
        |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
        |sc AS (
        |  SELECT tf.doc_id,
        |    CAST(round(
        |      round(ln(1.0::DOUBLE + (n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE)), 6)
        |      * (tf * (1.2::DOUBLE + 1)) /
        |      (tf + 1.2::DOUBLE * ((1 - 0.75::DOUBLE)
        |         + 0.75::DOUBLE * (dl.dl * n_docs) / total_len)), 6)
        |      AS DECIMAL(18,6)) AS ts
        |  FROM tf JOIN df USING (word) JOIN dl USING (doc_id), st),
        |agg AS (SELECT doc_id, SUM(ts)::DOUBLE AS score, COUNT(*) AS n_terms_hit
        |        FROM sc GROUP BY doc_id),
        |top AS (SELECT doc_id, n_terms_hit, score,
        |          ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)::BIGINT AS rk
        |        FROM agg QUALIFY rk <= 20)
        |SELECT rk, doc_id, n_terms_hit, score FROM top ORDER BY rk""".stripMargin,

    // tokenizer fertility per language under the trained merges:
    // BPE tokens per whitespace word, chars per BPE token
    "x_bpe_fertility" ->
      (bpeCtes + "\n" +
       s"""wl AS (SELECT word, COUNT(*)::BIGINT AS n_syms FROM s$BpeRounds GROUP BY 1)
          |SELECT lang,
          |  COUNT(*) AS n_words,
          |  SUM(wl.n_syms)::BIGINT AS n_bpe_tokens,
          |  round(SUM(wl.n_syms)::DOUBLE / COUNT(*), 6) AS fertility,
          |  round(SUM(len(word))::DOUBLE / SUM(wl.n_syms), 6) AS chars_per_token
          |FROM (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents) d
          |JOIN wl USING (word)
          |GROUP BY lang ORDER BY lang""".stripMargin),

    "x_vocab_coverage" ->
      """WITH tk AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT lang, tok, COUNT(*) AS c FROM tk GROUP BY 1, 2),
        |r AS (
        |  SELECT lang, tok, c,
        |    ROW_NUMBER() OVER w AS rk,
        |    SUM(c) OVER (PARTITION BY lang ORDER BY c DESC, tok
        |                 ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(c) OVER (PARTITION BY lang) AS total
        |  FROM c WINDOW w AS (PARTITION BY lang ORDER BY c DESC, tok))
        |SELECT lang, COUNT(*) AS vocab_size, MAX(total)::BIGINT AS total_occ,
        |  MIN(CASE WHEN cum*10 >= total*9 THEN rk END) AS rank90,
        |  round(MAX(CASE WHEN rk = 1 THEN c END)::DOUBLE / MAX(total), 6) AS top1_share
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,

    "x_vocab_overlap" ->
      """WITH v AS (SELECT DISTINCT lang, tok FROM (
        |  SELECT lang, unnest(string_split(text,' ')) AS tok FROM documents)),
        |s AS (SELECT lang, COUNT(*) AS sz FROM v GROUP BY lang),
        |i AS (SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS n_common
        |      FROM v a JOIN v b ON a.tok = b.tok AND a.lang < b.lang
        |      GROUP BY 1, 2)
        |SELECT i.lang_a, i.lang_b, i.n_common, sa.sz AS vocab_a, sb.sz AS vocab_b,
        |  round(i.n_common::DOUBLE / (sa.sz + sb.sz - i.n_common), 6) AS jaccard
        |FROM i JOIN s sa ON i.lang_a = sa.lang JOIN s sb ON i.lang_b = sb.lang
        |ORDER BY i.lang_a, i.lang_b""".stripMargin,

    // decile id is integer arithmetic on the global rank — NOT NTILE,
    // whose remainder convention need not match across engines; the
    // Spark side evaluates the identical ((rn-1)*10) div n formula
    "x_quality_deciles" ->
      """WITH tk AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, len(toks)::BIGINT AS n_tokens,
        |    round(least(1.0, len(toks)/50.0)*0.4
        |        + (len(list_distinct(toks))::DOUBLE/len(toks))*0.3
        |        + least(1.0, (len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in'], t)))::DOUBLE/len(toks))*5.0)*0.3, 6) AS quality
        |  FROM tk),
        |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id) AS rn,
        |             COUNT(*) OVER () AS n FROM s)
        |SELECT ((rn - 1) * 10) // n + 1 AS decile, COUNT(*) AS n_docs,
        |  MIN(quality) AS min_quality, MAX(quality) AS max_quality,
        |  CAST(CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)/COUNT(*) AS avg_quality,
        |  SUM(n_tokens)::BIGINT AS total_tokens
        |FROM r GROUP BY 1 ORDER BY decile""".stripMargin,

    "x_epoch_mix" ->
      """WITH d AS (
        |  SELECT doc_id, lang, len(string_split(text, ' '))::BIGINT AS n_tok,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 3 END AS n_repeats
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_tok, unnest(range(1, n_repeats + 1)) AS copy_id FROM d),
        |b AS (
        |  SELECT lang, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_copies,
        |    SUM(n_tok)::BIGINT AS effective_tokens
        |  FROM c GROUP BY lang),
        |t AS (SELECT SUM(effective_tokens) AS epoch_tokens FROM b)
        |SELECT lang, n_docs, n_copies, effective_tokens,
        |  round(effective_tokens::DOUBLE / epoch_tokens, 6) AS mix_share
        |FROM b, t ORDER BY lang""".stripMargin,

    // alpha = 1/2 on purpose: sqrt is IEEE-correctly-rounded in every
    // engine (pow(x, 0.3) is not); rounded sqrts sum in DECIMAL, all
    // ratios divide the same rounded operands
    "x_temp_mix" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
        |w AS (SELECT lang, n_docs,
        |        round(sqrt(n_docs::DOUBLE), 6)::DECIMAL(18,6) AS sqrt_r FROM c),
        |r AS (SELECT lang, n_docs,
        |        round(n_docs::DOUBLE / (SELECT SUM(n_docs)::BIGINT FROM c), 6) AS share,
        |        round(sqrt_r::DOUBLE / (SELECT SUM(sqrt_r)::DOUBLE FROM w), 6) AS weight
        |      FROM w)
        |SELECT lang, n_docs, share, weight, round(weight / share, 6) AS boost
        |FROM r ORDER BY lang""".stripMargin,

    "x_lang_confusion" ->
      """WITH g AS (
        |  SELECT lang,
        |    CASE WHEN len(list_filter(string_split(text, ' '),
        |           t -> list_contains(['the','a','of','and','to','in'], t)))::DOUBLE
        |           / len(string_split(text, ' ')) > 0.05
        |      THEN 'en' ELSE 'other' END AS lang_guess
        |  FROM documents),
        |c AS (SELECT lang, lang_guess, COUNT(*) AS n_docs FROM g GROUP BY 1, 2)
        |SELECT lang, lang_guess, n_docs,
        |  round(n_docs::DOUBLE / SUM(n_docs) OVER (PARTITION BY lang), 6) AS lang_share
        |FROM c ORDER BY lang, lang_guess""".stripMargin,

    // char-trigram profile classifier: top-40 trigrams per lang by
    // document frequency, each doc votes for the most-shared profile
    // (hits DESC, plang tie-break); no hits at all -> 'und'. Short
    // strings (<3 chars) yield the whole string, the shingles contract
    "x_langid_ngram" ->
      """WITH g AS (
        |  SELECT doc_id, lang, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(text)-2, 1)+1), i -> substr(text, i, 3)))) AS tok
        |  FROM documents),
        |c AS (SELECT lang, tok, COUNT(*) AS c FROM g GROUP BY 1, 2),
        |prof AS (
        |  SELECT lang AS plang, tok FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS rk
        |    FROM c) WHERE rk <= 40),
        |hits AS (
        |  SELECT g.doc_id, p.plang, COUNT(*) AS hits
        |  FROM g JOIN prof p ON g.tok = p.tok GROUP BY 1, 2),
        |pred AS (
        |  SELECT doc_id, plang AS lang_pred FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, plang) AS rk
        |    FROM hits) WHERE rk = 1),
        |j AS (
        |  SELECT d.lang, COALESCE(p.lang_pred, 'und') AS lang_pred
        |  FROM documents d LEFT JOIN pred p ON d.doc_id = p.doc_id)
        |SELECT lang, lang_pred, COUNT(*)::BIGINT AS n_docs,
        |  round(COUNT(*)::DOUBLE / SUM(COUNT(*)::BIGINT) OVER (PARTITION BY lang), 6) AS lang_share
        |FROM j GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin,

    // Held-out langid evaluation: profile trains ONLY on the 80%
    // train split (PolyHash(doc_id) % 10 < 8 — x_split_leakage's
    // by-doc arithmetic), confusion is over the held-out 20% only
    "x_langid_holdout" ->
      """WITH ph AS (
        |  SELECT doc_id, lang, text,
        |    list_reduce(list_transform(range(1, len(CAST(doc_id AS VARCHAR))+1),
        |      i -> ascii(substr(CAST(doc_id AS VARCHAR), i, 1))::BIGINT),
        |      (acc,c) -> (acc*31+c)%1000000007) % 10 AS b
        |  FROM documents),
        |g_train AS (
        |  SELECT doc_id, lang, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(text)-2, 1)+1), i -> substr(text, i, 3)))) AS tok
        |  FROM ph WHERE b < 8),
        |c AS (SELECT lang, tok, COUNT(*) AS c FROM g_train GROUP BY 1, 2),
        |prof AS (
        |  SELECT lang AS plang, tok FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS rk
        |    FROM c) WHERE rk <= 40),
        |g_test AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(text)-2, 1)+1), i -> substr(text, i, 3)))) AS tok
        |  FROM ph WHERE b >= 8),
        |hits AS (
        |  SELECT g.doc_id, p.plang, COUNT(*) AS hits
        |  FROM g_test g JOIN prof p ON g.tok = p.tok GROUP BY 1, 2),
        |pred AS (
        |  SELECT doc_id, plang AS lang_pred FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, plang) AS rk
        |    FROM hits) WHERE rk = 1),
        |j AS (
        |  SELECT d.lang, COALESCE(p.lang_pred, 'und') AS lang_pred
        |  FROM ph d LEFT JOIN pred p ON d.doc_id = p.doc_id
        |  WHERE d.b >= 8)
        |SELECT lang, lang_pred, COUNT(*)::BIGINT AS n_docs,
        |  round(COUNT(*)::DOUBLE / SUM(COUNT(*)::BIGINT) OVER (PARTITION BY lang), 6) AS lang_share
        |FROM j GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin,

    // chunking: 64-token windows every 48 tokens (overlap 16); the
    // chunk fingerprint is the same rolling hash as x_doc_fingerprint
    "x_doc_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' '))::BIGINT AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, n_tok,
        |    unnest(range(0, GREATEST(CAST(ceil((n_tok - 64)::DOUBLE / 48) AS BIGINT), 0) + 1))::BIGINT AS chunk_idx
        |  FROM d),
        |s AS (
        |  SELECT doc_id, chunk_idx,
        |    LEAST(64, n_tok - chunk_idx*48) AS n_chunk_tokens,
        |    array_to_string(list_slice(toks, (chunk_idx*48+1)::BIGINT, (chunk_idx*48+64)::BIGINT), ' ') AS chunk
        |  FROM c)
        |SELECT doc_id, chunk_idx, n_chunk_tokens,
        |  list_reduce(list_transform(range(1, len(chunk)+1), i -> ascii(substr(chunk, i, 1))::BIGINT),
        |    (acc, ch) -> (acc*31+ch)%1000000007) AS chunk_fp
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,

    // chunk-level dedup over the same chunk table: first bearer of a
    // fingerprint (smallest doc_id, chunk_idx) is original, the rest
    // are dups; per-doc duplicate-chunk ratio
    "x_chunk_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' '))::BIGINT AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, n_tok,
        |    unnest(range(0, GREATEST(CAST(ceil((n_tok - 64)::DOUBLE / 48) AS BIGINT), 0) + 1))::BIGINT AS chunk_idx
        |  FROM d),
        |s AS (
        |  SELECT doc_id, chunk_idx,
        |    array_to_string(list_slice(toks, (chunk_idx*48+1)::BIGINT, (chunk_idx*48+64)::BIGINT), ' ') AS chunk
        |  FROM c),
        |fp AS (
        |  SELECT doc_id, chunk_idx,
        |    list_reduce(list_transform(range(1, len(chunk)+1), i -> ascii(substr(chunk, i, 1))::BIGINT),
        |      (acc, ch) -> (acc*31+ch)%1000000007) AS chunk_fp
        |  FROM s),
        |rk AS (
        |  SELECT doc_id, chunk_idx,
        |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY chunk_fp ORDER BY doc_id, chunk_idx) > 1
        |         THEN 1 ELSE 0 END AS is_dup
        |  FROM fp)
        |SELECT doc_id, COUNT(*) AS n_chunks, SUM(is_dup)::BIGINT AS n_dup_chunks,
        |  round(SUM(is_dup)::DOUBLE / COUNT(*), 6) AS dup_ratio
        |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "x_doc_packing" ->
      """WITH d AS (
        |  SELECT doc_id, lang, len(string_split(text, ' '))::BIGINT AS n_tok FROM documents),
        |c AS (
        |  SELECT lang, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
        |  FROM d)
        |SELECT lang, (cum - n_tok) // 256 AS seq_id, COUNT(*) AS n_docs,
        |  SUM(n_tok)::BIGINT AS n_tokens_started,
        |  SUM(CASE WHEN (cum - 1) // 256 <> (cum - n_tok) // 256 THEN 1 ELSE 0 END)::BIGINT AS n_straddlers
        |FROM c GROUP BY lang, seq_id ORDER BY lang, seq_id""".stripMargin,

    "x_doc_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_transform(range(1,len(text)+1), i -> ascii(substr(text,i,1))::BIGINT),
        |    (acc,c) -> (acc*31+c)%1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Winnowing (Schleimer et al. SIGMOD'03): 4-token gram hashes,
    // window-8 min selection, RIGHTMOST tie via the single packed
    // BIGINT gh*2^21 + (2^21 - pos) — identical pack on both engines,
    // so the argmin needs no engine-specific tie-break semantics.
    "x_winnowing" ->
      """WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)-2), i ->
        |    {'pos': i,
        |     'gh': list_reduce(list_transform(range(1, len(array_to_string(t[i:i+3],' '))+1),
        |            j -> ascii(substr(array_to_string(t[i:i+3],' '),j,1))::BIGINT),
        |            (a,c)->(a*31+c)%1000000007)})) AS u
        |  FROM tk WHERE len(t) >= 4
        |), g2 AS (SELECT doc_id, u.pos AS pos, u.gh AS gh FROM g),
        |n AS (SELECT doc_id, COUNT(*) AS ng FROM g2 GROUP BY doc_id),
        |m AS (
        |  SELECT doc_id, pos,
        |    min(gh*8589934592 + (8589934592 - pos)) OVER
        |      (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS packed
        |  FROM g2
        |), sel AS (
        |  SELECT DISTINCT m.doc_id, ng, packed FROM m JOIN n USING (doc_id)
        |  WHERE pos = 1 OR pos <= ng - 7
        |)
        |SELECT doc_id, ng AS n_grams, COUNT(*)::BIGINT AS n_fp,
        |  round(COUNT(*)::DOUBLE / greatest(ng - 7, 1), 6) AS density
        |FROM sel GROUP BY doc_id, ng ORDER BY doc_id""".stripMargin,

    // Winnowing density sweep: per window size w in {4,8,16} the
    // corpus-wide measured density vs the paper's 2/(w+1) expectation
    "x_winnow_sweep" ->
      """WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)-2), i ->
        |    {'pos': i,
        |     'gh': list_reduce(list_transform(range(1, len(array_to_string(t[i:i+3],' '))+1),
        |            j -> ascii(substr(array_to_string(t[i:i+3],' '),j,1))::BIGINT),
        |            (a,c)->(a*31+c)%1000000007)})) AS u
        |  FROM tk WHERE len(t) >= 4
        |), g2 AS (SELECT doc_id, u.pos AS pos, u.gh AS gh FROM g),
        |n AS (SELECT doc_id, COUNT(*) AS ng FROM g2 GROUP BY doc_id),
        |m4 AS (SELECT doc_id, pos, min(gh*8589934592 + (8589934592 - pos)) OVER
        |  (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS packed FROM g2),
        |s4 AS (SELECT DISTINCT m4.doc_id, ng, packed FROM m4 JOIN n USING (doc_id)
        |       WHERE pos = 1 OR pos <= ng - 3),
        |d4 AS (SELECT doc_id, ng, COUNT(*) AS fp FROM s4 GROUP BY doc_id, ng),
        |r4 AS (SELECT 4::BIGINT AS w, COUNT(*) AS n_docs, SUM(ng)::BIGINT AS n_grams,
        |       SUM(fp)::BIGINT AS n_fp,
        |       round(SUM(fp)::DOUBLE / SUM(greatest(ng-3,1)), 6) AS density,
        |       0.4::DOUBLE AS expected_density FROM d4),
        |m8 AS (SELECT doc_id, pos, min(gh*8589934592 + (8589934592 - pos)) OVER
        |  (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS packed FROM g2),
        |s8 AS (SELECT DISTINCT m8.doc_id, ng, packed FROM m8 JOIN n USING (doc_id)
        |       WHERE pos = 1 OR pos <= ng - 7),
        |d8 AS (SELECT doc_id, ng, COUNT(*) AS fp FROM s8 GROUP BY doc_id, ng),
        |r8 AS (SELECT 8::BIGINT AS w, COUNT(*) AS n_docs, SUM(ng)::BIGINT AS n_grams,
        |       SUM(fp)::BIGINT AS n_fp,
        |       round(SUM(fp)::DOUBLE / SUM(greatest(ng-7,1)), 6) AS density,
        |       0.222222::DOUBLE AS expected_density FROM d8),
        |m16 AS (SELECT doc_id, pos, min(gh*8589934592 + (8589934592 - pos)) OVER
        |  (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS packed FROM g2),
        |s16 AS (SELECT DISTINCT m16.doc_id, ng, packed FROM m16 JOIN n USING (doc_id)
        |        WHERE pos = 1 OR pos <= ng - 15),
        |d16 AS (SELECT doc_id, ng, COUNT(*) AS fp FROM s16 GROUP BY doc_id, ng),
        |r16 AS (SELECT 16::BIGINT AS w, COUNT(*) AS n_docs, SUM(ng)::BIGINT AS n_grams,
        |        SUM(fp)::BIGINT AS n_fp,
        |        round(SUM(fp)::DOUBLE / SUM(greatest(ng-15,1)), 6) AS density,
        |        0.117647::DOUBLE AS expected_density FROM d16)
        |SELECT * FROM r4 UNION ALL SELECT * FROM r8 UNION ALL SELECT * FROM r16
        |ORDER BY w""".stripMargin,

    // The winnowing guarantee, measured: truth = pairs sharing an
    // 11-token gram; detected = pairs sharing an UNCAPPED winnowed
    // fingerprint; recall must be exactly 1.0 (the SIGMOD'03 theorem)
    "x_winnow_audit" ->
      """WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |g11 AS (
        |  SELECT DISTINCT doc_id, gh FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t)-9), i ->
        |      list_reduce(list_transform(range(1, len(array_to_string(t[i:i+10],' '))+1),
        |        j -> ascii(substr(array_to_string(t[i:i+10],' '),j,1))::BIGINT),
        |        (a,c)->(a*31+c)%1000000007))) AS gh
        |    FROM tk WHERE len(t) >= 11)
        |), truth AS (
        |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |  FROM g11 a JOIN g11 b ON a.gh = b.gh AND a.doc_id < b.doc_id
        |), g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)-2), i ->
        |    {'pos': i,
        |     'gh': list_reduce(list_transform(range(1, len(array_to_string(t[i:i+3],' '))+1),
        |            j -> ascii(substr(array_to_string(t[i:i+3],' '),j,1))::BIGINT),
        |            (a,c)->(a*31+c)%1000000007)})) AS u
        |  FROM tk WHERE len(t) >= 4
        |), g2 AS (SELECT doc_id, u.pos AS pos, u.gh AS gh FROM g),
        |n AS (SELECT doc_id, COUNT(*) AS ng FROM g2 GROUP BY doc_id),
        |m AS (
        |  SELECT doc_id, pos,
        |    min(gh*8589934592 + (8589934592 - pos)) OVER
        |      (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS packed
        |  FROM g2
        |), sel AS (
        |  SELECT DISTINCT doc_id, packed // 8589934592 AS gh
        |  FROM m JOIN n USING (doc_id) WHERE pos = 1 OR pos <= ng - 7
        |), det AS (
        |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |  FROM sel a JOIN sel b ON a.gh = b.gh AND a.doc_id < b.doc_id
        |)
        |, counts AS (
        |  SELECT (SELECT COUNT(*) FROM truth)::BIGINT AS n_truth_pairs,
        |    (SELECT COUNT(*) FROM truth t
        |     WHERE EXISTS (SELECT 1 FROM det d WHERE d.da = t.da AND d.db = t.db))::BIGINT AS n_detected
        |)
        |SELECT n_truth_pairs, n_detected,
        |  round(n_detected::DOUBLE / greatest(n_truth_pairs, 1), 6) AS recall
        |FROM counts""".stripMargin,

    "x_winnow_overlap" ->
      """WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)-2), i ->
        |    {'pos': i,
        |     'gh': list_reduce(list_transform(range(1, len(array_to_string(t[i:i+3],' '))+1),
        |            j -> ascii(substr(array_to_string(t[i:i+3],' '),j,1))::BIGINT),
        |            (a,c)->(a*31+c)%1000000007)})) AS u
        |  FROM tk WHERE len(t) >= 4
        |), g2 AS (SELECT doc_id, u.pos AS pos, u.gh AS gh FROM g),
        |n AS (SELECT doc_id, COUNT(*) AS ng FROM g2 GROUP BY doc_id),
        |m AS (
        |  SELECT doc_id, pos,
        |    min(gh*8589934592 + (8589934592 - pos)) OVER
        |      (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS packed
        |  FROM g2
        |), sel AS (
        |  SELECT DISTINCT doc_id, packed // 8589934592 AS gh
        |  FROM m JOIN n USING (doc_id) WHERE pos = 1 OR pos <= ng - 7
        |), kept AS (
        |  SELECT s.* FROM sel s JOIN (
        |    SELECT gh FROM sel GROUP BY gh HAVING COUNT(*) <= 64
        |  ) k USING (gh)
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS n_shared
        |FROM kept a JOIN kept b ON a.gh = b.gh AND a.doc_id < b.doc_id
        |GROUP BY doc_a, doc_b HAVING COUNT(*) >= 2 ORDER BY doc_a, doc_b""".stripMargin,

    "x_ngram_jaccard" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, source, string_split(text,' ') AS toks FROM documents
        |), h AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(list_transform(
        |      list_transform(range(1, len(toks)-1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
        |      g -> list_reduce(list_transform(range(1,len(g)+1),
        |             i -> ascii(substr(g,i,1))::BIGINT), (acc,c) -> (acc*31+c)%1000000007))) AS ghs
        |  FROM tk WHERE len(toks) >= 3
        |), r AS (
        |  SELECT doc_id, lang, source, unnest(ghs) AS gh FROM h
        |), kept AS (
        |  SELECT r.* FROM r JOIN (
        |    SELECT lang, source, gh FROM r GROUP BY lang, source, gh HAVING COUNT(*) <= 64
        |  ) k USING (lang, source, gh)
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id
        |), ins AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        |  FROM kept a JOIN kept b
        |    ON a.lang = b.lang AND a.source = b.source AND a.gh = b.gh
        |   AND a.doc_id < b.doc_id
        |  GROUP BY doc_a, doc_b
        |)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT i.doc_a, i.doc_b,
        |    round(i.n_common::DOUBLE / (sa.sz + sb.sz - i.n_common), 6) AS jaccard
        |  FROM ins i JOIN sizes sa ON i.doc_a = sa.doc_id
        |             JOIN sizes sb ON i.doc_b = sb.doc_id
        |) WHERE jaccard >= 0.02 ORDER BY doc_a, doc_b""".stripMargin,

    // Exact-substring dedup (Lee et al. ExactSubstr, 2107.06499):
    // positions whose 8-token gram (PolyHash of the space-joined
    // tokens — identical Horner fold to the Spark side) occurs in >= 2
    // distinct docs, merged gaps-and-islands into maximal spans (a gap
    // > 8 breaks coverage). pos from range() is BIGINT here vs Spark
    // INT — group-key only, never output; sums/counts land as BIGINT
    // on both sides, total_tokens casts explicitly.
    "x_substring_dedup" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text,' ') AS t FROM documents
        |), g0 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)-6), i ->
        |    {'i': i,
        |     'gh': list_reduce(list_transform(range(1, len(array_to_string(t[i:i+7],' '))+1),
        |            j -> ascii(substr(array_to_string(t[i:i+7],' '),j,1))::BIGINT),
        |            (a,c)->(a*31+c)%1000000007)})) AS u
        |  FROM tk WHERE len(t) >= 8
        |), g AS (
        |  SELECT doc_id, u.i AS pos, u.gh AS gh FROM g0
        |), dup AS (
        |  SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2
        |), hit AS (
        |  SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)
        |), brk AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN LAG(pos) OVER w IS NULL OR pos - LAG(pos) OVER w > 8
        |         THEN 1 ELSE 0 END AS b
        |  FROM hit WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |), isl AS (
        |  SELECT doc_id, pos, SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM brk
        |), spans AS (
        |  SELECT doc_id, island, MAX(pos) - MIN(pos) + 8 AS span_tokens
        |  FROM isl GROUP BY doc_id, island
        |), per_doc AS (
        |  SELECT doc_id, COUNT(*) AS n_spans,
        |    CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens
        |  FROM spans GROUP BY doc_id
        |)
        |SELECT p.doc_id,
        |  CAST(len(string_split(d.text,' ')) AS BIGINT) AS total_tokens,
        |  p.n_spans, p.dup_tokens,
        |  round(p.dup_tokens::DOUBLE / len(string_split(d.text,' ')), 6) AS dup_share
        |FROM per_doc p JOIN documents d USING (doc_id)
        |ORDER BY p.doc_id""".stripMargin,

    // Strip plan: the canonical occurrence of each duplicated gram is
    // its min (doc_id, pos) — ROW_NUMBER here, min(struct) Spark-side,
    // the same deterministic choice; every other occurrence is removed
    // and the removed positions run the identical island arithmetic
    "x_substring_strip" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text,' ') AS t FROM documents
        |), g0 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)-6), i ->
        |    {'i': i,
        |     'gh': list_reduce(list_transform(range(1, len(array_to_string(t[i:i+7],' '))+1),
        |            j -> ascii(substr(array_to_string(t[i:i+7],' '),j,1))::BIGINT),
        |            (a,c)->(a*31+c)%1000000007)})) AS u
        |  FROM tk WHERE len(t) >= 8
        |), g AS (
        |  SELECT doc_id, u.i AS pos, u.gh AS gh FROM g0
        |), dup AS (
        |  SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2
        |), h AS (
        |  SELECT g.doc_id, g.pos, g.gh FROM g JOIN dup USING (gh)
        |), canon AS (
        |  SELECT gh, doc_id AS c_doc, pos AS c_pos FROM (
        |    SELECT gh, doc_id, pos,
        |      ROW_NUMBER() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn
        |    FROM h) WHERE rn = 1
        |), rem AS (
        |  SELECT h.doc_id, h.pos FROM h JOIN canon USING (gh)
        |  WHERE h.doc_id <> canon.c_doc OR h.pos <> canon.c_pos
        |), brk AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN LAG(pos) OVER w IS NULL OR pos - LAG(pos) OVER w > 8
        |         THEN 1 ELSE 0 END AS b
        |  FROM rem WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |), isl AS (
        |  SELECT doc_id, pos, SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM brk
        |), spans AS (
        |  SELECT doc_id, island, MAX(pos) - MIN(pos) + 8 AS span_tokens
        |  FROM isl GROUP BY doc_id, island
        |), per_doc AS (
        |  SELECT doc_id, CAST(SUM(span_tokens) AS BIGINT) AS removed
        |  FROM spans GROUP BY doc_id
        |)
        |SELECT p.doc_id,
        |  CAST(len(string_split(d.text,' ')) AS BIGINT) AS total_tokens,
        |  p.removed AS removed_tokens,
        |  CAST(len(string_split(d.text,' ')) AS BIGINT) - p.removed AS kept_tokens,
        |  round(p.removed::DOUBLE / len(string_split(d.text,' ')), 6) AS removed_share
        |FROM per_doc p JOIN documents d USING (doc_id)
        |ORDER BY p.doc_id""".stripMargin,

    // Top boilerplate spans: same gram table as x_substring_dedup;
    // top-15 by (n_docs DESC, n_occ DESC, gh) — gh is the unique
    // tie-break so the LIMIT boundary is deterministic in both
    // engines; the representative occurrence is the min (doc_id, pos)
    "x_substring_hotspots" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text,' ') AS t FROM documents
        |), g0 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)-6), i ->
        |    {'i': i,
        |     'gh': list_reduce(list_transform(range(1, len(array_to_string(t[i:i+7],' '))+1),
        |            j -> ascii(substr(array_to_string(t[i:i+7],' '),j,1))::BIGINT),
        |            (a,c)->(a*31+c)%1000000007)})) AS u
        |  FROM tk WHERE len(t) >= 8
        |), g AS (
        |  SELECT doc_id, u.i AS pos, u.gh AS gh FROM g0
        |), top AS (
        |  SELECT gh, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
        |  FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2
        |  ORDER BY n_docs DESC, n_occ DESC, gh LIMIT 15
        |), rep AS (
        |  SELECT gh, n_docs, n_occ, doc_id, pos FROM (
        |    SELECT t.gh, t.n_docs, t.n_occ, g.doc_id, g.pos,
        |      ROW_NUMBER() OVER (PARTITION BY t.gh ORDER BY g.doc_id, g.pos) AS rn
        |    FROM top t JOIN g ON g.gh = t.gh) WHERE rn = 1
        |)
        |SELECT r.gh,
        |  array_to_string((string_split(d.text,' '))[r.pos:r.pos+7], ' ') AS gram,
        |  r.n_docs, r.n_occ
        |FROM rep r JOIN documents d USING (doc_id)
        |ORDER BY r.n_docs DESC, r.n_occ DESC, r.gh""".stripMargin,

    "x_substring_hotspots50" ->
      ("""WITH tk AS (
         |  SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |""".stripMargin + spanGramCte(50, "50") + ",\n" +
       """top AS (
         |  SELECT gh, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
         |  FROM g50 GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2
         |  ORDER BY n_docs DESC, n_occ DESC, gh LIMIT 15
         |), rep AS (
         |  SELECT gh, n_docs, n_occ, doc_id, pos FROM (
         |    SELECT t.gh, t.n_docs, t.n_occ, g.doc_id, g.pos,
         |      ROW_NUMBER() OVER (PARTITION BY t.gh ORDER BY g.doc_id, g.pos) AS rn
         |    FROM top t JOIN g50 g ON g.gh = t.gh) WHERE rn = 1
         |)
         |SELECT r.gh,
         |  array_to_string((string_split(d.text,' '))[r.pos:r.pos+49], ' ') AS gram,
         |  r.n_docs, r.n_occ
         |FROM rep r JOIN documents d USING (doc_id)
         |ORDER BY r.n_docs DESC, r.n_occ DESC, r.gh""".stripMargin),

    "x_substring_sweep" ->
      ("""WITH tk AS (
         |  SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |c AS (SELECT SUM(len(t))::BIGINT AS corpus_tokens FROM tk),
         |""".stripMargin +
       graft.operators.Dedup.SpanSweepSizes.map(sweepPointCtes).mkString(",\n") + "\n" +
       s"""SELECT gram_n, n_docs, n_spans, dup_tokens,
          |  round(dup_tokens::DOUBLE / corpus_tokens, 6) AS dup_share
          |FROM (${graft.operators.Dedup.SpanSweepSizes.map(g => s"SELECT * FROM roll$g")
                    .mkString(" UNION ALL ")}), c
          |ORDER BY gram_n""".stripMargin),

    "x_text_stats" ->
      """WITH tk AS (SELECT doc_id, text, string_split(text,' ') AS toks FROM documents)
        |SELECT doc_id,
        |  len(toks)::BIGINT AS n_tokens,
        |  len(regexp_extract_all(text, '[a-z0-9]+'))::BIGINT AS n_regex_tokens,
        |  len(text)::BIGINT AS n_chars,
        |  round(len(list_distinct(toks))::DOUBLE/len(toks),6) AS ttr,
        |  round(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in'], t)))::DOUBLE/len(toks),6) AS stop_ratio,
        |  ceil(len(text)/4.0)::BIGINT AS est_bpe_tokens,
        |  CASE WHEN len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in'], t)))::DOUBLE/len(toks) > 0.05
        |       THEN 'en' ELSE 'other' END AS lang_guess,
        |  round(least(1.0, len(toks)/50.0)*0.4
        |      + (len(list_distinct(toks))::DOUBLE/len(toks))*0.3
        |      + least(1.0, (len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in'], t)))::DOUBLE/len(toks))*5.0)*0.3, 6) AS quality
        |FROM tk ORDER BY doc_id""".stripMargin,

    "x_text_quality_by_lang" ->
      """WITH tk AS (SELECT doc_id, text, string_split(text,' ') AS toks FROM documents),
        |s AS (
        |  SELECT len(toks)::BIGINT AS n_tokens,
        |    CASE WHEN len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in'], t)))::DOUBLE/len(toks) > 0.05
        |         THEN 'en' ELSE 'other' END AS lang_guess,
        |    round(least(1.0, len(toks)/50.0)*0.4
        |        + (len(list_distinct(toks))::DOUBLE/len(toks))*0.3
        |        + least(1.0, (len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in'], t)))::DOUBLE/len(toks))*5.0)*0.3, 6) AS quality
        |  FROM tk
        |)
        |SELECT lang_guess, COUNT(*) AS n_docs, SUM(n_tokens)::BIGINT AS total_tokens,
        |  CAST(CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)/COUNT(*) AS avg_quality
        |FROM s GROUP BY lang_guess ORDER BY lang_guess""".stripMargin,

    "x_knn_brute" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE*x::DOUBLE), (a,b)->a+b)) AS nrm
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm FROM e WHERE vec_id < 10
        |), scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(list_reduce(list_transform(range(1,65),
        |      i -> e.embedding[i]::DOUBLE * q.q_emb[i]::DOUBLE), (a,b)->a+b)/(e.nrm*q.q_nrm), 6) AS cos
        |  FROM e, q WHERE e.vec_id <> q.query_id
        |)
        |SELECT query_id, neighbor_id, rk, cos FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)::BIGINT AS rk
        |  FROM scored
        |) WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    "x_knn_lsh" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE*x::DOUBLE), (a,b)->a+b)) AS nrm,
        |    list_sum(list_transform(range(0,8), j ->
        |      CASE WHEN list_reduce(list_transform(range(0,64), i ->
        |        embedding[i+1]::DOUBLE * (((j*64+i)*1103515245 + 12345) % 65536 - 32768)::DOUBLE),
        |        (a,b)->a+b) > 0
        |      THEN (1::BIGINT)<<j ELSE 0 END))::BIGINT AS bucket
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm, bucket AS q_bucket
        |  FROM e WHERE vec_id < 10
        |), scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(list_reduce(list_transform(range(1,65),
        |      i -> e.embedding[i]::DOUBLE * q.q_emb[i]::DOUBLE), (a,b)->a+b)/(e.nrm*q.q_nrm), 6) + 0 AS cos
        |  FROM e JOIN q ON e.bucket = q.q_bucket AND e.vec_id <> q.query_id
        |)
        |SELECT query_id, neighbor_id, rk, cos FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)::BIGINT AS rk
        |  FROM scored
        |) WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    "x_knn_ivf" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE*x::DOUBLE), (a,b)->a+b)) AS nrm
        |  FROM embeddings
        |), cents AS (
        |  SELECT vec_id AS centroid_id, embedding AS c_emb, nrm AS c_nrm FROM e WHERE vec_id < 16
        |), ranked AS (
        |  SELECT e.vec_id, e.embedding, e.nrm, c.centroid_id,
        |    round(list_reduce(list_transform(range(1,65),
        |      i -> e.embedding[i]::DOUBLE * c.c_emb[i]::DOUBLE), (a,b)->a+b)/(e.nrm*c.c_nrm), 6) AS c_sim
        |  FROM e, cents c
        |), cells AS (
        |  SELECT vec_id, embedding, nrm, centroid_id AS cell FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rk
        |    FROM ranked
        |  ) WHERE rk = 1
        |), qcells AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm, centroid_id AS cell FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rk
        |    FROM ranked WHERE vec_id < 10
        |  ) WHERE rk <= 2
        |), scored AS (
        |  SELECT DISTINCT q.query_id, c2.vec_id AS neighbor_id,
        |    round(list_reduce(list_transform(range(1,65),
        |      i -> c2.embedding[i]::DOUBLE * q.q_emb[i]::DOUBLE), (a,b)->a+b)/(c2.nrm*q.q_nrm), 6) AS cos
        |  FROM cells c2 JOIN qcells q ON c2.cell = q.cell AND c2.vec_id <> q.query_id
        |)
        |SELECT query_id, neighbor_id, rk, cos FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)::BIGINT AS rk
        |  FROM scored
        |) WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    // reciprocal rank fusion over three equal-cost DECORRELATED IVF
    // retrievers (disjoint centroid seed ranges — rrfIvfCtes mirrors
    // Similarity.rrfFusion's cents(lo); see that scaladoc for the
    // measured retriever-set rationale); fusion sums the frozen
    // round(1e12/(60+rank)) BIGINT weights (Similarity.rrfWeightsU —
    // interpolated below, so engine and oracle share ONE literal
    // table); output is per-retriever recall vs brute truth, exact
    // counts + one round-6 divide
    "x_rrf_fusion" ->
      s"""WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE*x::DOUBLE), (a,b)->a+b)) AS nrm
        |  FROM embeddings
        |), ${rrfIvfCtes("_a", 16)},
        |${rrfIvfCtes("_b", 32)},
        |${rrfIvfCtes("_c", 48)},
        |scored_t AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(list_reduce(list_transform(range(1,65),
        |      i -> e.embedding[i]::DOUBLE * q.q_emb[i]::DOUBLE), (a,b)->a+b)/(e.nrm*q.q_nrm), 6) AS cos
        |  FROM e, (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
        |           FROM e WHERE vec_id < 10) q
        |  WHERE e.vec_id <> q.query_id
        |), top_t AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        |    FROM scored_t) WHERE rk <= 5
        |), lists AS (
        |  SELECT 'ivf_a' AS retriever, query_id, neighbor_id, rk FROM top_a
        |  UNION ALL SELECT 'ivf_b', query_id, neighbor_id, rk FROM top_b
        |  UNION ALL SELECT 'ivf_c', query_id, neighbor_id, rk FROM top_c
        |), wl AS (
        |  SELECT retriever, query_id, neighbor_id,
        |    CASE rk ${Similarity.rrfWeightsU(5).zipWithIndex.map {
                 case (wu, i) => s"WHEN ${i + 1} THEN ${wu}::BIGINT" }
                 .mkString(" ")} ELSE 0 END AS w_u
        |  FROM lists
        |), fused AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY SUM(w_u)::BIGINT DESC, neighbor_id) AS frk
        |    FROM wl GROUP BY query_id, neighbor_id) WHERE frk <= 5
        |), all_lists AS (
        |  SELECT retriever, query_id, neighbor_id FROM lists
        |  UNION ALL SELECT 'rrf_fused', query_id, neighbor_id FROM fused
        |), hits AS (
        |  SELECT retriever, COUNT(*)::BIGINT AS n_hits
        |  FROM all_lists a JOIN top_t b USING (query_id, neighbor_id) GROUP BY retriever
        |), den AS (SELECT COUNT(*)::BIGINT AS n_truth FROM top_t),
        |names AS (SELECT unnest(['ivf_a','ivf_b','ivf_c','rrf_fused']) AS retriever)
        |SELECT n.retriever AS retriever, d.n_truth, COALESCE(h.n_hits, 0)::BIGINT AS n_hits,
        |  round(COALESCE(h.n_hits, 0)::DOUBLE / d.n_truth, 6) + 0 AS recall
        |FROM names n CROSS JOIN den d LEFT JOIN hits h ON n.retriever = h.retriever
        |ORDER BY 1""".stripMargin,

    "x_emb_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE*x::DOUBLE), (a,b)->a+b)) AS nrm,
        |    list_transform(range(0,2), b ->
        |      list_sum(list_transform(range(0,12), j ->
        |        CASE WHEN list_reduce(list_transform(range(0,64), i ->
        |          embedding[i+1]::DOUBLE * ((((b*12+j)*64+i)*1103515245 + 12345) % 65536 - 32768)::DOUBLE),
        |          (a2,b2)->a2+b2) > 0
        |        THEN (1::BIGINT)<<j ELSE 0 END))::BIGINT) AS bands
        |  FROM embeddings
        |), br AS (
        |  SELECT vec_id, b AS band, bands[b+1] AS bh FROM e, range(0,2) t(b)
        |), pairs AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
        |  FROM br a JOIN br c ON a.band = c.band AND a.bh = c.bh AND a.vec_id < c.vec_id
        |)
        |SELECT vec_a, vec_b, cos FROM (
        |  SELECT p.vec_a, p.vec_b,
        |    round(list_reduce(list_transform(range(1,65),
        |      i -> ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE), (a2,b2)->a2+b2)/(ea.nrm*eb.nrm), 6) AS cos
        |  FROM pairs p JOIN e ea ON p.vec_a = ea.vec_id JOIN e eb ON p.vec_b = eb.vec_id
        |) WHERE cos >= 0.35 ORDER BY vec_a, vec_b""".stripMargin,

    "x_frame_sample" ->
      """WITH d AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS nb
        |  FROM documents WHERE doc_id < 50
        |), f AS (
        |  SELECT doc_id, unnest(range(0, greatest((nb-1)//64,0)+1)) AS frame_idx, text
        |  FROM d
        |)
        |SELECT doc_id, frame_idx::BIGINT AS frame_idx,
        |  octet_length(encode(substr(text, (frame_idx*64+1)::INT, 64)))::BIGINT AS n_frame_bytes,
        |  lower(substr(hex(encode(substr(text, (frame_idx*64+1)::INT, 4))),1,8)) AS head_hex
        |FROM f WHERE frame_idx % 4 = 0 ORDER BY doc_id, frame_idx""".stripMargin,

    // frame-level dedup: md5 over the UTF-8 frame bytes; DuckDB's
    // md5(VARCHAR) hashes the same bytes the Spark BINARY substring
    // carries (the corpus is ASCII — the documented payload contract)
    // perceptual-hash near-dup over REAL decoded 16-px BMPs: the
    // oracle predicts the decoded pixel luminances from the text
    // (B,G,R = the padded text's bytes), rebuilds the 16-bit aHash
    // with the exact gray*16 > total comparison, and re-runs the
    // banded candidate join + exact hamming verify
    "x_media_ahash" ->
      """WITH px AS (SELECT doc_id, rpad(text, 48, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(0, 16),
        |    p -> {'p': p, 'gray': ascii(substr(t, 3*p+1, 1)) + ascii(substr(t, 3*p+2, 1))
        |                          + ascii(substr(t, 3*p+3, 1))})) AS pg
        |  FROM px),
        |g2 AS (SELECT doc_id, pg.p AS p, pg.gray AS gray FROM g),
        |h AS (
        |  SELECT doc_id,
        |    SUM(CASE WHEN gray*16 > tot THEN (1::BIGINT)<<p ELSE 0 END)::BIGINT AS ahash
        |  FROM (SELECT doc_id, p, gray, SUM(gray) OVER (PARTITION BY doc_id) AS tot FROM g2)
        |  GROUP BY doc_id),
        |b AS (SELECT doc_id, ahash, 0 AS band, ahash % 256 AS key FROM h
        |      UNION ALL SELECT doc_id, ahash, 1, ahash // 256 FROM h),
        |pr AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b2,
        |    bit_count(xor(x.ahash, y.ahash))::BIGINT AS hamming
        |  FROM b x JOIN b y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
        |f AS (SELECT * FROM pr WHERE hamming <= 1),
        |np AS (SELECT hamming, COUNT(*) AS n_pairs FROM f GROUP BY hamming),
        |nd AS (SELECT hamming, COUNT(DISTINCT d) AS n_docs FROM (
        |        SELECT hamming, a AS d FROM f
        |        UNION ALL SELECT hamming, b2 FROM f) GROUP BY hamming)
        |SELECT hamming, n_pairs, n_docs FROM np JOIN nd USING (hamming)
        |ORDER BY hamming""".stripMargin,

    "x_frame_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS nb FROM documents
        |), f AS (
        |  SELECT doc_id, unnest(range(0, greatest((nb-1)//64,0)+1)) AS frame_idx, text
        |  FROM d
        |), s AS (
        |  SELECT doc_id, frame_idx,
        |    md5(substr(text, (frame_idx*64+1)::INT, 64)) AS fp
        |  FROM f WHERE frame_idx % 4 = 0
        |), r AS (
        |  SELECT doc_id, fp,
        |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, frame_idx) AS rk
        |  FROM s)
        |SELECT doc_id, COUNT(*) AS n_frames,
        |  SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_frames,
        |  round(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6) AS dup_ratio
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "x_multimodal_meta" ->
      """SELECT doc_id,
        |  octet_length(encode(text))::BIGINT AS n_bytes,
        |  lower(substr(hex(encode(text)),1,16)) AS header_hex,
        |  round(((octet_length(encode(text))*1 + ascii(substr(text,1,1))) % 1000)/1000.0, 6) AS f0,
        |  round(((octet_length(encode(text))*3 + ascii(substr(text,2,1))) % 1000)/1000.0, 6) AS f1,
        |  round(((octet_length(encode(text))*5 + ascii(substr(text,3,1))) % 1000)/1000.0, 6) AS f2,
        |  round(((octet_length(encode(text))*7 + ascii(substr(text,4,1))) % 1000)/1000.0, 6) AS f3
        |FROM documents ORDER BY doc_id""".stripMargin,

    // media decode → ANN composition: stub-decoded 4-dim features as
    // the IVF corpus. /1024 keeps every feature a dyadic rational
    // (exact in FLOAT and DOUBLE), so cosine arithmetic is
    // bit-identical across engines; pipeline mirrors x_knn_ivf.
    "x_media_knn" ->
      """WITH f AS (
        |  SELECT doc_id AS vec_id,
        |    [ ((octet_length(encode(text))*1 + ascii(substr(text,1,1))) % 1000)/1024.0,
        |      ((octet_length(encode(text))*3 + ascii(substr(text,2,1))) % 1000)/1024.0,
        |      ((octet_length(encode(text))*5 + ascii(substr(text,3,1))) % 1000)/1024.0,
        |      ((octet_length(encode(text))*7 + ascii(substr(text,4,1))) % 1000)/1024.0 ] AS emb
        |  FROM documents
        |), e AS (
        |  SELECT vec_id, emb,
        |    sqrt(list_reduce(list_transform(emb, x -> x*x), (a,b)->a+b)) AS nrm
        |  FROM f
        |), cents AS (
        |  SELECT vec_id AS centroid_id, emb AS c_emb, nrm AS c_nrm FROM e WHERE vec_id < 8
        |), ranked AS (
        |  SELECT e.vec_id, e.emb, e.nrm, c.centroid_id,
        |    round(list_reduce(list_transform(range(1,5),
        |      i -> e.emb[i] * c.c_emb[i]), (a,b)->a+b)/(e.nrm*c.c_nrm), 6) AS c_sim
        |  FROM e, cents c
        |), cells AS (
        |  SELECT vec_id, emb, nrm, centroid_id AS cell FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rk
        |    FROM ranked
        |  ) WHERE rk = 1
        |), qcells AS (
        |  SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm, centroid_id AS cell FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rk
        |    FROM ranked WHERE vec_id < 10
        |  ) WHERE rk <= 2
        |), scored AS (
        |  SELECT DISTINCT q.query_id, c2.vec_id AS neighbor_id,
        |    round(list_reduce(list_transform(range(1,5),
        |      i -> c2.emb[i] * q.q_emb[i]), (a,b)->a+b)/(c2.nrm*q.q_nrm), 6) AS cos
        |  FROM cells c2 JOIN qcells q ON c2.cell = q.cell AND c2.vec_id <> q.query_id
        |)
        |SELECT query_id, neighbor_id, rk, cos FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)::BIGINT AS rk
        |  FROM scored
        |) WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    // Predicts the REAL BMP decode: pixel i of the 4x1 fixture image is
    // the text's byte triple (B,G,R) = chars 3i+1..3i+3 (space-padded),
    // and the feature is the packed 24-bit RGB over 2^24 — what a
    // correct javax.imageio round-trip must return. Same IVF tail as
    // x_media_knn.
    "x_media_knn_real" ->
      ("""WITH f AS (
         |  SELECT doc_id AS vec_id,
         |    [""".stripMargin +
       (0 until 4).map(i =>
         s"""      (ascii(substr(rpad(text,12,' '),${3 * i + 3},1))*65536
            |       + ascii(substr(rpad(text,12,' '),${3 * i + 2},1))*256
            |       + ascii(substr(rpad(text,12,' '),${3 * i + 1},1)))/16777216.0""".stripMargin)
         .mkString(",\n") + """ ] AS emb
         |  FROM documents
         |), e AS (
         |  SELECT vec_id, emb,
         |    sqrt(list_reduce(list_transform(emb, x -> x*x), (a,b)->a+b)) AS nrm
         |  FROM f
         |), cents AS (
         |  SELECT vec_id AS centroid_id, emb AS c_emb, nrm AS c_nrm FROM e WHERE vec_id < 8
         |), ranked AS (
         |  SELECT e.vec_id, e.emb, e.nrm, c.centroid_id,
         |    round(list_reduce(list_transform(range(1,5),
         |      i -> e.emb[i] * c.c_emb[i]), (a,b)->a+b)/(e.nrm*c.c_nrm), 6) AS c_sim
         |  FROM e, cents c
         |), cells AS (
         |  SELECT vec_id, emb, nrm, centroid_id AS cell FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rk
         |    FROM ranked
         |  ) WHERE rk = 1
         |), qcells AS (
         |  SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm, centroid_id AS cell FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rk
         |    FROM ranked WHERE vec_id < 10
         |  ) WHERE rk <= 2
         |), scored AS (
         |  SELECT DISTINCT q.query_id, c2.vec_id AS neighbor_id,
         |    round(list_reduce(list_transform(range(1,5),
         |      i -> c2.emb[i] * q.q_emb[i]), (a,b)->a+b)/(c2.nrm*q.q_nrm), 6) AS cos
         |  FROM cells c2 JOIN qcells q ON c2.cell = q.cell AND c2.vec_id <> q.query_id
         |)
         |SELECT query_id, neighbor_id, rk, cos FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)::BIGINT AS rk
         |  FROM scored
         |) WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin)
  )
}
