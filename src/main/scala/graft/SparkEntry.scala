package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.control.NonFatal

/** Driver contract (SURVEY.md §7): the query catalog that `Verify`,
  * `Bench`, `tools.Explain` and the benchmark's query_mix run. Every query
  * is declared once, in [[catalog]], with its Spark plan and its DuckDB
  * twin, so the driver's hash-compare verifies each one end to end.
  */
object SparkEntry {

  /** One registered query: `build` makes its Spark plan over a fixture
    * directory; `oracle` is equivalent SQL that DuckDB runs on the same
    * parquet tables, whose rows the oracle hash-compares with `build`'s. */
  final case class Query(
      name: String,
      build: (SparkSession, String) => DataFrame,
      oracle: String)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** Every registered query, one line each: name, builder, twin. */
  lazy val catalog: Seq[Query] = {
    import Queries._, TransformQueries._, ExtQueries._
    Seq(
      Query("q1_pricing_summary", q1PricingSummary, q1Sql),
      Query("q3_shipping_priority", q3ShippingPriority, q3Sql),
      Query("q4_order_priority", q4OrderPriority, q4Sql),
      Query("q5_local_supplier", q5LocalSupplier, q5Sql),
      Query("q6_forecast_revenue", q6ForecastRevenue, q6Sql),
      Query("q7_window_topn", q7WindowTopN, q7Sql),
      Query("q8_rollup", q8Rollup, q8Sql),
      Query("q9_set_ops", q9SetOps, q9Sql),
      Query("q10_distinct_agg", q10DistinctAgg, q10Sql),
      Query("q11_anti_join", q11AntiJoin, q11Sql),
      Query("q13_cust_dist", q13CustDist, q13Sql),
      Query("q14_promo_share", q14PromoShare, q14Sql),
      Query("q15_top_supplier", q15TopSupplier, q15Sql),
      Query("q17_small_qty", q17SmallQty, q17Sql),
      Query("q18_large_orders", q18LargeOrders, q18Sql),
      Query("q10_returned_items", q10ReturnedItems, q10ReturnedSql),
      Query("q19_disjunctive", q19DisjunctivePredicates, q19Sql),
      Query("q22_inactive_rich", q22InactiveRich, q22Sql),
      Query("q_nation_top_balance", qNationTopBalance, qNationTopBalanceSql),
      Query("q_window_running", qWindowRunning, qWindowRunningSql),
      Query("q_window_frames", qWindowFrames, qWindowFramesSql),
      Query("q_cube_counts", qCubeCounts, qCubeCountsSql),
      Query("q_events_hourly", qEventsHourly, qEventsHourlySql),
      Query("q_events_json", qEventsJson, qEventsJsonSql),
      Query("q_events_sessions", qEventsSessions, qEventsSessionsSql),
      Query("q_asof_join", qAsofJoin, qAsofJoinSql),
      Query("q_asof_forward", qAsofForward, qAsofForwardSql),
      Query("q_asof_tolerance", qAsofTolerance, qAsofToleranceSql),
      Query("q_interval_join", qIntervalJoin, qIntervalJoinSql),
      Query("q_pivot", qPivot, qPivotSql),
      Query("q_percentiles", qPercentiles, qPercentilesSql),
      Query("q_corr", qCorr, qCorrSql),
      Query("q_histogram", qHistogram, qHistogramSql),
      Query("q_listagg", qListagg, qListaggSql),
      Query("q_unpivot", qUnpivot, qUnpivotSql),
      Query("q_window_range", qWindowRange, qWindowRangeSql),
      // transform-layer wiring (W1/W2/A4/J1/W5-W6/F1)
      Query("t_profile_counts", tProfileCounts, tProfileCountsSql),
      Query("t_summary_stats", tSummaryStats, tSummaryStatsSql),
      Query("t_derive_flags", tDeriveFlags, tDeriveFlagsSql),
      Query("t_topk_values", tTopkValues, tTopkValuesSql),
      Query("t_ids_contiguous", tIdsContiguous, tIdsContiguousSql),
      Query("t_dedupe_append", tDedupeAppend, tDedupeAppendSql),
      Query("t_stringify_export", tStringifyExport, tStringifyExportSql),
      Query("t_parse_flag", tParseFlag, tParseFlagSql),
      Query("t_sql_passthrough", tSqlPassthrough, passthroughSql),
      Query("t_salted_agg", tSaltedAgg, tSaltedAggSql),
      // I/O round-trips (S1/S2/K3 + S7 DSv2 write/scan)
      Query("t_csv_roundtrip", tCsvRoundtrip, tCsvRoundtripSql),
      Query("t_keyed_pushdown", tKeyedPushdown, tKeyedPushdownSql),
      Query("t_scrape_manifest", tScrapeManifest, tScrapeManifestSql),
      Query("t_quality_checks", tQualityChecks, tQualityChecksSql),
      // LLM-pipeline north-star ops (SURVEY §2.10)
      Query("x_dedup_exact", xDedupExact, xDedupExactSql),
      Query("x_dedup_jaccard", xDedupJaccard, xDedupJaccardSql),
      Query("x_dedup_minhash", xDedupMinhash, xDedupMinhashSql),
      Query("x_dedup_embed", xDedupEmbed, xDedupEmbedSql),
      Query("x_dedup_simhash", xDedupSimhash, xDedupSimhashSql),
      Query("x_sim_topk", xSimTopk, xSimTopkSql),
      Query("x_embed_negatives", xEmbedNegatives, xEmbedNegativesSql),
      Query("x_hybrid_rrf", xHybridRrf, xHybridRrfSql),
      Query("x_sim_ann", xSimAnn, xSimAnnSql),
      Query("x_sim_ivf", xSimIvf, xSimIvfSql),
      Query("x_sim_pq", xSimPq, xSimPqSql),
      Query("x_dedup_corpus", xDedupCorpus, xDedupCorpusSql),
      Query("x_snapshot_diff", xSnapshotDiff, xSnapshotDiffSql),
      Query("x_curriculum", xCurriculum, xCurriculumSql),
      Query("x_embed_kmeans", xEmbedKmeans, xEmbedKmeansSql),
      Query("x_embed_silhouette", xEmbedSilhouette, xEmbedSilhouetteSql),
      Query("x_text_nfc", xTextNfc, xTextNfcSql),
      Query("x_mmr_rerank", xMmrRerank, xMmrRerankSql),
      Query("x_corpus_zipf", xCorpusZipf, xCorpusZipfSql),
      Query("x_quality_classify", xQualityClassify, xQualityClassifySql),
      Query("x_quality_nb", xQualityNb, xQualityNbSql),
      Query("x_quality_qnorm", xQualityQnorm, xQualityQnormSql),
      Query("x_quality_auc", xQualityAuc, xQualityAucSql),
      Query("x_quality_calibration", xQualityCalibration, xQualityCalibrationSql),
      Query("x_quality_confusion", xQualityConfusion, xQualityConfusionSql),
      Query("x_quality_labelnoise", xQualityLabelNoise, xQualityLabelNoiseSql),
      Query("x_quality_topfrac", xQualityTopfrac, xQualityTopfracSql),
      Query("x_embed_quantize", xEmbedQuantize, xEmbedQuantizeSql),
      Query("x_embed_project", xEmbedProject, xEmbedProjectSql),
      Query("x_sim_project_ann", xSimProjectAnn, xSimProjectAnnSql),
      Query("x_graph_triangles", xGraphTriangles, xGraphTrianglesSql),
      Query("x_graph_kcore", xGraphKcore, xGraphKcoreSql),
      Query("x_embed_mutual", xEmbedMutual, xEmbedMutualSql),
      Query("x_embed_mutual_ann", xEmbedMutualAnn, xEmbedMutualAnnSql),
      Query("x_embed_negatives_ann", xEmbedNegativesAnn, xEmbedNegativesAnnSql),
      Query("x_feature_psi", xFeaturePsi, xFeaturePsiSql),
      Query("x_select_dsir", xSelectDsir, xSelectDsirSql),
      Query("x_decontam_semantic", xDecontamSemantic, xDecontamSemanticSql),
      Query("x_embed_coverage", xEmbedCoverage, xEmbedCoverageSql),
      Query("x_events_sequences", xEventsSequences, xEventsSequencesSql),
      Query("x_events_markov", xEventsMarkov, xEventsMarkovSql),
      Query("x_events_pagerank", xEventsPagerank, xEventsPagerankSql),
      Query("x_events_attribution", xEventsAttribution, xEventsAttributionSql),
      Query("x_events_burstiness", xEventsBurstiness, xEventsBurstinessSql),
      Query("x_profile_skew", xProfileSkew, xProfileSkewSql),
      Query("x_privacy_kanon", xPrivacyKanon, xPrivacyKanonSql),
      Query("x_privacy_ldiv", xPrivacyLdiv, xPrivacyLdivSql),
      Query("x_layout_zorder", xLayoutZorder, xLayoutZorderSql),
      Query("x_layout_hilbert", xLayoutHilbert, xLayoutHilbertSql),
      Query("x_layout_zorder3", xLayoutZorder3, xLayoutZorder3Sql),
      Query("x_label_vote", xLabelVote, xLabelVoteSql),
      Query("x_label_reliability", xLabelReliability, xLabelReliabilitySql),
      Query("x_embed_abtt", xEmbedAbtt, xEmbedAbttSql),
      Query("x_graph_lpa", xGraphLpa, xGraphLpaSql),
      Query("x_graph_pagerank", xGraphPagerank, xGraphPagerankSql),
      Query("x_pack_balanced", xPackBalanced, xPackBalancedSql),
      Query("x_sample_pps", xSamplePps, xSamplePpsSql),
      Query("x_embed_moments", xEmbedMoments, xEmbedMomentsSql),
      Query("x_text_diversity", xTextDiversity, xTextDiversitySql),
      Query("x_text_entropy", xTextEntropy, xTextEntropySql),
      Query("x_ngram_novelty", xNgramNovelty, xNgramNoveltySql),
      Query("x_text_stats", xTextStats, xTextStatsSql),
      Query("x_text_readability", xTextReadability, xTextReadabilitySql),
      Query("x_text_langid", xTextLangid, xTextLangidSql),
      Query("x_text_fingerprint", xTextFingerprint, xTextFingerprintSql),
      Query("x_text_clean", xTextClean, xTextCleanSql),
      Query("x_text_filter", xTextFilter, xTextFilterSql),
      Query("x_text_pack", xTextPack, xTextPackSql),
      Query("x_text_sentiment", xTextSentiment, xTextSentimentSql),
      Query("x_media_features", xMediaFeatures, xMediaFeaturesSql),
      Query("x_frame_sample", xFrameSample, xFrameSampleSql),
      Query("x_media_dedup", xMediaDedup, xMediaDedupSql),
      Query("x_media_neardup", xMediaNeardup, xMediaNeardupSql),
      Query("x_dedup_cc", xDedupCc, xDedupCcSql),
      Query("x_dedup_incremental_cc", xDedupIncrementalCc, xDedupIncrementalCcSql),
      Query("x_dedup_cohesion", xDedupCohesion, xDedupCohesionSql),
      Query("x_dedup_resolve", xDedupResolve, xDedupResolveSql),
      Query("x_fuzzy_match", xFuzzyMatch, xFuzzyMatchSql),
      Query("x_fuzzy_classes", xFuzzyClasses, xFuzzyClassesSql),
      Query("x_fuzzy_expand", xFuzzyExpand, xFuzzyExpandSql),
      Query("x_text_redact", xTextRedact, xTextRedactSql),
      Query("x_sample_split", xSampleSplit, xSampleSplitSql),
      Query("x_sample_shuffle", xSampleShuffle, xSampleShuffleSql),
      Query("x_sample_stratified", xSampleStratified, xSampleStratifiedSql),
      Query("x_text_vocab", xTextVocab, xTextVocabSql),
      Query("x_sample_mixture", xSampleMixture, xSampleMixtureSql),
      Query("x_sample_temperature", xSampleTemperature, xSampleTemperatureSql),
      Query("x_decontaminate", xDecontaminate, xDecontaminateSql),
      Query("x_stream_ingest", xStreamIngest, xStreamIngestSql),
      Query("x_curation", xCuration, xCurationSql),
      Query("x_text_repetition", xTextRepetition, xTextRepetitionSql),
      Query("x_text_spans", xTextSpans, xTextSpansSql),
      Query("x_text_bpe", xTextBpe, xTextBpeSql),
      Query("x_text_repfilter", xTextRepfilter, xTextRepfilterSql),
      Query("x_text_boilerplate", xTextBoilerplate, xTextBoilerplateSql),
      Query("x_sim_ivfadc", xSimIvfadc, xSimIvfadcSql),
      Query("x_text_bpe_encode", xTextBpeEncode, xTextBpeEncodeSql),
      Query("x_text_fertility", xTextFertility, xTextFertilitySql),
      Query("x_text_spanremove", xTextSpanremove, xTextSpanremoveSql),
      Query("x_text_dupfrac", xTextDupfrac, xTextDupfracSql),
      Query("x_text_spancorrupt", xTextSpancorrupt, xTextSpancorruptSql),
      Query("x_text_hashembed", xTextHashembed, xTextHashembedSql),
      Query("x_decontam_stats", xDecontamStats, xDecontamStatsSql),
      Query("x_text_bm25", xTextBm25, xTextBm25Sql),
      Query("x_dedup_semantic", xDedupSemantic, xDedupSemanticSql),
      Query("x_dedup_semantic_lsh", xDedupSemanticLsh, xDedupSemanticLshSql),
      Query("x_split_leakage", xSplitLeakage, xSplitLeakageSql),
      Query("x_sample_budget", xSampleBudget, xSampleBudgetSql),
      Query("x_text_lmscore", xTextLmscore, xTextLmscoreSql),
      Query("x_text_kneser", xTextKneser, xTextKneserSql),
      Query("x_mix_weights", xMixWeights, xMixWeightsSql),
      Query("x_mix_allocate", xMixAllocate, xMixAllocateSql),
      Query("x_text_keywords", xTextKeywords, xTextKeywordsSql),
      Query("x_events_funnel", xEventsFunnel, xEventsFunnelSql),
      Query("t_winsorize", tWinsorize, tWinsorizeSql),
      Query("t_mad_outliers", tMadOutliers, tMadOutliersSql),
      Query("x_dedup_sizes", xDedupClusterSizes, xDedupClusterSizesSql),
      Query("x_text_pmi", xTextPmi, xTextPmiSql),
      Query("x_text_drift", xTextDrift, xTextDriftSql),
      Query("x_embed_cov", xEmbedCov, xEmbedCovSql),
      Query("x_text_ppl_buckets", xTextPplBuckets, xTextPplBucketsSql),
      Query("x_text_ppl_thresh", xTextPplThresh, xTextPplThreshSql),
      Query("x_events_retention", xEventsRetention, xEventsRetentionSql),
      Query("x_text_chunks", xTextChunks, xTextChunksSql),
      Query("x_corpus_report", xCorpusReport, xCorpusReportSql),
      Query("x_events_anomaly", xEventsAnomaly, xEventsAnomalySql),
      Query("x_sketch_distinct", xSketchDistinct, xSketchDistinctSql),
      Query("x_sketch_cms", xSketchCms, xSketchCmsSql),
      Query("x_vocab_coverage", xVocabCoverage, xVocabCoverageSql),
      Query("x_sample_weighted", xSampleWeighted, xSampleWeightedSql),
      Query("x_sample_group_weighted", xSampleGroupWeighted, xSampleGroupWeightedSql),
      Query("x_dedup_containment", xDedupContainment, xDedupContainmentSql),
      Query("x_text_winnow", xTextWinnow, xTextWinnowSql),
      Query("x_sketch_heavy", xSketchHeavy, xSketchHeavySql),
      Query("x_sketch_overlap", xSketchOverlap, xSketchOverlapSql),
      Query("x_sketch_hll", xSketchHll, xSketchHllSql),
      Query("x_sketch_bloom", xSketchBloom, xSketchBloomSql),
      Query("x_sketch_quantiles", xSketchQuantiles, xSketchQuantilesSql),
      Query("x_sim_recall", xSimRecall, xSimRecallSql),
      Query("x_sim_mrr", xSimMrr, xSimMrrSql),
      Query("x_sim_recall_ivf", xSimRecallIvf, xSimRecallIvfSql),
      Query("x_sim_mrr_ivf", xSimMrrIvf, xSimMrrIvfSql),
      Query("x_dedup_minhash_est", xDedupMinhashEst, xDedupMinhashEstSql),
      Query("x_dedup_apss", xDedupApss, xDedupApssSql),
    )
  }

  /** Name -> builder view of [[catalog]]. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.build).toMap

  /** Name -> DuckDB twin view of [[catalog]]. */
  lazy val oracleSql: Map[String, String] =
    catalog.map(q => q.name -> q.oracle).toMap

  /** The queries that [[Verify]] and [[Bench]] run: the whole catalog, or
    * the dev-loop subset named in `SPARK_GRAFT_ONLY`, which is unset in
    * every recorded run. */
  private[graft] def selected: Seq[Query] =
    select(sys.env.get("SPARK_GRAFT_ONLY"))

  /** `only` is a comma-separated list of catalog names. A name outside the
    * catalog, or a list that names nothing, fails: the run would select
    * nothing for it, and the oracle check would pass on nothing. */
  private[graft] def select(only: Option[String]): Seq[Query] =
    only.fold(catalog) { v =>
      val names = v.split(',').map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names.filterNot(queries.contains).toSeq.sorted
      if (names.isEmpty || unknown.nonEmpty)
        throw new IllegalArgumentException(
          if (names.isEmpty) s"SPARK_GRAFT_ONLY='$v' names no query"
          else "SPARK_GRAFT_ONLY names unknown queries: " +
            unknown.mkString(", "))
      catalog.filter(q => names(q.name))
    }

  /** Runs one query's body; a non-fatal failure comes back as
    * `"<SimpleName>: <message take 200>"` so the caller records it and
    * moves on to the next query. Fatal errors (OOM, linkage, stack
    * overflow) propagate: they end the run, not one query. */
  private[graft] def attempt(body: => Unit): Option[String] =
    try { body; None }
    catch {
      case NonFatal(e) => Some(e.getClass.getSimpleName + ": " +
        String.valueOf(e.getMessage).take(200))
    }

  /** JSON string literal: backslash, quote and ALL control chars
    * (< 0x20) escaped — a tab or CR in oracle SQL or an error message
    * would otherwise make the reader's json.load fail. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
