package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.ops._

/** One gate query: the Spark builder over an sf directory, and the DuckDB
  * SQL that the oracle check (`tools/crosscheck.py`) runs on the same
  * parquet tables and hash-compares against the builder's result. Column
  * names AND types are aligned on both sides (DuckDB's
  * count/sum/length/year return wider types than Spark — the oracle SQL
  * casts them back).
  */
final case class GateQuery(name: String, build: (SparkSession, String) => DataFrame,
    oracleSql: String) {
  /** The short key: `q17` for `q17_quality_score`. */
  def key: String = name.takeWhile(_ != '_')
}

/** The gate-query contract (SURVEY.md §7).
  *
  * [[registry]] lists every gate query once: one operator from SURVEY.md
  * §2 (or a north-star training-data-pipeline operator) over the shared
  * testdata, with its oracle SQL. Bench, Verify, InvarianceCheck and
  * PlanSpec iterate it in name order and pick entries with [[select]];
  * [[queries]] and [[oracleSql]] are its name-keyed views; their types
  * are a public contract that callers outside this package (lakebench)
  * rely on.
  */
object SparkEntry {

  /** Flagship query on the sf0.001 testdata; a smoke check expects rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalOps.pricingSummary(spark, "/root/testdata/sf0.001")

  /** Every gate query, sorted by name: the order every harness runs them in. */
  val registry: Seq[GateQuery] = Seq(
    GateQuery("q01_pricing_summary", RelationalOps.pricingSummary,
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity),2) AS sum_qty,
         round(sum(l_extendedprice),2) AS sum_base_price,
         round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
         round(avg(l_quantity),4) AS avg_qty,
         round(avg(l_discount),4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY 1,2"""),
    GateQuery("q02_filter_project", RelationalOps.filterProject,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount > 0.05 AND l_quantity < 25"""),
    GateQuery("q03_join_revenue", RelationalOps.joinRevenue,
      """SELECT o_orderpriority,
         round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
         count(*) AS n_items
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY 1"""),
    GateQuery("q04_star_join", RelationalOps.starJoin,
      """SELECT r_name, n_name, count(*) AS n_cust, round(sum(c_acctbal),2) AS total_bal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1,2"""),
    GateQuery("q05_topk_orders", RelationalOps.topKOrders,
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),
    GateQuery("q06_argmax_customer", RelationalOps.argmaxPerCustomer,
      """SELECT o_custkey, o_orderkey AS best_order, o_totalprice AS best_price
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                      row_number() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
               FROM orders) WHERE rn = 1"""),
    GateQuery("q07_window_top3", RelationalOps.windowTop3,
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn::INT AS rn
         FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                      row_number() OVER (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
               FROM orders) WHERE rn <= 3"""),
    GateQuery("q08_union_slices", RelationalOps.unionSlices,
      """SELECT o_orderstatus, count(*) AS n
         FROM (SELECT * FROM orders WHERE o_totalprice > 400000.0
               UNION ALL
               SELECT * FROM orders WHERE o_orderpriority = '1-URGENT')
         GROUP BY 1"""),
    GateQuery("q09_anti_join", RelationalOps.antiJoin,
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)"""),
    GateQuery("q10_semi_join", RelationalOps.semiJoin,
      """SELECT c_custkey, c_mktsegment FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')"""),
    GateQuery("q11_distinct", RelationalOps.distinctSegments,
      "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer"),
    GateQuery("q12_case_agg", RelationalOps.caseAgg,
      """SELECT l_linestatus,
         CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1"""),
    GateQuery("q13_rollup", RelationalOps.rollupAgg,
      """SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity),2) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""),
    GateQuery("q14_scalar_funcs", RelationalOps.scalarFunctions,
      """SELECT o_orderkey,
         year(o_orderdate)::INT AS o_year,
         strftime(o_orderdate, '%m') AS o_month,
         substr(o_orderpriority, 1, 1) AS prio_code,
         coalesce(o_orderstatus, '?') AS status,
         upper(o_orderstatus) AS status_up,
         length(o_orderpriority)::INT AS prio_len
         FROM orders WHERE o_orderkey < 1000"""),
    GateQuery("q15_avg_qty_filter", RelationalOps.avgQtyFilter,
      """WITH pp AS (SELECT l_partkey AS pk, avg(l_quantity) AS avg_qty
                     FROM lineitem GROUP BY 1)
         SELECT l_partkey, count(*) AS n_small, round(sum(l_extendedprice),2) AS value_small
         FROM lineitem JOIN pp ON l_partkey = pk
         WHERE l_quantity < avg_qty * 0.5
         GROUP BY 1"""),
    GateQuery("q16_token_stats", TextOps.tokenStats, TextOps.tokenStatsSql),
    GateQuery("q17_quality_score", TextOps.qualityScore, TextOps.qualityScoreSql),
    GateQuery("q18_langid", TextOps.langId, TextOps.langIdSql),
    GateQuery("q19_fingerprint", TextOps.fingerprint, TextOps.fingerprintSql),
    GateQuery("q20_exact_dedup", Dedup.exactDedup, Dedup.exactDedupSql),
    GateQuery("q21_ngram_jaccard", Dedup.ngramJaccard, Dedup.ngramJaccardSql),
    GateQuery("q22_minhash_lsh", Dedup.minhashLsh, Dedup.minhashLshSql),
    GateQuery("q23_simhash", Dedup.simhash, Dedup.simhashSql),
    GateQuery("q24_simhash_pairs", Dedup.simhashPairs, Dedup.simhashPairsSql),
    GateQuery("q25_knn_brute", Similarity.knnBrute, Similarity.knnBruteSql),
    GateQuery("q26_ann_lsh", Similarity.annLsh, Similarity.annLshSql),
    GateQuery("q27_cosine_near_dup", Similarity.cosineNearDup, Similarity.cosineNearDupSql),
    GateQuery("q28_tumbling_window", EventOps.tumblingWindow, EventOps.tumblingWindowSql),
    GateQuery("q29_sessionize", EventOps.sessionize, EventOps.sessionizeSql),
    GateQuery("q30_media_features", MultimodalOps.mediaFeatures, MultimodalOps.mediaFeaturesSql),
    GateQuery("q31_lateral_top1", LateralOps.lateralTop1, LateralOps.lateralTop1Sql),
    GateQuery("q32_first_wins_dedup", LateralOps.firstWinsDedup, LateralOps.firstWinsDedupSql),
    GateQuery("q33_set_ops", LateralOps.setOps, LateralOps.setOpsSql),
    GateQuery("q34_cube", LateralOps.cubeAgg, LateralOps.cubeAggSql),
    // q35 runs the chess stack on a bundled fixture; its oracle is the
    // committed golden table (DuckDB replay of the reference SQL over the
    // staged parse — tools/q35_golden.py)
    GateQuery("q35_pgn_pipeline", PgnDemo.pgnPipeline, PgnDemo.goldenOracleSql),
    GateQuery("q36_distinct_agg", ExtraOps.distinctAgg, ExtraOps.distinctAggSql),
    GateQuery("q37_ann_ivf", ExtraOps.annIvf, ExtraOps.annIvfSql),
    GateQuery("q38_regex_tokens", ExtraOps.regexTokens, ExtraOps.regexTokensSql),
    GateQuery("q39_train_split", SamplingOps.trainSplit, SamplingOps.trainSplitSql),
    GateQuery("q40_stratified_sample", SamplingOps.stratifiedSample, SamplingOps.stratifiedSampleSql),
    // q41/q42 oracle-validate the scale utilities themselves: the salted
    // broadcast join and the bounded top-k Aggregator must produce exactly
    // what the plain join / window SQL produces
    GateQuery("q41_salted_join",
      (s, d) => ScaleOps.saltedBroadcastJoin(
          Tables.customer(s, d), Tables.nation(s, d), "c_nationkey", "n_nationkey", 8)
        .select("c_custkey", "c_name", "n_name"),
      """SELECT c_custkey, c_name, n_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin),
    GateQuery("q42_topk_aggregator",
      (s, d) => ScaleOps.topKPerGroup(Tables.orders(s, d), "o_custkey", "o_totalprice", "o_orderkey", 3),
      """SELECT o_custkey, o_orderkey, o_totalprice, rank::INT AS rank
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_custkey
        |               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
        |      FROM orders)
        |WHERE rank <= 3""".stripMargin),
    GateQuery("q43_json_extract", SemiStructuredOps.jsonExtract, SemiStructuredOps.jsonExtractSql),
    GateQuery("q44_pivot", SemiStructuredOps.pivotStatus, SemiStructuredOps.pivotStatusSql),
    GateQuery("q45_rolling_window", SemiStructuredOps.rollingWindow, SemiStructuredOps.rollingWindowSql),
    GateQuery("q46_percentiles", FunctionOps.percentiles, FunctionOps.percentilesSql),
    GateQuery("q47_pattern_filter", FunctionOps.patternFilter, FunctionOps.patternFilterSql),
    GateQuery("q48_array_agg", FunctionOps.arrayAgg, FunctionOps.arrayAggSql),
    GateQuery("q49_kmeans_assign", AdvancedOps.kmeansAssign, AdvancedOps.kmeansAssignSql),
    GateQuery("q50_merge_upsert", AdvancedOps.mergeUpsertOrders, AdvancedOps.mergeUpsertOrdersSql),
    GateQuery("q51_asof_join", AdvancedOps.asofJoin, AdvancedOps.asofJoinSql),
    GateQuery("q52_range_join", AdvancedOps.rangeJoin, AdvancedOps.rangeJoinSql),
    GateQuery("q53_window_suite", AdvancedOps.windowSuite, AdvancedOps.windowSuiteSql),
    GateQuery("q54_tfidf", AdvancedOps.tfidf, AdvancedOps.tfidfSql),
    GateQuery("q55_ann_multiprobe", AdvancedOps.annMultiProbe, AdvancedOps.annMultiProbeSql),
    // q56: raw sketch estimates can't cross-engine hash-match, so the
    // query outputs exact values + within-error-bound booleans the
    // oracle asserts literally (r9; SketchBoundsSpec keeps the
    // independent raw-estimate assertion)
    GateQuery("q56_sketches", AdvancedOps.sketches, AdvancedOps.sketchesSql),
    GateQuery("q57_dedup_clusters", AdvancedOps.dedupClusters, AdvancedOps.dedupClustersSql),
    GateQuery("q58_frame_sample", MultimodalOps.frameSample, MultimodalOps.frameSampleSql),
    GateQuery("q59_unpivot", FunctionOps.unpivotMetrics, FunctionOps.unpivotMetricsSql),
    GateQuery("q60_datetime", FunctionOps.datetimeSuite, FunctionOps.datetimeSuiteSql),
    // q61 oracle-validates the Bloom-prefilter utility: identical output to
    // the plain equi-join (false positives are removed by the exact join)
    GateQuery("q61_bloom_join",
      (s, d) => ScaleOps.bloomPrefilteredJoin(Tables.lineitem(s, d),
          Tables.orders(s, d).filter(col("o_totalprice") > 400000.0),
          "l_orderkey", "o_orderkey", 100000L)
        .select("l_orderkey", "l_linenumber", "o_totalprice"),
      """SELECT l_orderkey, l_linenumber, o_totalprice
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 400000.0""".stripMargin),
    GateQuery("q62_zscore", FunctionOps.zscore, FunctionOps.zscoreSql),
    GateQuery("q63_dedup_keep_list", AdvancedOps.dedupKeepList, AdvancedOps.dedupKeepListSql),
    GateQuery("q64_string_suite", FunctionOps.stringSuite, FunctionOps.stringSuiteSql),
    GateQuery("q65_grouping_sets", FunctionOps.groupingSets, FunctionOps.groupingSetsSql),
    GateQuery("q66_subword_tokens", TextOps.subwordTokens, TextOps.subwordTokensSql),
    // q67 oracle-validates the skew-salted two-phase aggregation against
    // the plain GROUP BY (exactness under any salt; salt is content-derived)
    GateQuery("q67_salted_agg",
      (s, d) => ScaleOps.saltedAgg(Tables.lineitem(s, d), "l_returnflag", "l_quantity", 16)
        .select(col("l_returnflag"), col("n"), Portable.r4(col("total")).as("total")),
      s"""SELECT l_returnflag, count(*) AS n,
         |${Portable.r4Sql("sum(l_quantity)")} AS total
         |FROM lineitem GROUP BY 1""".stripMargin),
    // q68: z-order (Morton) clustering key — the layout-optimization
    // primitive; LayoutSpec proves the per-file multi-dimension bounding
    GateQuery("q68_zorder_key",
      (s, d) => Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
        ScaleOps.zorder2(col("l_orderkey"), col("l_partkey")).as("zvalue")),
      s"""SELECT l_orderkey, l_linenumber,
         |${ScaleOps.zorder2Sql("l_orderkey", "l_partkey")} AS zvalue
         |FROM lineitem""".stripMargin),
    // q69: CDC between two snapshot versions — the FULL OUTER join shape
    GateQuery("q69_snapshot_diff", AdvancedOps.snapshotDiffOrders, AdvancedOps.snapshotDiffOrdersSql),
    GateQuery("q70_embedding_stats", Similarity.embeddingStats, Similarity.embeddingStatsSql),
    GateQuery("q71_redact", TextOps.redact, TextOps.redactSql),
    GateQuery("q72_boilerplate", TextOps.boilerplate, TextOps.boilerplateSql),
    GateQuery("q73_quantize_int8", Similarity.quantizeInt8, Similarity.quantizeInt8Sql),
    // q74: incremental maintenance must land EXACTLY on the full recompute
    GateQuery("q74_incremental_agg", AdvancedOps.incrementalAgg, AdvancedOps.incrementalAggSql),
    GateQuery("q75_sql_surface", RelationalOps.sqlSurface, RelationalOps.sqlSurfaceSql),
    GateQuery("q76_profile", ExtraOps.profile, ExtraOps.profileSql),
    GateQuery("q77_histogram", ExtraOps.histogram, ExtraOps.histogramSql),
    GateQuery("q78_retention", EventOps.retention, EventOps.retentionSql),
    GateQuery("q79_funnel", EventOps.funnel, EventOps.funnelSql),
    GateQuery("q80_top_paths", EventOps.topPaths, EventOps.topPathsSql),
    GateQuery("q81_contamination", Dedup.contamination, Dedup.contaminationSql),
    GateQuery("q82_repetition", TextOps.repetition, TextOps.repetitionSql),
    GateQuery("q83_pack_sequences", SamplingOps.packSequences, SamplingOps.packSequencesSql),
    GateQuery("q84_temperature_mix", SamplingOps.temperatureMix, SamplingOps.temperatureMixSql),
    GateQuery("q85_pagerank", GraphOps.pagerank, GraphOps.pagerankSql),
    GateQuery("q86_winsorize", FunctionOps.winsorize, FunctionOps.winsorizeSql),
    GateQuery("q87_canonicalize", EntityOps.canonicalize, EntityOps.canonicalizeSql),
    GateQuery("q88_equidepth_hist", ExtraOps.equiDepthHistogram, ExtraOps.equiDepthHistogramSql),
    GateQuery("q89_group_ols", ExtraOps.groupOls, ExtraOps.groupOlsSql),
    GateQuery("q90_quota_sample", SamplingOps.quotaSample, SamplingOps.quotaSampleSql),
    GateQuery("q91_hopping_window", EventOps.hoppingWindow, EventOps.hoppingWindowSql),
    GateQuery("q92_ewma", EventOps.ewma, EventOps.ewmaSql),
    GateQuery("q93_date_spine", EventOps.dateSpine, EventOps.dateSpineSql),
    GateQuery("q94_transitions", EventOps.transitions, EventOps.transitionsSql),
    GateQuery("q95_skew_report", ExtraOps.skewReport, ExtraOps.skewReportSql),
    GateQuery("q96_fk_audit", ExtraOps.fkAudit, ExtraOps.fkAuditSql),
    GateQuery("q97_key_check", ExtraOps.keyCheck, ExtraOps.keyCheckSql),
    GateQuery("q98_twap", EventOps.twap, EventOps.twapSql),
    GateQuery("q99_attribution", EventOps.attribution, EventOps.attributionSql),
    GateQuery("q100_corpus_funnel", CurationPipeline.corpusFunnel, CurationPipeline.corpusFunnelSql),
    GateQuery("q101_bpe_pairs", TextOps.bpePairs, TextOps.bpePairsSql),
    GateQuery("q102_pmi", TextOps.pmiCollocations, TextOps.pmiCollocationsSql),
    GateQuery("q103_perplexity", TextOps.perplexity, TextOps.perplexitySql),
    GateQuery("q104_bpe_train", TextOps.bpeTrain, TextOps.bpeTrainSql),
    GateQuery("q105_adaptive_quality", CorpusOps.adaptiveQuality, CorpusOps.adaptiveQualitySql),
    GateQuery("q106_chunk_overlap", CorpusOps.chunkOverlap, CorpusOps.chunkOverlapSql),
    GateQuery("q107_containment_pairs", Dedup.containmentPairs, Dedup.containmentPairsSql),
    GateQuery("q108_debounce", EventOps.debounce, EventOps.debounceSql),
    GateQuery("q109_char_entropy", CorpusOps.charEntropy, CorpusOps.charEntropySql),
    GateQuery("q110_weighted_sample", SamplingOps.weightedSample, SamplingOps.weightedSampleSql),
    GateQuery("q111_embedding_cov", Similarity.embeddingCovariance, Similarity.embeddingCovarianceSql),
    GateQuery("q112_dup_rate_by_form", Dedup.dupRateByForm, Dedup.dupRateByFormSql),
    GateQuery("q113_incremental_dedup", Dedup.incrementalDedup, Dedup.incrementalDedupSql),
    GateQuery("q114_join_cardinality", ExtraOps.joinCardinality, ExtraOps.joinCardinalitySql),
    GateQuery("q115_semantic_dedup", Similarity.semanticDedup, Similarity.semanticDedupSql),
    GateQuery("q116_scd2", LakehouseOps.scd2Orders, LakehouseOps.scd2OrdersSql),
    GateQuery("q117_triangles", GraphOps.triangles, GraphOps.trianglesSql),
    GateQuery("q118_length_buckets", CorpusOps.lengthBuckets, CorpusOps.lengthBucketsSql),
    GateQuery("q119_mad_outliers", FunctionOps.madOutliers, FunctionOps.madOutliersSql),
    GateQuery("q120_ks_drift", ExtraOps.ksDrift, ExtraOps.ksDriftSql),
    GateQuery("q121_sorted_neighborhood", Dedup.sortedNeighborhood, Dedup.sortedNeighborhoodSql),
    GateQuery("q122_bpe_encode", TextOps.bpeEncode, TextOps.bpeEncodeSql),
    GateQuery("q123_novelty", CorpusOps.noveltyScore, CorpusOps.noveltyScoreSql),
    GateQuery("q124_psi_drift", ExtraOps.psiDrift, ExtraOps.psiDriftSql),
    GateQuery("q125_phash_pairs", MultimodalOps.phashPairs, MultimodalOps.phashPairsSql),
    GateQuery("q126_assoc_rules", GraphOps.assocRules, GraphOps.assocRulesSql),
    GateQuery("q127_zone_maps", LakehouseOps.zoneMapSkipping, LakehouseOps.zoneMapSkippingSql),
    GateQuery("q128_gap_fill", EventOps.gapFill, EventOps.gapFillSql),
    GateQuery("q129_mom_growth", ExtraOps.momGrowth, ExtraOps.momGrowthSql),
    GateQuery("q130_golden_record", EntityOps.goldenRecord, EntityOps.goldenRecordSql),
    GateQuery("q131_split_balance", SamplingOps.splitBalance, SamplingOps.splitBalanceSql),
    GateQuery("q132_best_rep", AdvancedOps.bestRepKeepList, AdvancedOps.bestRepKeepListSql),
    GateQuery("q133_mixture_schedule", SamplingOps.mixtureSchedule, SamplingOps.mixtureScheduleSql),
    GateQuery("q134_rank_normalize", FunctionOps.rankNormalize, FunctionOps.rankNormalizeSql),
    GateQuery("q135_dedup_agreement", Dedup.dedupAgreement, Dedup.dedupAgreementSql),
    GateQuery("q136_source_overlap", Dedup.sourceOverlap, Dedup.sourceOverlapSql),
    GateQuery("q137_gopher_rules", CorpusOps.gopherRules, CorpusOps.gopherRulesSql),
    GateQuery("q138_ann_recall", Similarity.annRecall, Similarity.annRecallSql),
    GateQuery("q139_pareto", ExtraOps.paretoFrontier, ExtraOps.paretoFrontierSql),
    GateQuery("q140_interval_coverage", EventOps.intervalCoverage, EventOps.intervalCoverageSql),
    GateQuery("q141_bm25", TextOps.bm25, TextOps.bm25Sql),
    GateQuery("q142_cdc_apply", LakehouseOps.cdcApply, LakehouseOps.cdcApplySql),
    GateQuery("q143_kl_divergence", CorpusOps.klDivergence, CorpusOps.klDivergenceSql),
    GateQuery("q144_ttr_hapax", CorpusOps.ttrHapax, CorpusOps.ttrHapaxSql),
    GateQuery("q145_prefix_dedup", Dedup.prefixDedup, Dedup.prefixDedupSql),
    GateQuery("q146_weighted_median", FunctionOps.weightedMedian, FunctionOps.weightedMedianSql),
    GateQuery("q147_dead_letter", SemiStructuredOps.deadLetter, SemiStructuredOps.deadLetterSql),
    GateQuery("q148_power_iteration", Similarity.powerIteration, Similarity.powerIterationSql),
    GateQuery("q149_dataset_card", CorpusOps.datasetCard, CorpusOps.datasetCardSql),
    GateQuery("q150_minhash_error", Dedup.minhashErrorAudit, Dedup.minhashErrorAuditSql),
    GateQuery("q151_late_data", EventOps.lateData, EventOps.lateDataSql),
    GateQuery("q152_vocab_coverage", TextOps.vocabCoverage, TextOps.vocabCoverageSql),
    GateQuery("q153_tree_depth", GraphOps.treeDepth, GraphOps.treeDepthSql),
    GateQuery("q154_kcore", GraphOps.kcore, GraphOps.kcoreSql),
    GateQuery("q155_feature_hash", TextOps.featureHash, TextOps.featureHashSql),
    GateQuery("q156_k_anonymity", ExtraOps.kAnonymity, ExtraOps.kAnonymitySql),
    GateQuery("q157_decile_lift", CorpusOps.decileLift, CorpusOps.decileLiftSql),
    GateQuery("q158_split_leakage", SamplingOps.splitLeakage, SamplingOps.splitLeakageSql),
    GateQuery("q159_active_users", EventOps.activeUsers, EventOps.activeUsersSql),
    GateQuery("q160_lang_confusion", TextOps.langConfusion, TextOps.langConfusionSql),
    GateQuery("q161_conformance", EventOps.conformance, EventOps.conformanceSql),
    GateQuery("q162_conversion_latency", EventOps.conversionLatency, EventOps.conversionLatencySql),
    GateQuery("q163_ann_mrr", Similarity.annMrr, Similarity.annMrrSql),
    GateQuery("q164_weekly_churn", EventOps.weeklyChurn, EventOps.weeklyChurnSql),
    GateQuery("q165_max_drawdown", EventOps.maxDrawdown, EventOps.maxDrawdownSql),
    GateQuery("q166_gini_tokens", CorpusOps.giniTokens, CorpusOps.giniTokensSql),
    GateQuery("q167_snm_multipass", Dedup.snmMultipass, Dedup.snmMultipassSql),
    GateQuery("q168_repeated_spans", Dedup.repeatedSpans, Dedup.repeatedSpansSql),
    GateQuery("q169_repeated_passages", Dedup.repeatedPassages, Dedup.repeatedPassagesSql),
    GateQuery("q170_span_decontam", Dedup.spanDecontamination, Dedup.spanDecontaminationSql),
    GateQuery("q171_cut_passages", Dedup.cutPassages, Dedup.cutPassagesSql),
    // q172 is q51's semantics under the ranged plan — same oracle, so a
    // hash match IS the window-form row-identity proof at gate scale
    GateQuery("q172_asof_ranged", AdvancedOps.asofJoinRanged, AdvancedOps.asofJoinSql),
    GateQuery("q173_decontam_cut", Dedup.decontamCut, Dedup.decontamCutSql),
    // q174 is q29's semantics under the ranged plan — same oracle (the
    // q172 discipline: the hash match is the window-form identity proof)
    GateQuery("q174_sessionize_ranged", EventOps.sessionizeRangedGate, EventOps.sessionizeSql),
    // q175 is q35's pipeline with openings ingested through the verbatim
    // hf://datasets/... URI — same golden oracle (the q172 discipline:
    // the hash match proves the hf:// input path is byte-equivalent)
    GateQuery("q175_pgn_pipeline_hf", PgnDemo.pgnPipelineHf, PgnDemo.goldenOracleSql),
    // q176's oracle unrolls exactly CutFixpointMaxRounds q171 rounds —
    // identity rounds past the fixpoint keep it aligned with the
    // probe-terminated Spark loop (the q154 kcore alignment argument)
    GateQuery("q176_cut_fixpoint", Dedup.cutPassagesFixpoint, Dedup.cutPassagesFixpointSql),
    GateQuery("q177_cms_heavy_hitters", SketchOps.cmsHeavyHitters, SketchOps.cmsHeavyHittersSql),
    GateQuery("q178_ann_pq", QuantOps.annPq, QuantOps.annPqSql),
    GateQuery("q179_rrf_fusion", RetrievalOps.rrfFusion, RetrievalOps.rrfFusionSql),
    GateQuery("q180_ann_ivf_pq", QuantOps.annIvfPq, QuantOps.annIvfPqSql),
    GateQuery("q181_cuped", EventOps.cuped, EventOps.cupedSql),
    GateQuery("q182_compaction_plan", LakehouseOps.compactionPlan, LakehouseOps.compactionPlanSql),
    GateQuery("q183_layout_audit", LakehouseOps.layoutAudit, LakehouseOps.layoutAuditSql),
    GateQuery("q184_zipf_fit", CorpusOps.zipfFit, CorpusOps.zipfFitSql),
    GateQuery("q185_manifest_diff", LakehouseOps.manifestDiff, LakehouseOps.manifestDiffSql),
    GateQuery("q186_cluster_split", SamplingOps.clusterSplit, SamplingOps.clusterSplitSql),
    GateQuery("q187_hard_negatives", Similarity.hardNegatives, Similarity.hardNegativesSql),
    GateQuery("q188_time_travel", LakehouseOps.timeTravel, LakehouseOps.timeTravelSql),
    GateQuery("q189_shard_migration", ScaleOps.shardMigration, ScaleOps.shardMigrationSql),
    GateQuery("q190_localized_diff", LakehouseOps.localizedDiff, LakehouseOps.localizedDiffSql),
    GateQuery("q191_quality_auc", CorpusOps.qualityAuc, CorpusOps.qualityAucSql),
    GateQuery("q192_bootstrap_ci", SamplingOps.bootstrapCi, SamplingOps.bootstrapCiSql),
    GateQuery("q193_overlap_depth", LakehouseOps.overlapDepth, LakehouseOps.overlapDepthSql),
    GateQuery("q194_edit_verify", Dedup.editVerifiedPairs, Dedup.editVerifiedPairsSql),
    GateQuery("q195_winnow_pairs", Dedup.winnowPairs, Dedup.winnowPairsSql),
    GateQuery("q196_logreg_quality", CorpusOps.logregQuality, CorpusOps.logregQualitySql),
    GateQuery("q197_kcenter_coreset", Similarity.kcenterCoreset, Similarity.kcenterCoresetSql),
    GateQuery("q198_dsir_weights", SamplingOps.dsirWeights, SamplingOps.dsirWeightsSql),
    GateQuery("q199_unimax_budget", SamplingOps.unimaxBudget, SamplingOps.unimaxBudgetSql),
    GateQuery("q200_cdc_chunks", Dedup.cdcChunkDedup, Dedup.cdcChunkDedupSql),
    GateQuery("q201_label_prop", GraphOps.labelProp, GraphOps.labelPropSql),
    GateQuery("q202_logreg_confusion", CorpusOps.logregApply, CorpusOps.logregApplySql),
    GateQuery("q203_dedup_cascade", Dedup.dedupCascade, Dedup.dedupCascadeSql),
    GateQuery("q204_soft_dedup", AdvancedOps.softDedupWeights, AdvancedOps.softDedupWeightsSql),
    GateQuery("q205_ppl_buckets", CorpusOps.perplexityBuckets, CorpusOps.perplexityBucketsSql),
    GateQuery("q206_redundancy_share", Dedup.redundancyShare, Dedup.redundancyShareSql),
    GateQuery("q207_span_index_delta", Dedup.spanIndexDelta, Dedup.spanIndexDeltaSql),
    GateQuery("q208_semantic_decontam", Similarity.semanticDecontam, Similarity.semanticDecontamSql),
    GateQuery("q209_fertility", TextOps.fertility, TextOps.fertilitySql),
    GateQuery("q210_pack_chunks", PackingOps.packChunks, PackingOps.packChunksSql),
    GateQuery("q211_doc_fragmentation", PackingOps.docFragmentation, PackingOps.docFragmentationSql),
    GateQuery("q212_source_quota", PackingOps.sourceQuota, PackingOps.sourceQuotaSql),
    // the ranged form reproduces the window form ROW-FOR-ROW — same oracle,
    // so the hash match doubles as the row-identity proof (q172 discipline)
    GateQuery("q213_ranged_source_quota", PackingOps.rangedSourceQuota, PackingOps.sourceQuotaSql),
    GateQuery("q214_eval_leak_profile", Dedup.evalLeakProfile, Dedup.evalLeakProfileSql),
    GateQuery("q215_calibration", CorpusOps.logregCalibration, CorpusOps.logregCalibrationSql),
    GateQuery("q216_pack_delta", PackingOps.packDelta, PackingOps.packDeltaSql),
    GateQuery("q217_budget_fill", SamplingOps.budgetFill, SamplingOps.budgetFillSql),
    // third strategy on the SAME oracle: window (q212) / grid (q213) /
    // bounded-heap (q218) are gate-proven row-identical
    GateQuery("q218_heap_source_quota", PackingOps.heapSourceQuota, PackingOps.sourceQuotaSql),
    GateQuery("q219_pack_contamination", PackingOps.packContamination, PackingOps.packContaminationSql),
    GateQuery("q220_padding_audit", PackingOps.paddingAudit, PackingOps.paddingAuditSql),
    GateQuery("q221_matryoshka_recall", Similarity.matryoshkaRecall, Similarity.matryoshkaRecallSql),
    GateQuery("q222_curation_shift", CorpusOps.curationShift, CorpusOps.curationShiftSql),
    // written as the NAIVE partition-less window; the AutoRangeCumSum
    // optimizer rule rewrites it — the oracle is the window form, so the
    // hash match proves the optimizer's plan row-identical
    GateQuery("q223_autorange_cumsum", ScaleOps.autorangeCumSum, ScaleOps.autorangeCumSumSql),
    GateQuery("q224_crossdomain_ppl", CorpusOps.crossdomainPpl, CorpusOps.crossdomainPplSql),
    GateQuery("q225_filtered_ann", Similarity.filteredAnn, Similarity.filteredAnnSql),
    GateQuery("q226_ivf_delta", Similarity.ivfDelta, Similarity.ivfDeltaSql),
    GateQuery("q227_shard_shuffle", PackingOps.shardShuffle, PackingOps.shardShuffleSql),
    GateQuery("q228_doremi_weights", SamplingOps.doremiWeights, SamplingOps.doremiWeightsSql),
    GateQuery("q229_ndcg", RetrievalOps.ndcg, RetrievalOps.ndcgSql),
    GateQuery("q230_dp_histogram", ExtraOps.dpHistogram, ExtraOps.dpHistogramSql),
    GateQuery("q231_minhash_pr_curve", Dedup.minhashPrCurve, Dedup.minhashPrCurveSql),
    GateQuery("q232_source_minhash", Dedup.sourceMinhash, Dedup.sourceMinhashSql),
    GateQuery("q233_bbit_minhash", Dedup.bbitMinhash, Dedup.bbitMinhashSql),
    GateQuery("q234_vocab_prune", TextOps.vocabPrune, TextOps.vocabPruneSql),
    GateQuery("q235_curriculum", CorpusOps.curriculumSchedule, CorpusOps.curriculumScheduleSql),
    GateQuery("q236_span_corruption", PackingOps.spanCorruption, PackingOps.spanCorruptionSql),
    GateQuery("q237_heaps_law", TextOps.heapsLaw, TextOps.heapsLawSql),
    GateQuery("q238_fp_collisions", Dedup.fpCollisionAudit, Dedup.fpCollisionAuditSql),
    GateQuery("q239_dedup_transitivity", Dedup.nearDupTransitivity, Dedup.nearDupTransitivitySql),
    GateQuery("q240_mmr_rerank", RetrievalOps.mmrRerank, RetrievalOps.mmrRerankSql),
    GateQuery("q241_uncertainty", CorpusOps.uncertaintySample, CorpusOps.uncertaintySampleSql),
    GateQuery("q242_chunk_dedup", PackingOps.chunkDedupSurvival, PackingOps.chunkDedupSurvivalSql),
    GateQuery("q243_eval_holdout", SamplingOps.evalHoldout, SamplingOps.evalHoldoutSql),
    GateQuery("q244_incremental_lsh", Dedup.incrementalLsh, Dedup.incrementalLshSql),
    GateQuery("q245_gradient_select", CorpusOps.gradientSelect, CorpusOps.gradientSelectSql),
    GateQuery("q246_signal_corr", CorpusOps.signalCorrelation, CorpusOps.signalCorrelationSql),
    GateQuery("q247_topic_diversity", AdvancedOps.topicDiversity, AdvancedOps.topicDiversitySql),
    GateQuery("q248_silhouette", AdvancedOps.silhouette, AdvancedOps.silhouetteSql),
    GateQuery("q249_rholoss_select", CorpusOps.rholossSelect, CorpusOps.rholossSelectSql),
    GateQuery("q250_gate_kappa", CorpusOps.kappaGates, CorpusOps.kappaGatesSql),
    GateQuery("q251_source_mmd", Similarity.sourceMmd, Similarity.sourceMmdSql),
    GateQuery("q252_scaling_plan", SamplingOps.scalingPlan, SamplingOps.scalingPlanSql),
    GateQuery("q253_dup_flow", AdvancedOps.dupFlow, AdvancedOps.dupFlowSql),
    GateQuery("q254_mann_whitney", ExtraOps.mannWhitney, ExtraOps.mannWhitneySql),
    GateQuery("q255_rocchio", Similarity.rocchio, Similarity.rocchioSql),
    GateQuery("q256_cluster_powerlaw", AdvancedOps.clusterPowerlaw, AdvancedOps.clusterPowerlawSql),
    GateQuery("q257_lang_purity", TextOps.langPurity, TextOps.langPuritySql),
    GateQuery("q258_map_at_k", Similarity.mapAtK, Similarity.mapAtKSql),
    GateQuery("q259_threshold_sweep", CorpusOps.thresholdSweep, CorpusOps.thresholdSweepSql),
    GateQuery("q260_lexsem_corr", Similarity.lexicalSemanticCorr, Similarity.lexicalSemanticCorrSql),
    GateQuery("q261_binary_quant", Similarity.binaryQuantRecall, Similarity.binaryQuantRecallSql),
    GateQuery("q262_crossval", CorpusOps.crossVal, CorpusOps.crossValSql),
    GateQuery("q263_lsh_plan", Dedup.lshPlan, Dedup.lshPlanSql),
    GateQuery("q264_dedup_uplift", AdvancedOps.dedupQualityUplift, AdvancedOps.dedupQualityUpliftSql),
    GateQuery("q265_ivf_sweep", Similarity.ivfSweep, Similarity.ivfSweepSql),
    GateQuery("q266_bq_rerank", Similarity.bqRerank, Similarity.bqRerankSql),
    GateQuery("q267_fleiss_gates", CorpusOps.fleissGates, CorpusOps.fleissGatesSql),
    GateQuery("q268_conformal", CorpusOps.conformal, CorpusOps.conformalSql),
    GateQuery("q269_length_bias", CorpusOps.lengthBias, CorpusOps.lengthBiasSql),
    GateQuery("q270_gate_ablation", CurationPipeline.gateAblation, CurationPipeline.gateAblationSql),
    GateQuery("q271_learning_curve", CorpusOps.learningCurve, CorpusOps.learningCurveSql),
    GateQuery("q272_canon_stability", TextOps.canonStability, TextOps.canonStabilitySql),
    GateQuery("q273_wasserstein", ExtraOps.wassersteinShift, ExtraOps.wassersteinShiftSql),
    GateQuery("q274_mutual_info", ExtraOps.mutualInfo, ExtraOps.mutualInfoSql),
    GateQuery("q275_int8_recall", Similarity.int8Recall, Similarity.int8RecallSql),
    GateQuery("q276_kendall_rankers", RetrievalOps.kendallRankers, RetrievalOps.kendallRankersSql),
    GateQuery("q277_cluster_purity", AdvancedOps.clusterPurity, AdvancedOps.clusterPuritySql),
    GateQuery("q278_lsh_load", Dedup.lshLoad, Dedup.lshLoadSql),
    GateQuery("q279_fightin_words", CorpusOps.fightinWords, CorpusOps.fightinWordsSql),
  ).sortBy(_.name)
  require(registry.map(_.name).distinct.size == registry.size,
    "duplicate gate query names: " +
      registry.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }.mkString(","))

  /** The entries a comma-separated selector list names, in registry order;
    * every entry when `None`. A selector matches an entry's exact short key
    * (`q17` does not also select q170–q174) or its full name.
    */
  def select(selectors: Option[String]): Seq[GateQuery] = selectors.fold(registry) { s =>
    val wanted = s.split(',').toSet
    registry.filter(g => wanted(g.key) || wanted(g.name))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(g => g.name -> g.build).toMap

  val oracleSql: Map[String, String] = registry.map(g => g.name -> g.oracleSql).toMap
}
