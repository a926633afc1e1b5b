package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.functions.{TextFunctions => TF}
import graft.operators.{Corpus, Dedup, Similarity, TextAnalysis}
import graft.queries.AnnQueries._
import graft.queries.CurationQueries._
import graft.queries.DedupQueries._
import graft.queries.EventQueries._
import graft.queries.Oracle.{Reason, Sql}
import graft.queries.TextQueries._

/** The driver queries, one entry each: its name, how it runs, and the
  * oracle it is checked against. [[graft.SparkEntry]]'s `queries`,
  * `oracleSql` and `sampledOracleSql` maps, `Verify`, `Bench` and the
  * `tools` mains all read this list. The bodies and their DuckDB SQL sit
  * side by side in one object per family, imported below:
  * [[EventQueries]] (catalogs, events, TPC-H), [[TextQueries]],
  * [[DedupQueries]] (dedup and similarity), [[AnnQueries]] (kNN, ANN
  * indexes, embedding audits) and [[CurationQueries]]. An operator that
  * needs nothing but a table is called here directly.
  *
  * Cross-engine exactness rules used throughout (so value hashes match):
  *  - money/quantity sums go through DECIMAL(18,2) (exact, order-independent),
  *    then cast to double at the end;
  *  - event-time arithmetic stays in integer microseconds (`Tables.events`
  *    surfaces the ns-parquet as long µs — DuckDB truncates ns to µs on
  *    read, so µs is the finest commonly-visible precision);
  *  - averages are one double division of exact parts;
  *  - percentiles/stddev/similarities are rounded to 6 decimals;
  *  - every query ends with a total ORDER BY.
  */
object Registry {

  private def docs(op: DataFrame => DataFrame): Query.Run =
    (spark, dir) => op(Tables.documents(spark, dir))

  private def spread(op: DataFrame => DataFrame): Query.Run =
    (spark, dir) => op(Tables.documentsSpread(spark, dir))

  private def embeddings(op: DataFrame => DataFrame): Query.Run =
    (spark, dir) => op(Tables.embeddings(spark, dir))

  /** q111's media decode is a JVM-side stub by design. */
  private val MediaReason =
    "the media decode runs in the JVM by design, so no DuckDB query can " +
      "replay the perceptual hashes, and a DuckDB-comparable projection " +
      "would change the query's output columns; DomainPipelineSpec pins " +
      "the full sf0.01 output (per-type counts and phash_xor) as golden values"

  val all: Seq[Query] = Seq(
    Query("q01_pricing_summary", pricingSummary, Sql(pricingSummarySql)),
    Query("q02_entity_catalog", entityCatalog, Sql(entityCatalogSql)),
    Query("q03_activity_catalog", activityCatalog, Sql(activityCatalogSql)),
    Query("q04_sessions", sessions, Sql(sessionsSql)),
    Query("q05_interval_union", intervalUnion, Sql(intervalUnionSql)),
    Query("q06_gap_stats", gapStats, Sql(gapStatsSql)),
    Query("q07_value_stats", valueStats, Sql(valueStatsSql)),
    Query("q08_value_histogram", valueHistogram, Sql(valueHistogramSql)),
    Query("q09_dedup_stats", dedupStats, Sql(dedupStatsSql)),
    Query("q10_top_terms", topTerms, Sql(topTermsSql)),
    Query("q11_user_share", userShare, Sql(userShareSql)),
    Query("q12_region_rollup", regionRollup, Sql(regionRollupSql)),
    Query("q13_cust_without_orders", custWithoutOrders, Sql(custWithoutOrdersSql)),
    Query("q14_cust_with_orders", custWithOrders, Sql(custWithOrdersSql)),
    Query("q15_text_metrics", textMetrics, Sql(textMetricsSql)),
    Query("q16_lexical_density", lexicalDensity, Sql(lexicalDensitySql)),
    Query("q17_overlap_pairs", overlapPairs, Sql(overlapPairsSql)),
    Query("q18_knn_exact", knnExact, Sql(knnSql)),
    Query("q19_minhash_neardup", minhashNearDup, Sql(minhashNearDupSql)),
    Query("q20_simhash_fp", simhashFingerprints, Sql(simhashFingerprintsSql)),
    Query("q21_simhash_pairs", simhashPairStats, Sql(simhashPairStatsSql)),
    Query("q22_jaccard_topk", jaccardTopPairs, Sql(jaccardTopPairsSql, jaccardSampledSql)),
    Query("q23_embedding_pairs", embeddings(
      Similarity.topPairsExactBlocked(_, "vec_id", "embedding", k = 20, nBlocks = 8)),
      Sql(embeddingTopPairsSql)),
    Query("q24_doc_quality", docQuality, Sql(docQualitySql)),
    Query("q25_token_counts", tokenCounts, Sql(tokenCountsSql)),
    Query("q26_fingerprints", docFingerprints, Sql(docFingerprintsSql)),
    Query("q27_langid", langIdConfusion, Sql(langIdConfusionSql)),
    Query("q28_session_stats", sessionStats, Sql(sessionStatsSql)),
    Query("q29_stratified_sample", stratifiedSample, Sql(stratifiedSampleSql)),
    Query("q30_correlations", correlations, Sql(correlationsSql)),
    Query("q31_adjacency", adjacencyCounts, Sql(adjacencyCountsSql)),
    Query("q32_rollup", rollupSummary, Sql(rollupSummarySql)),
    Query("q33_running_aggs", runningAggregates, Sql(runningAggregatesSql)),
    Query("q34_embedding_stats", embeddingStats, Sql(embeddingStatsSql)),
    Query("q35_length_bias", lengthBias, Sql(lengthBiasSql)),
    Query("q36_validation_split", validationSplit, Sql(validationSplitSql)),
    Query("q37_monotonicity", monotonicity, Sql(monotonicitySql)),
    Query("q38_length_compliance", lengthCompliance, Sql(lengthComplianceSql)),
    Query("q39_punct_ratio", punctRatio, Sql(punctRatioSql)),
    Query("q40_date_rollup", dateRollup, Sql(dateRollupSql)),
    Query("q41_weighted_share", weightedShare, Sql(weightedShareSql)),
    Query("q42_type_sequence", typeSequence, Sql(typeSequenceSql)),
    Query("q43_asof_lag", asofLag, Sql(asofLagSql)),
    Query("q44_cube", cubeSummary, Sql(cubeSummarySql)),
    Query("q45_pivot_counts", pivotCounts, Sql(pivotCountsSql)),
    Query("q46_value_quartiles", valueQuartiles, Sql(valueQuartilesSql)),
    Query("q47_label_leakage", labelLeakage, Sql(labelLeakageSql)),
    Query("q48_json_stats", jsonStats, Sql(jsonStatsSql)),
    Query("q49_validation_checks", validationChecks, Sql(validationChecksSql)),
    Query("q50_series_balance", seriesBalance, Sql(seriesBalanceSql)),
    Query("q51_quality_signals", qualitySignals, Sql(qualitySignalsSql)),
    Query("q52_repetition", repetitionTop, Sql(repetitionTopSql)),
    Query("q53_pii_stats", piiStats, Sql(piiStatsSql)),
    Query("q54_dedup_clusters", dedupClusters, Sql(dedupClustersSql)),
    Query("q55_top_bigrams", topBigrams, Sql(topBigramsSql)),
    Query("q56_knn_ivf", knnIvf, Sql(knnSql)),
    Query("q57_decontamination", docs(Corpus.decontaminationStats(_)), Sql(decontaminationSql)),
    Query("q58_curriculum_deciles", spread(Corpus.curriculumDeciles), Sql(curriculumDecilesSql)),
    Query("q59_domain_mixture", docs(Corpus.mixtureWeights(_)), Sql(mixtureWeightsSql)),
    Query("q60_boilerplate", spread(Corpus.boilerplateStats(_)), Sql(boilerplateStatsSql)),
    Query("q61_tfidf_terms", spread(Corpus.tfidfTopTerms(_)), Sql(tfidfTopTermsSql)),
    Query("q62_packing_stats", docs(Corpus.packingStats(_)), Sql(packingStatsSql)),
    Query("q63_quantization", quantizationError, Sql(quantizationErrorSql)),
    Query("q64_retention", cohortRetention, Sql(cohortRetentionSql)),
    Query("q65_funnel", funnelStages, Sql(funnelStagesSql)),
    Query("q66_rolling_daily", rollingDaily, Sql(rollingDailySql)),
    Query("q67_transitions", typeTransitions, Sql(typeTransitionsSql)),
    Query("q68_pii_redaction", piiRedaction, Sql(piiRedactionSql)),
    Query("q69_source_dup_rates", docs(Corpus.sourceDupRates), Sql(sourceDupRatesSql)),
    Query("q70_cross_lang", spread(Corpus.crossLangContent), Sql(crossLangContentSql)),
    Query("q71_source_drift", sourceDrift, Sql(sourceDriftSql)),
    Query("q72_asof_join", asofJoin, Sql(asofJoinSql)),
    Query("q73_edit_pairs", editPairs, Sql(editPairsSql)),
    Query("q74_latest_per_key", latestPerKey, Sql(latestPerKeySql)),
    Query("q75_type_token", spread(Corpus.typeTokenRatio), Sql(typeTokenRatioSql)),
    Query("q76_source_novelty", spread(Corpus.sourceNovelty), Sql(sourceNoveltySql)),
    Query("q77_collocations", collocations, Sql(collocationsSql)),
    Query("q78_head_coverage", headCoverage, Sql(headCoverageSql)),
    Query("q79_user_entropy", userEntropy, Sql(userEntropySql)),
    Query("q80_type_affinity", typeAffinity, Sql(typeAffinitySql)),
    Query("q81_group_split", groupSplit, Sql(groupSplitSql)),
    Query("q82_perplexity_buckets", spread(Corpus.perplexityBuckets), Sql(perplexityBucketsSql)),
    Query("q83_importance_weights", spread(Corpus.importanceWeights(_)), Sql(importanceWeightsSql)),
    Query("q84_truncation_audit", spread(Corpus.truncationAudit), Sql(truncationAuditSql)),
    Query("q85_semantic_dedup", semanticDedup, Sql(semanticDedupSql)),
    Query("q86_chunking_stats", spread(Corpus.chunkingStats(_)), Sql(chunkingStatsSql)),
    Query("q87_cross_corpus_dedup", spread(Corpus.crossCorpusDedup(_)),
      Sql(crossCorpusDedupSql, crossCorpusSampledSql)),
    Query("q88_embed_decontam", embedDecontam, Sql(embedDecontamSql)),
    Query("q89_heavy_hitters", spread(TextAnalysis.heavyHitters(_)), Sql(heavyHittersSql)),
    Query("q90_psi_drift", psiDrift, Sql(psiDriftSql)),
    Query("q91_weighted_sample", docs(Corpus.weightedSample(_)), Sql(weightedSampleSql)),
    Query("q92_repeated_spans", repeatedSpans, Sql(repeatedSpansSql)),
    Query("q93_temp_mixture", docs(Corpus.temperatureMixture), Sql(temperatureMixtureSql)),
    Query("q94_source_overlap", spread(Corpus.sourceOverlap(_)), Sql(sourceOverlapSql)),
    Query("q95_contam_spans", contamSpans, Sql(contamSpansSql)),
    Query("q96_nb_quality", nbQuality, Sql(nbQualitySql)),
    Query("q97_hard_negatives", hardNegativesQuery, Sql(hardNegativesSql)),
    Query("q98_norm_dedup", spread(Dedup.normalizedDupAudit(_, col("text"), col("source"))),
      Sql(normDedupAuditSql)),
    Query("q99_threshold_sweep", thresholdSweepQuery, Sql(thresholdSweepSql)),
    Query("q100_balanced_sample",
      docs(Corpus.balancedSample(_, "doc_id", col("source"), cap = 15)),
      Sql(balancedSampleSql)),
    Query("q101_zipf_audit",
      spread(TextAnalysis.zipfAudit(_, col("text"), col("source"), topK = 100)),
      Sql(zipfAuditSql)),
    Query("q102_lsh_bucket_audit", lshBucketAuditQuery, Sql(lshBucketAuditSql)),
    Query("q103_precollapse_neardup", preCollapseNearDupQuery, Sql(preCollapseNearDupSql)),
    Query("q104_source_centroids", sourceCentroidSimQuery, Sql(sourceCentroidSimSql)),
    Query("q105_incremental_dedup", incrementalDedupQuery, Sql(incrementalDedupSql)),
    Query("q106_unimax_mixture", spread(Corpus.unimaxAllocation(_, col("source"),
      TF.tokenCount(col("text")), budgetFrac = 1.25, maxEpochs = 1.4)),
      Sql(unimaxSql)),
    Query("q107_source_dispersion", sourceDispersionQuery, Sql(sourceDispersionSql)),
    Query("q108_best_dedup", bestDedupQuery, Sql(bestDedupSql)),
    Query("q109_split_leakage",
      spread(Dedup.splitLeakage(_, "doc_id", col("text"), col("source"), k = 8)),
      Sql(splitLeakageSql)),
    Query("q110_shard_audit", spread(Corpus.shardAudit(_, "doc_id", col("text"), nShards = 16)),
      Sql(shardAuditSql)),
    Query("q111_media_pipeline", mediaPipelineQuery, Reason(MediaReason)),
    // q112 and q113 run q23's and q22's contracts through the
    // exact-duplicate pre-collapse path: the same rows by construction,
    // so they share those oracles, and the gate proves the equivalence
    Query("q112_collapsed_pairs", embeddings(
      Similarity.topPairsExactCollapsed(_, "vec_id", "embedding", k = 20, nBlocks = 8)),
      Sql(embeddingTopPairsSql)),
    Query("q113_collapsed_jaccard", jaccardTopPairsCollapsed,
      Sql(jaccardTopPairsSql, jaccardSampledSql)),
    Query("q114_bigram_perplexity", spread(Corpus.bigramPerplexity), Sql(bigramPerplexitySql)),
    Query("q115_fertility", spread(TextAnalysis.fertilityAudit), Sql(fertilityAuditSql)),
    Query("q116_char_entropy", spread(TextAnalysis.charEntropyAudit(_)), Sql(charEntropySql)),
    Query("q117_token_divergence", spread(Corpus.tokenDivergence), Sql(tokenDivergenceSql)),
    Query("q118_chunk_stitch", spread(Dedup.chunkStitchAudit(_, col("text"), k = 3)),
      Sql(chunkStitchSql)),
    Query("q119_length_divergence", spread(Corpus.lengthDivergence), Sql(lengthDivergenceSql)),
    Query("q120_dup_families", spread(Dedup.dupFamilyStats(_, col("text"))),
      Sql(dupFamilyStatsSql)),
    Query("q121_gopher_rules",
      spread(TextAnalysis.gopherRules(_, col("text"), col("source"), minWords = 5)),
      Sql(gopherRulesSql)),
    Query("q122_curate_pipeline", curatePipelineQuery, Sql(curatePipelineSql)),
    Query("q123_incremental_curate", incrementalCurateQuery, Sql(incrementalCurateSql)),
    Query("q124_knn_hnsw", knnHnsw, Sql(knnSql)),
    Query("q125_knn_hnsw_pq", knnHnswPq, Sql(knnHnswPqSql)),
  )

  /** Query name → DuckDB oracle SQL, for every query that has one. */
  def oracleSql: Map[String, String] =
    all.collect { case Query(name, _, Sql(sql, _)) => name -> sql }.toMap

  /** Ladder-scale sampled oracle key → SQL, over every query that carries
    * them (a variant shared by two queries appears once). */
  def sampledOracleSql: Map[String, String] =
    all.flatMap {
      case Query(_, _, Sql(_, sampled)) => sampled
      case _ => Nil
    }.toMap
}
