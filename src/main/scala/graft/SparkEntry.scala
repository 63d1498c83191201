package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.multimodal.Multimodal
import graft.operators._
import graft.queries._
import graft.sources.SkippingScan

/** The query registry: every registered query, by name, with its builder
  * (a DataFrame program over the TESTDATA tables, covering SURVEY.md §2
  * plus the training-data-pipeline operators) and the DuckDB SQL that
  * checks its result. Every query has an oracle; `graft.Verify` dumps
  * both sides and `tools/compare.py` compares them.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg(spark, "/root/testdata/sf0.001")

  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = registry.map(d => d.name -> d.build).toMap

  /** Oracle SQL by query name. A trained oracle is present only once its
    * query has run in this JVM, so read this after the queries (Verify
    * does). */
  def oracleSql: Map[String, String] =
    registry.flatMap(d => d.oracle().map(d.name -> _)).toMap

  /** The registered queries named in `only`, or all of them for None. An
    * unregistered name is an error, never a silently shorter run. */
  def select(only: Option[Set[String]]): Map[String, Q] = {
    val all = queries
    val unknown = only.getOrElse(Set.empty) -- all.keySet
    require(unknown.isEmpty,
      s"unregistered query name(s): ${unknown.toSeq.sorted.mkString(",")}")
    only.fold(all)(names => all.filter { case (name, _) => names.contains(name) })
  }

  /** One query: its name, its builder and its oracle, read lazily. */
  private final case class Def(name: String, build: Q, oracle: () => Option[String])
  private def query(name: String, build: Q, sql: => String): Def =
    Def(name, build, () => Some(sql))
  // Iterative training (Lloyd rounds, L-BFGS) isn't SQL, but replaying
  // the TRAINED artifact as literals is: centroid argmax for k-means and
  // IVF search, fitted-weight linear scoring for the quality model. The
  // artifact exists once the query has trained in this JVM, so its
  // oracle is None until then.
  private def trained(name: String, build: Q, sql: => Option[String]): Def =
    Def(name, build, () => sql)

  private lazy val registry: Seq[Def] = unique(Seq(
    query("q1_agg", Relational.q1Agg _, Relational.q1Sql),
    query("q2_drilldown", Relational.q2Drilldown _, Relational.q2Sql),
    query("q3_antijoin", Relational.q3AntiJoin _, Relational.q3Sql),
    query("q4_files_browse", Relational.q4FilesBrowse _, Relational.q4Sql),
    query("q5_latest_per_key", Relational.q5LatestPerKey _, Relational.q5Sql),
    query("q6_page", Relational.q6Page _, Relational.q6Sql),
    query("q7_join_agg", Relational.q7JoinAgg _, Relational.q7Sql),
    query("q8_setops", Relational.q8SetOps _, Relational.q8Sql),
    query("q9_predicates", Relational.q9Predicates _, Relational.q9Sql),
    query("q10_rollup", Relational.q10Rollup _, Relational.q10Sql),
    query("q11_partition_stats", Metadata.q11PartitionStats _, Metadata.q11Sql),
    query("q12_table_summary", Metadata.q12TableSummary _, Metadata.q12Sql),
    query("q13_files_browse", Metadata.q13FilesBrowse _, Metadata.q13Sql),
    query("q14_missing_files", Metadata.q14MissingFiles _, Metadata.q14Sql),
    query("q15_optimize_candidates", Metadata.q15OptimizeCandidates _, Metadata.q15Sql),
    query("q16_s3_parse", Metadata.q16S3Parse _, Metadata.q16Sql),
    query("q17_claim_oldest", Metadata.q17ClaimOldest _, Metadata.q17Sql),
    query("q20_dedup_exact", TrainingData.q20DedupExact _, TrainingData.q20Sql),
    query("q21_ngram_jaccard", TrainingData.q21NgramJaccard _, TrainingData.q21Sql),
    query("q22_minhash_lsh", TrainingData.q22MinhashLsh _, TrainingData.q22Sql),
    query("q23_simhash_pairs", TrainingData.q23SimhashPairs _, TrainingData.q23Sql),
    query("q24_embedding_neardup", TrainingData.q24EmbeddingNearDup _, TrainingData.q24Sql),
    query("q25_ann_topk", TrainingData.q25AnnTopK _, TrainingData.q25Sql),
    // q26's plane literals are a pure function of the hash: its oracle
    // needs no training run
    query("q26_ann_lsh", TrainingData.q26AnnLsh _, Similarity.annLshOracleSql(5, 10, 64)),
    query("q27_token_stats", TrainingData.q27TokenStats _, TrainingData.q27Sql),
    query("q28_quality", TrainingData.q28Quality _, TrainingData.q28Sql),
    query("q29_langid", TrainingData.q29LangId _, TrainingData.q29Sql),
    query("q30_fingerprint", TrainingData.q30Fingerprint _, TrainingData.q30Sql),
    trained("q31_ann_ivf", TrainingData.q31AnnIvf _, Similarity.annIvfOracleSql),
    query("q32_windowed_counts", Streams.q32WindowedCounts _, Streams.q32Sql),
    query("q33_sessions", Streams.q33Sessions _, Streams.q33Sql),
    query("q34_multimodal_summary", Streams.q34MultimodalSummary _, Multimodal.q34Sql),
    query("q35_outer_join", Relational2.q35OuterJoin _, Relational2.q35Sql),
    query("q36_semi_join", Relational2.q36SemiJoin _, Relational2.q36Sql),
    query("q37_union", Relational2.q37Union _, Relational2.q37Sql),
    query("q38_correlated_avg", Relational2.q38CorrelatedAvg _, Relational2.q38Sql),
    query("q39_strings", Relational2.q39Strings _, Relational2.q39Sql),
    query("q40_dedup_clusters", TrainingData.q40DedupClusters _, TrainingData.q40Sql),
    query("q41_snapshot_files", Metadata.q41SnapshotFiles _, Metadata.q41Sql),
    query("q42_profile", Profile.q42Profile _, Profile.q42Sql),
    query("q43_json_path", Metadata.q43JsonPath _, Metadata.q43Sql),
    query("q44_array_agg", Relational3.q44ArrayAgg _, Relational3.q44Sql),
    query("q45_cube", Relational3.q45Cube _, Relational3.q45Sql),
    query("q46_percentiles", Relational3.q46Percentiles _, Relational3.q46Sql),
    query("q47_dedup_clusters_lsh", TrainingData.q47DedupClustersLsh _, TrainingData.q47Sql),
    query("q48_stratified_sample", Sampling.q48StratifiedSample _, Sampling.q48Sql),
    query("q49_decontaminate", Decontaminate.q49Decontaminate _, Decontaminate.q49Sql),
    query("q50_sequence_packing", Packing.q50SequencePacking _, Packing.q50Sql),
    query("q51_repetition", TextAnalysis.repetitionMetrics _, TextAnalysis.repetitionMetricsSql),
    query("q52_asof_attribution", Streams.q52AsOfAttribution _, Streams.q52Sql),
    query("q53_vocab_coverage", (s, d) => TextAnalysis.vocabCoverage(s, d),
      TextAnalysis.vocabCoverageSql(20)),
    query("q54_top_tokens", (s, d) => TextAnalysis.topTokensPerLang(s, d),
      TextAnalysis.topTokensPerLangSql(10)),
    trained("q55_ann_pq", (s, d) => ProductQuantization.annPq(s, d),
      ProductQuantization.annPqOracleSql),
    query("q56_order_timeline", Relational3.q56OrderTimeline _, Relational3.q56Sql),
    query("q57_order_count_dist", Relational2.q57OrderCountDist _, Relational2.q57Sql),
    query("q58_large_orders", (s, d) => Relational2.q58LargeOrders(s, d), Relational2.q58Sql(300)),
    query("q59_chunks", Chunking.q59Chunks _, Chunking.q59Sql),
    query("q60_top_bigrams", (s, d) => TextAnalysis.topBigrams(s, d),
      TextAnalysis.topBigramsSql(20)),
    query("q61_rolling_activity", Streams.q61RollingActivity _, Streams.q61Sql),
    query("q62_decontaminate_bloom", Decontaminate.q62DecontaminateBloom _, Decontaminate.q49Sql),
    query("q63_interval_attribution", IntervalJoin.q63IntervalAttribution _, IntervalJoin.q63Sql),
    query("q64_mixture_sample", Sampling.q64MixtureSample _, Sampling.q64Sql),
    query("q65_pii_redact", Redact.q65PiiRedact _, Redact.q65Sql),
    query("q66_pivot", Relational3.q66Pivot _, Relational3.q66Sql),
    query("q67_gap_fill", Relational3.q67GapFill _, Relational3.q67Sql),
    query("q68_overlap_pairs", IntervalJoin.q68OverlapPairs _, IntervalJoin.q68Sql),
    query("q69_segment_dedup", Dedup.q69SegmentDedup _, Dedup.q69Sql),
    query("q70_bm25", Relevance.q70Bm25 _, Relevance.q70Sql),
    query("q71_cohort_retention", Cohorts.q71CohortRetention _, Cohorts.q71Sql),
    query("q72_funnel", Cohorts.q72Funnel _, Cohorts.q72Sql),
    trained("q73_kmeans_clusters", (s, d) => Clustering.q73KmeansClusters(s, d),
      Clustering.q73OracleSql),
    query("q74_tfidf_terms", Relevance.q74TfidfTerms _, Relevance.q74Sql),
    query("q75_splits", Sampling.q75Splits _, Sampling.q75Sql),
    query("q76_quality_checks", QualityChecks.q76QualityChecks _, QualityChecks.q76Sql),
    query("q77_heavy_hitters", (s, d) => HeavyHitters.q77HeavyHitters(s, d), HeavyHitters.q77Sql),
    query("q78_fuzzy_names", FuzzyJoin.q78FuzzyNames _, FuzzyJoin.q78Sql),
    query("q79_streaks", Relational4.q79Streaks _, Relational4.q79Sql),
    query("q80_rank_windows", Relational4.q80RankWindows _, Relational4.q80Sql),
    query("q81_time_rollup", Relational4.q81TimeRollup _, Relational4.q81Sql),
    query("q82_array_stats", Relational4.q82ArrayStats _, Relational4.q82Sql),
    query("q83_similar_topk", (s, d) => Dedup.similarTopK(s, d), Dedup.similarTopKSql(3, 20)),
    trained("q84_compression", TextAnalysis.compressionRatio _, TextAnalysis.q84OracleSql),
    query("q85_forward_asof", Streams.q85ForwardAsOf _, Streams.q85Sql),
    query("q86_exact_corr", Relational4.q86ExactCorr _, Relational4.q86Sql),
    query("q87_rollup_partials", IncrementalAgg.q87RollupPartials _, IncrementalAgg.q87Sql),
    query("q88_mode", Relational4.q88Mode _, Relational4.q88Sql),
    query("q89_co_occurrence", (s, d) => Relational4.q89CoOccurrence(s, d),
      Relational4.q89Sql(3, 20)),
    query("q90_scd2", Relational4.q90Scd2 _, Relational4.q90Sql),
    query("q91_rolling_dau", Relational4.q91RollingDau _, Relational4.q91Sql),
    query("q92_dedup_priority", TrainingData.q92DedupPriority _, TrainingData.q92Sql),
    query("q93_source_mix", Sampling.q93SourceMix _, Sampling.q93Sql),
    query("q94_contamination_pairs", Decontaminate.q94ContaminationPairs _, Decontaminate.q94Sql),
    query("q95_value_histogram", Profile.q95ValueHistogram _, Profile.q95Sql),
    query("q96_boilerplate", TrainingData.q96Boilerplate _, TrainingData.q96Sql),
    query("q97_source_overlap", TrainingData.q97SourceOverlap _, TrainingData.q97Sql),
    query("q98_bigram_lift", TrainingData.q98BigramLift _, TrainingData.q98Sql),
    trained("q99_quality_model", QualityClassifier.q99QualityModel _,
      QualityClassifier.q99OracleSql),
    query("q100_hard_negatives", TrainingData.q100HardNegatives _, TrainingData.q100Sql),
    query("q101_clean_text", TextAnalysis.q101CleanText _, TextAnalysis.q101Sql),
    query("q102_dup_spans", TrainingData.q102DupSpans _, TrainingData.q102Sql),
    query("q103_intradoc_dedup", TrainingData.q103IntraDocDedup _, TrainingData.q103Sql),
    query("q104_familiarity", TrainingData.q104Familiarity _, TrainingData.q104Sql),
    query("q105_source_cap", Sampling.q105SourceCap _, Sampling.q105Sql),
    query("q106_curriculum", Sampling.q106Curriculum _, Sampling.q106Sql),
    query("q107_bpe_merges", BpeTrain.q107BpeMerges _, BpeTrain.q107Sql),
    query("q108_frame_neardup", (s, d) => Multimodal.frameNearDup(s, d), Multimodal.q108Sql),
    query("q109_visual_clusters", (s, d) => Multimodal.visualDupClusters(s, d), Multimodal.q109Sql),
    query("q110_audio_groups", (s, d) => Multimodal.audioDupGroups(s, d), Multimodal.q110Sql),
    query("q111_template_share", Dedup.q111TemplateShare _, Dedup.q111Sql),
    query("q112_sessionize", Streams.q112Sessionize _, Streams.q112Sql),
    query("q113_shuffle_shards", Sampling.q113ShuffleShards _, Sampling.q113Sql),
    query("q114_length_batches", Sampling.q114LengthBatches _, Sampling.q114Sql),
    query("q115_bpe_encode", BpeTrain.q115BpeEncode _, BpeTrain.q115Sql),
    query("q116_containment", Dedup.q116Containment _, Dedup.q116Sql),
    query("q117_modality_checks", QualityChecks.q117ModalityChecks _, QualityChecks.q117Sql),
    query("q118_pii_risk", Redact.q118PiiRisk _, Redact.q118Sql),
    query("q119_corpus_diff", CorpusDiff.q119CorpusDiff _, CorpusDiff.q119Sql),
    query("q120_sole_late_supplier", Relational4.q120SoleLateSupplier(_, _), Relational4.q120Sql),
    query("q121_span_pairs", SpanDedup.q121SpanPairs _, SpanDedup.q121Sql),
    query("q122_cdc_dedup", (s, d) => Chunking.q122CdcDedup(s, d), Chunking.q122Sql()),
    trained("q123_cluster_sample", (s, d) => Clustering.q123ClusterSample(s, d),
      Clustering.q123OracleSql),
    query("q124_split_leakage", (s, d) => Sampling.q124SplitLeakage(s, d), Sampling.q124Sql()),
    query("q125_code_switch", (s, d) => TextAnalysis.q125CodeSwitch(s, d), TextAnalysis.q125Sql()),
    query("q126_rate_anomaly", Anomaly.q126RateAnomaly _, Anomaly.q126Sql),
    query("q127_token_budget", Sampling.q127TokenBudget _, Sampling.q127Sql),
    trained("q128_label_fragmentation", (s, d) => Clustering.q128LabelFragmentation(s, d),
      Clustering.q128OracleSql),
    query("q129_reshard_audit", (s, d) => Sampling.q129ReshardAudit(s, d), Sampling.q129Sql()),
    query("q130_hll_registers", DistinctSketch.q130HllRegisters _, DistinctSketch.q130Sql),
    query("q131_kanon_risk", Redact.q131KanonRisk _, Redact.q131Sql),
    query("q132_idle_rich", (s, d) => Relational4.q132IdleRich(s, d), Relational4.q132Sql),
    query("q133_dedup_yield", Dedup.q133DedupYield _, Dedup.q133Sql),
    query("q134_release_manifest", CorpusDiff.q134ReleaseManifest _, CorpusDiff.q134Sql),
    query("q135_fingerprint_pairs", (s, d) => TextAnalysis.q135FingerprintPairs(s, d),
      TextAnalysis.q135Sql()),
    query("q136_clustering_quality", Metadata.q136ClusteringQuality _, Metadata.q136Sql),
    query("q137_disjunctive_revenue", Relational5.q137DisjunctiveRevenue _, Relational5.q137Sql),
    query("q138_supplier_breadth", (s, d) => Relational5.q138SupplierBreadth(s, d),
      Relational5.q138Sql()),
    query("q139_doc_fates", PipelineAudit.q139DocFates _, PipelineAudit.q139Sql()),
    query("q140_cluster_splits", (s, d) => Sampling.q140ClusterSplits(s, d), Sampling.q140Sql()),
    query("q141_table_growth", Metadata.q141TableGrowth _, Metadata.q141Sql),
    query("q142_rewrite_advisory", (s, d) => Metadata.q142RewriteAdvisory(s, d),
      Metadata.q142Sql()),
    query("q143_embedding_drift", EmbeddingDrift.q143EmbeddingDrift _, EmbeddingDrift.q143Sql),
    query("q144_min_cost_supplier", Relational5.q144MinCostSupplier _, Relational5.q144Sql),
    query("q145_top_rev_supplier", Relational5.q145TopRevenueSupplier _, Relational5.q145Sql),
    query("q146_join_advisor", (s, d) => JoinAdvisor.q146JoinAdvisor(s, d), JoinAdvisor.q146Sql()),
    query("q147_bpe_fertility", BpeTrain.q147BpeFertility _, BpeTrain.q147Sql),
    trained("q148_semantic_dedup", (s, d) => Clustering.q148SemanticDedup(s, d),
      Clustering.q148OracleSql),
    query("q149_lm_fluency", LmScore.q149LmFluency _, LmScore.q149Sql),
    query("q150_target_affinity", LmScore.q150TargetAffinity _, LmScore.q150Sql),
    query("q151_range_join_auto", IntervalJoin.q151RangeJoinAuto _, IntervalJoin.q151Sql),
    query("q152_overlap_auto", IntervalJoin.q152OverlapAuto _, IntervalJoin.q152Sql),
    query("q153_leftouter_auto", IntervalJoin.q153LeftOuterAuto _, IntervalJoin.q153Sql),
    query("q154_date_range_auto", IntervalJoin.q154DateRangeAuto _, IntervalJoin.q154Sql),
    query("q155_anti_join_auto", IntervalJoin.q155AntiJoinAuto _, IntervalJoin.q155Sql),
    // the standing-store path must be semantically invisible: q156 is
    // hash-checked against q63's plain range-join SQL
    query("q156_standing_attribution", IntervalIndexStore.q156StandingAttribution _,
      IntervalJoin.q63Sql),
    query("q157_scd2_lookup_store", IntervalIndexStore.q157Scd2LookupStore _,
      IntervalIndexStore.q157Sql),
    // the index is a pruner, never a filter: q158 hashes against the
    // same query stated on the ORIGINAL single-file table
    query("q158_skipping_scan", SkippingIndex.q158SkippingScan _, SkippingIndex.q158Sql),
    // incremental merge vs one-pass full compress: same table
    query("q159_scd2_merge", ScdMerge.q159Scd2Merge _, ScdMerge.q159Sql),
    // the standing store (init + two committed batches) must reproduce
    // the same one-pass compression
    query("q160_scd2_store", ScdStore.q160Scd2Store _, ScdStore.q160Sql),
    // two-column conjunction through the z-ordered layout: same
    // pruner-honesty contract, stated on the original table
    query("q161_zorder_scan", SkippingIndex.q161ZOrderScan _, SkippingIndex.q161Sql),
    // merge-on-read equality deletes vs the NOT EXISTS statement of
    // the same erasure
    query("q162_equality_deletes", RowDeletes.q162EqualityDeletes _, RowDeletes.q162Sql),
    // the STANDING delete store must reproduce q162's oracle exactly
    query("q163_delete_store", DeleteStore.q163DeleteStore _, DeleteStore.q163Sql),
    // a bloom-pruned point probe vs the same IN-list on the raw table
    query("q164_bloom_scan", SkippingIndex.q164BloomScan _, SkippingIndex.q164Sql),
    // the transparent FileIndex scan vs the same query on the raw table
    query("q165_transparent_scan", SkippingScan.q165TransparentScan _, SkippingScan.q165Sql),
    // commit-2 snapshot vs a recompression of only the events it saw
    query("q166_scd2_time_travel", ScdStore.q166TimeTravel _, ScdStore.q166Sql),
    // the commit-window CDC delta vs the full-log compression's slice
    query("q167_scd2_changes", ScdStore.q167ChangesFeed _, ScdStore.q167Sql),
    // the composed table (append+append+delete, pruned MOR read) vs
    // the same band + NOT EXISTS stated on the raw tables
    query("q168_composed_table", GraftTable.q168ComposedTable _, GraftTable.q168Sql),
    // the same query and oracle AFTER optimize folded+z-ordered the
    // table and materialized the deletes — maintenance is invisible
    query("q169_optimized_table", GraftTable.q169OptimizedTable _, GraftTable.q169Sql),
    // the same semantics again through the transparent FileIndex read
    query("q170_transparent_table", GraftTable.q170TransparentTable _, GraftTable.q170Sql),
    // commit-3 snapshot (pre-erasure): the same band WITHOUT deletes
    query("q171_table_travel", GraftTable.q171TableTravel _, GraftTable.q171Sql),
    // the erasure commit's CDC window vs EXISTS on the raw tables
    query("q172_table_changes", GraftTable.q172TableChanges _, GraftTable.q172Sql),
    query("q173_table_mirror", GraftTable.q173TableMirror _, GraftTable.q173Sql),
    query("q174_table_evolution", GraftTable.q174TableEvolution _, GraftTable.q174Sql),
    query("q175_table_history", GraftTable.q175TableHistory _, GraftTable.q175Sql),
    query("q176_agg_mirror", GraftTable.q176AggMirror _, GraftTable.q176Sql),
    query("q177_agg_minmax", GraftTable.q177AggMinMax _, GraftTable.q177Sql),
    query("q178_filtered_mirror", GraftTable.q178FilteredMirror _, GraftTable.q178Sql),
    query("q179_join_mirror", GraftTable.q179JoinMirror _, GraftTable.q179Sql),
  ))

  // `toMap` keeps one of two same-named entries without a word.
  private def unique(defs: Seq[Def]): Seq[Def] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"query name(s) registered twice: ${dups.toSeq.sorted.mkString(",")}")
    defs
  }
}
