package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every `queries` key has a matching `oracleSql` entry (ANSI-ish SQL
  * DuckDB runs on the same parquet tables). Parity rules (SURVEY §6):
  * epoch-micros for timestamps, round(…,4) for double aggregates,
  * total-order ORDER BY, md5-over-strings keys only.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Reports.a7RptDiscovery(Staging.stgEvents(Tables.events(spark, "/root/testdata/sf0.001")))

  // memoized: the staging projection (surrogate keys, tz conversion,
  // JSON prop parse) feeds seven keyed consumers (a2–a7, a9) — one
  // parse per (session, corpus), the dbt "build staging once, derive
  // marts from it" shape. a1's keyed output stays the direct
  // projection (its contract plan is scan+project, no materialization).
  // All consumers aggregate, so none depends on this frame's order.
  // the memo BUILD spreads the scan first (parallelKernelInput: no-op
  // on any real multi-split table) so the surrogate-key/JSON parse and
  // the materialized blocks land cores-wide, not on one input split.
  // The width is BYTE-AWARE (2 MiB/block target): the memo's
  // consumers are plain aggregates, so a small events file must not
  // mint defaultParallelism near-empty blocks that every a-tier read
  // then pays one task each for (the r15 a2/a5/a6 regression —
  // measured: 32-task memo reads cost 0.13–0.47s wall per job for
  // ~1 ms of work per task); a real table reaches full width (and
  // past cores splits the gate no-ops).
  private def stg(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame("stg_events", Tables.events(s, dir))(
      graft.operators.Materialize.frame(Staging.stgEvents(
        Tables.parallelKernelInput(Tables.events(s, dir), bytesPerTask = 2048L << 10))))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a1_stg_events"      -> ((s, dir) => Staging.a1StgEvents(Tables.events(s, dir))),
    "a2_dim_user"        -> ((s, dir) => Marts.dimUser(stg(s, dir))),
    "a3_dim_event_type"  -> ((s, dir) => Marts.dimEventType(stg(s, dir))),
    "a4_fct_events"      -> ((s, dir) => Marts.fctEvents(stg(s, dir))),
    "a5_rpt_user_counts" -> ((s, dir) => Reports.a5RptUserCounts(stg(s, dir))),
    "a6_rpt_type_counts" -> ((s, dir) => Reports.a6RptTypeCounts(stg(s, dir))),
    "a7_rpt_discovery"   -> ((s, dir) => Reports.a7RptDiscovery(stg(s, dir))),
    "a8_ingest_dedup"    -> ((s, dir) => Staging.a8IngestDedup(Tables.events(s, dir))),
    "a9_dq_checks"       -> ((s, dir) => Checks.a9DqChecks(stg(s, dir))),
    "a10_date_precision" -> ((s, dir) => Staging.a10DatePrecision(Tables.events(s, dir))),
    "a11_scd2_snapshot"  -> ((s, dir) => Marts.a11Scd2Snapshot(Tables.events(s, dir))),
    "a13_freshness"      -> ((s, dir) => Checks.a13Freshness(Tables.events(s, dir))),
    "a12_incremental_mart" -> ((s, dir) => Marts.a12IncrementalMart(s, dir)),
    "a14_nested_json"    -> ((s, dir) => Staging.a14NestedJson(Tables.events(s, dir))),

    "b1_pricing_summary" -> ((s, dir) => Olap.b1PricingSummary(s, dir)),
    "b2_top_revenue"     -> ((s, dir) => Olap.b2TopRevenue(s, dir)),
    "b3_region_revenue"  -> ((s, dir) => Olap.b3RegionRevenue(s, dir)),
    "b4_window_topn"     -> ((s, dir) => Olap.b4WindowTopN(s, dir)),
    "b5_rollup"          -> ((s, dir) => Olap.b5Rollup(s, dir)),
    "b6_semi_anti"       -> ((s, dir) => Olap.b6SemiAnti(s, dir)),
    "b7_pivot"           -> ((s, dir) => Olap.b7Pivot(s, dir)),
    "b8_asof_attr"       -> ((s, dir) => Olap.b8AsofAttribution(s, dir)),
    "b9_sessionize"      -> ((s, dir) => Olap.b9Sessionize(s, dir)),
    "b10_salted_agg"     -> ((s, dir) => Skew.b10SaltedAgg(Tables.events(s, dir))),
    "b11_quantiles"      -> ((s, dir) => Stats.b11Quantiles(Tables.events(s, dir))),
    "b12_moving_agg"     -> ((s, dir) => Olap.b12MovingAgg(s, dir)),
    "b13_range_join"     -> ((s, dir) => Olap.b13RangeJoin(s, dir)),
    "b14_cube"           -> ((s, dir) => Olap.b14Cube(s, dir)),
    "b15_setops"         -> ((s, dir) => Olap.b15SetOps(s, dir)),
    "b16_gapfill"        -> ((s, dir) => Olap.b16GapFill(s, dir)),
    "b17_unpivot"        -> ((s, dir) => Olap.b17Unpivot(s, dir)),
    "b18_listagg"        -> ((s, dir) => Olap.b18ListAgg(s, dir)),
    "b19_window_nav"     -> ((s, dir) => Olap.b19WindowNav(s, dir)),
    "b20_bivariate"      -> ((s, dir) => Stats.b20Bivariate(Tables.events(s, dir))),
    "b21_time_window"    -> ((s, dir) => Olap.b21TimeWindow(s, dir)),
    "b22_grouping_sets"  -> ((s, dir) => Olap.b22GroupingSets(s, dir)),

    "c1_dedup_exact"   -> ((s, dir) => Dedup.c1Exact(Tables.documents(s, dir))),
    "c2_dedup_ngram"   -> ((s, dir) => Dedup.c2NgramJaccard(Tables.documents(s, dir))),
    "c3_dedup_minhash" -> ((s, dir) => Dedup.c3MinhashLsh(Tables.documents(s, dir))),
    "c4_dedup_simhash" -> ((s, dir) => Dedup.c4Simhash(Tables.documents(s, dir))),
    "c5_embed_neardup" -> ((s, dir) => Similarity.c5EmbedNearDup(Tables.embeddings(s, dir))),
    "c6_ann_topk"      -> ((s, dir) => Similarity.c6AnnTopK(Tables.embeddings(s, dir))),
    "c7_ann_ivf"       -> ((s, dir) => Similarity.c7AnnIvf(Tables.embeddings(s, dir))),
    "c8_langid"        -> ((s, dir) => TextAnalysis.c8LangId(Tables.documents(s, dir))),
    "c9_quality"       -> ((s, dir) => TextAnalysis.c9Quality(Tables.documents(s, dir))),
    "c10_token_count"  -> ((s, dir) => TextAnalysis.c10TokenCount(Tables.documents(s, dir))),
    "c11_fingerprint"  -> ((s, dir) => TextAnalysis.c11Fingerprint(Tables.documents(s, dir))),
    "c12_dup_clusters" -> ((s, dir) => Dedup.c12DupClusters(Tables.documents(s, dir))),
    "c13_split"        -> ((s, dir) => Sampling.c13Split(Tables.documents(s, dir))),
    "c14_quantize"     -> ((s, dir) => Sampling.c14Quantize(Tables.embeddings(s, dir))),
    "c15_normalize"    -> ((s, dir) => TextAnalysis.c15Normalize(Tables.documents(s, dir))),
    "c16_pii_redact"   -> ((s, dir) => TextAnalysis.c16PiiRedact(Tables.documents(s, dir))),
    "c17_tfidf"        -> ((s, dir) => TextAnalysis.c17TfIdf(Tables.documents(s, dir))),
    "c18_stratified"   -> ((s, dir) => Sampling.c18StratifiedSample(Tables.documents(s, dir))),
    "c19_ngram_stats"  -> ((s, dir) => TextAnalysis.c19NgramStats(Tables.documents(s, dir))),
    "c20_contamination"-> ((s, dir) => TextAnalysis.c20Contamination(Tables.documents(s, dir))),
    "c21_repetition"   -> ((s, dir) => TextAnalysis.c21Repetition(Tables.documents(s, dir))),
    // shard counts resolve through the graft.shards conf: the pinned
    // oracle constant by default, ∝ defaultParallelism under "auto"
    "c22_seq_pack"     -> ((s, dir) => Sampling.c22SequencePack(Tables.documents(s, dir),
      shards = Sampling.resolveShards(s, Sampling.PackShards))),
    "c23_curation"     -> ((s, dir) => TextAnalysis.c23CurationFilter(Tables.documents(s, dir))),
    "c24_source_stats" -> ((s, dir) => TextAnalysis.c24SourceStats(Tables.documents(s, dir))),
    "c25_doc_chunks"   -> ((s, dir) => Sampling.c25DocChunks(Tables.documents(s, dir))),
    "c26_ann_ivf_trained" -> ((s, dir) => Similarity.c26AnnIvfTrained(Tables.embeddings(s, dir))),
    "c27_chunk_curation"  -> ((s, dir) => TextAnalysis.c27ChunkCuration(Tables.documents(s, dir))),
    "c28_epoch_shuffle"   -> ((s, dir) => Sampling.c28EpochShuffle(Tables.documents(s, dir),
      shards = Sampling.resolveShards(s, Sampling.ShuffleShards))),
    "c29_quality_bins"    -> ((s, dir) => TextAnalysis.c29QualityBins(Tables.documents(s, dir))),
    // the bucketed spelling computes the same rows as the exact window
    // (Round5Spec proves equality) with no per-source sort task
    "c30_source_mixture"  -> ((s, dir) => TextAnalysis.c30SourceMixtureBucketed(Tables.documents(s, dir))),
    "c31_unigram_logprob" -> ((s, dir) => TextAnalysis.c31UnigramLogprob(Tables.documents(s, dir))),
    "c32_semantic_clusters" -> ((s, dir) => Similarity.c32SemanticClusters(Tables.embeddings(s, dir))),
    "c33_substring_dedup" -> ((s, dir) => Dedup.c33SubstringDedup(Tables.documents(s, dir))),
    "c34_span_cuts" -> ((s, dir) => Dedup.c34SpanCuts(Tables.documents(s, dir))),
    "c35_bloom_contamination" -> ((s, dir) => TextAnalysis.c35BloomContamination(Tables.documents(s, dir))),
    "c36_cluster_split" -> ((s, dir) => Sampling.c36ClusterSplit(Tables.documents(s, dir))),
    "c37_bm25" -> ((s, dir) => TextAnalysis.c37Bm25(Tables.documents(s, dir))),
    "c38_temperature_mix" -> ((s, dir) => Sampling.c38TemperatureMix(Tables.documents(s, dir))),
    "c39_dsir" -> ((s, dir) => TextAnalysis.c39DsirSelection(Tables.documents(s, dir))),
    "c40_bpe_pairs" -> ((s, dir) => TextAnalysis.c40BpePairs(Tables.documents(s, dir))),
    "c41_gopher_rules" -> ((s, dir) => TextAnalysis.c41GopherRules(Tables.documents(s, dir))),
    "c42_containment" -> ((s, dir) => Dedup.c42Containment(Tables.documents(s, dir))),
    "c43_knn_graph" -> ((s, dir) => Similarity.c43KnnGraph(Tables.embeddings(s, dir))),
    "c44_zipf_diversity" -> ((s, dir) => TextAnalysis.c44ZipfDiversity(Tables.documents(s, dir))),
    "c45_delta_dedup" -> ((s, dir) => Dedup.c45DeltaDedup(Tables.documents(s, dir))),
    "c46_bigram_logprob" -> ((s, dir) => TextAnalysis.c46BigramLogprob(Tables.documents(s, dir))),
    "c47_pq_adc" -> ((s, dir) => Similarity.c47PqAdc(Tables.embeddings(s, dir))),
    "c48_quality_classifier" -> ((s, dir) => TextAnalysis.c48QualityClassifier(Tables.documents(s, dir))),
    "c49_feature_hash" -> ((s, dir) => TextAnalysis.c49FeatureHash(Tables.documents(s, dir))),
    "c50_curation_funnel" -> ((s, dir) => TextAnalysis.c50CurationFunnel(Tables.documents(s, dir))),
    "c51_dedup_sweep" -> ((s, dir) => Dedup.c51DedupSweep(Tables.documents(s, dir))),
    "c52_token_entropy" -> ((s, dir) => TextAnalysis.c52TokenEntropy(Tables.documents(s, dir))),
    "c53_cross_source_dup" -> ((s, dir) => Dedup.c53CrossSourceDup(Tables.documents(s, dir))),
    "c54_label_consistency" -> ((s, dir) => Similarity.c54LabelConsistency(Tables.embeddings(s, dir))),
    "c55_pq_recall" -> ((s, dir) => Similarity.c55PqRecall(Tables.embeddings(s, dir))),
    "c56_delta_spans" -> ((s, dir) => Dedup.c56DeltaSpans(Tables.documents(s, dir))),
    "c57_bpe_encode" -> ((s, dir) => TextAnalysis.c57BpeEncode(Tables.documents(s, dir))),
    "c58_ppl_buckets" -> ((s, dir) => TextAnalysis.c58PerplexityBuckets(Tables.documents(s, dir))),
    "c59_novelty" -> ((s, dir) => TextAnalysis.c59Novelty(Tables.documents(s, dir))),
    "c60_ivf_pq" -> ((s, dir) => Similarity.c60IvfPqAdc(Tables.embeddings(s, dir))),
    "c61_lang_mix" -> ((s, dir) => TextAnalysis.c61LangMix(Tables.documents(s, dir))),
    "c62_eff_tokens" -> ((s, dir) => Dedup.c62EffectiveTokens(Tables.documents(s, dir))),
    "c63_bpe_sweep" -> ((s, dir) => TextAnalysis.c63BpeSweep(Tables.documents(s, dir))),
    "c64_pq_trained" -> ((s, dir) => Similarity.c64PqTrained(Tables.embeddings(s, dir))),
    "c65_ivfpq_residual" -> ((s, dir) => Similarity.c65IvfPqResidual(Tables.embeddings(s, dir))),
    "c66_ivfpq_recall" -> ((s, dir) => Similarity.c66IvfPqRecall(Tables.embeddings(s, dir))),
    "c67_gate_store" -> ((s, dir) => graft.streaming.FunnelStream.c67GateStoreAudit(s, dir)),
    "c69_winnow_pairs" -> ((s, dir) => TextAnalysis.c69WinnowPairs(Tables.documents(s, dir))),
    "c70_adc_variants" -> ((s, dir) => Similarity.c70AdcVariants(Tables.embeddings(s, dir))),
    "c71_ivfpq_trained" -> ((s, dir) => Similarity.c71IvfPqTrained(Tables.embeddings(s, dir))),
    "c72_span_exec" -> ((s, dir) => graft.streaming.SpanStream.c72SpanExec(s, dir)),
    "c73_trained_recall" -> ((s, dir) => Similarity.c73TrainedRecallGrid(Tables.embeddings(s, dir))),
    "c74_winnow_spans" -> ((s, dir) => TextAnalysis.c74WinnowSpans(Tables.documents(s, dir))),
    "c75_bpe_train" -> ((s, dir) => TextAnalysis.c75BpeTrain(Tables.documents(s, dir))),
    "c76_bpe_trained_encode" -> ((s, dir) => TextAnalysis.c76BpeTrainedEncode(Tables.documents(s, dir))),
    "c77_gate_pipeline" -> ((s, dir) => graft.streaming.FunnelStream.c77GatePipeline(s, dir)),
    "c78_clustered_recall" -> ((s, dir) => Similarity.c78ClusteredRecall(Tables.embeddings(s, dir))),
    "c68_span_store" -> ((s, dir) => graft.streaming.SpanStream.c68SpanStoreAudit(s, dir)),
    "c79_stored_serving" -> ((s, dir) => Similarity.c79StoredIndexServe(s, dir)),
    "c80_clustered_trained" -> ((s, dir) => Similarity.c80ClusteredTrainedGrid(Tables.embeddings(s, dir))),
    "c81_index_append" -> ((s, dir) => Similarity.c81IndexAppendServe(s, dir)),
    "c82_index_churn" -> ((s, dir) => Similarity.c82IndexChurnServe(s, dir)),
    "c83_stored_tokenizer" -> ((s, dir) => TextAnalysis.c83StoredTokenizer(s, dir)),
    "c84_embed_gate" -> ((s, dir) => graft.streaming.EmbedDupStream.c84EmbedGateAudit(s, dir)),
    "c157_sketch_gate" -> ((s, dir) => graft.streaming.EmbedDupStream.c157SketchGateAudit(s, dir)),
    "c85_gate5" -> ((s, dir) => graft.streaming.FunnelStream.c85Gate5Pipeline(s, dir)),
    "c86_pack_tokenized" -> ((s, dir) => Sampling.c86PackTokenized(s, dir)),
    "c87_index_health" -> ((s, dir) => Similarity.c87IndexHealth(s, dir)),
    "c88_classifier_train" -> ((s, dir) => TextAnalysis.c88ClassifierTrain(s, dir)),
    "c89_stored_classifier" -> ((s, dir) => TextAnalysis.c89StoredClassifier(s, dir)),
    "c90_student_funnel" -> ((s, dir) => TextAnalysis.c90StudentFunnel(s, dir)),
    "c91_feature_drift" -> ((s, dir) => TextAnalysis.c91FeatureDrift(s, dir)),
    "c92_tokenizer_holdout" -> ((s, dir) => TextAnalysis.c92TokenizerHoldout(s, dir)),
    "c93_active_batch" -> ((s, dir) => TextAnalysis.c93ActiveBatch(s, dir)),
    "c94_pack_boundaries" -> ((s, dir) => Sampling.c94PackBoundaries(s, dir)),
    "c95_quality_keeper" -> ((s, dir) => Dedup.c95QualityKeeper(s, dir)),
    "c96_student_gate" -> ((s, dir) => graft.streaming.FunnelStream.c96StudentGateAudit(s, dir)),
    "c97_classifier_refresh" -> ((s, dir) => TextAnalysis.c97ClassifierRefresh(s, dir)),
    "c98_export_manifest" -> ((s, dir) => Sampling.c98ExportManifest(s, dir)),
    "c99_curriculum" -> ((s, dir) => Sampling.c99CurriculumSchedule(Tables.documents(s, dir))),
    "c100_multibench_contam" -> ((s, dir) => TextAnalysis.c100MultiBenchContam(Tables.documents(s, dir))),
    "c101_manifest_diff" -> ((s, dir) => Sampling.c101ManifestDiff(s, dir)),
    "c102_threshold_sweep" -> ((s, dir) => TextAnalysis.c102ThresholdSweep(s, dir)),
    "c103_curriculum_pack" -> ((s, dir) => Sampling.c103CurriculumPack(s, dir)),
    "c104_seq_manifest" -> ((s, dir) => Sampling.c104SeqManifest(s, dir)),
    "c105_keeps_schedule" -> ((s, dir) => Sampling.c105KeepsSchedule(s, dir)),
    "c106_pack_sweep" -> ((s, dir) => Sampling.c106PackSweep(s, dir)),
    "c107_source_divergence" -> ((s, dir) => TextAnalysis.c107SourceDivergence(Tables.documents(s, dir))),
    "c108_gumbel_sample" -> ((s, dir) => TextAnalysis.c108GumbelSample(Tables.documents(s, dir))),
    "c109_rrf_fusion" -> ((s, dir) => Similarity.c109RrfFusion(s, dir)),
    "c110_embed_drift" -> ((s, dir) => Similarity.c110EmbedDrift(Tables.embeddings(s, dir))),
    "c111_keeps_pack" -> ((s, dir) => Sampling.c111KeepsPack(s, dir)),
    "c112_repeat_mixture" -> ((s, dir) => Sampling.c112RepeatMixture(s, dir)),
    "c113_pq_rerank" -> ((s, dir) => Similarity.c113PqRerank(Tables.embeddings(s, dir))),
    "c114_lsh_geometry" -> ((s, dir) => Dedup.c114LshGeometry(Tables.documents(s, dir))),
    "c115_calibration" -> ((s, dir) => TextAnalysis.c115Calibration(s, dir)),
    "c116_threshold_pick" -> ((s, dir) => TextAnalysis.c116ThresholdPick(s, dir)),
    "c117_epoch_plan" -> ((s, dir) => Sampling.c117EpochPlan(s, dir)),
    "c118_rrf_stored" -> ((s, dir) => Similarity.c118RrfStored(s, dir)),
    "c119_bpe_bytes" -> ((s, dir) => TextAnalysis.c119BpeBytes(Tables.documents(s, dir))),
    "c120_keeps_manifest" -> ((s, dir) => Sampling.c120KeepsManifest(s, dir)),
    "c121_gate5_student" -> ((s, dir) => graft.streaming.FunnelStream.c121Gate5Student(s, dir)),
    "c122_index_repair" -> ((s, dir) => Similarity.c122IndexRepair(s, dir)),
    "c123_repaired_serve" -> ((s, dir) => Similarity.c123RepairedServe(s, dir)),
    "c124_source_yield" -> ((s, dir) => TextAnalysis.c124SourceYield(s, dir)),
    "c125_fusion_recall" -> ((s, dir) => Similarity.c125FusionRecall(s, dir)),
    "c126_budget_gate" -> ((s, dir) => graft.streaming.BudgetStream.c126BudgetGateAudit(s, dir)),
    "c127_seq_vintage_diff" -> ((s, dir) => Sampling.c127SeqVintageDiff(s, dir)),
    "c128_quota_gate" -> ((s, dir) => graft.streaming.BudgetStream.c128QuotaGateAudit(s, dir)),
    "c129_pinned_schedule" -> ((s, dir) => Sampling.c129PinnedSchedule(s, dir)),
    "c130_seq_contam" -> ((s, dir) => Sampling.c130SeqContam(s, dir)),
    "c131_filtered_ann" -> ((s, dir) => Similarity.c131FilteredAnn(s, dir)),
    "c132_fertility" -> ((s, dir) => TextAnalysis.c132Fertility(s, dir)),
    "c134_cms_heavy" -> ((s, dir) => TextAnalysis.c134CmsHeavy(Tables.documents(s, dir))),
    "c135_pii_rate" -> ((s, dir) => TextAnalysis.c135PiiRate(Tables.documents(s, dir))),
    "c136_nprobe_sweep" -> ((s, dir) => Similarity.c136NprobeSweep(s, dir)),
    "c137_linear_count" -> ((s, dir) => TextAnalysis.c137LinearCount(Tables.documents(s, dir))),
    "c138_routed_serve" -> ((s, dir) => Similarity.c138RoutedServe(s, dir)),
    "c139_decontam_pack" -> ((s, dir) => Sampling.c139DecontamPack(s, dir)),
    "c140_bm25_stored" -> ((s, dir) => TextAnalysis.c140Bm25Stored(s, dir)),
    "c141_postings_append" -> ((s, dir) => TextAnalysis.c141PostingsAppend(s, dir)),
    "c142_hist_quantiles" -> ((s, dir) => TextAnalysis.c142HistQuantiles(Tables.documents(s, dir))),
    "c143_composed_gate" -> ((s, dir) => graft.streaming.BudgetStream.c143ComposedGateAudit(s, dir)),
    "c144_cluster_mix" -> ((s, dir) => Similarity.c144ClusterMix(s, dir)),
    "c145_jl_audit" -> ((s, dir) => Similarity.c145JlAudit(s, dir)),
    "c146_loss_mask" -> ((s, dir) => Sampling.c146LossMask(s, dir)),
    "c147_proj_serve" -> ((s, dir) => Similarity.c147ProjServe(s, dir)),
    "c148_door_schedule" -> ((s, dir) => graft.streaming.BudgetStream.c148DoorSchedule(s, dir)),
    "c149_cms_merge" -> ((s, dir) => TextAnalysis.c149CmsMerge(Tables.documents(s, dir))),
    "c150_hist_drift" -> ((s, dir) => TextAnalysis.c150HistDrift(Tables.documents(s, dir))),
    "c151_proj_stored" -> ((s, dir) => Similarity.c151ProjStored(s, dir)),
    "c152_mask_budget" -> ((s, dir) => Sampling.c152MaskBudget(s, dir)),
    "c153_door_ledger" -> ((s, dir) => graft.streaming.BudgetStream.c153DoorLedger(s, dir)),
    "c154_hll_distinct" -> ((s, dir) => TextAnalysis.c154HllDistinct(Tables.documents(s, dir))),
    "c155_hll_merge" -> ((s, dir) => TextAnalysis.c155HllMerge(Tables.documents(s, dir))),
    "c156_hll_vintage" -> ((s, dir) => TextAnalysis.c156HllVintage(Tables.documents(s, dir))),
    "c158_sketch_route" -> ((s, dir) => Similarity.c158SketchRoute(s, dir)),
    "c159_band_health" -> ((s, dir) => Similarity.c159BandHealth(s, dir)),
    "c160_novelty_quota" -> ((s, dir) => graft.streaming.BudgetStream.c160NoveltyQuota(s, dir)),
    "c161_door_mask" -> ((s, dir) => graft.streaming.BudgetStream.c161DoorMask(s, dir)),
    "d11_chunk_hll" -> ((s, dir) => Multimodal.d11ChunkHll(Tables.documents(s, dir))),
    "c162_sketch_adc" -> ((s, dir) => Similarity.c162SketchAdc(s, dir)),
    "c163_bpe_sampled" -> ((s, dir) => TextAnalysis.c163BpeSampled(Tables.documents(s, dir))),
    "c164_door_pack" -> ((s, dir) => graft.streaming.BudgetStream.c164DoorPack(s, dir)),
    "c165_novelty_door" -> ((s, dir) => graft.streaming.BudgetStream.c165NoveltyDoor(s, dir)),
    "c166_register_drift" -> ((s, dir) => TextAnalysis.c166RegisterDrift(Tables.documents(s, dir))),
    "c167_register_door" -> ((s, dir) => graft.streaming.BudgetStream.c167RegisterDoor(s, dir)),
    "c168_door_drift" -> ((s, dir) => graft.streaming.BudgetStream.c168DoorDrift(s, dir)),
    "d12_chunk_register_door" -> ((s, dir) => graft.streaming.BudgetStream.d12ChunkRegisterDoor(s, dir)),
    "c169_log_novelty_door" -> ((s, dir) => graft.streaming.BudgetStream.c169LogNoveltyDoor(s, dir)),
    "c170_log_compaction" -> ((s, dir) => graft.streaming.BudgetStream.c170LogCompaction(s, dir)),
    "c171_bpe_batched" -> ((s, dir) => TextAnalysis.c171BpeBatched(Tables.documents(s, dir))),
    "c173_pack_compaction" -> ((s, dir) => graft.streaming.BudgetStream.c173PackCompaction(s, dir)),
    "c172_bpe_batch_audit" -> ((s, dir) => TextAnalysis.c172BpeBatchAudit(Tables.documents(s, dir))),
    "c174_door_compaction" -> ((s, dir) => graft.streaming.FunnelStream.c174DoorCompaction(s, dir)),
    "c175_hist_door" -> ((s, dir) => graft.streaming.BudgetStream.c175HistDoor(s, dir)),
    "c176_door_hist_drift" -> ((s, dir) => graft.streaming.BudgetStream.c176DoorHistDrift(s, dir)),
    "c177_sample_door" -> ((s, dir) => graft.streaming.BudgetStream.c177SampleDoor(s, dir)),
    "c178_snapshot_serve" -> ((s, dir) => graft.streaming.BudgetStream.c178SnapshotServe(s, dir)),
    "c179_bpe_batch_sweep" -> ((s, dir) => TextAnalysis.c179BpeBatchSweep(Tables.documents(s, dir))),
    "c133_query_ood" -> ((s, dir) => Similarity.c133QueryOod(s, dir)),

    "d1_multimodal_meta" -> ((s, dir) => Multimodal.d1MultimodalMeta(s, Tables.documents(s, dir)).toDF()),
    "d2_media_chunks"    -> ((s, dir) => Multimodal.d2MediaChunks(Tables.documents(s, dir))),
    "d3_frame_sample"    -> ((s, dir) => Multimodal.d3FrameSample(Tables.documents(s, dir))),
    "d4_chunk_dedup"     -> ((s, dir) => Multimodal.d4ChunkDedup(Tables.documents(s, dir))),
    "d5_media_manifest"  -> ((s, dir) => Multimodal.d5MediaManifest(Tables.documents(s, dir))),
    "d6_media_neardup"   -> ((s, dir) => Multimodal.d6MediaNearDup(Tables.documents(s, dir))),
    "d7_cluster_manifest" -> ((s, dir) => Multimodal.d7ClusterManifest(Tables.documents(s, dir))),
    "d8_cdc_chunks"      -> ((s, dir) => Multimodal.d8CdcChunks(Tables.documents(s, dir))),
    "d9_frame_neardup"   -> ((s, dir) => Multimodal.d9FrameNearDup(Tables.documents(s, dir))),
    "d10_cdc_dedup"      -> ((s, dir) => Multimodal.d10CdcDedup(Tables.documents(s, dir))),

    "e1_stream_hourly" -> ((s, dir) => graft.streaming.EventsStream.e1Batch(Tables.events(s, dir))),
    "e2_stream_dedup"  -> ((s, dir) => graft.streaming.EventsStream.e2Batch(Tables.events(s, dir))),
    "e3_stream_join"   -> ((s, dir) => graft.streaming.EventsStream
      .purchaseClickJoin(Tables.events(s, dir), streaming = false).orderBy("p_id", "c_id")),
    "e4_stream_late"   -> ((s, dir) => graft.streaming.EventsStream.e4Batch(Tables.events(s, dir))),
    "e5_stream_outer_join" -> ((s, dir) => graft.streaming.EventsStream
      .purchaseClickJoin(Tables.events(s, dir), streaming = false, joinType = "left_outer")
      .orderBy("p_id", "c_id")),
    "e6_session_window" -> ((s, dir) => graft.streaming.EventsStream
      .e6SessionAgg(Tables.events(s, dir), streaming = false)
      .orderBy("user_id", "start_us"))
  )

  /** Shared staging CTE for the oracles — the DuckDB spelling of
    * Staging.stgEvents. */
  private val STG = """
    select
      md5(concat_ws('-', coalesce(user_id::varchar,'_graft_null_'), coalesce(event_type,'_graft_null_'), coalesce(epoch_us(ts)::varchar,'_graft_null_'))) as play_id,
      md5(concat_ws('-', coalesce(user_id::varchar,'_graft_null_'), coalesce(event_type,'_graft_null_'))) as track_id,
      md5(coalesce(event_type,'_graft_null_')) as type_id,
      md5(coalesce(user_id::varchar,'_graft_null_')) as user_sk,
      event_id, user_id, event_type, ts,
      timezone('America/Boise', timezone('UTC', ts)) as ts_mtn,
      value, json_extract_string(props,'k')::bigint as prop_k
    from events
  """

  // multimodal tunables shared with the oracle SQL below
  private val CHUNK = operators.Multimodal.DefaultChunkBytes
  private val STRIDE = operators.Multimodal.DefaultStride
  private val CDC_W = operators.Multimodal.CdcWindow
  private val CDC_M = operators.Multimodal.CdcModulus

  /** d6's phash → bands → verified pairs → component-label CTE list
    * (no WITH keyword; needs `recursive`) — shared by the d6 report
    * and d7's cluster accounting, geometry interpolated from the
    * operator constants. */
  private val D6_CHAIN = s"""m as (
        select doc_id,
               ['image','audio','video'][(doc_id % 3 + 1)::int] as media_type,
               hex(encode(text)) as hx
        from documents),
      geo as (
        select doc_id, media_type, hx,
               greatest(ceil(strlen(hx) / ${operators.Multimodal.PhashStripes}.0)::bigint, 1) as w
        from m),
      ph as (
        select doc_id, media_type,
               bit_or(case when substr(md5(substr(hx, (i*w+1)::int, w::int)),1,1) >= '8'
                           then 1::bigint << i else 0::bigint end) as phash
        from geo, lateral (select unnest(range(0, ${operators.Multimodal.PhashStripes})) as i) t
        group by doc_id, media_type),
      bands as (
        select doc_id, media_type, phash, j, (phash >> (15*j)::int) & 32767 as band
        from ph, lateral (select unnest(range(0, ${operators.Multimodal.PhashBands})) as j) t
        qualify count(*) over (partition by media_type, j, band) <= ${operators.Dedup.BucketCap}),
      vp as (
        select distinct a.doc_id as doc_a, b.doc_id as doc_b
        from bands a join bands b
          on a.media_type = b.media_type and a.j = b.j and a.band = b.band
          and a.doc_id < b.doc_id
        where bit_count(xor(a.phash, b.phash)) <= ${operators.Multimodal.PhashMaxHamming}),
      edges as (
        select doc_a as a, doc_b as b from vp
        union
        select doc_b as a, doc_a as b from vp),
      reach(a, b) as (
        select a, b from edges
        union
        select r.a, e.b from reach r join edges e on r.b = e.a where e.b <> r.a),
      lab as (select a as doc_id, least(a, min(b)) as cluster from reach group by a)"""

  /** d8's CDC chunk chain up to `ch(doc_id, media_type, hx, start,
    * chunk_idx, fin)` (CTE list, no WITH) — shared by d8 and d10. */
  private val D8_CHAIN = s"""c as (
        select doc_id,
               ['image','audio','video'][(doc_id % 3 + 1)::int] as media_type,
               hex(encode(text)) as hx,
               octet_length(encode(text)) as n_bytes
        from documents),
      g as (
        select doc_id, p,
               ((('0x' || substring(hx, (2 * p + 1)::int, 2))::bigint + 1) * 40503) % 65521 as gv
        from (select doc_id, hx, unnest(range(0, n_bytes)) as p from c)),
      s as (
        select doc_id, p,
               sum(gv) over (partition by doc_id order by p
                             rows between ${CDC_W - 1} preceding and current row) as ws
        from g),
      starts as (
        select doc_id, 0::bigint as start from c
        union all
        select s.doc_id, (s.p + 1)::bigint as start
        from s join c on s.doc_id = c.doc_id
        where s.p >= ${CDC_W - 1} and s.p < c.n_bytes - 1 and s.ws % $CDC_M = 0),
      ch as (
        select st.doc_id, c.media_type, c.hx, st.start,
               row_number() over (partition by st.doc_id order by st.start) - 1 as chunk_idx,
               coalesce(lead(st.start) over (partition by st.doc_id order by st.start),
                        c.n_bytes) as fin
        from starts st join c on st.doc_id = c.doc_id)"""

  /** DuckDB spelling of Marts.dimTrack (internal columns). */
  private val DIM_TRACK = """
    select track_id, user_id, event_type,
           count(*) as total_plays,
           min(ts_mtn) as first_mtn,
           max(value) as max_value
    from stg group by track_id, user_id, event_type
  """

  def oracleSql: Map[String, String] = OraclesB.sql ++ OraclesC.sql ++ Map(
    "a1_stg_events" -> s"""
      with stg as ($STG)
      select play_id, track_id, type_id, user_sk, event_id, user_id, event_type,
             epoch_us(ts) as ts_us, epoch_us(ts_mtn) as ts_mtn_us, value, prop_k
      from stg order by event_id
    """,

    "a2_dim_user" -> s"""
      with stg as ($STG)
      select user_sk, user_id, count(*) as total_plays,
             epoch_us(min(ts_mtn)) as first_played_us,
             year(min(ts_mtn))::bigint as yr_first_played,
             week(min(ts_mtn)::date)::bigint as wk_first_played
      from stg group by user_sk, user_id order by user_sk
    """,

    "a3_dim_event_type" -> s"""
      with stg as ($STG)
      select distinct type_id, event_type from stg order by type_id
    """,

    "a4_fct_events" -> s"""
      with stg as ($STG)
      select play_id, track_id, type_id, user_sk, event_id,
             epoch_us(ts) as ts_us, epoch_us(ts_mtn) as ts_mtn_us, value, prop_k
      from stg order by ts_mtn_us desc, event_id
    """,

    // thresholds interpolated from Checks' constants; DuckDB's log(x)
    // is log10 — c31 uses log10() explicitly on both sides
    "a13_freshness" -> s"""
      with t as (
        select event_type, count(*) as n_events,
               max(epoch_us(ts)) as max_loaded_us
        from events group by event_type),
      a as (select max(epoch_us(ts)) as as_of_us from events)
      select t.event_type, t.n_events, t.max_loaded_us, a.as_of_us,
             a.as_of_us - t.max_loaded_us as lag_us,
             case when a.as_of_us - t.max_loaded_us > ${graft.operators.Checks.FreshErrorUs} then 'error'
                  when a.as_of_us - t.max_loaded_us > ${graft.operators.Checks.FreshWarnUs} then 'warn'
                  else 'pass' end as freshness
      from t, a order by event_type
    """,

    "a11_scd2_snapshot" -> """
      with e as (
        select user_id, event_type, epoch_us(ts) as ts_us, event_id,
               lag(event_type) over (partition by user_id order by ts, event_id) as prev_type
        from events),
      c as (
        select user_id, event_type, ts_us, event_id
        from e where prev_type is null or prev_type <> event_type)
      select user_id,
             row_number() over (partition by user_id order by ts_us, event_id) as version,
             event_type,
             ts_us as valid_from_us,
             lead(ts_us) over (partition by user_id order by ts_us, event_id) as valid_to_us,
             lead(ts_us) over (partition by user_id order by ts_us, event_id) is null as is_current
      from c order by user_id, version
    """,

    // a12 merges two overlapping batches through the bucketed upsert
    // store; the oracle is a4's FULL-REBUILD SQL — incremental must
    // equal full refresh, overlap included
    "a12_incremental_mart" -> s"""
      with stg as ($STG)
      select play_id, track_id, type_id, user_sk, event_id,
             epoch_us(ts) as ts_us, epoch_us(ts_mtn) as ts_mtn_us, value, prop_k
      from stg order by ts_mtn_us desc, event_id
    """,

    // a14 builds the identical nested JSON text on both engines; the
    // array-of-structs extraction + join is the thing under test
    "a14_nested_json" -> """
      with j as (
        select event_id,
          '{"album": {"name": "album_' || (event_id % 20)::varchar || '"}, "artists": [' ||
            array_to_string(list_transform(range((event_id % 3 + 1)::bigint), i ->
              '{"name": "artist_' || ((user_id + i*7) % 50)::varchar || '"}'), ',') || ']}' as payload
        from events)
      select event_id,
        json_extract_string(payload, '$.album.name') as album_name,
        json_array_length(json_extract(payload, '$.artists'))::bigint as n_artists,
        array_to_string(list_transform(range(json_array_length(json_extract(payload, '$.artists'))::bigint),
          i -> json_extract_string(payload, '$.artists[' || i::varchar || '].name')), ', ') as artist_names
      from j order by event_id
    """,

    "a5_rpt_user_counts" -> s"""
      with stg as ($STG),
      dim as ($DIM_TRACK),
      anchor as (select max(ts_mtn) as anchor_mtn from stg)
      select dim.user_id, count(*) as plays,
             round(sum(dim.max_value / 60.0), 4) as minutes_played
      from stg cross join anchor
      join dim on stg.track_id = dim.track_id
      where date_diff('day', stg.ts_mtn::date, anchor.anchor_mtn::date) <= 30
      group by dim.user_id
      order by plays desc, dim.user_id
    """,

    "a6_rpt_type_counts" -> s"""
      with stg as ($STG),
      dim as ($DIM_TRACK),
      dtype as (select distinct type_id, event_type from stg),
      anchor as (select max(ts_mtn) as anchor_mtn from stg),
      counts as (
        select stg.track_id, count(*) as plays,
               round(sum(dim.max_value / 60.0), 4) as minutes_played
        from stg cross join anchor
        join dim on stg.track_id = dim.track_id
        where date_diff('day', stg.ts_mtn::date, anchor.anchor_mtn::date) <= 30
        group by stg.track_id
      )
      select dtype.event_type as type_name, dim.user_id, counts.plays, counts.minutes_played
      from counts
      left join dim on counts.track_id = dim.track_id
      left join dtype on md5(coalesce(dim.event_type,'_graft_null_')) = dtype.type_id
      order by counts.plays desc, dim.user_id, type_name
    """,

    "a7_rpt_discovery" -> s"""
      with stg as ($STG),
      base as (
        select year(ts_mtn)::bigint as year_played,
               week(ts_mtn::date)::bigint as week_played,
               max(ts_mtn::date) as week_dt,
               count(*) as plays,
               count(distinct user_sk) as uniq_users,
               count(distinct track_id) as uniq_tracks
        from stg group by 1, 2
      ),
      new_tracks as (
        select year(first_mtn)::bigint as year_played,
               week(first_mtn::date)::bigint as week_played,
               count(*) as new_tracks
        from (select track_id, min(ts_mtn) as first_mtn from stg group by track_id)
        group by 1, 2
      ),
      new_users as (
        select year(first_mtn)::bigint as year_played,
               week(first_mtn::date)::bigint as week_played,
               count(*) as new_users
        from (select user_sk, min(ts_mtn) as first_mtn from stg group by user_sk)
        group by 1, 2
      )
      select base.year_played, base.week_played, base.week_dt, base.plays,
             base.uniq_users, base.uniq_tracks,
             new_tracks.new_tracks, new_users.new_users,
             round(case when base.uniq_tracks = 0 or base.uniq_tracks is null then null
                        else new_tracks.new_tracks / base.uniq_tracks end, 4) as track_discovery_rate,
             round(case when base.uniq_users = 0 or base.uniq_users is null then null
                        else new_users.new_users / base.uniq_users end, 4) as user_discovery_rate
      from base
      left join new_tracks on base.year_played = new_tracks.year_played and base.week_played = new_tracks.week_played
      left join new_users on base.year_played = new_users.year_played and base.week_played = new_users.week_played
      order by base.year_played, base.week_played
    """,

    "a10_date_precision" -> """
      with d as (
        select event_id,
               case when event_id % 2 = 0 then 'day' else 'year' end as precision,
               case when event_id % 2 = 0 then strftime(ts, '%Y-%m-%d')
                    else strftime(ts, '%Y') end as date_str
        from events),
      p as (
        select event_id, precision,
               case when precision = 'day' then date_str::date
                    when precision = 'year' then (date_str || '-01-01')::date end as release_date
        from d)
      select precision, release_date, count(*) as n_events, min(event_id) as first_event
      from p group by 1, 2 order by precision, release_date
    """,

    "a8_ingest_dedup" -> """
      with unioned as (
        select *, 1::bigint as src_batch from events where event_id % 10 < 7
        union all
        select *, 2::bigint as src_batch from events where event_id % 10 >= 3
      ),
      ranked as (
        select event_id, src_batch, epoch_us(ts) as ts_us, event_type, value,
               row_number() over (partition by event_id order by src_batch) as rn
        from unioned
      )
      select event_id, src_batch, ts_us, event_type, value
      from ranked where rn = 1 order by event_id
    """,

    "a9_dq_checks" -> s"""
      with stg as ($STG),
      du as (select user_sk from stg group by user_sk, user_id),
      dt as (select track_id from stg group by track_id, user_id, event_type),
      dty as (select distinct type_id from stg),
      v as (select
        (select count(*) from (select user_sk from du group by user_sk having count(*) > 1)) as du_uniq,
        (select count(*) from du where user_sk is null) as du_null,
        (select count(*) from (select track_id from dt group by track_id having count(*) > 1)) as dt_uniq,
        (select count(*) from dt where track_id is null) as dt_null,
        (select count(*) from (select type_id from dty group by type_id having count(*) > 1)) as dty_uniq,
        (select count(*) from (select play_id from stg group by play_id having count(*) > 1)) as f_uniq,
        (select count(*) from stg where play_id is null) as f_null)
      select t.* from v, lateral (values
        ('dim_user.user_sk.unique', v.du_uniq, v.du_uniq = 0),
        ('dim_user.user_sk.not_null', v.du_null, v.du_null = 0),
        ('dim_track.track_id.unique', v.dt_uniq, v.dt_uniq = 0),
        ('dim_track.track_id.not_null', v.dt_null, v.dt_null = 0),
        ('dim_event_type.type_id.unique', v.dty_uniq, v.dty_uniq = 0),
        ('fct_events.play_id.unique', v.f_uniq, v.f_uniq = 0),
        ('fct_events.play_id.not_null', v.f_null, v.f_null = 0)
      ) as t(check_name, n_violations, passed)
      order by check_name
    """,

    "d1_multimodal_meta" -> """
      select doc_id,
             ['image','audio','video'][(doc_id % 3 + 1)::int] as media_type,
             strlen(text)::bigint as n_bytes,
             md5(text) as content_md5,
             16 + ('0x'||substr(md5(text),1,4))::bigint % 2048 as fake_width,
             16 + ('0x'||substr(md5(text),5,4))::bigint % 2048 as fake_height,
             case when ['image','audio','video'][(doc_id % 3 + 1)::int] = 'video'
                  then 1 + ('0x'||substr(md5(text),9,4))::bigint % 8 else 1::bigint end as n_frames,
             'stubbed' as decode_status
      from documents order by doc_id
    """,

    // chunk/stride literals interpolated from the operator's own
    // constants (Multimodal.DefaultChunkBytes/DefaultStride) — the
    // hex-domain offsets are 2× the byte values
    "d2_media_chunks" -> s"""
      with c as (
        select doc_id,
               ['image','audio','video'][(doc_id % 3 + 1)::int] as media_type,
               hex(encode(text)) as hx,
               octet_length(encode(text)) as n_bytes
        from documents),
      x as (
        select doc_id, media_type, hx,
               unnest(range(0, greatest(ceil(n_bytes::double / $CHUNK)::bigint, 1))) as chunk_idx
        from c)
      select doc_id, media_type, chunk_idx::bigint as chunk_idx,
             (length(substring(hx, (chunk_idx * ${2 * CHUNK} + 1)::int, ${2 * CHUNK})) / 2)::bigint as chunk_len,
             md5(substring(hx, (chunk_idx * ${2 * CHUNK} + 1)::int, ${2 * CHUNK})) as chunk_md5
      from x order by doc_id, chunk_idx
    """,

    "d3_frame_sample" -> s"""
      with c as (
        select doc_id,
               ['image','audio','video'][(doc_id % 3 + 1)::int] as media_type,
               hex(encode(text)) as hx,
               octet_length(encode(text)) as n_bytes
        from documents),
      x as (
        select doc_id, media_type, hx,
               unnest(range(0, greatest(ceil(n_bytes::double / $CHUNK)::bigint, 1))) as chunk_idx
        from c)
      select doc_id, (chunk_idx / $STRIDE)::bigint as frame_idx, chunk_idx::bigint as chunk_idx,
             (length(substring(hx, (chunk_idx * ${2 * CHUNK} + 1)::int, ${2 * CHUNK})) / 2)::bigint as chunk_len,
             md5(substring(hx, (chunk_idx * ${2 * CHUNK} + 1)::int, ${2 * CHUNK})) as chunk_md5
      from x
      where media_type = 'video' and chunk_idx % $STRIDE = 0
      order by doc_id, frame_idx
    """,

    "d4_chunk_dedup" -> s"""
      with c as (
        select doc_id, hex(encode(text)) as hx,
               octet_length(encode(text)) as n_bytes
        from documents),
      x as (
        select doc_id, hx,
               unnest(range(0, greatest(ceil(n_bytes::double / $CHUNK)::bigint, 1))) as chunk_idx
        from c),
      ch as (
        select doc_id,
               (length(substring(hx, (chunk_idx * ${2 * CHUNK} + 1)::int, ${2 * CHUNK})) / 2)::bigint as chunk_len,
               md5(substring(hx, (chunk_idx * ${2 * CHUNK} + 1)::int, ${2 * CHUNK})) as chunk_md5
        from x)
      select chunk_md5, count(*) as n_copies, count(distinct doc_id) as n_docs,
             min(doc_id) as canonical_doc, max(chunk_len) as chunk_len,
             (count(*) - 1) * max(chunk_len) as dup_bytes
      from ch group by chunk_md5 having count(*) > 1
      order by n_copies desc, chunk_md5
    """,

    // d5 defines the canonical copy by (doc_id, chunk_idx) order; the
    // oracle spells it as a per-checksum row_number, the operator as a
    // struct-min agg + join (window partitions would be unbounded on a
    // degenerate corpus) — same result by construction
    "d5_media_manifest" -> s"""
      with c as (
        select doc_id,
               ['image','audio','video'][(doc_id % 3 + 1)::int] as media_type,
               hex(encode(text)) as hx,
               octet_length(encode(text)) as n_bytes
        from documents),
      x as (
        select doc_id, media_type, hx,
               unnest(range(0, greatest(ceil(n_bytes::double / $CHUNK)::bigint, 1))) as chunk_idx
        from c),
      ch as (
        select doc_id, media_type, chunk_idx,
               (length(substring(hx, (chunk_idx * ${2 * CHUNK} + 1)::int, ${2 * CHUNK})) / 2)::bigint as chunk_len,
               md5(substring(hx, (chunk_idx * ${2 * CHUNK} + 1)::int, ${2 * CHUNK})) as chunk_md5
        from x),
      r as (
        select *, row_number() over (partition by chunk_md5 order by doc_id, chunk_idx) as rn
        from ch)
      select doc_id, media_type, count(*) as n_chunks,
             sum(chunk_len)::bigint as n_bytes,
             sum(case when rn > 1 then 1 else 0 end)::bigint as n_redundant,
             sum(case when rn > 1 then chunk_len else 0 end)::bigint as reclaim_bytes,
             case when sum(chunk_len) = 0 then null
                  else round((sum(chunk_len) - sum(case when rn > 1 then chunk_len else 0 end))::double
                             / sum(chunk_len), 4) end as uniq_ratio
      from r group by doc_id, media_type order by doc_id
    """,

    // d6's stub-pHash (60 hex stripes, top md5 bit each), 4×15
    // pigeonhole bands within media type, hamming ≤ 3, recursive-reach
    // components (c32's spelling at asset grain) — geometry
    // interpolated from the operator constants
    "d6_media_neardup" -> s"""
      with recursive $D6_CHAIN
      select ph.doc_id, ph.media_type, ph.phash,
             coalesce(lab.cluster, ph.doc_id) as cluster,
             (case when coalesce(lab.cluster, ph.doc_id) = ph.doc_id then 1 else 0 end)::bigint as is_canonical
      from ph left join lab on ph.doc_id = lab.doc_id
      order by ph.doc_id
    """,

    "d7_cluster_manifest" -> s"""
      with recursive $D6_CHAIN,
      cl as (
        select ph.doc_id, ph.media_type,
               coalesce(lab.cluster, ph.doc_id) as cluster,
               (case when coalesce(lab.cluster, ph.doc_id) = ph.doc_id then 1 else 0 end) as is_canonical
        from ph left join lab on ph.doc_id = lab.doc_id),
      sz as (select doc_id, octet_length(encode(text))::bigint as asset_bytes from documents)
      select cluster, media_type, count(*) as n_assets,
             sum(asset_bytes)::bigint as n_bytes,
             sum(case when is_canonical = 0 then asset_bytes else 0 end)::bigint as reclaim_bytes
      from cl join sz using (doc_id)
      group by cluster, media_type
      order by cluster
    """,

    // d8: content-defined chunking — the oracle spells the kernel's
    // rolling rule declaratively: per-byte gear values (exact int
    // math both engines share), a 16-row window sum, cut after byte
    // p when the full-window sum ≡ 0 (mod 64), chunks between
    // consecutive cuts with d2's hex-domain checksum. Geometry
    // constants interpolated from the operator (CdcWindow/CdcModulus).
    "d8_cdc_chunks" -> s"""
      with $D8_CHAIN
      select doc_id, media_type, chunk_idx::bigint as chunk_idx,
             (fin - start)::bigint as chunk_len,
             md5(substring(hx, (2 * start + 1)::int, (2 * (fin - start))::int)) as chunk_md5
      from ch order by doc_id, chunk_idx
    """,

    // d10: d4's content-addressed dedup aggregate over d8's CDC
    // chunk stream — same report contract as d4
    "d10_cdc_dedup" -> s"""
      with $D8_CHAIN,
      cc as (
        select doc_id, (fin - start)::bigint as chunk_len,
               md5(substring(hx, (2 * start + 1)::int, (2 * (fin - start))::int)) as chunk_md5
        from ch)
      select chunk_md5, count(*) as n_copies, count(distinct doc_id) as n_docs,
             min(doc_id) as canonical_doc, max(chunk_len) as chunk_len,
             (count(*) - 1) * max(chunk_len) as dup_bytes
      from cc group by chunk_md5
      having count(*) > 1
      order by n_copies desc, chunk_md5
    """,

    // d9: frame-grain perceptual near-dup — d3's stride sampling +
    // d6's stripe hash at FRAME geometry (32 stripes over each
    // sampled chunk's hex), 4×8-bit pigeonhole bands, xor-popcount
    // verify, then the c42-shaped containment report per video pair
    "d9_frame_neardup" -> s"""
      with fm as (
        select doc_id, hex(encode(text)) as hx
        from documents where doc_id % 3 = 2),
      fgeo as (
        select doc_id, hx,
               greatest(ceil(strlen(hx) / ${2 * CHUNK}.0)::bigint, 1) as nc
        from fm),
      fr as (
        select doc_id, (i / $STRIDE)::bigint as frame_idx,
               substr(hx, (i * ${2 * CHUNK} + 1)::int, ${2 * CHUNK}) as fhx
        from fgeo, lateral (select unnest(range(0, nc)) as i) t
        where i % $STRIDE = 0),
      frw as (
        select doc_id, frame_idx, fhx,
               greatest(ceil(strlen(fhx) / ${operators.Multimodal.FrameStripes}.0)::bigint, 1) as w
        from fr),
      fp as (
        select doc_id, frame_idx,
               bit_or(case when substr(md5(substr(fhx, (s*w+1)::int, w::int)),1,1) >= '8'
                           then 1::bigint << s else 0::bigint end) as fhash
        from frw, lateral (select unnest(range(0, ${operators.Multimodal.FrameStripes})) as s) t
        group by doc_id, frame_idx),
      nf as (select doc_id, count(*)::bigint as n_frames from fp group by doc_id),
      fbands as (
        select doc_id, frame_idx, fhash, j, (fhash >> (8*j)::int) & 255 as band
        from fp, lateral (select unnest(range(0, ${operators.Multimodal.FrameBands})) as j) t
        qualify count(*) over (partition by j, band) <= ${operators.Dedup.BucketCap}),
      mp as (
        select distinct a.doc_id as doc_a, a.frame_idx as fa,
                        b.doc_id as doc_b, b.frame_idx as fb
        from fbands a join fbands b
          on a.j = b.j and a.band = b.band and a.doc_id < b.doc_id
        where bit_count(xor(a.fhash, b.fhash)) <= ${operators.Multimodal.FrameMaxHamming}),
      agg as (
        select doc_a, doc_b, count(*)::bigint as n_frame_pairs,
               count(distinct fa)::bigint as ma, count(distinct fb)::bigint as mb
        from mp group by doc_a, doc_b),
      rep as (
        select case when na.n_frames <= nb.n_frames then doc_a else doc_b end as doc_in,
               case when na.n_frames <= nb.n_frames then doc_b else doc_a end as doc_of,
               n_frame_pairs,
               least(na.n_frames, nb.n_frames) as n_frames_in,
               round((case when na.n_frames <= nb.n_frames then ma else mb end)::double
                     / least(na.n_frames, nb.n_frames), 4) as coverage
        from agg join nf na on agg.doc_a = na.doc_id
                 join nf nb on agg.doc_b = nb.doc_id)
      select doc_in, doc_of, n_frame_pairs, n_frames_in, coverage
      from rep order by coverage desc, doc_in, doc_of limit 50
    """,

    "e1_stream_hourly" -> """
      select epoch_us(date_trunc('hour', ts)) as hour_us, event_type,
             count(*) as n_events, round(sum(value), 4) as sum_value
      from events group by 1, 2 order by hour_us, event_type
    """,

    "e2_stream_dedup" -> """
      select user_id, event_type, epoch_us(ts) as ts_us, min(event_id) as keep_event_id
      from events group by 1, 2, 3 order by ts_us, user_id, event_type
    """,

    "e3_stream_join" -> """
      select p.event_id as p_id, c.event_id as c_id, p.user_id,
             epoch_us(p.ts) as p_ts_us, epoch_us(c.ts) as c_ts_us
      from events p join events c
        on p.user_id = c.user_id
       and p.event_type = 'purchase' and c.event_type = 'click'
       and c.ts >= p.ts - interval 1 hour and c.ts <= p.ts
      order by p_id, c_id
    """,

    // e4: the watermark policy replayed — arrival order = event_id,
    // watermark = max earlier event time - 2h, first surviving
    // arrival per key keeps
    "e4_stream_late" -> """
      with w4 as (
        select event_id, user_id, event_type, epoch_us(ts) as ts_us,
               max(epoch_us(ts)) over (order by event_id
                 rows between unbounded preceding and 1 preceding) as prev_max
        from events),
      s4 as (
        select event_id, user_id, event_type, ts_us,
               (prev_max is not null and ts_us < prev_max - 7200000000) as is_late
        from w4),
      d4 as (
        select *, row_number() over (partition by user_id, event_type, ts_us, is_late
                    order by event_id) as rn
        from s4)
      select event_id, user_id, event_type, ts_us,
             case when is_late then 'late' when rn = 1 then 'keep' else 'dup' end as status
      from d4 order by event_id
    """,

    "e5_stream_outer_join" -> """
      select p.event_id as p_id, c.event_id as c_id, p.user_id,
             epoch_us(p.ts) as p_ts_us, epoch_us(c.ts) as c_ts_us
      from (select * from events where event_type = 'purchase') p
      left join (select * from events where event_type = 'click') c
        on p.user_id = c.user_id
       and c.ts >= p.ts - interval 1 hour and c.ts <= p.ts
      order by p_id, c_id
    """,

    // e6: session_window replayed as gaps-and-islands — a boundary
    // event (diff >= gap) opens a new session (Spark's [start, end)
    // merge rule), session end = last event + gap
    "e6_session_window" -> """
      with s6 as (
        select user_id, epoch_us(ts) as ts_us, value, event_id,
               case when lag(epoch_us(ts)) over (partition by user_id
                      order by ts, event_id) is null then 1
                    when epoch_us(ts) - lag(epoch_us(ts)) over (partition by user_id
                      order by ts, event_id) >= 1800000000 then 1
                    else 0 end as brk
        from events),
      g6 as (
        select user_id, ts_us, value,
               sum(brk) over (partition by user_id order by ts_us, event_id
                 rows between unbounded preceding and current row) as sid
        from s6)
      select user_id, min(ts_us) as start_us,
             (max(ts_us) + 1800000000)::bigint as end_us,
             count(*) as n_events, round(sum(value), 4) as sum_value
      from g6 group by user_id, sid
      order by user_id, start_us
    """
  )
}
