package graft.tools

/** Dumps `explain("formatted")` for the headline queries to `PLANS.md` — a
  * committed artifact so plan-level claims (pushdown, broadcasts, codegen
  * spans, no BNLJ/cartesian) are auditable without running anything.
  * Regenerate after plan-affecting changes: `sbt "runMain graft.tools.PlanDump"`.
  */
object PlanDump {

  private val headline = Seq(
    "q01_agg_pricing", "q03_join3_topk", "q06_broadcast_join",
    "q27_range_join", "q28_asof_last_view", "q29_salted_join",
    "q30_dedup_exact", "q34_ngram_jaccard", "q35_minhash_lsh",
    "q36_simhash", "q37_sim_topk", "q39_embedding_neardup",
    "q40_lsh_jaccard_verified", "q43_ivf_search", "q44_rp_lsh_neardup",
    "q45_dedup_clusters",
    "q46_group_percentiles", "q47_stratified_sample", "q48_tfidf",
    "q49_minhash_estimate", "q57_pack_sequences", "q59_vocab_coverage",
    "q61_pq_codes", "q67_decontam_flags", "q69_unigram_surprisal",
    "q70_ivfpq_topk", "q71_window_dedup", "q72_kmeans_refine",
    "q73_dedup_disposition", "q74_bloom_decontam", "q75_boilerplate_frac",
    "q76_top_windows", "q77_gopher_rules", "q78_surprisal_split",
    "q79_decontam_frac", "q80_span_dedup", "q81_hash_quality",
    "q82_dsir_weights", "q83_token_budget", "q84_sq8_codes",
    "q85_epoch_assign", "q86_semdedup", "q87_asset_dedup",
    "q88_bigram_surprisal", "q89_char_entropy", "q90_source_overlap",
    "q91_bpe_tokens", "q92_winnow_fingerprint", "q93_containment",
    "q94_source_report", "q95_containment_verified",
    "q96_bpe_real_tokens", "q97_train_quality", "q98_image_decode",
    "q99_audio_decode", "q100_mix_weights", "q101_normalize_text",
    "q102_auc_eval", "q103_stratum_topk", "q104_bpe_learn",
    "q105_image_neardup", "q106_audio_neardup", "q107_frame_sample",
    "q108_trigram_backoff", "q109_lsh_plan", "q110_source_divergence",
    "q111_lsh_recall", "q112_delta_dedup", "q113_pipeline_waterfall",
    "q114_train_order", "q115_decontam_scrub", "q116_span_quality_prune",
    "q117_leakfree_split", "q118_repetition_scrub", "q119_semantic_decontam",
    "q120_tokenizer_fit", "q121_ingest_plan", "q122_ivfpq_saved_search",
    "q123_prototype_select", "q124_prototype_topk", "q125_media_waterfall",
    "q126_ivfpq_append_search", "q127_ivfpq_staleness_audit",
    "q128_multimodal_verdict", "q129_ann_recall_audit",
    "q130_cluster_weights", "q131_calibration_bins", "q132_dedup_impact",
    "q133_ivfpq_rebuild_search", "q134_keeper_consistency",
    "q135_index_neardup_batch", "q136_soft_dedup_sample",
    "q137_hard_negatives", "q138_snapshot_diff", "q139_embedding_health",
    "q140_vector_health", "q141_embedding_drift", "q142_retrieval_quality",
    "q143_manifest_delta_dedup", "q144_bm25_topk",
    "q145_ivfpq_refined_search")

  def main(args: Array[String]): Unit = {
    // 4 cores pin the partition counts the committed plans print
    val spark = graft.GraftSession(cpus = 4)
    val d = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# Headline query plans (formatted explain, sf0.001, local[4])\n\n")
    sb.append("Generated by `sbt \"runMain graft.tools.PlanDump\"` — regenerate after\n")
    sb.append("plan-affecting changes. Things to check: parquet scans show\n")
    sb.append("PushedFilters + pruned ReadSchema; small sides broadcast;\n")
    sb.append("WholeStageCodegen spans cover the hot projections (the native\n")
    sb.append("graft_* expressions participate); the only exchanges are the keyed\n")
    sb.append("shuffles each operator's scaladoc declares. BroadcastNestedLoopJoin\n")
    sb.append("appears ONLY with a deliberately tiny broadcast build side — q27's\n")
    sb.append("range join, q37's 3-row query set, q43/q123's k×dim centroid\n")
    sb.append("table, q48's scalar N, q108's 1-row (N, V) model scalars, q110's\n")
    sb.append("source-pair dim, q111's 1-row candidate count, q122's saved\n")
    sb.append("centroid/codebook tables against the 3-row query side — the\n")
    sb.append("intended plan for non-equi/cross\n")
    sb.append("joins against small data; the outlawed shape (corpus-sized BNLJ or\n")
    sb.append("CartesianProduct in the pair pipelines) is pinned absent by\n")
    sb.append("PairPlanSpec and GraphOpsSpec.\n")
    for (q <- headline) {
      val df = graft.SparkEntry.queries(q)(spark, d)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $q\n\n```\n").append(plan).append("```\n")
      df.unpersist(blocking = false)
      spark.catalog.clearCache()
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[plandump] wrote PLANS.md (${headline.size} queries)")
    spark.stop()
  }
}
