package graft.operators

import graft.SparkSpec

/** The operators' cache contract ([[graft.util.Cached]]): operators may
  * persist corpus-sized intermediates, but none may outlive the call — only
  * the output-sized RETURNED frame stays cached, and the caller can actually
  * release it with a plain `result.unpersist()` (which requires the returned
  * Dataset's own plan to be the cached plan — persisting a sub-plan under a
  * trailing orderBy makes unpersist a silent no-op in the CacheManager).
  */
class CacheReleaseSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  for (q <- Seq("q34_ngram_jaccard", "q35_minhash_lsh", "q36_simhash",
      "q40_lsh_jaccard_verified", "q45_dedup_clusters", "q49_minhash_estimate",
      "q62_embedding_clusters", "q65_cluster_reps", "q66_pq_adc_topk",
      "q70_ivfpq_topk", "q71_window_dedup", "q73_dedup_disposition",
      "q97_train_quality", "q102_auc_eval", "q113_pipeline_waterfall",
      "q116_span_quality_prune", "q125_media_waterfall")) {
    test(s"$q leaves only its (caller-owned, releasable) output cached") {
      spark.catalog.clearCache()
      val before = persistedIds
      val res = graft.SparkEntry.queries(q)(spark, d)
      assert(res.count() > 0)
      val afterRun = persistedIds -- before
      // exactly the materialized output frame — every corpus-sized
      // intermediate (shingle table, banded signatures, simhash table,
      // candidate pre-sort) was released inside the operator
      assert(afterRun.size === 1,
        s"$q left ${afterRun.size} cached RDDs (expected 1, the output): $afterRun")
      res.unpersist(blocking = true)
      val afterRelease = persistedIds -- before
      assert(afterRelease.isEmpty,
        s"$q output cache survived caller unpersist(): $afterRelease")
    }
  }

  // the served verdicts (r15): q128/q134 read the materialized curation
  // store — no waterfall runs at query time, so NOTHING may stay cached,
  // including by the one-time fixture materialization (whose builders
  // persist and must release internally)
  for (q <- Seq("q128_multimodal_verdict", "q134_keeper_consistency")) {
    test(s"$q (store-served) leaves nothing cached") {
      spark.catalog.clearCache()
      val before = persistedIds
      val res = graft.SparkEntry.queries(q)(spark, d)
      assert(res.count() > 0)
      val afterRun = persistedIds -- before
      assert(afterRun.isEmpty,
        s"$q left cached RDDs on a served read: $afterRun")
    }
  }
}
