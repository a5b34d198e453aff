package graft

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The engine shares intermediates through plain plans or eager
  * `localCheckpoint`s (graft.plans.CacheLifecycle), never through the
  * SQL cache: a consumer of the API runs a query and owes no
  * `clearCache` — a single action leaves ZERO SQL-cache entries behind.
  * A stray `persist()` in an operator shows up here as a live entry.
  */
class CacheLifecycleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def assertCacheEmpty(context: String): Unit =
    assert(GraftSqlBridge.sqlCacheIsEmpty(spark),
      s"$context left SQL-cache entries behind:\n" +
        GraftSqlBridge.cachedPlanHeadlines(spark).mkString("\n"))

  // Queries whose plans share engine intermediates between branches
  // (signature tables, posting indexes, histograms, centroid tables,
  // pair lists), plus the connected-components callers (q71, q96),
  // whose in-loop edge persists must be gone when the action returns.
  for (q <- Seq("q42_minhash_lsh_pairs", "q46_ngram_jaccard_pairs",
      "q48_contamination_check", "q66_distinctive_terms",
      "q86_length_drift", "q53_ann_lsh", "q88_label_confusion",
      "q29_class_cooccurrence", "q89_lsh_recall",
      "q71_multi_signal_components", "q96_dup_cluster_stats",
      "q97_minhash_calibration", "q101_hll_distinct",
      "q102_bloom_prefilter", "q103_cdc_chunks", "q104_pq_adc",
      "q107_ivf_probe_curve", "q111_hist_quantiles",
      "q115_source_jaccard_sketch", "q116_mad_outliers",
      "q118_transition_pagerank", "q120_trunc_recall",
      "q121_knn_hubness", "q125_hourly_anomaly",
      "q126_dedup_threshold_sweep", "q127_bigram_surprisal",
      "q128_hist_bin_sweep", "q129_join_size_sketch",
      "q130_lsh_radius_sweep"))
    test(s"$q releases every engine cache after one action, no clearCache") {
      spark.catalog.clearCache() // clean slate from other suites
      val n = SparkEntry.queries(q)(spark, sf).collect().length
      assert(n >= 0)
      assertCacheEmpty(q)
    }

  test("auto-released caches still share the pass within the one action (result correctness)") {
    spark.catalog.clearCache()
    def run() = SparkEntry.queries("q42_minhash_lsh_pairs")(spark, sf)
      .collect().map(_.toSeq).sortBy(_.toString()).toSeq
    val a = run()
    assertCacheEmpty("first q42 action")
    val b = run()
    assert(a === b)
    assertCacheEmpty("second q42 action")
  }
}
