package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into `private[sql]` constructors: builds a DataFrame
  * from a custom LogicalPlan (the standard extension-library technique
  * for injecting custom operators ahead of a registered Strategy).
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** Executor-side page size for external sorters
    * (`MemoryManager.pageSizeBytes` is `private[spark]`).
    */
  def pageSizeBytes: Long =
    org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes

  /** The cache-registry builder behind a persisted Dataset, if any
    * (`CacheManager.lookupCachedData` and `CachedRDDBuilder` are
    * `private[sql]`, hence the AnyRef view). The builder is the stable
    * identity of one cache entry — the same object appears in every
    * InMemoryTableScanExec that reads the entry, so plan-walking a
    * completed query for builders tells exactly which cache entries it
    * consumed (graft.plans.CacheLifecycle).
    */
  def cacheBuilderOf(df: Dataset[_]): Option[AnyRef] = {
    val d = df.asInstanceOf[classic.Dataset[_]]
    d.sparkSession.sharedState.cacheManager.lookupCachedData(d)
      .map(_.cachedRepresentation.cacheBuilder)
  }

  /** Builders (as [[cacheBuilderOf]] identities) of every cache entry
    * `qe`'s executed plan reads — descends into AQE subplans and into
    * the cached plans of in-memory scans, so a cache built over
    * another cache reports both.
    */
  def consumedCacheBuilders(qe: execution.QueryExecution): java.util.HashSet[AnyRef] = {
    val out = new java.util.HashSet[AnyRef]()
    def walk(plan: execution.SparkPlan): Unit =
      plan.foreach {
        case s: execution.columnar.InMemoryTableScanExec =>
          if (out.add(s.relation.cacheBuilder)) walk(s.relation.cachedPlan)
        // BOTH sides of an adaptive node: runtime re-planning can
        // ELIMINATE a subtree from executedPlan after its stages ran —
        // AQEPropagateEmptyRelation drops a join branch whose stage
        // materialized empty, taking its cache scans with it — but the
        // action still logically consumed those caches, so inputPlan
        // (the pre-replanning physical plan) is walked as well. A
        // cache referenced there but never materialized holds no
        // blocks; releasing its entry is free and correct.
        case a: execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.inputPlan); walk(a.executedPlan)
        // AQE replaces materialized stages with leaf QueryStageExec
        // nodes (Shuffle/Broadcast/TableCache); the real subtree —
        // where the in-memory scans live — is behind `.plan`.
        case q: execution.adaptive.QueryStageExec => walk(q.plan)
        case r: execution.exchange.ReusedExchangeExec => walk(r.child)
        case _ => ()
      }
    walk(qe.executedPlan)
    out
  }

  /** Waits until every posted listener event is delivered
    * (`SparkContext.listenerBus` is `private[spark]`).
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)

  /** True iff the session's SQL cache registry has no entries. */
  def sqlCacheIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** One-line logical-plan headline per live cache entry — leak
    * diagnostics for CacheLifecycleSpec failures. The registry list is
    * `private`, hence the reflective read (diagnostics only).
    */
  def cachedPlanHeadlines(spark: SparkSession): Seq[String] = {
    val cm = spark.asInstanceOf[classic.SparkSession]
      .sharedState.cacheManager
    def headline(e: Any): String =
      String.valueOf(e).linesIterator.take(4).mkString(" | ")
    // A diagnostic that can silently report nothing while caches are
    // live is worse than none: every non-entry outcome (field renamed,
    // unexpected container type) emits a sentinel line so a blackout
    // is distinguishable from zero live entries.
    cm.getClass.getDeclaredFields.find(_.getName.contains("cachedData")) match {
      case None =>
        Seq("cachedPlanHeadlines: no 'cachedData' field on "
          + cm.getClass.getName + " (CacheManager internals changed)")
      case Some(f) =>
        f.setAccessible(true)
        import scala.jdk.CollectionConverters._
        f.get(cm) match {
          // Collection covers both the LinkedList of older Spark lines
          // and the ConcurrentLinkedQueue of newer ones.
          case l: java.util.Collection[_] => l.asScala.toSeq.map(headline)
          case i: scala.collection.Iterable[_] => i.toSeq.map(headline)
          case other =>
            Seq("cachedPlanHeadlines: 'cachedData' has unexpected type "
              + String.valueOf(other).take(500))
        }
    }
  }
}
