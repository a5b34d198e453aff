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
