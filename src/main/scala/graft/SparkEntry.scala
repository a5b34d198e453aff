package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries are assembled from the operator modules; each module
  * colocates the Spark implementation with its DuckDB oracle twin
  * (QueryDef). Column names match between the two by construction —
  * the driver's compare sorts columns by name before hashing.
  */
object SparkEntry {

  /** Every body runs after [[graft.plans.GraftExtensions.install]]: the
    * one place a query's session gets the graft_* functions and the
    * TopKPerKey rewrite, so a query plans the same alone as after any
    * other query in its session.
    */
  private def allDefs: Seq[QueryDef] =
    (Relational.defs ++ VideoAnalytics.defs ++ TextAnalysis.defs ++
      Dedup.defs ++ Similarity.defs ++ Pipeline.defs ++ Multimodal.defs)
      .map(d => d.copy(fn = (s: SparkSession, dir: String) => {
        graft.plans.GraftExtensions.install(s); d.fn(s, dir) }))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    allDefs.find(_.name == "q02_revenue_by_nation").get
      .fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allDefs.collect { case QueryDef(n, _, Some(sql)) => n -> sql }.toMap
}
