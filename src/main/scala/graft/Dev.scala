package graft
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev tool, outside the Bench/Verify output contract. Runs in the
  * [[Bench]] session (`local[SPARK_GRAFT_CPUS]`) after the same
  * warm-up, and times with the same noop-sink pass.
  *
  *   sbt 'runMain graft.Dev meter <sfDir> <outDir> [q1,q2|all]'
  *     per query: a warm pass, then a measured pass. Prints
  *     `[meter] <q> min=… runs=… jobs=… stages=… tasks=… taskSec=…
  *     cpuSec=… shufWriteMB=… shufReadMB=…` (counters of the measured
  *     pass, construction included) and writes the measured pass's
  *     formatted plan to `<outDir>/<q>.txt`.
  *   sbt 'runMain graft.Dev dump <sfDir> <outDir> [q1,q2|all]'
  *     each query's result as one CSV under `<outDir>/<q>/`, for
  *     before/after diffs of an operator refactor.
  *   sbt 'runMain graft.Dev micro <sfDir>'
  *     the dedup family's internal stages in isolation (min of 3), with
  *     counters and `[stage]` lines of the last pass. Whole queries are
  *     `meter`'s job.
  *   sbt 'runMain graft.Dev scale <sfDir>'
  *     multiSignalPairs+CC and prefixCandidates on 1×/4×/16× disjoint
  *     replicas of the corpus (ScaleGrowthSpec's pattern: replica i
  *     shifts doc_ids and prefixes tokens, so replicas never collide and
  *     candidate growth stays linear), and PartitionedPrefix.cumulative
  *     against a single-partition window on 1M/8M-row histograms. sf0.1
  *     is overhead-dominated; scaling claims need the data to be the cost.
  */
object Dev {
  private val Usage = "usage: graft.Dev meter|dump <sfDir> <outDir> [q1,q2|all]" +
    " | graft.Dev micro|scale <sfDir>"

  private def valid(args: Array[String]): Boolean = args match {
    case Array("meter" | "dump", _, _) | Array("meter" | "dump", _, _, _) |
        Array("micro" | "scale", _) => true
    case _ => false
  }

  def main(args: Array[String]): Unit = {
    if (!valid(args)) { System.err.println(Usage); sys.exit(2) }
    val spark = Harness.start()
    try run(spark, args) finally spark.stop()
  }

  /** Runs one subcommand on `spark`, which it neither builds nor stops. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    require(valid(args), Usage)
    val sfDir = args(1)
    def queries: Seq[String] = args.lift(3).filter(_ != "all")
      .fold(SparkEntry.queries.keys.toSeq.sorted)(_.split(",").toSeq)
    def docs: DataFrame =
      operators.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    Harness.warmUp(spark, sfDir)
    val counters = new Harness.Counters(spark)

    /** `passes` timed passes of `mk`; prints the min, every pass and the
      * counters of the last pass (and its `[stage]` lines when `stages`).
      * Returns the last pass's DataFrame.
      */
    def measure(label: String, passes: Int, stages: Boolean = false)(
        mk: => DataFrame): DataFrame = {
      var df: DataFrame = null
      val ts = (1 to passes).map { i =>
        if (i == passes) counters.mark()
        Harness.timedPass(spark) { df = mk; df }
      }
      println(f"[${args(0)}] $label%-34s min=${ts.min}%.3f " +
        s"runs=${ts.map(t => f"$t%.2f").mkString(",")} ${counters.sinceMark()}")
      if (stages) counters.stageLines.foreach(println)
      df
    }

    spark.sparkContext.addSparkListener(counters)
    try args(0) match {
      case "meter" =>
        new java.io.File(args(2)).mkdirs()
        queries.foreach { q =>
          try {
            val df = measure(q, passes = 2)(SparkEntry.queries(q)(spark, sfDir))
            val w = new java.io.PrintWriter(s"${args(2)}/$q.txt", "UTF-8")
            try w.println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
            finally w.close()
          } catch { case e: Throwable => println(s"[meter] $q FAILED: $e") }
        }

      case "dump" =>
        queries.foreach { q =>
          try SparkEntry.queries(q)(spark, sfDir).coalesce(1).write
            .mode("overwrite").option("header", "true").csv(s"${args(2)}/$q")
          finally spark.catalog.clearCache()
        }

      case "micro" =>
        def time(name: String)(mk: => DataFrame): Unit =
          measure(name, passes = 3, stages = true)(mk)
        def shared: DataFrame =
          Dedup.tripleSigs(docs).transform(plans.CacheLifecycle.autoRelease)
        time("docs_scan")(docs)
        time("tripleSigs")(Dedup.tripleSigs(docs))
        time("minhash_pairs")(Dedup.minhashPairsFrom(shared))
        time("simhash_pairs")(Dedup.simhashPairsFromSigs(shared.select(col("doc_id"), col("sh"))))
        time("ppjoin_pairs")(Dedup.ppjoinPairsFrom(shared.select(col("doc_id"), col("hl"))))
        time("multiSignalPairs")(Dedup.multiSignalPairsFrom(docs))
        time("multiSignal_CC")(Dedup.connectedComponents(Dedup.multiSignalPairsFrom(docs)))
        time("minePairs_full")(Dedup.minePairs(docs, Some(operators.Tables.embeddings(spark, sfDir))))

      case "scale" =>
        def time(name: String)(mk: => DataFrame): Unit = measure(name, passes = 2)(mk)
        plans.GraftFunctions.ensure(spark)
        for (k <- Seq(1, 4, 16)) {
          val d = (0 until k).map { i =>
            docs.select((col("doc_id") + lit(i * 1000000000L)).as("doc_id"),
              when(col("text").isNotNull,
                regexp_replace(col("text"), "(^| )", "$1r" + i + "_"))
                .as("text"))
          }.reduce(_ unionAll _)
          time(s"x$k multiSignalPairs+CC")(
            Dedup.connectedComponents(Dedup.multiSignalPairsFrom(d)))
          time(s"x$k prefixCands")(Dedup.prefixCandidates(
            plans.CacheLifecycle.materializeSpread(Dedup.sortedShingleHashes)(d)))
        }
        for (n <- Seq(1000000L, 8000000L)) {
          def hist: DataFrame = spark.range(n)
            .select(col("id").as("v"), (pmod(col("id"), lit(97L)) + 1).as("c"))
            .repartition(spark.sparkContext.defaultParallelism)
          time(s"hist$n cumsum single-partition")(
            hist.withColumn("cum", sum(col("c")).over(Window.orderBy(col("v")))))
          time(s"hist$n cumsum two-pass")(plans.PartitionedPrefix.cumulative(
            hist, "v", sums = Seq("c" -> "cum")))
        }
    } finally spark.sparkContext.removeSparkListener(counters)
  }
}
