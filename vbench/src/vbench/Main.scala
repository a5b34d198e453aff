package vbench

import org.apache.spark.sql.SparkSession

/** One benchmark run in its own JVM:
  *
  * {{{
  *   vbench.Main --workload <backfill|batch_queries>
  *     --seed <n> --seconds <s> --trace <0|1> --work <scratch dir>
  *     [--digests <expected digests json>] [--trace-out <spans jsonl>]
  *     [--write-digests <path>]
  * }}}
  *
  * Prints, as its last stdout line, one JSON object: `correct`,
  * `attempted`, `failed`, and every metric it measured by name.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")

    Memory.install()
    Steal.pctSinceStart // starts the steal clock
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"vbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = new Outcome
    out.mark("session up")
    try {
      workload match {
        case "backfill" =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          Backfill.run(spark, work, seed, seconds, trace, out)
        case "batch_queries" =>
          val digests =
            if (opt.contains("write-digests")) Map.empty[String, (Long, String)]
            else readDigests(opt("digests"))
          BatchQueries.run(spark, work, seconds, trace, digests, out,
            opt.get("write-digests"))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      spark.catalog.clearCache()
      out.metric("mem.retained_mb", Memory.retainedMb())
    } finally spark.stop()
    out.mark("session stopped")

    out.metric("mem.peak_live_mb", Memory.peakMb)
    out.metric("host.steal_pct", Steal.pctSinceStart)
    out.notes += f"host steal ${Steal.pctSinceStart}%.1f %% of CPU time during the run"
    out.checks.foreach { case (n, ok, d) =>
      println(s"[check] ${if (ok) "ok  " else "FAIL"} $n: $d") }
    out.notes.foreach(n => println(s"[note] $n"))
    if (trace) {
      opt.get("trace-out").foreach(Trace.write)
      println(f"[trace] ${"span"}%-28s ${"count"}%7s ${"total_s"}%9s ${"self_s"}%9s")
      Trace.summary.foreach { case (n, c, t, s) =>
        println(f"[trace] $n%-28s $c%7d $t%9.3f $s%9.3f") }
    }
    println(Json.mapper.writeValueAsString(scala.collection.immutable.ListMap(
      "correct" -> out.correct,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> out.metrics)))
  }

  /** {"query": {"rows": n, "digest": "hex"}, ...} */
  def readDigests(path: String): Map[String, (Long, String)] = {
    import scala.jdk.CollectionConverters._
    Json.mapper.readTree(new java.io.File(path)).properties().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("digest").asText)
    }.toMap
  }
}
