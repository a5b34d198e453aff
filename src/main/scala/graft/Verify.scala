package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name prefixes (local
    // iteration helper — the driver always passes exactly two args)
    val (sfDir, outDir, nameFilter) = args match {
      case Array(sf, out)    => (sf, out, Seq.empty[String])
      case Array(sf, out, f) => (sf, out, f.split(",").toSeq)
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [namePrefix1,namePrefix2]")
        sys.exit(2)
    }
    // Repoint the oracle side-file base BESIDE our outDir before any
    // query runs: the frames/media dumps and the q145 pair store then
    // travel with the parquet results the driver reads, making the
    // correctness artifact self-contained — immune to /tmp lifecycle
    // and to concurrent runs in other directories (round-9 verdict
    // task 1a: a /tmp dump overwritten mid-compare zeroed the round).
    // Dumps live in a SIBLING directory `<outDir>_dumps` (same parent
    // → same lifecycle), NOT inside outDir: the driver iterates every
    // toplevel entry of outDir as a query result, and in round 10 an
    // in-outDir dump subdirectory showed up as a phantom "_dumps"
    // query that crashed its comparator (round-10 verdict task 2).
    val outAbs = new java.io.File(outDir).getAbsolutePath
    val dumpDir = s"${outAbs}_dumps"
    graft.operators.OracleDump.baseDir = dumpDir
    val sfName = new java.io.File(sfDir).getName
    // SPARK_GRAFT_AQE sweeps the adaptive-execution axis (Spark 4
    // defaults AQE + skew-join ON, so the unset default already runs
    // adaptively):
    //   "0"     — AQE fully off: every exchange static, the plan
    //             exactly as written;
    //   "force" — AQE with aggressively small advisory/skew thresholds
    //             (64 KiB), so even sf0.01 exchanges actually coalesce
    //             and skewed joins actually split — the runtime
    //             re-planning a 100x deployment exercises on real
    //             skew (relevant to the salted join q25, every banded
    //             self-join, and the cached-plan shapes).
    // Results must be identical across all three — the verify-skill
    // parity gate sweeps them.
    val builder = Harness.builder()
      .config("spark.sql.session.timeZone", "UTC")
    sys.env.get("SPARK_GRAFT_AQE") match {
      case Some("0") =>
        builder.config("spark.sql.adaptive.enabled", "false")
      case Some("force") =>
        builder
          .config("spark.sql.adaptive.enabled", "true")
          .config("spark.sql.adaptive.skewJoin.enabled", "true")
          .config("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
          .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
          .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
          .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1024")
      case _ => ()
    }
    val spark = Harness.start(builder)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) =>
        nameFilter.isEmpty || nameFilter.exists(name.startsWith) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally spark.catalog.clearCache() // a failed query's leftover persist()s
    }
    // Ten oracles replay from the q145 pair store: make sure it exists
    // even under a name-filtered run or a swallowed q145 failure, so
    // one missing side-file can't cascade into ten spurious compare
    // failures (the round-9 artifact-zeroing class).
    try graft.operators.Dedup.ensureStorePublished(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] pair-store publish failed: ${e.getMessage}")
    }

    def q(s: String): String = "\"" + Harness.jsonEscape(s) + "\""
    // resolve the dump-path placeholders against this run's outDir —
    // written AFTER the queries (so every referenced dump exists)
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(graft.operators.OracleDump.resolveSql(v, dumpDir, sfName))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
