package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Smoke check of the dev tool on the caller's session: `meter` prints
  * a counters line and writes the plan, `dump` writes the CSV, and
  * neither stops the session it was given.
  */
class DevSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = GoldenDigest.sfDir("0.001")
  private val q = "q01_pricing_summary"

  test("meter and dump run one query on the caller's session") {
    val out = java.nio.file.Files.createTempDirectory("graft_dev_").toString
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf) {
      Dev.run(spark, Array("meter", sf, s"$out/plans", q))
      Dev.run(spark, Array("dump", sf, s"$out/csv", q))
    }
    val lines = buf.toString("UTF-8").linesIterator.toSeq
    assert(lines.exists(l => l.startsWith(s"[meter] $q ") &&
      l.matches(""".* jobs=[1-9]\d* stages=\d+ tasks=\d+ taskSec=\S+ cpuSec=\S+ .*""")),
      lines.mkString("\n"))
    assert(new java.io.File(s"$out/plans/$q.txt").length() > 0)
    assert(new java.io.File(s"$out/csv/$q").listFiles().exists(_.getName.endsWith(".csv")))
    assert(!spark.sparkContext.isStopped)
  }

  test("run rejects a malformed command line") {
    intercept[IllegalArgumentException](Dev.run(spark, Array("meter", sf)))
    intercept[IllegalArgumentException](Dev.run(spark, Array("probe", sf, "x")))
  }
}
