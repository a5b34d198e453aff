package vbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}

/** Everything one run reports: counts of attempted and failed
  * operations, named output checks, and metrics by name.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.ArrayBuffer.empty[String]

  def check(name: String, ok: Boolean, detail: String): Unit = {
    checks += ((name, ok, detail))
    attempted += 1
    if (!ok) failed += 1
  }
  def metric(name: String, value: Double): Unit = metrics(name) = value
  /** Logs a progress mark with the JVM's uptime to stderr. */
  def mark(what: String): Unit = System.err.println(
    f"[vbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%8.2f s  $what")
  def correct: Boolean = checks.forall(_._2)
}

object Checks {

  /** Order-insensitive text of a value: floating point at 9 significant
    * digits, struct fields in order, map entries sorted.
    */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))
    case f: Float => String.format(java.util.Locale.ROOT, "%.9g", Double.box(f.toDouble))
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case x => x.toString
  }

  /** Row count and sum of per-row 64-bit hashes: equal for equal
    * multisets of rows, whatever the order.
    */
  def digest(df: DataFrame): (Long, String) = {
    val (n, h) = df.rdd.map { r =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val b = md.digest(canon(r).getBytes("UTF-8"))
      (1L, java.nio.ByteBuffer.wrap(b).getLong)
    }.fold((0L, 0L)) { case ((a, x), (b, y)) => (a + b, x + y) }
    (n, f"$h%016x")
  }

  /** Compares the rows of `got` and `want` as multisets; records the
    * check and returns the row count of `got`.
    */
  def sameRows(out: Outcome, name: String, got: DataFrame, want: DataFrame): Long = {
    val g = got.select(want.columns.map(got.col).toIndexedSeq: _*).collect().map(canon).sorted
    val w = want.collect().map(canon).sorted
    val ok = g.sameElements(w)
    val detail =
      if (ok) s"${g.length} rows"
      else {
        val gs = g.toSet; val ws = w.toSet
        s"${g.length} rows vs ${w.length} expected; e.g. extra " +
          g.find(!ws(_)).getOrElse("-") + " missing " + w.find(!gs(_)).getOrElse("-")
      }
    out.check(name, ok, detail)
    g.length
  }

  def files(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir))
  }
}
