package graft

import graft.plans.PartitionedPrefix
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The range-bucketed two-pass prefix aggregate must equal the
  * single-partition `Window.orderBy` it replaced (q79/q81/q85/q86/
  * q128/q137/q148), bit for bit, on hostile domains: 0, 1,
  * power-of-two boundaries (the bit-length bucket map's edges), huge
  * longs, sparse and dense spacings, asc and desc, sums and the
  * exclusive prefix-min.
  */
class PartitionedPrefixSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("partitioned-prefix-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def keys: Seq[Long] = {
    val rnd = new scala.util.Random(13)
    val edges = Seq(0L, 1L, 2L, 3L, 7L, 8L, 15L, 16L, 31L, 32L, 33L,
      1023L, 1024L, 1025L, (1L << 40) - 1, 1L << 40,
      Long.MaxValue - 1, Long.MaxValue)
    val dense = (100L to 200L)
    val sparse = (1 to 300).map(_ => rnd.nextLong().abs)
    (edges ++ dense ++ sparse).distinct
  }

  test("cumulative sums equal the single-partition window, asc and desc") {
    import spark.implicits._
    val df = keys.map(k => (k, k % 97 + 1, k % 13 + 1))
      .toDF("v", "c1", "c2").repartition(4)
    for (desc <- Seq(false, true)) {
      val ord = if (desc) col("v").desc else col("v").asc
      val w = Window.orderBy(ord)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = df.withColumn("s1", sum(col("c1")).over(w))
        .withColumn("s2", sum(col("c2")).over(w))
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
        .sortBy(_._1)
      val got = PartitionedPrefix.cumulative(df, "v", desc = desc,
          sums = Seq("c1" -> "s1", "c2" -> "s2"))
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
        .sortBy(_._1)
      assert(got.toSeq == want.toSeq, s"desc=$desc")
      spark.catalog.clearCache()
    }
  }

  test("exclusive prefix-min equals the single-partition window (q137 frame)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = keys.map(k => (k, rnd.nextInt(1000).toLong))
      .toDF("v", "m").repartition(4)
    for (desc <- Seq(true, false)) {
      val ord = if (desc) col("v").desc else col("v").asc
      val w = Window.orderBy(ord).rowsBetween(Window.unboundedPreceding, -1)
      val want = df.withColumn("pm", min(col("m")).over(w))
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .sortBy(_._1)
      val got = PartitionedPrefix.cumulative(df, "v", desc = desc,
          minExcl = Seq("m" -> "pm"))
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .sortBy(_._1)
      assert(got.toSeq == want.toSeq, s"desc=$desc")
      // exactly one null pm — the global first row in traversal order
      assert(got.count(_._2.isEmpty) == 1, s"desc=$desc")
      spark.catalog.clearCache()
    }
  }

  test("column order and types match the window formulation") {
    import spark.implicits._
    val df = Seq((5L, 2L), (9L, 3L)).toDF("v", "c")
    val out = PartitionedPrefix.cumulative(df, "v",
      sums = Seq("c" -> "cum"))
    assert(out.columns.toSeq == Seq("v", "c", "cum"))
    assert(out.schema("cum").dataType.typeName == "long")
    assert(out.collect().map(r => (r.getLong(0), r.getLong(2))).sorted
      .toSeq == Seq((5L, 2L), (9L, 5L)))
  }
}
