package graft

import graft.plans.{DotProduct, GraftExtensions, L2Norm}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Native Catalyst expression correctness: codegen vs interpreted vs
  * the pure-Scala kernel, SQL callability, float/double operands, and
  * null propagation.
  */
class VectorExpressionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("vector-expressions-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def mkDf = {
    import spark.implicits._
    GraftExtensions.install(spark)
    Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (2L, Array(0.5f, -1.5f, 2.25f), Array(-2.0f, 0.0f, 8.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f))
    ).toDF("id", "a", "b")
  }

  test("graft_dot matches the pure-Scala fold, codegen on and off") {
    val expected = Map(
      1L -> (1.0 * 4 + 2.0 * 5 + 3.0 * 6),
      2L -> (0.5 * -2.0 + -1.5 * 0.0 + 2.25 * 8.0),
      3L -> 0.0)
    for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      val got = mkDf
        .select(col("id"), call_function("graft_dot", col("a"), col("b")))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got === expected, s"mode=$codegen")
    }
    spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("graft_dot/graft_norm agree with the pure-Scala cosine kernel") {
    import graft.functions.VectorKernels
    val a = Array(1.5f, -2.25f, 3.0f)
    val b = Array(0.5f, 4.0f, -1.0f)
    import spark.implicits._
    GraftExtensions.install(spark)
    val row = Seq((a, b)).toDF("a", "b")
      .select(call_function("graft_dot", col("a"), col("b")) /
        (call_function("graft_norm", col("a")) *
          call_function("graft_norm", col("b"))))
      .collect().head.getDouble(0)
    assert(math.abs(row - VectorKernels.cosineScala(a, b)) < 1e-15)
  }

  test("graft_norm matches sqrt of self-dot") {
    val got = mkDf
      .select(col("id"), call_function("graft_norm", col("a")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) === math.sqrt(1.0 + 4.0 + 9.0))
    assert(got(3L) === 0.0)
  }

  test("SQL-callable after ensure(); mixed float/double operands work") {
    GraftExtensions.install(spark)
    mkDf.createOrReplaceTempView("vecs")
    val rows = spark.sql(
      """SELECT id, graft_dot(a, array(1.0d, 1.0d, 1.0d)) AS s,
        |       graft_norm(b) AS n
        |FROM vecs ORDER BY id""".stripMargin).collect()
    assert(rows(0).getDouble(1) === 6.0) // 1+2+3
    assert(rows(0).getDouble(2) === math.sqrt(16.0 + 25.0 + 36.0))
  }

  test("null array yields null; length mismatch uses min length") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val df = Seq(
      (1L, Some(Array(1.0f, 2.0f)), Some(Array(3.0f))),
      (2L, None: Option[Array[Float]], Some(Array(1.0f)))
    ).toDF("id", "a", "b")
    val rows = df.select(col("id"),
      call_function("graft_dot", col("a"), col("b"))).orderBy("id").collect()
    assert(rows(0).getDouble(1) === 3.0) // min length 1
    assert(rows(1).isNullAt(1))
  }

  test("expression tree survives transform (withNewChildren)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    def arr(v: Double) = Literal.create(Array(v),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))
    val d = DotProduct(arr(1.0), arr(2.0))
    val d2 = d.withNewChildren(Seq(arr(3.0), arr(4.0)))
    assert(d2.isInstanceOf[DotProduct])
    val n = L2Norm(arr(1.0))
    assert(n.withNewChildren(Seq(arr(5.0))).isInstanceOf[L2Norm])
  }

  test("graft_lsh_bucket matches VectorKernels.bucketOf, codegen on and off") {
    import graft.functions.VectorKernels
    import spark.implicits._
    GraftExtensions.install(spark)
    val rnd = new scala.util.Random(53)
    val vecs: Seq[Seq[Float]] = (0 until 20).map(_ =>
      Seq.fill(64)((rnd.nextDouble() * 2 - 1).toFloat))
    def ref(v: Seq[Float], n: Int): Long =
      VectorKernels.bucketOf(v.map(_.toDouble).toArray, n)
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      for (n <- Seq(1, 16, 64)) {
        val got = vecs.zipWithIndex.map(_.swap).toDF("i", "v")
          .select(col("i"),
            call_function("graft_lsh_bucket", col("v"), lit(n)))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        for ((v, i) <- vecs.zipWithIndex)
          assert(got(i) === ref(v, n), s"mode=$mode nPlanes=$n vec=$i")
      }
    }
    spark.conf.unset("spark.sql.codegen.factoryMode")
  }
}
