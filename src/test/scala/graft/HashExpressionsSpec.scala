package graft

import graft.functions.TextKernels
import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Bit-parity of the native graft_hash64/graft_mix64 expressions
  * against the pure-Scala TextKernels, codegen on and off — the
  * DuckDB oracle replays (OracleSql) assume these three forms (Scala
  * kernel, interpreted expression, generated code) never diverge.
  */
class HashExpressionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("hash-expressions-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val samples = Seq("", "a", "hello world", "plane:7:63",
    "the quick brown fox", "ünïcödé ÷ teξt", "\u0000nul", "😀emoji",
    "x" * 500)

  test("graft_hash64 equals TextKernels.hash64, codegen on and off") {
    import spark.implicits._
    GraftExtensions.install(spark)
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      val got = samples.toDF("s")
        .select(col("s"), call_function("graft_hash64", col("s")))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      for (s <- samples)
        assert(got(s) === TextKernels.hash64(s), s"mode=$mode input=$s")
    }
    spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("graft_mix64 equals TextKernels.mix64, codegen on and off") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val longs = Seq(0L, 1L, -1L, Long.MinValue, Long.MaxValue,
      1125899906842597L) ++ (1 to 50).map(i => TextKernels.mix64(i.toLong))
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      val got = longs.toDF("z")
        .select(col("z"), call_function("graft_mix64", col("z")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      for (z <- longs)
        assert(got(z) === TextKernels.mix64(z), s"mode=$mode input=$z")
    }
    spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("graft_sorted_overlap equals thresholded array_intersect, codegen on and off") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val rnd = new scala.util.Random(46)
    // sorted distinct long arrays with controlled overlap, plus edges:
    // empty sides, identical arrays, disjoint ranges, single element
    val cases: Seq[(Seq[Long], Seq[Long])] =
      Seq(
        (Seq.empty[Long], Seq.empty[Long]),
        (Seq.empty[Long], Seq(1L, 2L)),
        (Seq(5L), Seq(5L)),
        (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
        (Seq(-9L, -1L, 0L, 7L), Seq(-9L, -1L, 0L, 7L))) ++
        (1 to 30).map { _ =>
          val base = Seq.fill(40)(rnd.nextLong()).distinct.sorted
          val keep = base.filter(_ => rnd.nextDouble() < 0.6)
          val extra = Seq.fill(20)(rnd.nextLong()).distinct
            .filterNot(base.contains)
          (base, (keep ++ extra).distinct.sorted)
        }
    val df = cases.toDF("a", "b")
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      val got = df.select(
        expr("graft_sorted_overlap(a, b," +
          " CAST((size(a) + size(b) + 2) div 3 AS INT))").as("ov"),
        expr("size(array_intersect(a, b))").as("inter"),
        expr("size(a) + size(b)").as("sz")).collect()
      got.foreach { r =>
        val (ov, inter, sz) = (r.getInt(0), r.getInt(1), r.getInt(2))
        if (3 * inter >= sz) assert(ov === inter, s"mode=$mode")
        else assert(ov === -1, s"mode=$mode inter=$inter sz=$sz")
      }
    }
    spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("graft_sorted_overlap: gallop path (asymmetric sides) equals the merge, codegen on and off") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val rnd = new scala.util.Random(157)
    // sides on BOTH flanks of the GallopRatio threshold, in both
    // orders (small-vs-big and big-vs-small), overlap at the big
    // array's ends, empty small side, req=0 and a binding req
    val big = Seq.fill(4000)(rnd.nextLong()).distinct.sorted
    val cases: Seq[(Seq[Long], Seq[Long])] = Seq(
      (Seq.empty[Long], big),
      (Seq(big.head), big),
      (Seq(big.last), big),
      (Seq(big.head, big.last), big),
      (big.filter(_ => rnd.nextDouble() < 0.005), big), // ~20 vs 4000
      (big, big.filter(_ => rnd.nextDouble() < 0.005)), // reversed
      (big.take(200), big),                             // ratio 20x
      (big.take(260), big),                             // ratio ~15x: merge side
      ((big.take(10) ++ Seq(Long.MaxValue)).sorted, big))
    val df = cases.toDF("a", "b")
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      val got = df.select(
        expr("graft_sorted_overlap(a, b, 0)").as("ov0"),
        expr("graft_sorted_overlap(a, b, CAST(size(a) AS INT))").as("ovr"),
        expr("size(array_intersect(a, b))").as("inter"),
        expr("size(a)").as("na")).collect()
      got.foreach { r =>
        assert(r.getInt(0) === r.getInt(2), s"mode=$mode req=0")
        val want = if (r.getInt(2) >= r.getInt(3)) r.getInt(2) else -1
        assert(r.getInt(1) === want, s"mode=$mode req=size(a)")
      }
    }
    spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("graft_sorted_overlap: req=0 always reports the exact overlap") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val got = Seq((Seq(1L, 3L, 9L), Seq(2L, 3L, 9L, 11L)))
      .toDF("a", "b")
      .select(expr("graft_sorted_overlap(a, b, 0)"),
        expr("graft_sorted_overlap(a, b, 3)"))
      .collect().head
    assert(got.getInt(0) === 2) // exact count, no abort possible
    assert(got.getInt(1) === -1) // bound breaks mid-merge
  }

  test("null propagates; SQL-callable after ensure()") {
    GraftExtensions.install(spark)
    val rows = spark.sql(
      """SELECT graft_hash64(CAST(NULL AS STRING)) AS h,
        |       graft_mix64(graft_hash64('abc')) AS m""".stripMargin)
      .collect().head
    assert(rows.isNullAt(0))
    assert(rows.getLong(1) === TextKernels.mix64(TextKernels.hash64("abc")))
  }

  test("graft_shingle_hashes equals sorted hash64 of TextKernels.shingles, codegen on and off") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val texts = Seq("", "one", "one two", "one two three",
      "one two three four five six", "a  b\t c   d", "dup dup dup dup",
      "the quick brown fox jumps over the lazy dog", "x " * 200)
    def ref(t: String): Seq[Long] = TextKernels
      .shingles(t, 3).toArray.map(TextKernels.hash64).sorted.toSeq
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      val got = texts.zipWithIndex.map(_.swap).toDF("i", "s")
        .select(col("i"),
          call_function("graft_shingle_hashes", col("s"), lit(3)).as("hl"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
      for ((t, i) <- texts.zipWithIndex)
        assert(got(i) === ref(t), s"mode=$mode input='$t'")
    }
    spark.conf.unset("spark.sql.codegen.factoryMode")
    // null text propagates null; coalesce('' ) restores the legacy
    // hash-of-empty-shingle row the q46 call site relies on
    val r = spark.sql(
      """SELECT graft_shingle_hashes(CAST(NULL AS STRING), 3) AS a,
        |       graft_shingle_hashes(coalesce(CAST(NULL AS STRING), ''), 3) AS b
        |""".stripMargin).collect()(0)
    assert(r.isNullAt(0))
    assert(r.getSeq[Long](1) === Seq(TextKernels.hash64("")))
  }

  test("graft_shingle_hashes_pos: positional, duplicates kept, set view matches graft_shingle_hashes") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val texts = Seq("", "one", "one two", "one two three",
      "one two three four five six", "a  b\t c   d", "dup dup dup dup",
      "the quick brown fox jumps over the lazy dog", "x " * 200)
    def ref(t: String): Seq[Long] = {
      val tk = TextKernels.tokenize(t)
      if (tk.length < 3) Seq(TextKernels.hash64(tk.mkString(" ")))
      else tk.sliding(3).map(w => TextKernels.hash64(w.mkString(" "))).toSeq
    }
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      val got = texts.zipWithIndex.map(_.swap).toDF("i", "s")
        .select(col("i"),
          call_function("graft_shingle_hashes_pos", col("s"), lit(3)).as("hl"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
      for ((t, i) <- texts.zipWithIndex) {
        assert(got(i) === ref(t), s"mode=$mode input='$t'")
        // one element per start position; the distinct-sorted view is
        // exactly the set-semantics sibling expression
        val nTok = TextKernels.tokenize(t).length
        if (nTok >= 3) assert(got(i).length === nTok - 2, s"input='$t'")
        assert(got(i).distinct.sorted ===
          TextKernels.sortedShingleHashes(t, 3).toSeq, s"input='$t'")
      }
    }
    spark.conf.unset("spark.sql.codegen.factoryMode")
    val r = spark.sql(
      "SELECT graft_shingle_hashes_pos(CAST(NULL AS STRING), 3)").collect()(0)
    assert(r.isNullAt(0))
  }

  test("graft_minhash_bands / graft_simhash / graft_fingerprint match TextKernels, codegen on and off") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val texts = Seq("", "one", "one two three", "dup dup dup dup",
      "the quick brown fox jumps over the lazy dog",
      "a  b\t c   d", "x " * 150)
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      val got = texts.zipWithIndex.map(_.swap).toDF("i", "s")
        .select(col("i"),
          call_function("graft_minhash_bands", col("s"), lit(3), lit(128), lit(8)).as("mb"),
          call_function("graft_minhash_sig", col("s"), lit(3), lit(128)).as("ms"),
          call_function("graft_lsh_bands",
            call_function("graft_minhash_sig", col("s"), lit(3), lit(128)),
            lit(8)).as("lb"),
          call_function("graft_simhash", col("s"), lit(2)).as("sh"),
          call_function("graft_fingerprint", col("s"), lit(8)).as("fp"))
        .collect().map(r => r.getInt(0) ->
          ((r.getSeq[Long](1), r.getSeq[Long](2), r.getSeq[Long](3),
            r.getLong(4), r.getLong(5)))).toMap
      for ((t, i) <- texts.zipWithIndex) {
        val (mb, ms, lb, sh, fp) = got(i)
        assert(mb === TextKernels.minhashBands(t, 3, 128, 8).toSeq, s"mode=$mode bands '$t'")
        assert(ms === TextKernels.minhashSig(t, 3, 128).toSeq, s"mode=$mode sig '$t'")
        // banding the stored signature — natively (graft_lsh_bands,
        // q97's one-mixing-pass path) and via the kernel — is EXACTLY
        // the banded expression: q97's calibration audits the very
        // slots q42's LSH keys are built from
        assert(lb === mb, s"mode=$mode graft_lsh_bands '$t'")
        assert(TextKernels.lshBands(ms.toArray, 8).toSeq === mb,
          s"mode=$mode sig/bands coherence '$t'")
        assert(sh === TextKernels.simhash(t, 2), s"mode=$mode simhash '$t'")
        assert(fp === TextKernels.fingerprint(t, 8), s"mode=$mode fingerprint '$t'")
      }
    }
    spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("graft_sig_pack equals the three separate kernels, codegen on and off") {
    import spark.implicits._
    GraftExtensions.install(spark)
    // the fused kernel feeds every multi-signal miner (r13): its three
    // outputs must be BIT-IDENTICAL to the separate expressions it
    // replaced, including the degenerate shapes (empty text → the
    // 1-element hash-of-"" shingle set; sub-k docs → whole-doc
    // shingle; duplicate tokens; whitespace runs)
    val texts = Seq("", "one", "one two", "one two three",
      "dup dup dup dup", "a  b\t c   d",
      "the quick brown fox jumps over the lazy dog", "x " * 150)
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      val got = texts.zipWithIndex.map(_.swap).toDF("i", "s")
        .select(col("i"),
          call_function("graft_sig_pack",
            col("s"), lit(3), lit(128), lit(8), lit(2)).as("sp"),
          call_function("graft_sig_pack",
            col("s"), lit(3), lit(128), lit(8), lit(0)).as("sp0"))
        .select(col("i"), col("sp.bands"), col("sp.hl"), col("sp.sh"),
          col("sp0.bands").as("bands0"), col("sp0.sh").as("sh0"))
        .collect().map(r => r.getInt(0) ->
          ((r.getSeq[Long](1), r.getSeq[Long](2), r.getLong(3),
            r.getSeq[Long](4), r.getLong(5)))).toMap
      for ((t, i) <- texts.zipWithIndex) {
        val (bands, hl, sh, bands0, sh0) = got(i)
        assert(bands === TextKernels.minhashBands(t, 3, 128, 8).toSeq,
          s"mode=$mode bands '$t'")
        assert(hl === TextKernels.sortedShingleHashes(t, 3).toSeq,
          s"mode=$mode hl '$t'")
        assert(sh === TextKernels.simhash(t, 2), s"mode=$mode simhash '$t'")
        assert(bands0 === bands, s"mode=$mode simK=0 bands '$t'")
        assert(sh0 === 0L, s"mode=$mode simK=0 must skip simhash '$t'")
      }
    }
    spark.conf.unset("spark.sql.codegen.factoryMode")
    // null text propagates null (call sites wrap in coalesce(text, ''))
    val r = spark.sql(
      "SELECT graft_sig_pack(CAST(NULL AS STRING), 3, 128, 8, 2)").collect()(0)
    assert(r.isNullAt(0))
  }
}
