package graft

import graft.plans.{GraftExtensions, TopK}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom TopKPerKey operator vs the row_number window reference
  * implementation: same rows, same ranks, on skewed keyed data with
  * ties; plus physical-plan shape (partial before the exchange).
  */
class TopKPerKeySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def data = {
    import spark.implicits._
    // deterministic skew: key "hot" has 80% of rows; scores collide to
    // force tie-breaking through the secondary column
    spark.range(0, 5000).map { i =>
      val key = if (i % 5 != 0) "hot" else s"key_${i % 17}"
      val score = (i * 31 % 97).toDouble
      (key, score, i)
    }.toDF("k", "score", "id").repartition(7) // uneven input partitions
  }

  test("matches row_number window semantics exactly (desc score, asc id)") {
    val df = data
    val got = TopK.perKey(df, Seq("k"), Seq(("score", false), ("id", true)), 3)
      .select("k", "rn", "score", "id")
      .collect().map(_.toSeq).sortBy(_.toString()).toSeq
    val w = Window.partitionBy(col("k"))
      .orderBy(col("score").desc, col("id"))
    val expected = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("k", "rn", "score", "id")
      .collect().map(_.toSeq).sortBy(_.toString()).toSeq
    assert(got === expected)
  }

  test("k larger than group size returns whole groups, ranked") {
    import spark.implicits._
    val df = Seq(("a", 1), ("a", 2), ("b", 9)).toDF("k", "v")
    val got = TopK.perKey(df, Seq("k"), Seq(("v", true)), 10)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(got === Set(("a", 1, 1), ("a", 2, 2), ("b", 9, 1)))
  }

  test("physical plan: partial top-k before the exchange, final after") {
    val plan = TopK.perKey(data, Seq("k"), Seq(("score", false)), 3)
      .queryExecution.executedPlan.toString
    val partialIdx = plan.indexOf("TopKPerKey")
    assert(partialIdx >= 0, plan.take(1500))
    assert(plan.contains("Exchange") || plan.contains("ShuffleExchange"),
      "must shuffle by key between partial and final")
    // two TopKPerKeyExec nodes
    assert(plan.sliding("TopKPerKey".length).count(_ == "TopKPerKey") >= 2,
      plan.take(1500))
  }

  test("null keys and null order values match window semantics") {
    import spark.implicits._
    val df = Seq(
      (Some("a"), Some(3.0), 1L), (Some("a"), None, 2L),
      (None, Some(5.0), 3L), (None, Some(1.0), 4L), (None, None, 5L)
    ).toDF("k", "score", "id")
    val got = TopK.perKey(df, Seq("k"), Seq(("score", false), ("id", true)), 2)
      .select("k", "rn", "id")
      .collect().map(_.toSeq).sortBy(_.toString()).toSeq
    val w = Window.partitionBy(col("k"))
      .orderBy(col("score").desc, col("id"))
    val expected = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2).select("k", "rn", "id")
      .collect().map(_.toSeq).sortBy(_.toString()).toSeq
    assert(got === expected)
  }

  test("optimizer rule rewrites row_number<=k window filters into TopKPerKey") {
    GraftExtensions.install(spark)
    val df = data
    val w = Window.partitionBy(col("k"))
      .orderBy(col("score").desc, col("id"))
    val q = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3 && col("score") > 1.0) // conjunctive residue
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("TopKPerKey"), optimized.take(1500))
    assert(!optimized.contains("Window ["),
      s"window must be rewritten away:\n${optimized.take(1500)}")
    assert(!optimized.contains("WindowGroupLimit"),
      s"redundant group limit must be stripped:\n${optimized.take(1500)}")
    // reference semantics computed driver-side: rank over ALL rows per
    // key under the total order, THEN the residual score filter
    val ref = df.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .groupBy(_._1).toSeq.flatMap { case (k, rows) =>
        rows.sortBy { case (_, s, id) => (-s, id) }.zipWithIndex
          .take(3).collect { case ((_, s, id), i) if s > 1.0 =>
            Seq[Any](k, s, id, i + 1)
          }
      }.sortBy(_.toString()).toSeq
    val got = q.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    assert(got === ref)
  }

  test("rewrite leaves rn = 1 queries correct (argmax shape)") {
    GraftExtensions.install(spark)
    val df = data
    val w = Window.partitionBy(col("k")).orderBy(col("score").desc, col("id"))
    val q = df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    assert(q.queryExecution.optimizedPlan.toString.contains("TopKPerKey"))
    val rows = q.collect()
    assert(rows.map(_.getString(0)).distinct.length === rows.length,
      "exactly one row per key")
    assert(rows.forall(_.getInt(3) == 1))
  }

  test("rank() = 1 rewrites into keep-ties TopKPerKey and keeps ALL tied rows") {
    GraftExtensions.install(spark)
    val df = data
    // order by score ONLY → the top of most keys is a tie group;
    // rank() = 1 must keep every tied row (row_number would pick one)
    val w = Window.partitionBy(col("k")).orderBy(col("score").desc)
    val q = df.withColumn("rn", rank().over(w)).filter(col("rn") === 1)
    // structural check: the spec's own lambdas render as
    // graft.TopKPerKeySpec$$Lambda... in plan strings, so a substring
    // match on "TopKPerKey" is vacuous here
    val opt = q.queryExecution.optimizedPlan
    assert(opt.exists(_.isInstanceOf[graft.plans.TopKPerKeyNode]),
      opt.toString.take(1500))
    assert(!opt.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.Window]),
      s"window must be rewritten away:\n${opt.toString.take(1500)}")
    // driver-side reference: all rows tied at the per-key max score
    val ref = df.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .groupBy(_._1).toSeq.flatMap { case (k, rows) =>
        val best = rows.map(_._2).max
        rows.filter(_._2 == best).map { case (_, s, id) => Seq[Any](k, s, id, 1) }
      }.sortBy(_.toString()).toSeq
    assert(ref.length > ref.map(_.head).distinct.length,
      "test data must actually have top-score ties")
    val got = q.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    assert(got === ref)
  }

  test("dense_rank() = 1 rewrites identically (same tie-group semantics at 1)") {
    GraftExtensions.install(spark)
    val df = data
    val w = Window.partitionBy(col("k")).orderBy(col("score").desc)
    val q = df.withColumn("rn", dense_rank().over(w)).filter(col("rn") <= 1)
    assert(q.queryExecution.optimizedPlan
      .exists(_.isInstanceOf[graft.plans.TopKPerKeyNode]))
    val ref = df.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .groupBy(_._1).toSeq.flatMap { case (k, rows) =>
        val best = rows.map(_._2).max
        rows.filter(_._2 == best).map { case (_, s, id) => Seq[Any](k, s, id, 1) }
      }.sortBy(_.toString()).toSeq
    val got = q.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    assert(got === ref)
  }

  test("keep-ties with null keys and null order values (desc = NULLS LAST)") {
    import spark.implicits._
    GraftExtensions.install(spark)
    // all-null group b: every row ties at rank 1 (null == null under
    // the ordering); group a: nulls sort last so only the 3.0 pair
    // survives; null KEY is its own group like any window partition
    val df = Seq(
      (Some("a"), Some(3.0), 1L), (Some("a"), Some(3.0), 2L),
      (Some("a"), None, 3L),
      (Some("b"), None, 4L), (Some("b"), None, 5L),
      (None, Some(1.0), 6L), (None, Some(1.0), 7L)
    ).toDF("k", "score", "id")
    val w = Window.partitionBy(col("k")).orderBy(col("score").desc)
    val q = df.withColumn("rn", rank().over(w)).filter(col("rn") === 1)
    assert(q.queryExecution.optimizedPlan
      .exists(_.isInstanceOf[graft.plans.TopKPerKeyNode]))
    val got = q.collect()
      .map(r => (r.getString(0), Option(r.get(1)), r.getLong(2))).toSet
    assert(got === Set(
      ("a", Some(3.0), 1L), ("a", Some(3.0), 2L),
      ("b", None, 4L), ("b", None, 5L),
      (null, Some(1.0), 6L), (null, Some(1.0), 7L)))
  }

  test("keep-ties equals driver-computed tie groups across seeded random datasets") {
    import spark.implicits._
    GraftExtensions.install(spark)
    // small score domain + null injection → heavy tie groups, nulls in
    // and out of the winning position; ids are unique so the sets
    // compare exactly
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val data = (0 until 400).map { i =>
        (s"k${rnd.nextInt(13)}",
          if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(5).toDouble),
          i.toLong)
      }
      val df = data.toDF("k", "score", "id").repartition(1 + seed % 5)
      val w = Window.partitionBy(col("k")).orderBy(col("score").desc)
      val q = df.withColumn("rn", rank().over(w)).filter(col("rn") === 1)
      assert(q.queryExecution.optimizedPlan
        .exists(_.isInstanceOf[graft.plans.TopKPerKeyNode]))
      val got = q.collect()
        .map(r => (r.getString(0), Option(r.get(1)), r.getLong(2))).toSet
      val expect = data.groupBy(_._1).flatMap { case (_, rs) =>
        val nonNull = rs.flatMap(_._2)
        // desc NULLS LAST: any non-null beats null; all-null group
        // ties entirely
        val best: Option[Double] =
          if (nonNull.nonEmpty) Some(nonNull.max) else None
        rs.filter(_._2 == best)
      }.toSet
      // tuple equality is element-wise and Option equality is value-
      // based, so the Row-derived Option[Any] compares fine
      assert(got.map(t => (t._1, t._2, t._3)) === expect, s"seed=$seed")
    }
  }

  /** Driver-side rank()-semantics reference: per key, every row with
    * fewer than k strictly-better scores, emitted with rank = 1 +
    * strictly-better count (desc order, no tiebreak → real tie groups).
    */
  private def rankLeKRef(rows: Array[(String, Double, Long)], k: Int) =
    rows.groupBy(_._1).toSeq.flatMap { case (key, rs) =>
      rs.flatMap { case (_, s, id) =>
        val better = rs.count(_._2 > s)
        if (better < k) Some(Seq[Any](key, s, id, better + 1)) else None
      }
    }.sortBy(_.toString()).toSeq

  test("rank() <= k for k > 1 rewrites into RankTies mode: boundary tie group kept, rank gaps exact") {
    GraftExtensions.install(spark)
    val df = data
    val w = Window.partitionBy(col("k")).orderBy(col("score").desc)
    val q = df.withColumn("rn", rank().over(w)).filter(col("rn") <= 3)
    val opt = q.queryExecution.optimizedPlan
    assert(opt.collectFirst {
      case n: graft.plans.TopKPerKeyNode => n.mode
    } === Some(graft.plans.TopKRankMode.RankTies), opt.toString.take(1500))
    assert(!opt.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.Window]),
      s"window must be rewritten away:\n${opt.toString.take(1500)}")
    val rows = df.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val ref = rankLeKRef(rows, 3)
    assert(ref.length > ref.map(_.head).distinct.length * 3,
      "test data must have ties so rank<=3 keeps more than 3 rows somewhere")
    val got = q.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    assert(got === ref)
  }

  test("dense_rank() <= k for k > 1 rewrites into DenseRankTies mode: top k value classes") {
    GraftExtensions.install(spark)
    val df = data
    val w = Window.partitionBy(col("k")).orderBy(col("score").desc)
    val q = df.withColumn("rn", dense_rank().over(w)).filter(col("rn") <= 2)
    val opt = q.queryExecution.optimizedPlan
    assert(opt.collectFirst {
      case n: graft.plans.TopKPerKeyNode => n.mode
    } === Some(graft.plans.TopKRankMode.DenseRankTies), opt.toString.take(1500))
    val ref = df.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .groupBy(_._1).toSeq.flatMap { case (key, rs) =>
        val classes = rs.map(_._2).distinct.sorted(Ordering[Double].reverse)
        val top = classes.take(2).zipWithIndex.toMap
        rs.flatMap { case (_, s, id) =>
          top.get(s).map(i => Seq[Any](key, s, id, i + 1))
        }
      }.sortBy(_.toString()).toSeq
    val got = q.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    assert(got === ref)
  }

  test("rank() <= k survives the sort fallback with exact rank numbering") {
    import spark.implicits._
    GraftExtensions.install(spark)
    // 2,000 distinct keys vs a 50-key bound → external-sort path on
    // both execs; 7 score values per key → multi-row tie groups around
    // the k = 3 boundary
    val df = spark.range(0, 20000).map { i =>
      (s"key_${i % 2000}", (i % 7).toDouble, i)
    }.toDF("k", "score", "id").repartition(5)
    val w = Window.partitionBy(col("k")).orderBy(col("score").desc)
    val q = df.withColumn("rn", rank().over(w)).filter(col("rn") <= 3)
    assert(q.queryExecution.optimizedPlan
      .exists(_.isInstanceOf[graft.plans.TopKPerKeyNode]))
    spark.conf.set("spark.graft.topk.maxKeysInMemory", "50")
    try {
      val got = q.collect().map(_.toSeq).sortBy(_.toString()).toSeq
      val ref = rankLeKRef(df.collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))), 3)
      assert(got === ref)
    } finally spark.conf.unset("spark.graft.topk.maxKeysInMemory")
  }

  test("keep-ties survives the sort fallback (key cardinality above the map bound)") {
    import spark.implicits._
    GraftExtensions.install(spark)
    // 2,000 distinct keys vs a 50-key bound → both execs overflow into
    // the external-sort path; scores collapse to 7 values so every
    // key's top is a multi-row tie group
    val df = spark.range(0, 20000).map { i =>
      (s"key_${i % 2000}", (i % 7).toDouble, i)
    }.toDF("k", "score", "id").repartition(5)
    val w = Window.partitionBy(col("k")).orderBy(col("score").desc)
    val q = df.withColumn("rn", rank().over(w)).filter(col("rn") === 1)
    assert(q.queryExecution.optimizedPlan
      .exists(_.isInstanceOf[graft.plans.TopKPerKeyNode]))
    spark.conf.set("spark.graft.topk.maxKeysInMemory", "50")
    try {
      val got = q.collect().map(_.toSeq).sortBy(_.toString()).toSeq
      val ref = df.collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
        .groupBy(_._1).toSeq.flatMap { case (k, rows) =>
          val best = rows.map(_._2).max
          rows.filter(_._2 == best).map { case (_, s, id) => Seq[Any](k, s, id, 1) }
        }.sortBy(_.toString()).toSeq
      assert(got === ref)
    } finally spark.conf.unset("spark.graft.topk.maxKeysInMemory")
  }

  test("sort fallback: key cardinality far above the map bound matches window form") {
    import spark.implicits._
    // 20,000 distinct keys against a bound of 50 → both the partial and
    // the final exec overflow their hash phase and take the
    // external-sort path; results must be identical to the window form.
    val df = spark.range(0, 60000).map { i =>
      (s"key_${i % 20000}", (i * 131 % 1009).toDouble, i)
    }.toDF("k", "score", "id").repartition(7)
    spark.conf.set("spark.graft.topk.maxKeysInMemory", "50")
    try {
      val got = TopK.perKey(df, Seq("k"), Seq(("score", false), ("id", true)), 2)
        .select("k", "rn", "score", "id")
        .collect().map(_.toSeq).sortBy(_.toString()).toSeq
      assert(got.length === 40000) // 20k keys × min(2, 3 rows per key)
      val w = Window.partitionBy(col("k"))
        .orderBy(col("score").desc, col("id"))
      val expected = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select("k", "rn", "score", "id")
        .collect().map(_.toSeq).sortBy(_.toString()).toSeq
      assert(got === expected)
    } finally spark.conf.unset("spark.graft.topk.maxKeysInMemory")
  }

  test("sort fallback straddling the bound: hot keys land in heaps, tail overflows") {
    import spark.implicits._
    // key cardinality (600) sits just above the bound (512): part of
    // each partition's input is already in heaps when the overflow row
    // arrives, exercising the heap→sorter handoff (evictions before the
    // switch must not lose top-k rows)
    val df = spark.range(0, 30000).map { i =>
      val key = if (i % 3 == 0) s"hot_${i % 7}" else s"cold_${i % 600}"
      (key, (i * 17 % 101).toDouble, i)
    }.toDF("k", "score", "id").repartition(5)
    spark.conf.set("spark.graft.topk.maxKeysInMemory", "512")
    try {
      val got = TopK.perKey(df, Seq("k"), Seq(("score", false), ("id", true)), 3)
        .select("k", "rn", "id")
        .collect().map(_.toSeq).sortBy(_.toString()).toSeq
      val w = Window.partitionBy(col("k"))
        .orderBy(col("score").desc, col("id"))
      val expected = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3).select("k", "rn", "id")
        .collect().map(_.toSeq).sortBy(_.toString()).toSeq
      assert(got === expected)
    } finally spark.conf.unset("spark.graft.topk.maxKeysInMemory")
  }

  test("SQLMetrics: fallback + eviction counters fire, and stay zero in-bound") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // TreeNode.collect does not descend through AQE wrapper nodes
    // (AdaptiveSparkPlanExec / QueryStageExec are leaves to it), so
    // walk the EXECUTED adaptive plan explicitly.
    def walk(p: SparkPlan): Seq[graft.plans.TopKPerKeyExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case e: graft.plans.TopKPerKeyExec => e +: e.children.flatMap(walk)
      case other => other.children.flatMap(walk)
    }
    def metric(df: org.apache.spark.sql.DataFrame, name: String): Long = {
      val nodes = walk(df.queryExecution.executedPlan)
      assert(nodes.nonEmpty, "no TopKPerKeyExec found in executed plan")
      nodes.map(_.metrics(name).value).sum
    }
    // past the map bound: every partition of the partial exec overflows
    val big = spark.range(0, 30000).map { i =>
      (s"key_${i % 10000}", (i * 131 % 1009).toDouble, i)
    }.toDF("k", "score", "id").repartition(5)
    spark.conf.set("spark.graft.topk.maxKeysInMemory", "64")
    val overflowed =
      try {
        val q = TopK.perKey(big, Seq("k"), Seq(("score", false), ("id", true)), 2)
        val n = q.collect().length
        assert(metric(q, "numOutputRows") >= n.toLong,
          "final output rows must be metered")
        q
      } finally spark.conf.unset("spark.graft.topk.maxKeysInMemory")
    assert(metric(overflowed, "sortFallbackTasks") > 0,
      "10k keys against a 64-key bound must take the sort fallback")
    assert(metric(overflowed, "sortFallbackKeys") > 0,
      "heaps built before the switch are handed to the sorter")
    // within the bound: 17-key skewed data never falls back, but the
    // hot key (4000 rows vs k=3) must evict constantly
    val q2 = TopK.perKey(data, Seq("k"), Seq(("score", false), ("id", true)), 3)
    q2.collect()
    assert(metric(q2, "sortFallbackTasks") === 0L,
      "in-bound key cardinality must not fall back")
    assert(metric(q2, "heapEvictions") > 0L,
      "hot-key rows past k must show up as evictions")
  }

  test("empty input yields empty output") {
    import spark.implicits._
    val df = Seq.empty[(String, Double, Long)].toDF("k", "score", "id")
    assert(TopK.perKey(df, Seq("k"), Seq(("score", false)), 3).count() === 0)
  }

  test("multi-column keys") {
    import spark.implicits._
    val df = Seq(("a", 1, 10), ("a", 1, 20), ("a", 2, 30), ("b", 1, 40))
      .toDF("k1", "k2", "v")
    val got = TopK.perKey(df, Seq("k1", "k2"), Seq(("v", false)), 1)
      .select("k1", "k2", "v", "rn")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet
    assert(got === Set(("a", 1, 20, 1), ("a", 2, 30, 1), ("b", 1, 40, 1)))
  }
}
