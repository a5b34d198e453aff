package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, Literal, Pmod}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the `.explain("formatted")` audit as
  * regression tests. These encode the 100 TB design decisions: small
  * dims broadcast (never shuffle the fact table for a dim join),
  * filters and projections reach the parquet scan, top-k never does a
  * global sort, and the relational hot path stays inside whole-stage
  * codegen.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan.toString

  /** Every WindowExec in `p`, through AQE wrappers and subqueries. */
  private def windows(p: SparkPlan): Seq[WindowExec] =
    AdaptivePlans.collectWithSubqueries(p) { case w: WindowExec => w }
  private object AdaptivePlans extends AdaptiveSparkPlanHelper

  test("q02 star join: all three dims broadcast, no sort-merge join") {
    val p = plan("q02_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "dim join must not shuffle the fact table")
  }

  test("q03/q09: dim joins broadcast") {
    for (q <- Seq("q03_top_customers", "q09_rollup")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: ${p.take(500)}")
      assert(!p.contains("SortMergeJoin"), q)
    }
  }

  test("q04: predicate + projection pushed to the parquet scan") {
    val p = plan("q04_filter_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), IsNotNull(l_shipdate)"),
      p.take(2000))
    assert(p.contains("GreaterThan(l_quantity"), "quantity predicate must push down")
    // ReadSchema carries exactly the 3 projected + filtered columns
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
      .forall(read.contains) && !read.contains("l_extendedprice"), read)
  }

  test("q01: aggregation is partial (map-side combine before the exchange)") {
    val p = plan("q01_pricing_summary")
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final HashAggregate:\n${p.take(1500)}")
    assert(p.contains("WholeStageCodegen") ||
      !p.contains("CodegenFallback"), "agg path must stay in codegen")
  }

  test("q50 top-k: TakeOrderedAndProject, not a global sort") {
    val p = plan("q50_knn_query")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("q51: query side broadcast (corpus is never shuffled)") {
    val p = plan("q51_knn_pairs")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(1500))
  }

  test("q10: single exchange for the windowed aggregation") {
    val p = plan("q10_segments_tumbling")
    // one exchange for the groupBy, one for the final orderBy — the agg
    // itself must be partial before its exchange
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, p.take(1500))
  }

  test("q24 banded range join plans as an equi-join, never a nested loop") {
    val p = plan("q24_range_join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "range predicate must ride an equi-join on the time bucket")
  }

  test("q19 as-of join is a window pass — no join operator at all") {
    val p = plan("q19_asof_join")
    assert(!p.contains("Join"), p.take(1500))
    assert(p.contains("Window"), "as-of composes as last() over a window")
  }

  test("q15 plans through the custom TopKPerKey operator") {
    val p = plan("q15_topk_per_stream")
    assert(p.contains("TopKPerKey"), p.take(1500))
  }

  test("q51/q105 plan TopKPerKey in a fresh session, as in a full run") {
    // SparkEntry installs the rewrite before every query body, so a
    // query's plan does not depend on which query ran before it
    for (q <- Seq("q51_knn_pairs", "q105_retention_cohorts")) {
      val p = SparkEntry.queries(q)(spark.newSession(), sf)
        .queryExecution.sparkPlan.toString
      assert(p.contains("TopKPerKey"), s"$q: ${p.take(1500)}")
    }
  }

  test("install is idempotent: one strategy, one rule, functions resolve") {
    val s = spark.newSession()
    graft.plans.GraftExtensions.install(s)
    graft.plans.GraftExtensions.install(s)
    val exp = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    assert(exp.extraStrategies.count(_ == graft.plans.TopKStrategy) == 1)
    assert(exp.extraOptimizations.count(_ == graft.plans.TopKRewriteRule) == 1)
    assert(s.sql("SELECT graft_mix64(CAST(7 AS BIGINT)) AS m").collect().length == 1)
  }

  test("q73: keeper election through TopKPerKey; keepers join broadcasts") {
    val q = SparkEntry.queries("q73_dedup_keepers")(spark, sf)
    try {
      val opt = q.queryExecution.optimizedPlan
      assert(opt.exists(_.isInstanceOf[graft.plans.TopKPerKeyNode]),
        "keeper argmax must go through the bounded operator:\n" +
          opt.toString.take(1500))
      val phys = q.queryExecution.sparkPlan.toString
      assert(phys.contains("BroadcastHashJoin"),
        s"one-row-per-component keepers must broadcast onto the membership:\n${phys.take(1500)}")
    } finally spark.catalog.clearCache() // q73 persists signature tables
  }

  test("q72: rank()=1 rewrites into keep-ties TopKPerKey (no Window executed)") {
    val opt = SparkEntry.queries("q72_argmax_ties")(spark, sf)
      .queryExecution.optimizedPlan
    assert(opt.exists {
      case n: graft.plans.TopKPerKeyNode =>
        n.mode == graft.plans.TopKRankMode.RankTies && n.k == 1
      case _ => false
    }, opt.toString.take(1500))
    assert(!opt.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Window]),
      s"the rank() window must be rewritten away:\n${opt.toString.take(1500)}")
  }

  test("q91: rank()<=3 rewrites into RankTies TopKPerKey at k=3 (no Window executed)") {
    val opt = SparkEntry.queries("q91_rank_topk_ties")(spark, sf)
      .queryExecution.optimizedPlan
    assert(opt.exists {
      case n: graft.plans.TopKPerKeyNode =>
        n.mode == graft.plans.TopKRankMode.RankTies && n.k == 3
      case _ => false
    }, opt.toString.take(1500))
    assert(!opt.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Window]),
      s"the rank() window must be rewritten away:\n${opt.toString.take(1500)}")
  }

  test("q46: map-side hot cap (broadcast anti-join), no posting cache, " +
      "no cartesian anywhere") {
    // r13 shape: the df-hot cap stays a partial-aggregated count →
    // BROADCAST anti-join (hot rows drop map-side, before any h-keyed
    // shuffle — a count window on the join's partitioning would ship
    // every degenerate posting list to one task), but the
    // corpus-sized posting CACHE is gone: the explode re-reads the
    // checkpointed signature projection instead of an
    // InMemoryRelation.
    val p = SparkEntry.queries("q46_ngram_jaccard_pairs")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(p.contains("LeftAnti"), p.take(2000))
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
        s"the (small) hot-shingle set must broadcast, not reshuffle the " +
          s"index:\n${p.take(2000)}")
      assert(!p.contains("InMemoryTableScan"),
        s"the posting table must not be cached (corpus-sized at scale):\n${
          p.take(2000)}")
      assert(!p.contains("CartesianProduct"),
        "pair generation must come from per-bucket explodes, never a cross join")
    } finally spark.catalog.clearCache()
  }

  test("q48: train-shingle distinct partial-aggregates before its exchange") {
    val p = plan("q48_contamination_check")
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q49/q58 sketch Aggregators partial-aggregate before the exchange") {
    // the sketches' whole 100 TB story is map-side combine: one O(k)
    // sketch per partition crosses the wire, never the token stream
    for (q <- Seq("q49_kmv_distinct", "q58_cms_heavy_hitters")) {
      val p = plan(q)
      val objAggs = p.linesIterator.count(_.contains("ObjectHashAggregate"))
      assert(objAggs >= 2, s"$q: expected partial+final ObjectHashAggregate:\n" +
        p.take(1500))
      assert(!p.contains("SortAggregate"),
        s"$q: sketch agg must not fall back to sort-based aggregation")
    }
  }

  test("q13 projection prunes the detections derivation to used columns") {
    val p = plan("q13_doris_rows")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // l_comment / l_shipinstruct etc. must not be read
    assert(!read.contains("l_comment") && !read.contains("l_shipinstruct"), read)
  }

  /** Builds `mk` and returns it with the query executions of the
    * localCheckpoint jobs its construction ran: a checkpointed
    * intermediate leaves the consumer plan (truncated to a LogicalRDD),
    * so what ran inside it is asserted on these plans.
    */
  private def withCheckpointPlans(mk: => org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Seq[QueryExecution]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val df = mk
      org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
      import scala.jdk.CollectionConverters._
      (df, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(l)
  }

  /** True iff a ScalaUDF appears anywhere in the physical plan,
    * INCLUDING inside cached subtrees: a persist() subtree surfaces as
    * an InMemoryTableScan leaf and a plain `exists` walk never descends
    * into `relation.cachedPlan` — a reintroduced UDF under a persist()
    * would be invisible to the check. (Checkpointed subtrees are
    * walked through their checkpoint jobs: [[withCheckpointPlans]].)
    */
  private def hasScalaUdf(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    p.exists {
      case s: InMemoryTableScanExec => hasScalaUdf(s.relation.cachedPlan)
      case node => node.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))
    }
  }

  test("q56/q65 deterministic sampling is UDF-free (native hash + decimal)") {
    // the whole-stage-codegen story of the sampling ops: graft_mix64 is
    // a native expression and the u64 threshold is decimal arithmetic,
    // so no ScalaUDF (codegen boundary) appears anywhere in the plan.
    // Walk the actual expression trees — ScalaUDF renders as "UDF(...)"
    // in plan strings, so a string match on the class name is vacuous.
    for (q <- Seq("q56_hash_split", "q65_source_mix_sample")) {
      val exec = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan
      assert(!hasScalaUdf(exec), s"$q: ScalaUDF in plan:\n${exec.toString.take(1500)}")
      assert(exec.toString.contains("graft_mix64"),
        s"$q: native mix64 missing")
    }
  }

  test("dedup/ANN signature queries are UDF-free end to end (incl. cached subtrees)") {
    // every signature kernel (shingle hashes, minhash bands, simhash,
    // fingerprint, lsh bucket) and both pair verifies run as native
    // static-call codegen expressions — no ScalaUDF boundary anywhere
    // in these plans, checkpointed signature tables included (their
    // checkpoint jobs are walked too) and any cached subtree
    // (hasScalaUdf recurses through InMemoryTableScan)
    try {
      for (q <- Seq("q42_minhash_lsh_pairs", "q43_simhash_pairs",
          "q44_fingerprint_groups", "q46_ngram_jaccard_pairs",
          "q48_contamination_check", "q53_ann_lsh", "q83_dup_spans",
          "q86_length_drift", "q87_source_dup_rate", "q88_label_confusion",
          "q89_lsh_recall", "q97_minhash_calibration",
          "q99_prefix_containment")) {
        val (df, ckpts) = withCheckpointPlans(SparkEntry.queries(q)(spark, sf))
        for (exec <- df.queryExecution.sparkPlan +: ckpts.map(_.sparkPlan))
          assert(!hasScalaUdf(exec), s"$q: ScalaUDF in plan:\n${exec.toString.take(1500)}")
      }
    } finally spark.catalog.clearCache()
  }

  test("q65: stats and limiting-row joins broadcast (scan never shuffles)") {
    val p = plan("q65_source_mix_sample")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
    assert(!p.contains("SortMergeJoin"), "per-source stats must broadcast")
  }

  test("runtime bloom filter prunes the fact side when the dim cannot broadcast") {
    // the 100 TB contingency: a selectively-filtered build side that is
    // too big to broadcast still reaches the fact scan as a bloom
    // runtime filter (semi-join pushdown), not a full-shuffle join of
    // the unfiltered fact table
    val conf = spark.conf
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "100MB")
    // the fact side must look "large" for injection; sf0.001 is KBs
    conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "0")
    conf.set("spark.sql.optimizer.runtimeFilter.number.threshold", "10")
    try {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val ord = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity")).as("q"))
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        s"expected a bloom runtime filter in:\n${p.take(2000)}")
    } finally {
      conf.unset("spark.sql.autoBroadcastJoinThreshold")
      conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
      conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      conf.unset("spark.sql.optimizer.runtimeFilter.number.threshold")
    }
  }

  test("q74: top-V vocab is TakeOrderedAndProject; encode join broadcasts") {
    val p = plan("q74_vocab_encode")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab selection must be per-partition top-V, not a global sort:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"),
      s"the V-row vocab must broadcast onto the token stream:\n${p.take(1500)}")
  }

  test("q75: the permutation window partitions by shard (no global window)") {
    // exchanges are inserted by EnsureRequirements, so inspect the
    // executed plan; the row_number window's required distribution is
    // a shard hash partition — the only full sort is the display-only
    // final orderBy
    val exec = SparkEntry.queries("q75_global_shuffle")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exec.contains("hashpartitioning(shard"),
      s"window must partition by shard:\n${exec.take(2000)}")
  }

  test("q77: shard labels are computed in-plan — no join beyond the miner") {
    // q43's miner plans exactly one join (the band-bucket self-join);
    // q77's shard labeling must add zero joins on top of it (labels
    // are a pure hash of doc_id, not a lookup)
    def joins(q: String): Int =
      SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
        .toString.linesIterator.count(_.contains("Join"))
    try assert(joins("q77_shard_leakage") == joins("q43_simhash_pairs"),
      "shard labeling must not introduce a join")
    finally spark.catalog.clearCache()
  }

  test("q78: source-label joins scan only (doc_id, source)") {
    val exec = SparkEntry.queries("q78_source_overlap")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      val labelScans = exec.linesIterator
        .filter(l => l.contains("ReadSchema") && !l.contains("text"))
      assert(labelScans.exists(l =>
          l.contains("doc_id") && l.contains("source")),
        s"label side must prune to (doc_id, source):\n${exec.take(2500)}")
    } finally spark.catalog.clearCache()
  }

  test("q79: boundary frame broadcasts; corpus aggregate is partial") {
    val exec = SparkEntry.queries("q79_curriculum_bins")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastNestedLoopJoin"),
      s"1-row bounds must broadcast onto the corpus:\n${exec.take(2000)}")
    assert(exec.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"histogram groupBy must partial-aggregate:\n${exec.take(2000)}")
  }

  test("q81: shard computed in-plan, min/count partial-aggregate; " +
      "cumsum is one window on the onePart partition") {
    val exec = SparkEntry.queries("q81_novelty_curve")(spark, sf)
      .queryExecution.executedPlan
    val text = exec.toString
    // shard labels and first-seen need no join of the CORPUS
    assert(!text.contains("SortMergeJoin") &&
        !text.contains("ShuffledHashJoin"),
      s"only constant-size broadcast frames may join:\n${text.take(2000)}")
    assert(text.contains("partial_min"),
      s"first-seen min must combine map-side:\n${text.take(2000)}")
    // the window that outputs cum_ngrams partitions by onePart's
    // pmod(…, 1), not by nothing (EliminateWindowPartitions strips a
    // foldable key); the planner computes the key below the window as
    // an alias (here in the rollup aggregate's output)
    def aliased(k: Attribute, p: SparkPlan): Option[Expression] =
      AdaptivePlans.flatMap(p)(_.expressions.flatMap(_.collect {
        case a: Alias if a.exprId == k.exprId => a.child
      })).headOption
    assert(windows(exec).exists {
        case WindowExec(we, Seq(k: Attribute), _, child)
            if we.exists(_.name == "cum_ngrams") =>
          aliased(k, child).exists {
            case p: Pmod => p.right == Literal(1L)
            case _       => false
          }
        case _ => false
      },
      s"the cumsum window must partition by onePart:\n${text.take(2000)}")
  }

  test("bounded-frame windows (seven running sums, q74, q107) all name a partition") {
    // the plan-level form of "no WindowExec logs No Partition Defined":
    // an empty partitionSpec moves the frame to one task unannounced;
    // these frames take one partition on purpose, through onePart
    for (q <- Seq("q74_vocab_encode", "q79_curriculum_bins",
        "q81_novelty_curve", "q85_coverage_curve", "q86_length_drift",
        "q107_ivf_probe_curve", "q128_hist_bin_sweep",
        "q137_quality_skyline", "q148_quantile_normalize")) {
      val ws = windows(SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan)
      assert(ws.nonEmpty, s"$q: expected a WindowExec")
      assert(ws.forall(_.partitionSpec.nonEmpty),
        s"$q: unpartitioned window:\n${ws.mkString("\n")}")
    }
  }

  test("q82: joinless, windowless — two partial-aggregated groupBys only") {
    val exec = SparkEntry.queries("q82_bucket_label_purity")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!exec.contains("Join") && !exec.contains("Window"),
      s"cell purity must be pure aggregation:\n${exec.take(2000)}")
    assert(exec.contains("partial_count") || exec.contains("partial_sum"),
      s"cell counts must combine map-side:\n${exec.take(2000)}")
  }

  test("q80: centroid join broadcasts; top-3 runs through TopKPerKey") {
    val exec = SparkEntry.queries("q80_label_outliers")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exec.contains("TopKPerKey"),
      s"per-label top-3 must use the bounded-heap operator:\n${exec.take(2000)}")
    assert(exec.contains("BroadcastHashJoin") && !exec.contains("SortMergeJoin"),
      s"labels×dims centroid table must broadcast:\n${exec.take(2000)}")
  }

  test("q76: doc frequency is a window over one exploded scan — no join") {
    val exec = SparkEntry.queries("q76_dup_ngram_fraction")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exec.linesIterator.count(_.contains("Scan parquet")) == 1 &&
      exec.linesIterator.count(_.contains("Generate explode")) == 1,
      s"corpus must be scanned and exploded exactly once:\n${exec.take(2500)}")
    assert(!exec.contains("Join"),
      s"df is a window, not a groupBy+self-join:\n${exec.take(2500)}")
  }

  test("q89: both miners read one persisted signature scan; no cartesian") {
    val exec = SparkEntry.queries("q89_lsh_recall")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      // r13: the shared signature table is the materializeSpread
      // checkpoint (Scan ExistingRDD) and the signature kernel must
      // have left the consumer plan; the old posting-table cache
      // (InMemoryTableScan) is gone — postings stream through the
      // single shared exchange of the r13 candidate shape
      assert(exec.contains("Scan ExistingRDD"),
        s"candidate and exact sides must share the signature " +
          s"checkpoint:\n${exec.take(2500)}")
      assert(!exec.contains("graft_sig_pack"),
        s"signatures must come from the checkpoint, not be recomputed:\n${
          exec.take(2500)}")
      assert(!exec.contains("CartesianProduct"),
        s"the audit must stay equi-joined:\n${exec.take(2500)}")
      assert(!exec.contains("ScalaUDF"), s"UDF-free:\n${exec.take(2500)}")
    } finally spark.catalog.clearCache()
  }

  test("q90: stats broadcast back onto the scan; repeat columns are projection") {
    val exec = SparkEntry.queries("q90_epoch_upsample")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastHashJoin") && !exec.contains("SortMergeJoin"),
      s"per-source stats must broadcast (corpus never shuffles for them):\n${
        exec.take(2500)}")
    assert(!exec.contains("ScalaUDF"),
      s"threshold tests must be decimal projection, not UDF:\n${
        exec.take(2500)}")
  }

  test("q88: centroid build runs once (persisted); nearest-label via TopKPerKey") {
    val exec = SparkEntry.queries("q88_label_confusion")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(exec.contains("TopKPerKey"),
        s"nearest-per-label must rewrite into the bounded-heap operator:\n${
          exec.take(2500)}")
      assert(!exec.contains("SortMergeJoin"),
        s"the labels×dims self-join must broadcast:\n${exec.take(2500)}")
    } finally spark.catalog.clearCache()
  }

  test("q86: all branches read the persisted histogram — no corpus re-scan") {
    val exec = SparkEntry.queries("q86_length_drift")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(!exec.contains("SortMergeJoin"),
        s"grid/label joins are bounded-domain and must broadcast:\n${
          exec.take(2500)}")
    } finally spark.catalog.clearCache()
  }

  test("q87: membership list broadcasts; label side prunes to (doc_id, source)") {
    val exec = SparkEntry.queries("q87_source_dup_rate")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(exec.contains("BroadcastHashJoin"),
        s"members must broadcast onto the (doc_id, source) projection:\n${
          exec.take(2500)}")
      val labelScans = exec.linesIterator
        .filter(l => l.contains("ReadSchema") && !l.contains("text"))
      assert(labelScans.exists(l =>
          l.contains("doc_id") && l.contains("source")),
        s"label side must prune to (doc_id, source):\n${exec.take(2500)}")
    } finally spark.catalog.clearCache()
  }

  test("q83: anchor self-join reuses one exchange — single scan, no cartesian") {
    // pin the AT-SCALE shape: with auto-broadcast on, tiny SFs
    // broadcast one join side (re-deriving its subtree); at 100 TB
    // neither anchor side broadcasts and the join must fall back to
    // the reused-exchange co-partitioned plan
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val exec =
      try {
        val df = SparkEntry.queries("q83_dup_spans")(spark, sf)
        // exchange reuse is decided by AQE at stage materialization —
        // only the executed (isFinalPlan=true) plan shows it, and only
        // an action on THIS QueryExecution (collect, not write/count,
        // which wrap new ones) finalizes it
        df.collect()
        df.queryExecution.executedPlan.toString
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // the executed AdaptiveSparkPlan prints Final + Initial sections;
    // only the Final one is what ran
    val fin = {
      val start = exec.indexOf("== Final Plan ==")
      val end = exec.indexOf("== Initial Plan ==")
      if (start >= 0 && end > start) exec.substring(start, end)
      else exec
    }
    assert(fin.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"corpus must be scanned exactly once (the join's second side " +
        s"reuses the windowed anchor exchange):\n${fin.take(6000)}")
    assert(fin.contains("Reused"),
      s"the self-join must reuse the df-window's exchange:\n${
        fin.take(6000)}")
    assert(!fin.contains("CartesianProduct") &&
        !fin.contains("BroadcastNestedLoopJoin"),
      s"pairing must stay an equi-join on the anchor hash:\n${
        fin.take(6000)}")
    assert(exec.contains("graft_shingle_hashes_pos"),
      s"anchors must come from the native positional expression:\n${
        exec.take(2500)}")
    assert(!fin.contains("ScalaUDF"), s"UDF-free:\n${fin.take(2500)}")
  }

  test("q84: pair counting runs over the vocabulary — wordcount is partial") {
    val exec = SparkEntry.queries("q84_bpe_pairs")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exec.contains("partial_count"),
      s"the corpus wordcount must combine map-side:\n${exec.take(2500)}")
    assert(exec.contains("TakeOrderedAndProject"),
      s"top-20 must be per-partition top-k, not a global sort:\n${
        exec.take(2500)}")
    assert(!exec.contains("Join"), s"joinless:\n${exec.take(2500)}")
  }

  test("q85: corpus contributes one partial-agg shuffle; blocks broadcast") {
    val exec = SparkEntry.queries("q85_coverage_curve")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      // the block table is NOT cached — each of the exactly two
      // corpus-consuming branches (grand totals and the windowed
      // cumsum frame) ends in the SAME canonical wordcount
      // aggregation exchange, which AQE stage reuse computes once at
      // runtime. Statically that shows as one "Scan parquet" line per
      // branch; more lines would mean a new consumer crept in and the
      // corpus pays another pass.
      assert(exec.linesIterator.count(_.contains("Scan parquet")) <= 2,
        s"totals and the cumsum frame are the only corpus " +
          s"branches allowed:\n${exec.take(2500)}")
      assert(exec.contains("partial_count"),
        s"the wordcount must combine map-side:\n${exec.take(2500)}")
      assert(!exec.contains("SortMergeJoin"),
        s"block/total frames must broadcast (tiny by construction):\n${
          exec.take(2500)}")
    } finally spark.catalog.clearCache()
  }

  test("q92: all three branches read the cached histogram; bits table broadcasts back") {
    val exec = SparkEntry.queries("q92_bit_surprisal")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(exec.contains("BroadcastHashJoin") &&
          !exec.contains("SortMergeJoin"),
        s"the vocab-sized bits table must broadcast onto the histogram:\n${
          exec.take(2500)}")
    } finally spark.catalog.clearCache()
  }

  test("q93: the sources×vocab grid derives from the cached histogram, no cartesian blowup") {
    val exec = SparkEntry.queries("q93_source_divergence")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(exec.linesIterator.count(_.contains("Scan ExistingRDD")) >= 4,
        s"wc/srcs/tot/hist must all derive from the checkpointed histogram:\n${
          exec.take(2500)}")
      assert(!exec.contains("CartesianProduct"),
        s"the grid cross joins must broadcast (vocab and totals are " +
          s"bounded):\n${exec.take(2500)}")
    } finally spark.catalog.clearCache()
  }

  test("q94: dense_rank <= 3 runs through TopKPerKey over one corpus scan") {
    val exec = SparkEntry.queries("q94_top_tokens_ties")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exec.contains("TopKPerKey"),
      s"the window-rank idiom must rewrite to the bounded operator:\n${
        exec.take(2500)}")
    assert(exec.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"corpus must be scanned exactly once:\n${exec.take(2500)}")
  }

  test("q96: savings report never reads text outside the miners' signature scan") {
    val exec = SparkEntry.queries("q96_dup_cluster_stats")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(!exec.contains("CartesianProduct"), exec.take(2000))
      // the stats branch joins components onto a (doc_id, n_chars)
      // projection — some scan must read exactly that, text-free
      val reads = exec.linesIterator.filter(_.contains("ReadSchema")).toSeq
      assert(reads.exists(r => r.contains("n_chars") && !r.contains("text")),
        reads.mkString("\n"))
    } finally spark.catalog.clearCache()
  }

  test("q97: one materialized signature table feeds candidates and both estimate sides") {
    // r12: the shared signature table is an eager checkpoint
    // (CacheLifecycle.materializeSpread) instead of a lazy cache, so
    // consumers appear as ExistingRDD scans of the one checkpointed
    // generator — the signature kernel itself must have left the plan
    // entirely (it ran once, in the materialization job).
    val exec = SparkEntry.queries("q97_minhash_calibration")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(exec.linesIterator.count(_.contains("Scan ExistingRDD")) >= 3,
        s"candidate generation and both sig/hl join sides must read the " +
          s"one checkpointed signature scan:\n${exec.take(2500)}")
      assert(!exec.contains("graft_minhash_sig"),
        "the signature kernel must not re-run in any consumer branch — " +
          "it belongs to the one materialization job")
    } finally spark.catalog.clearCache()
  }

  test("q98: Lloyd step = one corpus scan + pruned seed scan + partial agg") {
    val exec = SparkEntry.queries("q98_lloyd_step")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!exec.contains("SortMergeJoin"),
      s"the codebook must broadcast, never shuffle the corpus:\n${exec.take(2000)}")
    // seed scan prunes at the reader: vec_id < 8 reaches PushedFilters
    assert(exec.contains("LessThan(vec_id,8)"),
      s"seed predicate must push down:\n${exec.take(2500)}")
    val aggs = exec.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2,
      s"per-(cid,dim) stats must partial-aggregate map-side:\n${exec.take(2000)}")
  }

  test("q99: containment anchors equi-join; hot-anchor cap is a broadcast anti-join") {
    val exec = SparkEntry.queries("q99_prefix_containment")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec.take(2000))
    assert(exec.contains("BroadcastHashJoin"),
      s"the hot-anchor cap must broadcast:\n${exec.take(2000)}")
  }

  test("q100: manifest head runs through the bounded TopKPerKey heap") {
    val exec = SparkEntry.queries("q100_train_manifest")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exec.contains("TopKPerKey"),
      s"row_number <= 10 must rewrite to the bounded operator — the " +
        s"manifest must never globally sort:\n${exec.take(2500)}")
  }

  test("q101: HLL register fold partial-aggregates; both branches read the cached trigram set") {
    val exec = SparkEntry.queries("q101_hll_distinct")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      // the whole point of the sketch: max(rho) per (source, register)
      // combines map-side, so ≤ 256 rows/source cross the exchange
      assert(exec.linesIterator.count(_.contains("HashAggregate")) >= 2,
        s"register fold must partial-aggregate before the shuffle:\n${
          exec.take(2500)}")
      assert(!exec.contains("CartesianProduct"), exec.take(2000))
    } finally spark.catalog.clearCache()
  }

  test("q102: bloom position set broadcasts; the probe side never shuffles for the filter") {
    val exec = SparkEntry.queries("q102_bloom_prefilter")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(exec.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
        s"both position probes must be broadcast joins (the ≤ 65536-row " +
          s"bit set IS the bloom):\n${exec.take(2500)}")
      assert(!exec.contains("CartesianProduct"), exec.take(2000))
    } finally spark.catalog.clearCache()
  }

  test("q107: sweep rankings run through TopKPerKey off one cached scored projection") {
    val exec = SparkEntry.queries("q107_ivf_probe_curve")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(exec.contains("TopKPerKey"),
        s"the per-sweep-point top-10 must use the bounded heap:\n${
          exec.take(2500)}")
      assert(exec.linesIterator.count(_.contains("Scan ExistingRDD")) >= 2,
        s"exact and ANN branches must share the one checkpointed scored " +
          s"projection:\n${exec.take(2500)}")
      assert(!exec.contains("CartesianProduct"), exec.take(2000))
    } finally spark.catalog.clearCache()
  }

  test("q108/q109/q110: rank/cumsum window and per-source rollup share ONE source exchange") {
    for (q <- Seq("q108_source_caps", "q109_weighted_sample",
        "q110_packing_curve")) {
      val exec = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(exec.linesIterator.count(
          _.contains("Exchange hashpartitioning(source")) == 1,
        s"$q: the window and the per-source aggregate must ride one " +
          s"source exchange:\n${exec.take(2500)}")
      assert(!exec.contains("Exchange SinglePartition"),
        s"$q: nothing may serialize to one partition:\n${exec.take(2000)}")
      assert(!exec.contains("CartesianProduct"), q)
    }
  }

  test("q111: bounds, histogram, and exact audit all read the one cached 2-column base") {
    val exec = SparkEntry.queries("q111_hist_quantiles")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(exec.linesIterator.count(_.contains("Scan ExistingRDD")) >= 3,
        s"bounds, histogram and audit branches must share the checkpointed " +
          s"(lang, nt) projection:\n${exec.take(2500)}")
      assert(exec.contains("BroadcastHashJoin") ||
          exec.contains("BroadcastNestedLoopJoin"),
        s"the 1-row bounds and the per-lang estimate/exact join must " +
          s"broadcast:\n${exec.take(2500)}")
      assert(!exec.contains("SortMergeJoin") &&
          !exec.contains("CartesianProduct"), exec.take(2000))
    } finally spark.catalog.clearCache()
  }

  test("q112: fan-out aggregates map-side; no single-partition serialization") {
    val exec = SparkEntry.queries("q112_shard_balance")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exec.contains("Exchange hashpartitioning(n_shards"),
      s"the per-(N, shard) rollup must stay hash-distributed:\n${
        exec.take(2000)}")
    assert(!exec.contains("Exchange SinglePartition"),
      s"nothing may serialize to one partition:\n${exec.take(2000)}")
    assert(!exec.contains("CartesianProduct"), exec.take(2000))
  }

  test("q115: bounded bottom-k heap, one shared hash pass, all-broadcast pair stage") {
    val exec = SparkEntry.queries("q115_source_jaccard_sketch")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(exec.linesIterator.count(_.contains("TopKPerKey")) >= 1,
        s"the per-source bottom-256 must use the bounded heap:\n${
          exec.take(2500)}")
      // round 8: the per-PAIR re-rank moved in-array onto the two
      // capped synopsis arrays (array_union/slice/array_intersect in
      // one broadcast stage) — no second exchange, no window
      assert(exec.linesIterator.count(_.contains("Scan ExistingRDD")) >= 3,
        s"sketch and audit branches must share the checkpointed hash " +
          s"pass, and sizes/inter the checkpointed count pass:\n${
            exec.take(2500)}")
      assert(exec.contains("BroadcastHashJoin"),
        s"the pair matrix must assemble via broadcast joins:\n${
          exec.take(2500)}")
      assert(!exec.contains("SortMergeJoin"),
        s"nothing in the pair stage may shuffle-join:\n${exec.take(2500)}")
      assert(!exec.contains("CartesianProduct"), exec.take(2000))
    } finally spark.catalog.clearCache()
  }

  test("q118: power steps run in-array over the one folded bounded graph row") {
    val exec = SparkEntry.queries("q118_transition_pagerank")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(exec.linesIterator.count(_.contains("Scan ExistingRDD")) >= 2,
        s"edge fold and degrees must both read the one checkpointed " +
          s"transition table:\n${exec.take(2500)}")
      assert(exec.contains("BroadcastHashJoin"),
        s"the degree attach must broadcast:\n${exec.take(2500)}")
      // round 8: the three power iterations run in-array over the one
      // folded graph row, each rank vector LET-BOUND via the
      // transform-over-singleton idiom (CollapseProject would inline
      // chained withColumns into an (N·E)^steps re-evaluation) — no
      // per-step join, exchange, or broadcast build may reappear (the
      // old loop re-broadcast the rank vector every step: 7+ broadcast
      // exchanges; the folded form needs only out_n and the two final
      // attaches)
      assert(exec.contains("transform(array("),
        s"power steps must be let-bound in-array:\n${exec.take(2500)}")
      assert(exec.linesIterator.count(_.contains("BroadcastExchange")) <= 4,
        s"iteration must not pay per-step broadcast builds:\n${
          exec.take(2500)}")
      assert(!exec.contains("SortMergeJoin") &&
          !exec.contains("CartesianProduct"), exec.take(2000))
    } finally spark.catalog.clearCache()
  }

  test("q119: per-user fold and cohort windows never serialize; cohort stats broadcast") {
    val exec = SparkEntry.queries("q119_conversion_latency")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!exec.contains("Exchange SinglePartition"),
      s"cohort windows must partition by week, never globally:\n${
        exec.take(2000)}")
    assert(exec.contains("BroadcastHashJoin"), exec.take(2000))
    assert(!exec.contains("CartesianProduct"), exec.take(2000))
  }

  test("q116: median, deviation, and outlier passes share the cached (type, cents) base; stats broadcast back") {
    val exec = SparkEntry.queries("q116_mad_outliers")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(exec.contains("BroadcastHashJoin"),
        s"per-type medians/MADs must broadcast back:\n${exec.take(2500)}")
      assert(!exec.contains("SortMergeJoin") &&
          !exec.contains("CartesianProduct"), exec.take(2000))
    } finally spark.catalog.clearCache()
  }

  test("q117: decay is one map-side-combinable pass; totals broadcast") {
    val exec = SparkEntry.queries("q117_decayed_popularity")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exec.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"per-type decay sums must partial-aggregate:\n${exec.take(2000)}")
    assert(!exec.contains("SortMergeJoin"), exec.take(2000))
    assert(!exec.contains("CartesianProduct"), exec.take(2000))
  }

  test("q113: lag, session cumsum, and per-session rollup ride ONE user_id exchange") {
    val exec = SparkEntry.queries("q113_session_gap_sweep")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exec.linesIterator.count(
        _.contains("Exchange hashpartitioning(user_id")) == 1,
      s"the sweep fan-out must not re-shuffle event rows:\n${exec.take(2500)}")
    assert(!exec.contains("Exchange SinglePartition"), exec.take(2000))
    assert(!exec.contains("CartesianProduct"), exec.take(2000))
  }

  test("q114: pair join runs once; thresholds fan out over the 2-double projection") {
    val exec = SparkEntry.queries("q114_nms_threshold_curve")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"),
      s"the pair join must stay an equi-join on (frame, class):\n${
        exec.take(2500)}")
    val gen = exec.linesIterator.filter(_.contains("Generate explode")).toSeq
    assert(gen.nonEmpty, s"threshold fan-out missing:\n${exec.take(2000)}")
    assert(gen.forall(l => !l.contains("x1") && !l.contains("y2")),
      s"coordinates must be projected away BEFORE the 4x fan-out:\n$gen")
  }

  test("q105/q106: per-user windows never serialize; cohort/total joins broadcast") {
    for (q <- Seq("q105_retention_cohorts", "q106_event_transitions")) {
      val exec = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(exec.contains("Window"), s"$q: ${exec.take(1500)}")
      assert(!exec.contains("Exchange SinglePartition"),
        s"$q: windows must partition by user_id, never globally:\n${
          exec.take(2000)}")
      assert(exec.contains("BroadcastHashJoin"),
        s"$q: the bounded-domain join side must broadcast:\n${
          exec.take(2000)}")
      assert(!exec.contains("CartesianProduct"), q)
    }
  }

  test("q104: both top-10s run through TopKPerKey; codebooks broadcast, corpus never shuffles to be coded") {
    val exec = SparkEntry.queries("q104_pq_adc")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(exec.linesIterator.count(_.contains("TopKPerKey")) >= 2,
        s"both the ADC and exact row_number <= 10 rankings must use the " +
          s"bounded heap:\n${exec.take(2500)}")
      assert(!exec.contains("SortMergeJoin") &&
          !exec.contains("CartesianProduct"),
        s"codebooks and query tables are broadcast-only:\n${exec.take(2500)}")
      assert(exec.linesIterator.count(_.contains("Scan ExistingRDD")) >= 3,
        s"subspace training, coding, queries and the exact branch must " +
          s"all read the one checkpointed quantized corpus:\n${exec.take(2500)}")
    } finally spark.catalog.clearCache()
  }

  test("q120: one cached scored projection feeds all sweep points and the exact top-10") {
    val exec = SparkEntry.queries("q120_trunc_recall")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(exec.contains("TopKPerKey"),
        s"per-sweep-point top-10 must use the bounded heap:\n${
          exec.take(2500)}")
      assert(exec.contains("TakeOrderedAndProject"),
        s"the exact top-10 must never globally sort:\n${exec.take(2500)}")
      assert(exec.linesIterator.count(_.contains("Scan ExistingRDD")) >= 2,
        s"fan-out and exact branches must share the one checkpointed scored " +
          s"projection (the corpus is scored once):\n${exec.take(2500)}")
      assert(exec.contains("BroadcastHashJoin") &&
          !exec.contains("SortMergeJoin") &&
          !exec.contains("CartesianProduct"),
        s"the 10-row exact set must broadcast back:\n${exec.take(2500)}")
    } finally spark.catalog.clearCache()
  }

  test("q121: fixed panel broadcasts onto the corpus; top-3 via the bounded heap") {
    val exec = SparkEntry.queries("q121_knn_hubness")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(exec.contains("BroadcastNestedLoopJoin"),
        s"the 200-row panel must broadcast (non-equi id != qid " +
          s"condition) — the corpus never shuffles a vector:\n${
            exec.take(2500)}")
      assert(exec.contains("TopKPerKey"),
        s"per-query top-3 must use the bounded heap:\n${exec.take(2500)}")
      assert(!exec.contains("CartesianProduct"), exec.take(2000))
    } finally spark.catalog.clearCache()
  }

  test("q122: per-user totals and the rank window share one event_type-compatible exchange chain; no join") {
    val p = plan("q122_value_gini")
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("Join"),
      s"Gini is windows + aggregation only — nothing to join:\n${
        p.take(2000)}")
    assert(!p.contains("Exchange SinglePartition"),
      s"ranking partitions by event_type, never one partition:\n${
        p.take(2000)}")
  }

  test("q123: global top-20 is a TakeOrderedAndProject, never a full sort") {
    val p = plan("q123_token_burstiness")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 4,
      s"both rollups must partial-aggregate map-side:\n${p.take(2000)}")
  }

  test("q124: single-scan fan-out — no join anywhere, grams leave the scan hashed") {
    val p = plan("q124_ngram_diversity")
    assert(!p.contains("Join"),
      s"the three n values fan out from one token-array scan:\n${
        p.take(2000)}")
    assert(p.contains("graft_hash64"),
      s"grams must travel as 8-byte hashes, not strings:\n${p.take(2000)}")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"the corpus is read exactly once:\n${p.take(2000)}")
  }

  test("q125: per-hour stats broadcast back over the cached grid") {
    val exec = SparkEntry.queries("q125_hourly_anomaly")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(exec.contains("BroadcastHashJoin") &&
          !exec.contains("SortMergeJoin"),
        s"24-row med/mad tables must broadcast:\n${exec.take(2500)}")
      assert(!exec.contains("CartesianProduct"), exec.take(2000))
    } finally spark.catalog.clearCache()
  }

  test("q126: one verified pass feeds both sweep rollups; verify is the native kernel") {
    // both q126 sites are localCheckpoints: the verify runs in the
    // fan-out's checkpoint job, so the kernel and the shared signature
    // table are asserted on that job's plan, the rollups on the query's
    val (df, qes) = withCheckpointPlans(
      SparkEntry.queries("q126_dedup_threshold_sweep")(spark, sf))
    val exec = df.queryExecution.executedPlan.toString
    val ckpts = qes.map(_.executedPlan.toString)
    val verify = ckpts.find(_.contains("graft_sorted_overlap"))
    assert(verify.nonEmpty,
      s"the exact verify must be the sorted-merge kernel:\n${
        ckpts.mkString("\n---\n").take(5000)}")
    assert(verify.get.contains("Scan ExistingRDD"),
      s"prefix/verify branches must read the checkpointed signature " +
        s"table:\n${verify.get.take(2500)}")
    assert(exec.linesIterator.count(_.contains("Scan ExistingRDD")) >= 2,
      s"both rollups must read the checkpointed fan-out (the verified " +
        s"join runs once, not per sweep point):\n${exec.take(2500)}")
    assert((exec +: ckpts).forall(!_.contains("CartesianProduct")),
      (exec +: ckpts).mkString("\n---\n").take(4000))
  }

  test("q127: bigram/prefix/bits tables all derive from the one cached histogram") {
    val exec = SparkEntry.queries("q127_bigram_surprisal")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(exec.linesIterator.count(_.contains("Scan ExistingRDD")) >= 2,
        s"the corpus-sized (source, a, b) histogram must be scanned, " +
          s"checkpointed, and reused — never recomputed per derivative:\n${
            exec.take(2500)}")
      assert(exec.contains("BroadcastHashJoin"),
        s"the |vocab|-row prefix-count table must broadcast:\n${
          exec.take(2500)}")
      assert(!exec.contains("CartesianProduct"), exec.take(2000))
    } finally spark.catalog.clearCache()
  }

  test("q128: all four binnings and the exact pass share one cached projection; corpus never row-sorted") {
    val exec = SparkEntry.queries("q128_hist_bin_sweep")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(exec.linesIterator.count(_.contains("Scan ExistingRDD")) >= 3,
        s"bounds, fan-out, exact-value and count passes must read the " +
          s"one checkpointed 1-column projection:\n${exec.take(2500)}")
      assert(exec.contains("HashAggregate(keys=[nt"),
        s"exact order statistics must come from the distinct-value " +
          s"histogram (groupBy(nt) before any ordering) — never a " +
          s"row_number over corpus rows:\n${exec.take(2500)}")
      assert(!exec.contains("CartesianProduct"), exec.take(2000))
    } finally spark.catalog.clearCache()
  }

  test("q129: sketch and exact branches share the cached key projection; 1-row results broadcast") {
    val exec = SparkEntry.queries("q129_join_size_sketch")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(!exec.contains("CartesianProduct"),
        s"the 1-row sketch/exact results must broadcast:\n${
          exec.take(2500)}")
    } finally spark.catalog.clearCache()
  }

  test("q130: one cached (hd, cos) projection feeds all radii and the exact top-10") {
    val exec = SparkEntry.queries("q130_lsh_radius_sweep")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(exec.contains("TopKPerKey"),
        s"per-radius top-10 must use the bounded heap:\n${exec.take(2500)}")
      assert(exec.contains("TakeOrderedAndProject"),
        s"the exact top-10 must never globally sort:\n${exec.take(2500)}")
      assert(exec.linesIterator.count(_.contains("Scan ExistingRDD")) >= 3,
        s"candidate counts, rankings, and the exact branch must share " +
          s"the one checkpointed scored projection (the corpus is scored " +
          s"once):\n${exec.take(2500)}")
      assert(!exec.contains("CartesianProduct"), exec.take(2000))
    } finally spark.catalog.clearCache()
  }

  test("q103: chunk window is per-doc (no single-partition sort); single-pass, joinless") {
    val exec = SparkEntry.queries("q103_cdc_chunks")(spark, sf)
      .queryExecution.executedPlan.toString
    try {
      assert(exec.contains("Window"), exec.take(2000))
      assert(!exec.contains("Exchange SinglePartition"),
        s"the running boundary count must partition by doc_id — a " +
          s"global-order window would serialize the corpus:\n${
            exec.take(2500)}")
      // round-11 verdict task 1: the duplicate-signature set scales
      // with corpus dup content, so it may NOT broadcast back — the
      // per-chunk multiplicity is a (sig, n_anchors) count window and
      // the plan has no join (and no broadcast) at all
      assert(!exec.contains("Join") && !exec.contains("BroadcastExchange"),
        s"q103 must be the joinless single-pass shape:\n${exec.take(2500)}")
      assert(!exec.contains("CartesianProduct"), exec.take(2000))
    } finally spark.catalog.clearCache()
  }

  test("q135: scan reads only the two layout dims (user_id, ts)") {
    val p = plan("q135_zorder_skip")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(Seq("user_id", "ts").forall(read.contains) &&
      !read.contains("props") && !read.contains("event_type") &&
      !read.contains("value"), read)
  }

  test("q136: scan reads only (source, text, n_chars); nulls pushed") {
    val p = plan("q136_ols_source_stats")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(Seq("source", "text", "n_chars").forall(read.contains) &&
      !read.contains("lang") && !read.contains("doc_id"), read)
    assert(p.contains("PushedFilters: [IsNotNull(text)]"), p.take(1500))
  }

  test("q141: trigram top-20 is TakeOrderedAndProject, never a global sort") {
    val p = plan("q141_behavior_trigrams")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q142: as-of sweep is a window pass — no join operator at all") {
    val p = plan("q142_asof_tolerance_sweep")
    assert(!p.contains("Join"), p.take(2000))
    assert(p.contains("Window"), p.take(2000))
  }

  test("q147: probe retrieval broadcasts every join side; top-20 is TakeOrdered") {
    try {
      val p = plan("q147_tfidf_probe_cosine")
      // probe vectors, probe norms, df table: all broadcast — the
      // corpus is never the build side and never sort-merge-shuffled
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        "corpus must meet probes via broadcast only")
      assert(p.contains("BroadcastHashJoin"), p.take(1500))
      assert(!p.contains("CartesianProduct"), "scalar graft must broadcast")
      // the probe SET is bounded in the operator: a TakeOrdered picks
      // the first ProbeCap ids by the mix64 permutation (one for the
      // cap, one for the final top-20 — never a global sort), so the
      // broadcast is provably ≤ ProbeCap postings lists at any corpus
      assert(graft.operators.TextAnalysis.ProbeCap <= 64,
        "probe cap must stay broadcast-sized")
      assert(p.linesIterator.count(_.contains("TakeOrderedAndProject")) >= 2,
        s"probe-cap + top-20 must both be TakeOrdered:\n${p.take(1500)}")
    } finally spark.catalog.clearCache()
  }

  test("q148: CDF lookup is a broadcast interval join; ranks never re-sort") {
    try {
      val p = plan("q148_quantile_normalize")
      // the cum_prev <= p < cum lookup: broadcast nested loop against
      // the tiny distinct-length frame — never a shuffle join
      assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        "the corpus side must not shuffle for the CDF lookup")
    } finally spark.catalog.clearCache()
  }

  test("q149: recipe math is joinless — one corpus aggregation, tiny windows") {
    val p = plan("q149_temperature_mix")
    assert(!p.contains("Join"), p.take(1500))
    assert(p.linesIterator.count(_.contains("Generate explode")) == 1, p.take(1500))
  }

  test("q151/q152: component tables broadcast onto the corpus, never SMJ") {
    try {
      for (q <- Seq("q151_soft_dedup_weights", "q152_leakage_free_split",
          "q155_effective_token_mass")) {
        // q152 checkpoints its labelled corpus (`lab`, the frame that
        // carries `split`), so its corpus ⋈ component join runs in that
        // checkpoint job: the job's plan is checked with the query's
        // (CC's own checkpoint jobs stay out)
        val (df, ckpts) = withCheckpointPlans(SparkEntry.queries(q)(spark, sf))
        val p = (df.queryExecution.sparkPlan +: ckpts
          .filter(_.analyzed.output.exists(_.name == "split"))
          .map(_.sparkPlan)).mkString("\n")
        // the label/size/pair tables are bounded by the pair GRAPH and
        // at this SF Dedup.broadcastIfSmall admits every one of them —
        // they must be the broadcast build side; the corpus-sized scan
        // must never shuffle for a join (CC internals are behind the
        // localCheckpoint truncation, so the query plan is exactly the
        // consumer shape). Under autoBroadcastJoinThreshold = -1 the
        // same code degrades to plain equi-joins — PairsStoreSpec pins
        // that shape.
        assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
          s"$q: corpus must meet the component tables via broadcast:\n" +
            p.take(1500))
        assert(p.contains("BroadcastHashJoin") &&
          p.contains("LeftOuter"), s"$q: ${p.take(1500)}")
      }
    } finally spark.catalog.clearCache()
  }

  test("q153: media pairing join broadcasts; corpus never shuffles for it") {
    val p = plan("q153_crossmodal_coverage")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the dimension-sized media table must be the broadcast build side")
    // The broadcast contract made explicit (round-10 verdict task 6):
    // exactly two sides broadcast — the MEDIA table (dimension-sized
    // here; at media-at-corpus-scale deployments the pairing becomes
    // the co-partitioned equi-join documented in the operator) and
    // the per-source TOTALS, which are an AGGREGATE of the corpus
    // (≤ |sources| rows). The corpus itself must never be a broadcast
    // build side un-aggregated: walk the tree and demand every
    // documents parquet scan beneath a BroadcastExchange has an
    // aggregate between the exchange and the scan.
    // Aggregation is tracked PER PATH (round-11 advice): a scan
    // escapes only if some ancestor BroadcastExchange has no
    // HashAggregate strictly between it and the scan ON THE SCAN'S
    // OWN PATH — an aggregate in a sibling branch of the broadcast
    // subtree must not clear the frame for a raw scan elsewhere.
    def depth(l: String): Int = l.indexWhere(_.isLetter)
    var frames = List.empty[Int] // ancestor BroadcastExchange depths
    var aggs = List.empty[Int]   // ancestor HashAggregate depths
    var rawUnderBroadcast = 0
    p.linesIterator.foreach { l =>
      val d = depth(l)
      if (d >= 0) {
        frames = frames.filter(_ < d)
        aggs = aggs.filter(_ < d)
        if (l.contains("parquet") && l.contains("documents") &&
            frames.exists(f => !aggs.exists(_ > f)))
          rawUnderBroadcast += 1
        if (l.contains("HashAggregate")) aggs ::= d
        if (l.contains("BroadcastExchange")) frames ::= d
      }
    }
    assert(rawUnderBroadcast == 0,
      s"un-aggregated corpus scan under a BroadcastExchange:\n${p.take(2000)}")
  }

  test("q154: one corpus exchange — the (source, shard) window shuffle " +
      "feeds the per-shard aggregate in place; no join") {
    val exec = SparkEntry.queries("q154_sequence_packing")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!exec.contains("Join"), exec.take(1500))
    assert(exec.contains("Window"), exec.take(500))
    val hashEx = exec.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.count(_.contains("shard")) == 1,
      s"exactly ONE corpus-wide (source, shard) exchange — the window's, " +
        s"reused by the per-shard groupBy:\n${exec.take(1500)}")
    assert(hashEx.size == 2,
      s"only the |sources|x|shards|-row rollup may re-exchange:\n${
        exec.take(1500)}")
  }

  test("q150: chunk explode never re-shuffles; doc aggregate joins broadcast") {
    try {
      val p = plan("q150_context_chunks")
      assert(p.contains("BroadcastHashJoin"), p.take(1500))
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        "the per-source back-join must broadcast")
    } finally spark.catalog.clearCache()
  }

  test("q157: gate tables broadcast onto the quality aggregate; all hash-aggregated") {
    try {
      val p = plan("q157_final_cut_manifest")
      // at test SF Dedup.broadcastIfSmall admits every graph-side
      // table — exactly three LeftOuter broadcast joins meet the
      // corpus (direct, reached, comp); under threshold -1 the same
      // code degrades to plain equi-joins (FinalCutSpec pins that
      // shape)
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        p.take(1500))
      assert("BroadcastHashJoin .*LeftOuter".r.findAllIn(p).size == 3,
        p.take(2000))
      // the Gopher bigram gate must stay hash-based: source/nt ride
      // in the group KEY — a first() carry would force SortAggregate
      assert(!p.contains("SortAggregate"), p.take(2000))
      // r13: the census/base branch reads the fused checkpoint (Scan
      // ExistingRDD — no parquet PushedFilters string there); the
      // eval-source filter is the first operator over it
      assert("Filter .*NOT \\(source#\\d+ = src0\\)".r.findFirstIn(p)
          .isDefined,
        "eval-source filter must sit directly on the checkpoint scan:\n" +
          p.take(2000))
    } finally spark.catalog.clearCache()
  }

  test("q158/q159: media never shuffles — signatures and cluster map broadcast") {
    try {
      // q158's consumer plan (CC and the band join are behind the
      // distinct-signature checkpoints): the cluster map must meet
      // the signature table as the broadcast build side
      val p = plan("q158_media_phash_dedup")
      assert(p.contains("BroadcastHashJoin"), p.take(1500))
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        p.take(1500))
      // q159: exactly two LeftOuter broadcasts carry the per-endpoint
      // signatures onto the pair list (LEFT so media-less pairs stay
      // countable); the pair list itself never shuffles for them
      val p9 = plan("q159_crossmodal_dedup_consistency")
      assert("BroadcastHashJoin .*LeftOuter".r.findAllIn(p9).size == 2,
        p9.take(2000))
      assert(!p9.contains("SortMergeJoin") && !p9.contains("ShuffledHashJoin"),
        p9.take(1500))
    } finally spark.catalog.clearCache()
  }
}
