package graft

import graft.functions.TextKernels
import graft.operators.Dedup
import graft.streaming.IncrementalDedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The pairs-store library surface (round-8 verdict item 2): the
  * multi-signal pair list mined ONCE with per-miner provenance,
  * persisted, and read back normalized — plus the IncrementalDedup
  * append path that keeps the store current between snapshots.
  */
class PairsStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("pairs_store").toString + "/store"

  private val base = ((1 to 40).map(i => s"w$i")).mkString(" ")
  private val near = ((1 to 39).map(i => s"w$i") :+ "zz").mkString(" ")

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, base),                      // original
      (2L, base),                      // exact duplicate of 1
      (3L, near),                      // near duplicate (1 of 40 tokens)
      (4L, "completely different text about other things entirely now")
    ).toDF("doc_id", "text")
  }

  test("minePairs: provenance flags per miner, no spurious pairs") {
    val pairs = Dedup.minePairs(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5), r.getBoolean(6))).toMap
    // identical texts: exact min-star edge AND every text miner fires
    // (identical signatures -> candidate -> verify at J=1 / hamming=0)
    val (ex12, mh12, sh12, pp12, em12) = pairs((1L, 2L))
    assert(ex12 && mh12 && sh12 && pp12 && !em12, pairs.toString)
    // near duplicate: never exact; minhash + ppjoin fire (39/41 shared
    // shingles, token overlap 39/41); no embeddings were supplied
    assert(pairs.contains((1L, 3L)), pairs.toString)
    val (ex13, mh13, _, pp13, em13) = pairs((1L, 3L))
    assert(!ex13 && mh13 && pp13 && !em13, pairs.toString)
    // the unrelated doc pairs with nothing
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L), pairs.toString)
    // doc_a < doc_b on every row
    assert(pairs.keys.forall(p => p._1 < p._2))
  }

  test("write/read round trip is lossless") {
    val fresh = Dedup.minePairs(corpus)
    val path = tmpDir()
    Dedup.writePairsStore(fresh, path)
    val back = Dedup.readPairsStore(spark, path)
    assert(back.exceptAll(fresh).isEmpty && fresh.exceptAll(back).isEmpty)
  }

  test("multisetDriftCount equals the exceptAll-union count (r13 q145 shape)") {
    import spark.implicits._
    def frame(rows: Seq[(Long, Long, Boolean)]) =
      rows.toDF("doc_a", "doc_b", "src_exact")
    // duplicated rows (multiset!), drift in BOTH directions, and a
    // shared row with differing multiplicities (2 vs 1)
    val store = frame(Seq(
      (1L, 2L, true), (1L, 2L, true),  // x2 in store, x1 in fresh → 1
      (3L, 4L, false),                 // matched
      (5L, 6L, true)))                 // store-only → 1
    val fresh = frame(Seq(
      (1L, 2L, true),
      (3L, 4L, false),
      (7L, 8L, false), (7L, 8L, false))) // fresh-only x2 → 2
    def exceptShape(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).union(b.exceptAll(a))
        .agg(count(lit(1))).collect().head.getLong(0)
    assert(Dedup.multisetDriftCount(store, fresh)
      .collect().head.getLong(0) === exceptShape(store, fresh))
    assert(Dedup.multisetDriftCount(store, fresh)
      .collect().head.getLong(0) === 4L)
    // identical multisets → 0; two empty frames → 0 (the coalesce)
    assert(Dedup.multisetDriftCount(store, store)
      .collect().head.getLong(0) === 0L)
    val empty = frame(Seq.empty)
    assert(Dedup.multisetDriftCount(empty, empty)
      .collect().head.getLong(0) === 0L)
  }

  test("reader OR-normalizes appended provenance per pair") {
    import spark.implicits._
    val path = tmpDir()
    Dedup.writePairsStore(Dedup.minePairs(corpus), path)
    // an increment re-records (1,3) under the simhash signal only
    Seq((1L, 3L, false, false, true, false, false))
      .toDF("doc_a", "doc_b", "src_exact", "src_minhash", "src_simhash",
        "src_ppjoin", "src_embed")
      .write.mode("append").parquet(path)
    val back = Dedup.readPairsStore(spark, path)
    assert(back.groupBy(col("doc_a"), col("doc_b")).count()
      .filter(col("count") > 1).isEmpty, "one row per pair after read")
    val r = back.filter(col("doc_a") === 1L && col("doc_b") === 3L)
      .collect().head
    assert(r.getBoolean(3) && r.getBoolean(4),
      s"flags must OR across writes (minhash from mine, simhash from append): $r")
  }

  test("IncrementalDedup appends discovered pairs with honest provenance") {
    import spark.implicits._
    val path = tmpDir()
    val index = new IncrementalDedup.Index(spark,
      pairsStorePath = Some(path))
    index.ingest(Seq((1L, base)).toDF("doc_id", "text"))
    val batch = Seq(
      (10L, base),  // exact duplicate of store doc 1
      (11L, near),  // near candidate: append iff simhash hamming <= 3
      (12L, "completely different text about other things entirely now")
    ).toDF("doc_id", "text")
    val classified = index.classifyAndIngest(batch).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(classified(10L) == "exact")

    val store = Dedup.readPairsStore(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))).toMap
    // exact dup: src_exact via the hash index, AND src_simhash via the
    // band index (hamming 0) — OR-merged by the reader
    assert(store((1L, 10L)) == ((true, false, true)), store.toString)
    // near doc: present iff within the simhash radius — the kernel is
    // the definition, so predict from it rather than hand-pin
    val ham = java.lang.Long.bitCount(
      TextKernels.simhash(base, 2) ^ TextKernels.simhash(near, 2))
    assert(store.contains((1L, 11L)) == (ham <= 3),
      s"hamming=$ham store=$store")
    assert(!store.keys.exists(p => p._2 == 12L), "novel doc pairs with nothing")
    index.close()
  }

  test("soft-dedup weights compose with an incrementally-appended store") {
    import spark.implicits._
    val path = tmpDir()
    Dedup.writePairsStore(Dedup.minePairs(corpus), path)
    val index = new IncrementalDedup.Index(spark, pairsStorePath = Some(path))
    index.ingest(corpus)
    // a later batch re-delivers an exact duplicate of doc 1
    index.classifyAndIngest(Seq((10L, base)).toDF("doc_id", "text")).collect()
    index.close()
    val grown = corpus.select(col("doc_id"))
      .union(Seq(10L, 12L).toDF("doc_id")) // 12 = a novel unpaired doc
    val w = Dedup.softDedupWeights(grown,
      Dedup.readPairsStore(spark, path).select(col("doc_a"), col("doc_b")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // {1,2,3,10} is one component after the append: equal weights,
    // exactly (2e6 + 4) div 8 = 250000 each; the unpaired doc keeps 1e6
    assert(w(1L) == 250000L && w(2L) == 250000L && w(10L) == 250000L,
      w.toString)
    assert(w(3L) == 250000L, s"near-dup 3 rides the same component: $w")
    assert(w(12L) == 1000000L, w.toString)
    // the component's total mass is one document's worth (rounding ±)
    assert(Seq(1L, 2L, 3L, 10L).map(w).sum == 1000000L, w.toString)
  }

  test("gatedBroadcast: broadcast under the gate, shuffle join above it") {
    // The at-scale contract (round-10 verdict task 3): membership/
    // label tables are pair-graph-bounded — dimension-LIKE at benign
    // dup rates, a corpus FRACTION at realistic web rates — so the
    // broadcast is a measured decision (Dedup.broadcastIfSmall), not
    // an assumption. Both plan shapes must produce identical weights.
    val docs = corpus.select(col("doc_id"))
    val pairs = Dedup.minePairs(corpus).select(col("doc_a"), col("doc_b"))
    def run(): (String, Map[Long, Long]) = {
      val w = Dedup.softDedupWeights(docs, pairs)
      (w.queryExecution.sparkPlan.toString,
        w.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
    val (pUnder, wUnder) = run()
    assert(pUnder.contains("BroadcastHashJoin"), pUnder.take(800))
    assert(!pUnder.contains("SortMergeJoin") &&
      !pUnder.contains("ShuffledHashJoin"),
      s"under the gate the corpus side must never shuffle:\n${pUnder.take(800)}")
    // threshold -1 forces the shape a corpus-fraction table takes at
    // 100 TB: no hint may be attached and the planner's own
    // auto-broadcast is off, so the join MUST fall to a shuffle —
    // proving no hidden hint survives to force a driver-side collect
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (pOver, wOver) = run()
      assert(!pOver.contains("BroadcastHashJoin"),
        s"above the gate nothing may broadcast:\n${pOver.take(800)}")
      assert(pOver.contains("SortMergeJoin") ||
        pOver.contains("ShuffledHashJoin"), pOver.take(800))
      assert(wOver == wUnder, "both shapes must compute identical weights")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("q103 single-pass dup rate: no broadcast, equals the join-back shape") {
    // Round-11 verdict task 1: the dup-chunk-signature set scales
    // with corpus dup content, so q103 may not force-broadcast it.
    // The fix removes the join entirely — per-chunk multiplicity is a
    // count() window over the (sig, n_anchors) partition — so the
    // plan must carry NO BroadcastExchange at all, and the result
    // must equal the retired join-back formulation.
    import spark.implicits._
    val shared = (1 to 200).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, "srcA", shared + " tailA1 tailA2 tailA3"),
      (2L, "srcB", "head1 head2 head3 " + shared), // shifted copy
      (3L, "srcA", (300 to 380).map(i => s"u$i").mkString(" ")),
      (4L, "srcB", (400 to 460).map(i => s"v$i").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val res = Dedup.cdcDupRateFrom(docs)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"),
      s"the single-pass shape has no broadcast:\n${plan.take(1200)}")
    val rows = res.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // the shared passage must yield cross-doc duplicate chunks in
    // BOTH sources (CDC shift-invariance) — the test is non-vacuous
    assert(rows("srcA")._2 > 0 && rows("srcB")._2 > 0, rows.toString)
    // retired shape: distinct duplicate-signature set joined back
    val chunks = Dedup.cdcChunksFrom(docs).persist()
    val dup = chunks.groupBy(col("sig"), col("n_anchors"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select(col("sig"), col("n_anchors"), lit(1).as("isdup"))
    val ref = chunks.join(dup, Seq("sig", "n_anchors"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("isdup").isNotNull, 1L).otherwise(0L)).as("n_dup"))
      .select(col("source"), col("n_chunks"), col("n_dup"),
        expr("(2 * n_dup * 1000000 + n_chunks) div (2 * n_chunks)")
          .as("dup_ppm"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    chunks.unpersist()
    assert(rows == ref, s"shapes disagree: window=$rows join-back=$ref")
  }

  test("q156 decontamination: direct hit, graph neighbor, clean doc") {
    // E (eval): 16 tokens. B (train): E's text + 40 junk tokens →
    // 12/52 = 23% of B's shingles are eval-contained (≥ 20%: DIRECT),
    // but J(E,B) = 12/52 — below every miner threshold, so B's edge
    // to the graph comes only from C. C (train) = B's junk alone: 0%
    // eval containment (NOT direct), but J(B,C) = 36/52 = 0.69 ≥ 0.5
    // → a ppjoin near-dup edge B–C → C is NEIGHBOR-only (the
    // paraphrase-leakage hop the n-gram test misses). D: clean.
    import spark.implicits._
    val evalTxt = (1 to 16).map(i => s"e$i").mkString(" ")
    val junk = (1 to 40).map(i => s"j$i").mkString(" ")
    val docs = Seq(
      (1L, "src0", evalTxt),
      (2L, "srcA", evalTxt + " " + junk),
      (3L, "srcA", junk),
      (4L, "srcB", (1 to 30).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val got = Dedup.dupAwareDecontaminationFrom(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    // srcA: 2 docs, B direct, C neighbor-only; every srcA token is
    // contaminated mass → removed 56 + 40 of 96 → ppm 1e6
    assert(got("srcA") == ((2L, 1L, 1L, 96L, 1000000L)), got.toString)
    // srcB: untouched
    assert(got("srcB") == ((1L, 0L, 0L, 0L, 0L)), got.toString)
    // the eval source never appears in the report
    assert(!got.contains("src0"), got.toString)
  }
}
