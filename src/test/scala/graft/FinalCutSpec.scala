package graft

import graft.operators.{Dedup, Multimodal}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q157's final-cut waterfall and q158's perceptual-hash dedup — the
  * round-12 additions. The waterfall test constructs one doc per gate
  * and pins first-failing-gate attribution (a contaminated non-keeper
  * must fall at decontamination, never surface as `dup`); the phash
  * tests pin the kernel's bit packing and the band join's pigeonhole
  * guarantee (hamming ≤ 3 found through any shared band; hamming 4
  * candidates generated but rejected by the verify).
  */
class FinalCutSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // ── q157 ────────────────────────────────────────────────────────

  private val base = (1 to 40).map(i => s"w$i").mkString(" ")
  // first 12 tokens copied from the eval doc: 8 of 36 distinct
  // 5-gram shingles contained (22% ≥ 20%) → DIRECT contamination,
  // but far from a near-dup of it (shingle J = 8/64).
  private val partialCopy =
    ((1 to 12).map(i => s"w$i") ++ (13 to 40).map(i => s"a$i")).mkString(" ")
  // shares only the NON-eval suffix with partialCopy: 0 eval shingles
  // (not direct), shingle J with partialCopy = 24/48 = 0.5 → a ppjoin
  // edge → a neighbor of the contaminated component.
  private val paraphrase =
    ((1 to 12).map(i => s"b$i") ++ (13 to 40).map(i => s"a$i")).mkString(" ")
  private val other = (1 to 40).map(i => s"p$i").mkString(" ")
  private val repetitive = Seq.fill(41)("a").mkString(" ")
  private val unique = (1 to 40).map(i => s"u$i").mkString(" ")

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "src0", base),         // the eval doc (seed)
      (10L, "src1", partialCopy), // 22% shingle containment → direct
      (11L, "src1", paraphrase),  // near-dup neighbor, not direct
      (12L, "src1", other),      // keeper of {12,13}
      (13L, "src1", other),      // exact dup, non-keeper
      (14L, "src1", repetitive), // Gopher bigram-repetition fail
      (15L, "src1", unique),     // survives every gate
      // degenerate rows (r13, advisor item): a null text and a 1-token
      // doc — exercise the 1-element hash-of-"" shingle array in BOTH
      // probe shapes and graft_bigram_census's (0, 0) row for sub-2-
      // token texts. Both are vacuous Gopher passes (nbg = 0) and in
      // no near-dup pair, so they land in kept_* with nt 0 and 1.
      (16L, "src1", null.asInstanceOf[String]),
      (17L, "src1", "solo")
    ).toDF("doc_id", "source", "text")
  }

  test("q157: first-failing-gate attribution and conservation") {
    val rows = Dedup.finalCutManifestFrom(corpus).collect()
    val bySrc = rows.groupBy(_.getString(0))
    assert(bySrc.keySet == Set("src1"), s"eval source must not appear: ${bySrc.keySet}")
    val byStatus = rows.map(r => r.getString(1) ->
      (r.getLong(2), r.getLong(3))).toMap
    // 10 (direct) + 11 (neighbor; ALSO a non-keeper of the component
    // {1,10,11} — decontamination must win the attribution)
    assert(byStatus("contaminated")._1 == 2L, byStatus.toString)
    // only 13 (non-keeper of {12,13}); 10/11 must NOT land here
    assert(byStatus("dup")._1 == 1L, byStatus.toString)
    assert(byStatus("low_quality")._1 == 1L, byStatus.toString)
    val kept = byStatus.collect {
      case (s, (n, _)) if s.startsWith("kept_") => n }.sum
    assert(kept == 4L, byStatus.toString) // 12, 15, and degenerate 16/17
    assert(rows.map(_.getLong(2)).sum == 8L) // every src1 doc, once
    // token conservation: tokens sum to the corpus mass, ppm to ~1e6
    // (null text counts 0 tokens, "solo" counts 1)
    assert(rows.map(_.getLong(3)).sum == 40L * 5 + 41 + 0 + 1)
    val ppm = rows.map(_.getLong(4)).sum
    assert(ppm >= 999997L && ppm <= 1000003L, s"ppm=$ppm")
  }

  /** `body` under `spark.sql.autoBroadcastJoinThreshold = -1`, the
    * one switch that forces every over-threshold shape (no
    * broadcastIfSmall hint, no planner broadcast); restored after.
    */
  private def withoutBroadcast[T](body: => T): T = {
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("q156/q157: both probe/gate shapes produce identical results (r12)") {
    // threshold -1 forces the over-threshold shapes everywhere: the
    // explode + plain equi-join contamination probe (instead of the
    // sorted-overlap merge against the one-row eval array) and
    // un-hinted equi-joins at every broadcastIfSmall site. Results
    // must be byte-identical to the default (broadcast) shapes — the
    // r12 probe rewrite is a plan change only. The corpus's null-text
    // and 1-token docs ride both shapes.
    val fcDefault = canon(Dedup.finalCutManifestFrom(corpus))
    val ddDefault = canon(Dedup.dupAwareDecontaminationFrom(corpus))
    withoutBroadcast {
      assert(fcDefault == canon(Dedup.finalCutManifestFrom(corpus)))
      assert(ddDefault == canon(Dedup.dupAwareDecontaminationFrom(corpus)))
    }
  }

  test("q157/q158: threshold -1 leaves no broadcast join in the consumer plans") {
    // A broadcast() hint overrides -1, so a size rule that hints
    // without reading the threshold would still plan these joins as
    // broadcasts. Under -1 every graph-side join must be a shuffle
    // join, with rows equal to the default run.
    def run(df: org.apache.spark.sql.DataFrame): (String, Seq[String]) = {
      val rows = canon(df)
      (df.queryExecution.executedPlan.toString, rows)
    }
    val (fcPlan, fcRows) = run(Dedup.finalCutManifestFrom(corpus))
    val (pcPlan, pcRows) = run(Multimodal.phashClusters(phashSigs))
    assert(fcPlan.contains("BroadcastHashJoin"), fcPlan.take(2000))
    assert(pcPlan.contains("BroadcastHashJoin"), pcPlan.take(2000))
    withoutBroadcast {
      val (fcOff, fcOffRows) = run(Dedup.finalCutManifestFrom(corpus))
      val (pcOff, pcOffRows) = run(Multimodal.phashClusters(phashSigs))
      for (p <- Seq(fcOff, pcOff)) {
        assert(!p.contains("BroadcastHashJoin"), p.take(2000))
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          p.take(2000))
      }
      assert(fcOffRows == fcRows)
      assert(pcOffRows == pcRows)
    }
  }

  // ── q158 ────────────────────────────────────────────────────────

  test("phashBands: histogram bit packing") {
    import spark.implicits._
    val media = Seq(
      // all-zero payload: only bin 0 over-represented → b0 bit 0
      Multimodal.MediaRow(1L, "image", Array.fill(512)(0.toByte),
        1, 1, "jpeg"),
      // alternating 0x00/0xFF: bins 0 and 63 → b0 bit 0, b3 bit 15
      Multimodal.MediaRow(2L, "image",
        Array.tabulate(512)(i => if (i % 2 == 0) 0.toByte else 0xFF.toByte),
        1, 1, "jpeg")
    ).toDS()
    val sigs = Multimodal.phashBands(media).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))).toMap
    assert(sigs(1L) == ((1, 0, 0, 0)), sigs.toString)
    assert(sigs(2L) == ((1, 0, 0, 0x8000)), sigs.toString)
  }

  private def phashSigs = {
    import spark.implicits._
    Seq(
      // chain: 1↔3 ham 1, 3↔4 ham 2, 1↔4 ham 3 → one cluster {1,2,3,4}
      (1L, "image", 1, 0, 0, 0),
      (2L, "image", 1, 0, 0, 0), // exact sig dup of 1
      (3L, "audio", 3, 0, 0, 0),
      (4L, "image", 0xF, 0, 0, 0),
      // 5↔6 differ by 4 bits in band 0 (share bands 1-3 → candidate
      // IS generated; the verify must reject it)
      (5L, "video", 0xFF00, 0xFF00, 0xFF00, 0xFF00),
      (6L, "video", 0xFF0F, 0xFF00, 0xFF00, 0xFF00)
    ).toDF("media_id", "kind", "b0", "b1", "b2", "b3")
  }

  test("phashClusters: merges through hamming ≤ 3, rejects hamming 4") {
    val out = Multimodal.phashClusters(phashSigs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 4L, 3L, 2L),  // rep 1: media {1,2,3,4}, sigs {1,3,F}, kinds {image,audio}
      (5L, 1L, 1L, 1L),
      (6L, 1L, 1L, 1L)), out.mkString(", "))
  }

  test("phashClusters: hot-band cap drops the degenerate bucket, keeps cold-band merges") {
    import spark.implicits._
    // all four sigs share band 3 = 0 — the degenerate bucket (size 4
    // > cap 3). Sigs 1/2 also share cold bands 0 and 2 and are ham 1
    // apart: their merge must SURVIVE the cap (routes through a cold
    // band). Sigs 3/4 are ham 3 apart but share ONLY the hot band:
    // under the cap they stay singletons — the documented recall
    // trade — while the uncapped control merges them.
    val sigs = Seq(
      (1L, "image", 7, 1, 5, 0),
      (2L, "image", 7, 3, 5, 0),
      (3L, "image", 0x100, 0x200, 0x400, 0),
      (4L, "image", 0x101, 0x201, 0x401, 0)
    ).toDF("media_id", "kind", "b0", "b1", "b2", "b3")
    val capped = Multimodal.phashClusters(sigs, maxBucket = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSeq == Seq((1L, 2L), (3L, 1L), (4L, 1L)),
      capped.mkString(", "))
    val free = Multimodal.phashClusters(sigs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(free.toSeq == Seq((1L, 2L), (3L, 2L)), free.mkString(", "))
  }

  test("q158 over the synthetic media table: 5 scene classes dominate") {
    val out = SparkEntry.queries("q158_media_phash_dedup")(
      spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // 1000 media over 5 scene classes with shifted histograms: the
    // big clusters must cover most media, and conservation holds
    assert(out.map(_._2).sum == 1000L, out.take(10).mkString(", "))
    assert(out.take(5).map(_._2).sum >= 900L,
      s"scene clusters too fragmented: ${out.take(10).mkString(", ")}")
  }
}
