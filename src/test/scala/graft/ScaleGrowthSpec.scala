package graft

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Measured scale-growth evidence for the pair-mining caps: the
  * sf-harness tops out at tiny data, so the 100 TB "candidates grow
  * linearly, not quadratically" claims are asserted here as numbers —
  * the REAL candidate generators (q42's banded minhash join, q46's
  * prefix-posting join, q48's distinct-probe join) run over controlled
  * corpus replications and their candidate counts are compared against
  * the linear and quadratic predictions.
  *
  * Two regimes:
  *  - Disjoint growth (replicas with replica-unique token suffixes →
  *    disjoint shingle spaces): candidates must grow ≈ r×, never the
  *    ≈ r²× an uncapped all-pairs generator would show on the
  *    self-similar corpus.
  *  - Degenerate-key growth (one boilerplate doc repeated past the
  *    cap): q42's bucket cap (MAX_BUCKET = 100) and q46's df cap
  *    (MAX_DF = 100) must drop the hot key entirely — candidate
  *    counts EQUAL the base corpus's, where uncapped mining would add
  *    C(200,2) = 19,900 pairs from the blob alone.
  */
class ScaleGrowthSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ensureFns(): Unit = graft.plans.GraftExtensions.install(spark)

  private lazy val base: DataFrame = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("source"), col("text"))
    .persist()

  /** r disjoint replicas: doc_id offset per replica, every token
    * suffixed with the replica tag — replica shingle spaces are
    * disjoint, so cross-replica candidates are impossible and the
    * per-replica mining problem is isomorphic to the base corpus
    * (modulo re-hashed prefix order). Linear growth is then the
    * NO-cross-interaction prediction; an uncapped quadratic stage
    * would still show r² growth via its per-bucket blowup.
    */
  private def replicas(r: Int): DataFrame =
    (0 until r).map { i =>
      base.select(
        (col("doc_id") + lit(i.toLong * 1000000L)).as("doc_id"),
        col("source"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"~r$i"))), " ").as("text"))
    }.reduce(_.unionAll(_))

  /** 200 verbatim copies of one boilerplate doc, token space disjoint
    * from the corpus (synthetic `zq*` tokens).
    */
  private def boilerplate: DataFrame = {
    import spark.implicits._
    val text = (0 until 12).map(i => s"zq$i").mkString(" ")
    (0 until 200).map(i => (900000L + i, "srcZ", text))
      .toDF("doc_id", "source", "text")
  }

  private def countAndRelease(df: DataFrame): Long = {
    val n = df.count()
    spark.catalog.clearCache()
    n
  }

  private def q42Cands(docs: DataFrame): Long = {
    ensureFns() // minhashSignatures resolves graft_minhash_bands
    countAndRelease(Dedup.minhashCandidates(
      Dedup.minhashSignatures(docs.select(col("doc_id"), col("text"))).persist()))
  }

  private def q46Cands(docs: DataFrame): Long = {
    ensureFns() // sortedShingleHashes resolves graft_shingle_hashes
    countAndRelease(Dedup.prefixCandidates(
      Dedup.sortedShingleHashes(docs.select(col("doc_id"), col("text"))).persist()))
  }

  test("q42 minhash-LSH candidates grow ~linearly under disjoint 5x growth") {
    val c1 = q42Cands(replicas(1))
    val c5 = q42Cands(replicas(5))
    assert(c1 > 0, "self-similar corpus must yield candidates at 1x")
    // linear prediction: 5·c1 (replicas are isomorphic mining
    // problems); quadratic would be ≈ 25·c1. The band on the ratio
    // absorbs re-hash variance across replica shingle spaces.
    assert(c5 <= c1 * 5 * 3 / 2,
      s"super-linear candidate growth: c1=$c1 c5=$c5 (quadratic ≈ ${25 * c1})")
    assert(c5 >= c1 * 5 / 2,
      s"implausibly sub-linear growth (generator broken?): c1=$c1 c5=$c5")
  }

  test("q46 prefix-posting candidates grow ~linearly under disjoint 5x growth") {
    val c1 = q46Cands(replicas(1))
    val c5 = q46Cands(replicas(5))
    assert(c1 > 0)
    assert(c5 <= c1 * 5 * 3 / 2,
      s"super-linear candidate growth: c1=$c1 c5=$c5 (quadratic ≈ ${25 * c1})")
    assert(c5 >= c1 * 5 / 2,
      s"implausibly sub-linear growth: c1=$c1 c5=$c5")
  }

  test("q42 bucket cap drops a 200-doc boilerplate blob entirely") {
    val c1 = q42Cands(replicas(1))
    val cBlob = q42Cands(replicas(1).unionAll(boilerplate))
    assert(cBlob === c1,
      s"hot-bucket cap must contribute 0 candidates from the blob " +
        s"(uncapped would add C(200,2) = 19900): base=$c1 withBlob=$cBlob")
  }

  test("q46 df cap drops a 200-doc boilerplate blob entirely") {
    val c1 = q46Cands(replicas(1))
    val cBlob = q46Cands(replicas(1).unionAll(boilerplate))
    assert(cBlob === c1,
      s"df-hot cap must contribute 0 candidates from the blob: " +
        s"base=$c1 withBlob=$cBlob")
  }

  test("q99 containment pairs grow ~linearly under disjoint 5x growth") {
    ensureFns() // anchors resolve graft_hash64
    def pairs(docs: DataFrame): Long =
      countAndRelease(Dedup.prefixContainmentFrom(
        docs.select(col("doc_id"), col("text"))))
    val c1 = pairs(replicas(1))
    val c5 = pairs(replicas(5))
    assert(c1 > 0, "corpus truncation duplicates must surface at 1x")
    assert(c5 <= c1 * 5 * 3 / 2,
      s"super-linear containment growth: c1=$c1 c5=$c5")
    assert(c5 >= c1 * 5 / 2, s"implausibly sub-linear growth: c1=$c1 c5=$c5")
  }

  test("q99 hot-anchor cap drops a 200-doc shared-opener blob entirely") {
    // 200 docs that are cumulative prefixes of one long synthetic
    // sequence: every pair is a true containment (~19900 pairs), but
    // all of them share the l=8 anchor, whose bucket (200 > cap 100)
    // is boilerplate by the df argument — the cap must drop the blob
    // without touching the rest of the corpus
    ensureFns()
    import spark.implicits._
    val toks = (0 until 220).map(i => s"zp$i")
    val blob = (0 until 200).map(i =>
      (800000L + i, "srcP", toks.take(9 + i).mkString(" ")))
      .toDF("doc_id", "source", "text")
    def pairs(docs: DataFrame): Long =
      countAndRelease(Dedup.prefixContainmentFrom(
        docs.select(col("doc_id"), col("text"))))
    val base = pairs(replicas(1))
    val withBlob = pairs(replicas(1).unionAll(blob))
    assert(withBlob == base,
      s"blob must contribute 0 pairs through the cap: base=$base " +
        s"withBlob=$withBlob")
  }

  test("q71 multi-signal VERIFIED edge list grows ~linearly under disjoint 5x growth") {
    // the full union — all three miners through their verify stages,
    // shared signature table, distinct-ed — is the edge list every CC
    // round shuffles in q71/q73; the per-miner linearity arguments
    // must survive the composition (and the shared-signature cache)
    ensureFns()
    def edges(docs: DataFrame): Long =
      countAndRelease(Dedup.multiSignalPairsFrom(
        docs.select(col("doc_id"), col("text"))))
    val e1 = edges(replicas(1))
    val e5 = edges(replicas(5))
    assert(e1 > 0, "self-similar corpus must yield verified near-dup edges")
    assert(e5 <= e1 * 5 * 3 / 2,
      s"super-linear edge growth: e1=$e1 e5=$e5 (quadratic ≈ ${25 * e1})")
    assert(e5 >= e1 * 5 / 2,
      s"implausibly sub-linear edge growth: e1=$e1 e5=$e5")
  }

  test("q54/q132 embedding miner emits exactly intra-group pairs; growth is linear in groups") {
    // one-hot 64-dim construction: members of a group share the exact
    // vector (all 8 LSH bands collide, cosine = 1), distinct groups
    // are orthogonal (cosine = 0 < 0.45) — so the verified pair set
    // must be EXACTLY the k·C(g,2) intra-group pairs, and doubling
    // the group count doubles the output: the linear-growth contract
    // of the q132 union's 4th signal
    ensureFns()
    import spark.implicits._
    def corpus(groups: Int, size: Int): DataFrame =
      (0 until groups).flatMap(g => (0 until size).map(i =>
        (g * 1000L + i,
          Array.tabulate(64)(d => if (d == g) 1.0f else 0.0f))))
        .toDF("vec_id", "embedding")
    def pairs(groups: Int): Long =
      countAndRelease(graft.operators.Similarity
        .embedNearDupPairsFrom(corpus(groups, 6)))
    assert(pairs(10) === 10L * 15)
    assert(pairs(20) === 20L * 15)
  }

  private def q83Spans(docs: DataFrame): Long = {
    ensureFns() // dupSpansFrom resolves graft_shingle_hashes_pos
    countAndRelease(Dedup.dupSpansFrom(docs.select(col("doc_id"), col("text"))))
  }

  test("q83 span miner grows ~linearly under disjoint 5x growth") {
    val s1 = q83Spans(replicas(1))
    val s5 = q83Spans(replicas(5))
    assert(s1 > 0, "self-similar corpus must yield duplicated spans at 1x")
    assert(s5 <= s1 * 5 * 3 / 2,
      s"super-linear span growth: s1=$s1 s5=$s5 (quadratic ≈ ${25 * s1})")
    assert(s5 >= s1 * 5 / 2,
      s"implausibly sub-linear span growth: s1=$s1 s5=$s5")
  }

  test("q83 anchor df cap drops a 200-copy verbatim blob's spans entirely") {
    // every anchor of the 12-token blob has df = 200 > MAX_SPAN_DF, so
    // the cap kills the blob BEFORE pair expansion; an uncapped miner
    // would emit C(200,2) = 19,900 twelve-token span rows
    val s1 = q83Spans(replicas(1))
    val sBlob = q83Spans(replicas(1).unionAll(boilerplate))
    assert(sBlob === s1,
      s"df cap must contribute 0 spans from the blob: base=$s1 " +
        s"withBlob=$sBlob")
  }

  test("q76 df-window output is doc-bounded; verbatim duplication saturates dup_ppm") {
    ensureFns()
    // output rows == input docs at 1x and 5x (the window never
    // amplifies rows the way a probe-side self-join could)
    val n1 = countAndRelease(TextAnalysis.dupNgramFractionFrom(replicas(1)))
    val n5 = countAndRelease(TextAnalysis.dupNgramFractionFrom(replicas(5)))
    assert(n1 === base.count(), s"output must be one row per doc: $n1")
    assert(n5 === 5 * n1, s"doc-bounded under 5x growth: n1=$n1 n5=$n5")
    // verbatim 2x duplication: every 5-gram's corpus df >= 2, so every
    // doc's duplicated fraction must saturate at exactly 10^6 ppm —
    // the semantic contract of the boilerplate signal
    val dup2 = base.unionAll(
      base.select((col("doc_id") + 5000000L).as("doc_id"), col("source"),
        col("text")))
    val notSaturated = TextAnalysis.dupNgramFractionFrom(dup2)
      .filter(col("dup_ppm") =!= 1000000L).count()
    spark.catalog.clearCache()
    assert(notSaturated === 0L,
      s"verbatim-duplicated corpus must show dup_ppm = 1e6 everywhere " +
        s"($notSaturated rows below saturation)")
  }

  test("q48 probe join never amplifies: output rows == test 5-gram rows, " +
      "invariant under 5x train growth") {
    ensureFns()
    val probe0 = countAndRelease(TextAnalysis.contaminationProbe(base))
    // verbatim train replication: distinct train-hash set unchanged
    val trainDup = base.unionAll(
      base.filter(col("source") =!= "src0")
        .select((col("doc_id") + 2000000L).as("doc_id"), col("source"),
          col("text")))
    val probeDup = countAndRelease(TextAnalysis.contaminationProbe(trainDup))
    // perturbed 5x train growth: distinct set grows ~5x, matches don't
    val trainGrown = base.unionAll(
      (1 to 4).map { i =>
        base.filter(col("source") =!= "src0").select(
          (col("doc_id") + lit(i.toLong * 3000000L)).as("doc_id"),
          col("source"),
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit(s"~t$i"))), " ").as("text"))
      }.reduce(_.unionAll(_)))
    val probeGrown = countAndRelease(TextAnalysis.contaminationProbe(trainGrown))
    assert(probe0 > 0)
    assert(probeDup === probe0,
      s"distinct build side must dedupe verbatim train copies: " +
        s"base=$probe0 dup=$probeDup")
    assert(probeGrown === probe0,
      s"probe output must be test-side-bounded regardless of train size: " +
        s"base=$probe0 grown=$probeGrown")
  }
}
