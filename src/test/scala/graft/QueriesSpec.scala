package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Smoke + semantic spot-checks for every SparkEntry query at sf0.001
  * (full DuckDB hash parity runs via tools/check_parity.py; this guards
  * compile-to-result regressions inside `sbt test`).
  */
class QueriesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs and returns rows at sf0.001") {
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val n = fn(spark, sf).count()
        if (n == 0) Some(name) else None
    }
    // q54 legitimately may be sparse at tiny SF; everything else must
    // produce rows.
    assert(empty.filterNot(_ == "q54_embed_neardup").isEmpty,
      s"queries with empty results: $empty")
  }

  test("oracleSql keys ⊆ queries keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle without query: $extra")
  }

  test("q21 oracle: file_size is CAST to BIGINT (driver pandas dtype gate)") {
    // DuckDB types sum(len(bytes)) as HUGEINT, which the driver's
    // pandas comparator coerces to float64 — round 10's only red row
    // was exactly this, with every value identical. The uncast form
    // must never come back; tools/check_parity.py enforces the same
    // invariant over ALL oracle output columns via DuckDB types.
    val sql = SparkEntry.oracleSql("q21_pipeline_segments")
    assert("AS BIGINT\\)\\s+AS file_size".r.findFirstIn(sql).isDefined,
      s"file_size must be cast to BIGINT:\n$sql")
  }

  test("query names are unique across modules (no silent map collisions)") {
    import graft.operators._
    val names = (Relational.defs ++ VideoAnalytics.defs ++ TextAnalysis.defs ++
      Dedup.defs ++ Similarity.defs ++ Pipeline.defs ++ Multimodal.defs)
      .map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names: $dups")
    assert(names.size === SparkEntry.queries.size)
  }

  test("ANN (q53) finds most of brute-force top-10 (recall ≥ 0.5)") {
    val brute = SparkEntry.queries("q50_knn_query")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val ann = SparkEntry.queries("q53_ann_lsh")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val recall = (brute & ann).size.toDouble / brute.size
    assert(recall >= 0.5, s"ANN recall $recall too low (got $ann vs $brute)")
  }

  test("IVF (q55_ann_ivf helper) achieves full recall on a clustered corpus") {
    import graft.operators.Similarity
    import spark.implicits._
    // 4 tight clusters around orthogonal-ish centers; query sits near
    // cluster 0's center, so its true top-10 all live in cell 0 and
    // nProbe=1 must reproduce brute force exactly.
    val dim = 64
    def center(c: Int): Array[Double] =
      Array.tabulate(dim)(i => if (i % 4 == c) 1.0 else 0.05 * ((i + c) % 3))
    val rows = for {
      c <- 0 until 4
      j <- 0 until 50
    } yield {
      val base = center(c)
      val noise = Array.tabulate(dim)(i =>
        0.01 * (((c * 131 + j * 17 + i * 7) % 11) - 5)) // seeded, tiny
      (c.toLong * 50 + j, c, base.zip(noise).map { case (a, b) => (a + b).toFloat })
    }
    val df = rows.toDF("vec_id", "label", "embedding")
    val q = center(0).toSeq
    val ivf = Similarity.ivfTopK(df, q, nProbe = 1, k = 10)
      .collect().map(_.getLong(0)).toSet
    // brute force over the same corpus
    val brute = rows.map { case (id, _, e) =>
      val d = e.zip(q).map { case (a, b) => a.toDouble * b }.sum
      val n = math.sqrt(e.map(x => x.toDouble * x).sum) *
        math.sqrt(q.map(x => x * x).sum)
      (id, d / n)
    }.sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
    assert(ivf === brute)
    assert(ivf.forall(_ < 50), "all results from cell 0")
  }

  test("HLL distinct (q27) within 15% of the in-query exact count") {
    // 256 registers → rsd ≈ 1.04/√256 = 6.5%, and at sf0.01 the
    // per-stream cardinality (~500) sits in the n ≲ 2.5m small-range
    // regime where the raw harmonic estimate (q101's formula, no
    // linear-counting correction) is biased HIGH — 15% covers ~1.5σ
    // on top of that bias (observed max 11% at sf0.01)
    val rows = SparkEntry.queries("q27_approx_distinct")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (exact, est) = (r.getLong(2), r.getLong(4))
      assert(est > 0 && math.abs(est - exact).toDouble / exact <= 0.15,
        s"stream ${r.getString(0)}: est_hll $est vs exact $exact")
      assert(r.getLong(3) <= 256, s"regs_hit bounded: $r")
      assert(exact <= r.getLong(1), s"distinct <= rows: $r")
    }
  }

  test("histogram percentiles (q38) land within one bin of exact quantiles") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val approx = SparkEntry.queries("q38_approx_percentiles")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // exact order statistics in the same cents domain and the same
    // cumc*100 >= n*q rank convention the estimator uses
    val wT = Window.partitionBy(col("event_type"))
    val exact = graft.operators.Tables.events(spark, sf)
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      .withColumn("rn", row_number().over(wT.orderBy(col("v"))))
      .withColumn("n", count(lit(1)).over(wT))
      .groupBy(col("event_type"))
      .agg(
        min(when(col("rn") * 100 >= col("n") * 50, col("v"))).as("e50"),
        min(when(col("rn") * 100 >= col("n") * 95, col("v"))).as("e95"),
        min(when(col("rn") * 100 >= col("n") * 99, col("v"))).as("e99"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(exact.nonEmpty)
    for ((k, (e50, e95, e99)) <- exact) {
      val (w, a50, a95, a99) = approx(k)
      for (((a, e), p) <- Seq(a50 -> e50, a95 -> e95, a99 -> e99)
          .zip(Seq(50, 95, 99)))
        assert(math.abs(a - e) <= w,
          s"$k p$p: est $a vs exact $e exceeds bin width $w")
    }
  }

  test("q46 equals brute-force exact-Jaccard pairs (exact recall at sf0.001)") {
    import graft.functions.TextKernels
    // at sf0.001 (50 docs) no shingle exceeds MAX_DF, and any pair at
    // jaccard ≥ 0.5 shares a shingle, so the inverted-index candidate
    // generation must have PERFECT recall: q46 == all-pairs scan.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val shing = docs.map { case (id, t) => id -> TextKernels.shingles(t, 3) }
    val ids = docs.keys.toSeq.sorted
    val brute = (for {
      i <- ids; j <- ids if i < j
      sa = shing(i); sb = shing(j)
      inter = sa.intersect(sb).size.toLong
      un = sa.size + sb.size - inter
      // the engine thresholds on the exact inequality J >= 1/2
      if 2 * inter >= un
    } yield (i, j)).toSet
    val got = SparkEntry.queries("q46_ngram_jaccard_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === brute)
    assert(got.nonEmpty)
  }

  test("q48 containment matches a driver-side recompute at sf0.001") {
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def sh5(t: String): Set[String] = {
      val toks = t.split(" ") // single-space split, the engine's tokenizer
      if (toks.length < 5) Set(toks.mkString(" "))
      else toks.sliding(5).map(_.mkString(" ")).toSet
    }
    val train = rows.filter(_._3 != "src0").flatMap(r => sh5(r._2)).toSet
    val expected = rows.filter(_._3 == "src0").map { case (id, t, _) =>
      val s = sh5(t)
      val matched = s.count(train.contains).toLong
      id -> ((s.size.toLong, matched, matched * 5 >= s.size))
    }.toMap
    val got = SparkEntry.queries("q48_contamination_check")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(4))))
      .toMap
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("connectedComponents resolves chains and cliques to min labels") {
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter 4 → multiple propagation rounds),
    // triangle 10-11-12 with extra edge, isolated pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val got = graft.operators.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    assert(got === expected)
  }

  test("q63 groups are consistent with q43 pairs (every pair co-grouped)") {
    val pairs = SparkEntry.queries("q43_simhash_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val comp = SparkEntry.queries("q63_dedup_components")(spark, sf)
      .collect().flatMap { r =>
        val keeper = r.getLong(0)
        r.getString(2).split(",").map(_.toLong -> keeper)
      }.toMap
    assert(pairs.nonEmpty)
    for ((a, b) <- pairs)
      assert(comp(a) === comp(b), s"pair ($a,$b) split across components")
  }

  test("q65 mix sample: limiting source keeps 100%, others ≤ 100%, w ∈ 1..5") {
    val rows = SparkEntry.queries("q65_source_mix_sample")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.nonEmpty)
    for ((src, w, nDocs, nKept) <- rows) {
      assert(w >= 1 && w <= 5, s"$src weight $w out of range")
      assert(nKept <= nDocs, s"$src kept $nKept of $nDocs")
    }
    // the limiting source (min cnt/w, the exact integer key) has
    // keep-probability exactly 1 — every doc's u64 is below 2^64
    val limiting = rows.minBy { case (src, w, n, _) => (n * (60 / w), src) }
    assert(limiting._4 === limiting._3,
      s"limiting source ${limiting._1} must keep all docs: $limiting")
  }

  test("q67 code sums equal an independent driver-side quantizer") {
    // recompute every code in plain Scala doubles (same IEEE ops in a
    // different implementation) and compare code_sum — guards the
    // column-expression quantizer against operator-order drift
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
    val dim = embs.head._2.length
    val mns = (0 until dim).map(i => embs.map(_._2(i)).min)
    val mxs = (0 until dim).map(i => embs.map(_._2(i)).max)
    val codeSums = SparkEntry.queries("q67_scalar_quantize")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((id, vec) <- embs) {
      val expected = (0 until dim).map { i =>
        if (mxs(i) == mns(i)) 0L
        else math.floor(((vec(i) - mns(i)) * 255) / (mxs(i) - mns(i)))
          .max(0.0).min(255.0).toLong
      }.sum
      assert(codeSums(id) === expected,
        s"vec $id code_sum ${codeSums(id)} != recomputed $expected")
    }
  }

  test("q70 partial funnels: depths 0-3, NULL steps, out-of-order guard") {
    // the shipped corpus fully converts every user at every SF, so the
    // distinguishing half of q70 (left joins, NULL steps, the ORDERED
    // requirement) needs its own fixture: write an events.parquet with
    // nanos-as-long ts (Tables.events' wire format) to a temp dir
    import spark.implicits._
    val minNs = 60000L * 1000000L
    val base = 1700000000000L * 1000000L
    def ev(u: Long, t: String, atMin: Long) =
      (u * 10, base + atMin * minNs, u, t, 0.0, "{}")
    val rows = Seq(
      // u1: full funnel in order → depth 3
      ev(1, "view", 0), ev(1, "click", 1), ev(1, "purchase", 2),
      // u2: view only → depth 1
      ev(2, "view", 0), ev(2, "error", 1),
      // u3: view, click; purchase BEFORE the click → depth 2 (ordered!)
      ev(3, "purchase", 0), ev(3, "view", 1), ev(3, "click", 2),
      // u4: never views (click+purchase exist) → depth 0
      ev(4, "click", 0), ev(4, "purchase", 1))
    val dir = java.nio.file.Files.createTempDirectory("q70fix").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val got = SparkEntry.queries("q70_funnel_conversion")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    val ms = 1700000000000L
    assert(got(1L) === ((3L, ms, ms + 60000, ms + 120000)))
    assert(got(2L) === ((1L, ms, -1L, -1L)))
    assert(got(3L) === ((2L, ms + 60000, ms + 120000, -1L)))
    assert(got(4L) === ((0L, -1L, -1L, -1L)))
  }

  test("minhash LSH pairs have high exact jaccard (precision of verify step)") {
    import graft.functions.TextKernels
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = SparkEntry.queries("q42_minhash_lsh_pairs")(spark, sf).collect()
    assert(pairs.nonEmpty)
    for (p <- pairs) {
      val j = TextKernels.jaccard(
        TextKernels.shingles(docs(p.getLong(0)), 3),
        TextKernels.shingles(docs(p.getLong(1)), 3))
      assert(j >= 0.7, s"pair (${p.getLong(0)},${p.getLong(1)}) jaccard $j")
    }
  }

  test("q102 bloom has no false negatives and consistent counters") {
    // a bloom can only over-approximate membership: every true member
    // hits (n_hits >= n_true), false positives are exactly the excess,
    // and nothing exceeds the probe count
    val rows = SparkEntry.queries("q102_bloom_prefilter")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (probe, hits, tru, fp) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(hits >= tru, s"false negative in ${r.getString(0)}: " +
        s"hits=$hits true=$tru")
      assert(fp === hits - tru && fp >= 0)
      assert(probe >= hits && tru >= 0)
    }
  }

  test("q103 CDC chunks are shift-invariant past the first boundary") {
    import spark.implicits._
    graft.plans.GraftExtensions.install(spark)
    // a long synthetic doc, then the same content with 7 junk tokens
    // prepended: every original chunk except chunk 0 must reappear
    // with an IDENTICAL (sig, n_anchors) — boundaries are content
    // positions, so the shared suffix chunks identically at any offset
    val content = (0 until 400).map(i => s"w${i % 37}x${(i * 7) % 41}")
      .mkString(" ")
    val shifted = (0 until 7).map(i => s"junk$i").mkString(" ") +
      " " + content
    val docs = Seq((1L, "a", content), (2L, "a", shifted))
      .toDF("doc_id", "source", "text")
    val chunks = graft.operators.Dedup.cdcChunksFrom(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDecimal(4),
        r.getLong(3)))
    val orig = chunks.filter(_._1 == 1L)
    val tailChunks = orig.filter(_._2 >= 1L).map(c => (c._3, c._4)).toSet
    val shiftedSigs = chunks.filter(_._1 == 2L)
      .map(c => (c._3, c._4)).toSet
    assert(orig.length >= 3, s"need a multi-chunk doc, got ${orig.length}")
    assert(tailChunks.subsetOf(shiftedSigs),
      s"missing shifted chunks: ${tailChunks -- shiftedSigs}")
  }

  test("q103 verbatim copies dedup chunk-for-chunk") {
    import spark.implicits._
    graft.plans.GraftExtensions.install(spark)
    val text = (0 until 300).map(i => s"b${i % 29}c${(i * 11) % 31}")
      .mkString(" ")
    val docs = (0 until 200).map(i => (i.toLong, "z", text))
      .toDF("doc_id", "source", "text")
    val chunks = graft.operators.Dedup.cdcChunksFrom(docs)
      .select("sig", "n_anchors")
    val total = chunks.count()
    val distinctSigs = chunks.distinct().count()
    assert(total === distinctSigs * 200,
      s"every chunk must replicate exactly 200x: total=$total " +
        s"distinct=$distinctSigs")
  }

  // ── Sweep-query lattice invariants: every sweep point's knob values
  // are chosen so consecutive points NEST (each ctx_len / shard count
  // divides the next, probe sets and session boundaries are subsets),
  // which makes the curve provably monotone. These pins hold on ANY
  // corpus — they test the operators' math, not the testdata.

  private def sweepRows(q: String, key: String, cols: String*)
      : Seq[Seq[Long]] = {
    val df = SparkEntry.queries(q)(spark, sf)
    df.select((key +: cols).map(org.apache.spark.sql.functions.col): _*)
      .collect().toSeq
      .map(r => (0 to cols.length).map(i => r.getLong(i)))
      .sortBy(_.head)
  }

  test("q107 recall is monotone non-decreasing in nProbe (nested probe sets)") {
    val rows = sweepRows("q107_ivf_probe_curve", "n_probe",
      "n_ann", "recall_ppm")
    assert(rows.map(_.head) === Seq(1L, 2L, 3L, 4L))
    assert(rows.forall(_(1) == 10L), s"each sweep point returns top-10: $rows")
    val rec = rows.map(_(2))
    assert(rec.zip(rec.tail).forall { case (a, b) => a <= b },
      s"recall must not drop as probes widen: $rec")
  }

  test("q110 splits and bins are monotone (each ctx_len divides the next)") {
    val rows = sweepRows("q110_packing_curve", "ctx_len",
      "split_docs", "n_bins")
    assert(rows.map(_.head) === Seq(128L, 512L, 2048L, 8192L))
    val splits = rows.map(_(1)); val bins = rows.map(_(2))
    assert(splits.zip(splits.tail).forall { case (a, b) => a >= b },
      s"an 8192-boundary is also a 2048-boundary — splits can only " +
        s"shrink: $splits")
    assert(bins.zip(bins.tail).forall { case (a, b) => a >= b }, s"$bins")
  }

  test("q112 max shard load shrinks as shards multiply (8 | 32 | 128)") {
    val rows = sweepRows("q112_shard_balance", "n_shards",
      "max_tokens", "total_tokens", "nonempty_shards")
    assert(rows.map(_.head) === Seq(8L, 32L, 128L))
    val mx = rows.map(_(1))
    assert(mx.zip(mx.tail).forall { case (a, b) => a >= b },
      s"a 32-shard is a refinement of an 8-shard: $mx")
    assert(rows.map(_(2)).distinct.size == 1, "total token mass invariant")
    assert(rows.forall(r => r(3) <= r.head), "nonempty ≤ N")
  }

  test("q113 sessions merge monotonically as the gap limit grows") {
    val rows = sweepRows("q113_session_gap_sweep", "gap_limit_ms",
      "n_sessions", "n_events", "max_session_events")
    assert(rows.map(_.head) === Seq(300000L, 1800000L, 7200000L))
    val ns = rows.map(_(1)); val mx = rows.map(_(3))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b },
      s"every 2h boundary is also a 5min boundary: $ns")
    assert(rows.map(_(2)).distinct.size == 1, "event mass invariant")
    assert(mx.zip(mx.tail).forall { case (a, b) => a <= b },
      s"sessions at a larger limit are unions of smaller-limit " +
        s"sessions: $mx")
  }

  test("q114 suppression is monotone non-increasing in the IoU cutoff") {
    val rows = sweepRows("q114_nms_threshold_curve", "iou_pct",
      "suppressed_pairs", "n_pairs")
    assert(rows.map(_.head) === Seq(30L, 45L, 60L, 75L))
    val sup = rows.map(_(1))
    assert(sup.zip(sup.tail).forall { case (a, b) => a >= b }, s"$sup")
    assert(rows.map(_(2)).distinct.size == 1, "pair count invariant")
    assert(sup.head > sup.last,
      s"the curve must actually discriminate thresholds: $sup")
  }

  test("q111 histogram estimate lands within one bin width of the exact quantile") {
    import org.apache.spark.sql.functions._
    val nt = graft.operators.Tables.documents(spark, sf)
      .select(size(split(col("text"), " ")).cast("long").as("nt"))
    val Seq(mn, mx) = nt.agg(min(col("nt")), max(col("nt")))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toSeq
    val w = (mx - mn) / 16 + 1
    val rows = SparkEntry.queries("q111_hist_quantiles")(spark, sf)
      .select("est_p50", "exact_p50", "est_p90", "exact_p90")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getLong(0) - r.getLong(1)) <= w,
        s"p50 estimate must land in the true value's bin: $r (w=$w)")
      assert(math.abs(r.getLong(2) - r.getLong(3)) <= w,
        s"p90 estimate must land in the true value's bin: $r (w=$w)")
    }
  }

  test("q115 KMV estimator is structurally sound on every pair") {
    val rows = SparkEntry.queries("q115_source_jaccard_sketch")(spark, sf)
      .select("n_a", "n_b", "inter_exact", "kmv_k", "kmv_both",
        "jac_est_ppm", "jac_exact_ppm")
      .collect()
    assert(rows.length >= 3, "needs several source pairs")
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(2),
        s"shared sketch values are hashes of intersection trigrams: $r")
      assert(r.getLong(3) <= 256 && r.getLong(3) >= 1, r.toString)
      assert(r.getLong(4) <= r.getLong(3), r.toString)
      assert(r.getLong(5) >= 0 && r.getLong(5) <= 1000000, r.toString)
      assert(r.getLong(2) <= math.min(r.getLong(0), r.getLong(1)), r.toString)
      // when the merged sketch holds the whole union, the "estimate"
      // must be exactly the true Jaccard
      if (r.getLong(3) < 256)
        assert(r.getLong(5) == r.getLong(6),
          s"union smaller than k ⇒ sketch IS the set: $r")
    }
  }

  test("q118 PageRank mass is conserved up to integer-floor loss; uniform term is the floor") {
    val rows = SparkEntry.queries("q118_transition_pagerank")(spark, sf)
      .select("pr_ppm").collect().map(_.getLong(0)).toSeq
    assert(rows.nonEmpty)
    val n = rows.length.toLong
    val uniformFloor = (1000000L * 15) / (100 * n)
    assert(rows.forall(_ >= uniformFloor),
      s"every node keeps at least the damping mass: $rows")
    assert(math.abs(rows.sum - 1000000L) <= 1000,
      s"rank mass must be ~1e6 up to floor rounding: ${rows.sum}")
  }

  test("q119 latency stats are ordered and conversion bounded") {
    val rows = SparkEntry.queries("q119_conversion_latency")(spark, sf)
      .select("n_viewers", "n_converted", "conversion_ppm",
        "med_delta_ms", "p90_delta_ms").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(0), r.toString)
      assert(r.getLong(2) <= 1000000L, r.toString)
      if (!r.isNullAt(3) && !r.isNullAt(4))
        assert(r.getLong(3) <= r.getLong(4),
          s"median cannot exceed p90: $r")
    }
  }

  test("q116 MAD bounds: at most half the points can sit beyond 5 MADs") {
    val rows = SparkEntry.queries("q116_mad_outliers")(spark, sf)
      .select("n", "mad_cents", "n_outliers", "outlier_ppm").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0, r.toString)
      assert(r.getLong(2) <= r.getLong(0), r.toString)
      // by definition of the median deviation, ≥ half the points have
      // d ≤ mad < 5·mad whenever mad > 0
      if (r.getLong(1) > 0)
        assert(r.getLong(3) <= 500000, s"Hampel cut beyond half: $r")
    }
  }

  test("q117 decayed shares are a probability vector; weights bounded") {
    val rows = SparkEntry.queries("q117_decayed_popularity")(spark, sf)
      .select("n_events", "decayed_num", "plain_share_ppm",
        "decayed_share_ppm").collect()
    assert(rows.nonEmpty)
    val two30 = 1L << 30
    rows.foreach { r =>
      assert(r.getLong(1) >= r.getLong(0), s"every weight ≥ 1: $r")
      assert(r.getLong(1) <= r.getLong(0) * two30, s"weights ≤ 2^30: $r")
    }
    for (c <- Seq(2, 3)) {
      val sum = rows.map(_.getLong(c)).sum
      assert(math.abs(sum - 1000000L) <= rows.length,
        s"share column $c must sum to ~1e6 (±rounding): $sum")
    }
  }

  test("q120 dims=64 is the exact ranking by construction; every sweep row bounded") {
    val rows = SparkEntry.queries("q120_trunc_recall")(spark, sf)
      .select("dims", "n_ann", "n_hit", "recall_ppm").collect()
    assert(rows.map(_.getLong(0)).toSet == Set(8L, 16L, 32L, 64L))
    rows.foreach { r =>
      assert(r.getLong(1) <= 10 && r.getLong(2) <= r.getLong(1), r.toString)
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 1000000, r.toString)
    }
    val full = rows.find(_.getLong(0) == 64L).get
    assert(full.getLong(3) == 1000000 && full.getLong(2) == full.getLong(1),
      s"the full-width sweep point IS the exact ranking: $full")
  }

  test("q121 degree histogram accounts for every vector and every panel edge") {
    val rows = SparkEntry.queries("q121_knn_hubness")(spark, sf)
      .select("in_degree", "n_vectors").collect()
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val panel = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(org.apache.spark.sql.functions.col("vec_id") < 200).count()
    assert(rows.map(_.getLong(1)).sum == n,
      "histogram must partition the corpus (anti-hubs included)")
    val edges = rows.map(r => r.getLong(0) * r.getLong(1)).sum
    assert(edges == panel * math.min(3L, n - 1),
      s"each panel query emits exactly min(3, n-1) edges: $edges")
  }

  test("q122 Gini and max-share are bounded and consistent") {
    val rows = SparkEntry.queries("q122_value_gini")(spark, sf)
      .select("n_users", "gini_ppm", "max_user_share_ppm").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, g, mx) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(g >= 0 && g <= 1000000, s"Gini is a [0,1] share: $r")
      // the single largest user holds at least the mean share
      assert(mx * n + n >= 1000000, s"max share below mean: $r")
      assert(mx <= 1000000, r.toString)
    }
  }

  test("q123 burstiness is ≥ 1 by construction (cf ≥ df)") {
    val rows = SparkEntry.queries("q123_token_burstiness")(spark, sf)
      .select("cf", "df", "burstiness_ppm").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      assert(r.getLong(1) >= 5, s"df floor: $r")
      assert(r.getLong(0) >= r.getLong(1),
        s"a containing doc contributes ≥ 1 occurrence: $r")
      assert(r.getLong(2) >= 1000000, s"cf/df ≥ 1 in ppm: $r")
    }
  }

  test("q124 totals shrink with n; distinct never exceeds total") {
    val rows = SparkEntry.queries("q124_ngram_diversity")(spark, sf)
      .select("source", "n", "total_ngrams", "distinct_ngrams").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), r.toString)
      assert(r.getLong(3) >= 1, r.toString)
    }
    // per source: total n-grams is monotone non-increasing in n —
    // each doc contributes max(len − n + 1, 0) grams (provable lattice)
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      val byN = rs.map(r => r.getLong(1) -> r.getLong(2)).toMap
      assert(byN(1L) >= byN(2L) && byN(2L) >= byN(3L),
        s"$src: totals must shrink with n: $byN")
    }
  }

  test("q125 covers all 24 hours with a full day grid; Hampel bound holds") {
    val rows = SparkEntry.queries("q125_hourly_anomaly")(spark, sf)
      .select("hour", "n_days", "med_count", "mad_count", "n_anomalies")
      .collect()
    assert(rows.map(_.getLong(0)).toSet == (0L to 23L).toSet)
    val days = rows.map(_.getLong(1)).distinct
    assert(days.length == 1, s"dense grid: same day count per hour: $days")
    rows.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(3) >= 0, r.toString)
      // ≥ half the cells sit within one MAD of the median when mad > 0
      if (r.getLong(3) > 0)
        assert(2 * r.getLong(4) <= r.getLong(1),
          s"more than half the days beyond 5 MADs: $r")
    }
  }

  test("q126 threshold curves are non-increasing (cutoff sets nest)") {
    val rows = SparkEntry.queries("q126_dedup_threshold_sweep")(spark, sf)
      .select("threshold_pct", "n_pairs", "n_docs_in_pairs").collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(50L, 70L, 90L),
      "all three sweep points must be present (zero-filled, never omitted)")
    rows.foreach { r =>
      assert(r.getLong(2) <= 2 * r.getLong(1),
        s"a pair touches at most 2 docs: $r")
      assert(r.getLong(1) == 0 || r.getLong(2) >= 2,
        s"any pair touches at least 2 docs: $r")
    }
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi.getLong(1) <= lo.getLong(1) &&
          hi.getLong(2) <= lo.getLong(2),
        s"J ≥ ${hi.getLong(0)}% pairs must nest inside ${lo.getLong(0)}%")
    }
  }

  test("q127 conditional bits are bounded (0 ≤ bits ≤ 63 per bigram)") {
    val rows = SparkEntry.queries("q127_bigram_surprisal")(spark, sf)
      .select("n_bigrams", "sum_bits", "avg_bits_ppm").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) > 0, r.toString)
      // c_ab ≤ c_a ⇒ every bigram's bits ≥ 0; a long's bitlen ≤ 63
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 63 * r.getLong(0),
        r.toString)
      val ppm = r.getLong(2) // decimal `div` yields LongType
      assert(ppm >= 0 && ppm <= 63000000L, r.toString)
    }
  }

  test("q128 estimates sit within one bin width of the exact order statistic") {
    val rows = SparkEntry.queries("q128_hist_bin_sweep")(spark, sf)
      .select("n_bins", "bin_w", "est_p50", "exact_p50", "est_p90",
        "exact_p90", "n_docs").collect()
    assert(rows.map(_.getLong(0)).toSet == Set(8L, 16L, 32L, 64L))
    assert(rows.map(_.getLong(6)).distinct.length == 1,
      "every binning sees the same corpus")
    rows.foreach { r =>
      assert(math.abs(r.getLong(2) - r.getLong(3)) <= r.getLong(1),
        s"p50 estimate beyond one bin width: $r")
      assert(math.abs(r.getLong(4) - r.getLong(5)) <= r.getLong(1),
        s"p90 estimate beyond one bin width: $r")
    }
  }

  test("q129 CMS join-size estimate is one-sided and bounded") {
    val r = SparkEntry.queries("q129_join_size_sketch")(spark, sf)
      .select("n_view", "n_purchase", "exact_join_size", "est_join_size")
      .collect().head
    val (nv, np, exact, est) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(est >= exact,
      s"CMS inner product must never undercount: $est < $exact")
    assert(est <= nv * np,
      s"estimate cannot exceed the Cartesian bound: $r")
    assert(exact <= nv * np, r.toString)
  }

  test("q130 recall and candidate curves are non-decreasing; radius 64 is exact") {
    val rows = SparkEntry.queries("q130_lsh_radius_sweep")(spark, sf)
      .select("radius", "n_candidates", "n_hit", "recall_ppm", "n_ann")
      .collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(16L, 24L, 32L, 64L),
      "all four sweep points present (zero-filled, never omitted)")
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi.getLong(1) >= lo.getLong(1),
        s"candidate sets nest: $lo vs $hi")
      // provable: anything outranking a true top-10 member is itself
      // in the exact top-10, so a wider radius can never evict a hit
      assert(hi.getLong(2) >= lo.getLong(2),
        s"recall must be non-decreasing in the radius: $lo vs $hi")
    }
    val full = rows.last
    assert(full.getLong(3) == 1000000L && full.getLong(2) == full.getLong(4),
      s"radius 64 admits everything — its row IS the exact ranking: $full")
  }

  test("q108 cap keeps exactly min(10, n_docs) per source") {
    val rows = SparkEntry.queries("q108_source_caps")(spark, sf)
      .select("n_docs", "kept_docs", "total_tokens", "kept_tokens")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == math.min(10L, r.getLong(0)), r.toString)
      assert(r.getLong(3) <= r.getLong(2), r.toString)
    }
  }

  test("q109 systematic sample size is the stride-count bound per source") {
    val rows = SparkEntry.queries("q109_weighted_sample")(spark, sf)
      .select("tok_s", "stride", "n_sel", "tok_sel")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val crossings = r.getLong(0) / r.getLong(1)
      assert(r.getLong(2) >= 1 && r.getLong(2) <= crossings,
        s"selected docs can't exceed boundary crossings: $r")
      assert(r.getLong(3) <= r.getLong(0), r.toString)
    }
  }

  test("q133 cells partition the corpus; dup counts bounded by pair math") {
    val rows = SparkEntry.queries("q133_semantic_dedup")(spark, sf)
      .select("members", "nd_pairs", "dup_vecs").collect()
    assert(rows.nonEmpty)
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.map(_.getLong(0)).sum == nVecs,
      "cell memberships must partition the corpus exactly")
    rows.foreach { r =>
      val (m, p, d) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(p <= m * (m - 1) / 2, s"pairs exceed cell pair space: $r")
      assert(d <= p, s"a dropped vector needs at least one pair: $r")
      assert(d <= math.max(0L, m - 1),
        s"can't drop more than members-1 (one keeper survives): $r")
    }
  }

  test("q134 per-node triangles bounded by wedges; total divisible by 3") {
    val rows = SparkEntry.queries("q134_dup_triangles")(spark, sf)
      .select("deg", "tri").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (deg, tri) = (r.getLong(0), r.getLong(1))
      assert(deg >= 1, s"only pair-graph nodes may appear: $r")
      assert(tri <= deg * (deg - 1) / 2,
        s"node triangles exceed its wedge count: $r")
    }
    assert(rows.map(_.getLong(1)).sum % 3 == 0,
      "each triangle must be charged to exactly 3 nodes")
  }

  test("q135 pruning is monotone in file count and never loses matches") {
    val rows = SparkEntry.queries("q135_zorder_skip")(spark, sf)
      .select("layout", "n_buckets", "files", "files_pruned",
        "rows_scanned", "rows_matching").collect()
    assert(rows.length == 6)
    val matching = rows.map(_.getLong(5)).distinct
    assert(matching.length == 1,
      "the box answer must not depend on layout or file count")
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), s"pruned ≤ files: $r")
      assert(r.getLong(4) >= r.getLong(5),
        s"surviving files must contain every match: $r")
    }
    // bucket ranges nest (16 | 64 | 256 divide the same code space), so
    // a pruned coarse file implies all its refinements pruned: scanned
    // rows are non-increasing as files get finer, per layout.
    for (layout <- Seq("linear", "zorder")) {
      val curve = rows.filter(_.getString(0) == layout)
        .sortBy(_.getLong(1)).map(_.getLong(4))
      assert(curve.zip(curve.tail).forall { case (a, b) => b <= a },
        s"$layout scanned-rows curve must be non-increasing: ${curve.toSeq}")
    }
  }

  test("q136 moment sums satisfy Cauchy-Schwarz; slope defined when den>0") {
    val rows = SparkEntry.queries("q136_ols_source_stats")(spark, sf)
      .select("n", "sx", "sy", "sxx", "sxy", "syy", "slope_ppm").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, sx, sy, sxx, syy) = (BigInt(r.getLong(0)), BigInt(r.getLong(1)),
        BigInt(r.getLong(2)), BigInt(r.getLong(3)), BigInt(r.getLong(5)))
      assert(n * sxx - sx * sx >= 0, s"Var(x) numerator negative: $r")
      assert(n * syy - sy * sy >= 0, s"Var(y) numerator negative: $r")
      if (n * sxx - sx * sx > 0) assert(!r.isNullAt(6), r.toString)
    }
  }

  test("q138 recall is exactly n_hit/10; candidates bounded by the corpus") {
    val rows = SparkEntry.queries("q138_ivfpq_recall")(spark, sf)
      .select("n_cand", "n_exact", "n_hit", "recall_ppm").collect()
    assert(rows.length == 5)
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    rows.foreach { r =>
      assert(r.getLong(1) == math.min(10L, nVecs - 1), r.toString)
      assert(r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1), r.toString)
      assert(r.getLong(0) <= nVecs - 1,
        s"candidates can't exceed the corpus minus the query: $r")
      assert(r.getLong(3) ==
        (2 * r.getLong(2) * 1000000L + r.getLong(1)) / (2 * r.getLong(1)),
        s"recall_ppm must be the half-up hit share: $r")
    }
  }

  test("q139 degree mass is twice the edges; modularity sum ≤ 1") {
    val rows = SparkEntry.queries("q139_dup_modularity")(spark, sf)
      .select("n_nodes", "intra_edges", "deg_sum", "contrib_ppm").collect()
    assert(rows.nonEmpty)
    val degTotal = rows.map(_.getLong(2)).sum
    assert(degTotal % 2 == 0, "every edge has two endpoints")
    val m = degTotal / 2
    assert(rows.map(_.getLong(1)).sum <= m,
      "intra-source edges can't exceed all edges")
    rows.foreach { r =>
      assert(r.getLong(0) >= 1, r.toString)
      assert(2 * r.getLong(1) <= r.getLong(2),
        s"a source's intra edges consume two of its endpoints each: $r")
    }
    // Each per-source contrib_ppm is half-up rounded, so the sum can
    // exceed the true (≤ 1) modularity by up to 0.5 ppm per source —
    // allow exactly that rounding slack.
    assert(rows.map(_.getLong(3)).sum <= 1000000L + (rows.length + 1) / 2,
      "Newman modularity is bounded above by 1 (plus per-source rounding)")
  }

  test("q140 segmentations reassemble the word; merges only shrink") {
    val rows = SparkEntry.queries("q140_bpe_encode")(spark, sf)
      .select("tok", "c", "segs", "n_syms").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tok, segs, n) = (r.getString(0), r.getString(2), r.getLong(3))
      assert(segs.split("\\|", -1).mkString("") == tok,
        s"segments must concatenate back to the word: $r")
      assert(n >= 1 && n <= tok.length,
        s"symbol count must sit in [1, |word|]: $r")
    }
  }

  test("q141 trigram counts are ranked and bounded by the event count") {
    val rows = SparkEntry.queries("q141_behavior_trigrams")(spark, sf)
      .select("n").collect().map(_.getLong(0))
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.zip(rows.tail).forall { case (x, y) => y <= x },
      "top-20 must come back in non-increasing count order")
    val nEvents = graft.operators.Tables.events(spark, sf).count()
    assert(rows.sum <= nEvents,
      "a user with k events contributes k-2 trigrams, so the total is bounded")
  }

  test("q142 match curve is monotone in tolerance; denominators constant") {
    val rows = SparkEntry.queries("q142_asof_tolerance_sweep")(spark, sf)
      .select("tolerance_ms", "n_clicks", "n_matched", "match_ppm")
      .collect().sortBy(_.getLong(0))
    assert(rows.length == 4)
    assert(rows.map(_.getLong(1)).distinct.length == 1,
      "the click population must not depend on the tolerance")
    val matched = rows.map(_.getLong(2))
    assert(matched.zip(matched.tail).forall { case (x, y) => y >= x },
      "tolerance sets nest, so matches are non-decreasing")
    rows.foreach(r => assert(r.getLong(3) >= 0 && r.getLong(3) <= 1000000L))
  }

  test("q143 matrix is the complete type grid; overlaps bounded") {
    val rows = SparkEntry.queries("q143_audience_overlap")(spark, sf)
      .select("users_a", "users_b", "users_both", "jaccard_ppm").collect()
    val nTypes = graft.operators.Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("event_type").isNotNull)
      .select("event_type").distinct().count()
    assert(rows.length == nTypes * (nTypes - 1) / 2,
      "every unordered type pair must appear, zero-overlap included")
    rows.foreach { r =>
      val (a, b, both, j) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))
      assert(both <= math.min(a, b), s"overlap exceeds a side: $r")
      assert(j >= 0 && j <= 1000000L, r.toString)
    }
  }

  test("q144 mass percentiles are ordered and within the length range") {
    val rows = SparkEntry.queries("q144_token_mass_lengths")(spark, sf)
      .select("source", "n_docs", "total_tokens", "p50_mass_len",
        "p90_mass_len").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p50, p90) = (r.getLong(3), r.getLong(4))
      assert(p50 <= p90,
        s"the 90% mass crossing can't precede the 50% one: $r")
      assert(r.getLong(1) >= 1 && r.getLong(2) >= 0, r.toString)
    }
  }

  test("q137 skyline is an antichain: ch strictly increases with nt") {
    val rows = SparkEntry.queries("q137_quality_skyline")(spark, sf)
      .select("nt", "ch").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    // within an nt level every surviving doc has the same (minimal) ch
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).distinct.length == 1,
        s"same-nt frontier docs must share the level's min chars: ${g.toSeq}")
    }
    // across levels, higher nt must pay strictly more chars
    val levels = rows.distinct.sortBy(_._1)
    levels.zip(levels.tail).foreach { case ((nt1, ch1), (nt2, ch2)) =>
      assert(nt2 > nt1 && ch2 > ch1,
        s"dominated level survived: ($nt1,$ch1) vs ($nt2,$ch2)")
    }
  }

  test("q147 cosine is a bounded ranked probe score, no self-matches") {
    val rows = SparkEntry.queries("q147_tfidf_probe_cosine")(spark, sf)
      .select("probe_id", "doc_id", "dot_w", "cos2_ppm").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      assert(r.getLong(0) % 100 == 7, s"probe must be from the probe set: $r")
      assert(r.getLong(1) != r.getLong(0), s"self-match must be excluded: $r")
      assert(r.getLong(2) > 0, s"a surfaced pair shares at least a bigram: $r")
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 1000000L,
        s"cos² is in [0, 1]: $r")
    }
    val scores = rows.map(_.getLong(3))
    assert(scores.zip(scores.tail).forall { case (a, b) => b <= a },
      "top-20 must come back in non-increasing cos² order")
  }

  test("q148 normalized values are corpus chars; p=0 hits the global min") {
    val q = SparkEntry.queries("q148_quantile_normalize")(spark, sf)
      .select("source", "n_docs", "min_norm", "max_norm", "sum_norm")
      .collect()
    assert(q.nonEmpty)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter("text IS NOT NULL")
    val chars = docs.select("n_chars").collect().map(_.getLong(0))
    assert(q.map(_.getLong(1)).sum == chars.length,
      "every doc must normalize to exactly one value")
    q.foreach { r =>
      val (n, mn, mx, sm) = (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))
      assert(mn >= chars.min && mx <= chars.max,
        s"normalized values must be real corpus char counts: $r")
      assert(mn <= mx && sm >= n * mn && sm <= n * mx, r.toString)
      // rank 1 in every source maps to target position 0 = global min
      assert(mn == chars.min,
        s"each source's rank-1 doc must normalize to the global min: $r")
    }
  }

  test("q150 chunk counts and token mass match the stride arithmetic") {
    val q = SparkEntry.queries("q150_context_chunks")(spark, sf)
      .select("source", "n_docs", "n_chunks", "tok_mass", "n_uniq_chunks",
        "overlap_ppm").collect()
    assert(q.nonEmpty)
    // independent recompute of the 64/48 stride arithmetic per doc
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter("text IS NOT NULL")
      .selectExpr("source", "size(split(text, ' ')) AS nt").collect()
      .map(r => (r.getString(0), r.getInt(1).toLong)).filter(_._2 >= 1)
    val exp = docs.groupBy(_._1).map { case (src, g) =>
      val chunks = g.map { case (_, nt) =>
        if (nt <= 64) 1L else (nt - 64 + 47) / 48 + 1 }
      val mass = g.map { case (_, nt) =>
        val nch = if (nt <= 64) 1L else (nt - 64 + 47) / 48 + 1
        (0L until nch).map(i => math.min(64L, nt - i * 48)).sum }
      src -> (g.length.toLong, chunks.sum, mass.sum, g.map(_._2).sum)
    }
    q.foreach { r =>
      val (nd, nc, tm, nu) = (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))
      val (en, ec, em, ent) = exp(r.getString(0))
      assert(nd == en && nc == ec && tm == em,
        s"stride arithmetic mismatch for ${r.getString(0)}: " +
          s"got ($nd,$nc,$tm) want ($en,$ec,$em)")
      assert(nu >= 1 && nu <= nc, s"distinct chunks bounded by chunks: $r")
      val expPpm = (2 * (tm - ent) * 1000000L + ent) / (2 * ent)
      assert(r.getLong(5) == expPpm, s"overlap tax must be half-up ppm: $r")
    }
  }

  test("q149 shares sum to 1; temperature flattens anti-monotonically") {
    val rows = SparkEntry.queries("q149_temperature_mix")(spark, sf)
      .select("tau_ppm", "source", "n_docs", "w", "share_ppm", "boost_ppm")
      .collect()
    assert(rows.nonEmpty)
    val byTau = rows.groupBy(_.getLong(0))
    assert(byTau.keySet == Set(250000L, 500000L, 1000000L))
    byTau.foreach { case (tau, g) =>
      // half-up rounding adds at most 0.5 ppm per source in each
      // direction (the q139 slack rule)
      val slack = (g.length + 1) / 2
      val tot = g.map(_.getLong(4)).sum
      assert(tot >= 1000000L - slack && tot <= 1000000L + slack,
        s"tau=$tau shares must sum to ~1: $tot")
      if (tau == 1000000L)
        g.foreach(r => assert(r.getLong(5) == 1000000L,
          s"natural sampling boosts nothing: $r"))
      else {
        // w = n^tau: flattening boosts small sources over large ones
        val byN = g.sortBy(_.getLong(2))
        val boosts = byN.map(_.getLong(5))
        assert(boosts.zip(boosts.tail).forall { case (a, b) => b <= a },
          s"tau=$tau boost must be anti-monotone in source size: " +
            byN.map(r => (r.getLong(2), r.getLong(5))).toSeq)
      }
    }
  }

  test("q151 soft-dedup mass: identity holds; only dup members lose mass") {
    val rows = SparkEntry.queries("q151_soft_dedup_weights")(spark, sf)
      .select("n_docs", "n_dup_members", "eff_mass_ppm", "removed_mass_ppm")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, mem, eff, rem) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(eff + rem == n * 1000000L,
        s"effective + removed must be the raw mass: $r")
      assert(mem <= n, r.toString)
      // non-members keep exactly 1e6 each; members keep at most half
      // (weight 1/csz with csz >= 2, half-up) and at least a sliver
      assert(rem >= 0 && rem <= mem * 1000000L, r.toString)
      assert(eff <= (n - mem) * 1000000L + mem * 500000L,
        s"a dup member keeps at most half its mass (csz >= 2): $r")
      assert(eff > (n - mem) * 1000000L || mem == 0,
        s"member weights are positive: $r")
    }
    // globally some mass must be removed at this SF (near-dups exist)
    assert(rows.map(_.getLong(3)).sum > 0, "corpus has dup clusters")
  }

  test("q152 split: no pair straddles splits; units partition the docs") {
    val rows = SparkEntry.queries("q152_leakage_free_split")(spark, sf)
      .select("split", "n_docs", "n_units", "n_cross_pairs").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) == 0,
        s"component-granular split can never leak a pair: $r")
      assert(r.getLong(2) >= 1 && r.getLong(2) <= r.getLong(1),
        s"units per cell are between 1 and the cell's docs: $r")
    }
    assert(rows.map(_.getString(0)).toSet.subsetOf(
      Set("train", "val", "test")))
    // the census covers the whole corpus exactly once
    val total = rows.map(_.getLong(1)).sum
    val corpus = graft.operators.Tables.documents(spark, sf).count()
    assert(total == corpus, s"split census must cover the corpus: " +
      s"$total vs $corpus")
  }

  test("q155 effective mass: bounded by raw; saved_ppm consistent") {
    val rows = SparkEntry.queries("q155_effective_token_mass")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, raw, eff, saved) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))
      assert(n > 0 && raw >= n, s"every doc has >= 1 token: $r")
      assert(eff <= raw, s"weighting can only remove mass: $r")
      // members keep >= 1 ppm each, so eff stays positive
      assert(eff > 0, r.toString)
      assert(saved >= 0 && saved < 1000000L, r.toString)
      // saved_ppm is the half-up ppm of (raw·1e6 − Σnt·wppm)/(raw·1e6);
      // recomputing it from the REPORTED eff loses eff's half-token
      // de-ppm rounding, worth up to 1e6/(2·raw) ppm — the band is
      // that rounding radius plus 1 for the two half-up steps
      val approx = ((raw - eff) * 1000000.0 / raw).round
      val band = 1000000.0 / (2 * raw) + 1
      assert(math.abs(saved - approx) <= band,
        s"saved_ppm must match the removed fraction: $r vs $approx ± $band")
    }
    // at this SF near-dups exist: some source saves mass
    assert(rows.exists(_.getLong(4) > 0), "corpus has dup clusters")
  }

  test("q154 packing: sequence accounting exact; fill and cuts bounded") {
    val rows = SparkEntry.queries("q154_sequence_packing")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDocs, mass, nSeqs, cut, fill) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nSeqs * 256 >= mass, s"sequences must hold the mass: $r")
      assert(nSeqs <= mass / 256 + 8,
        s"at most one partial sequence per shard: $r")
      assert(fill > 0 && fill <= 1000000L, s"fill is a ppm ratio: $r")
      // a cut doc consumes >= 1 of the Σ(bins_shard − 1) boundaries
      assert(cut < nSeqs, s"cuts bounded by sequence boundaries: $r")
      assert(cut <= nDocs, r.toString)
    }
  }
}
