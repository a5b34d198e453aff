package vbench

import graft.SparkEntry
import graft.operators.Tables
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch queries over a seeded `documents` table: one cold pass, then
  * at least [[MinWarmPasses]] warm passes, more while the measured time
  * lasts. Every execution times construction (`fn(spark, dir)`) apart
  * from execution: the `noop` write, or in the cold pass the collection
  * of the result's digest, which checks it.
  *
  * The table is fixed (generator seed [[TableSeed]]) so that the
  * results can be checked against digests kept with the benchmark, and
  * every pass runs the queries in the same order, so no query's time
  * depends on which one ran before it. The run's seed is not used.
  */
object BatchQueries {
  // Eager construction jobs (q157), PartitionedPrefix (q148) and the
  // video fold in batch (q20). Their warm times are well separated, so
  // the per-query median lands on one query rather than between two.
  val Queries = Seq("q157_final_cut_manifest", "q148_quantile_normalize",
    "q20_pipeline_detections")
  /** q20 folds this many generated frames (3 streams × 25 fps × 400 s,
    * graft.operators.Pipeline).
    */
  val FramesPerVideoQuery = 30000L
  val TableSeed = 42L
  val Documents = 1000
  /** Warm samples of every query per run, even when a pass takes longer
    * than the measured time. Five passes of about 5.5 s fit the
    * benchmark's time budget on a slow host; seven did not.
    */
  val MinWarmPasses = 5
  val SetupReps = 5

  private val words = ("spark window merge table column vector stream value data " +
    "small join filter big group hash customer sort order slow line part fast row " +
    "the agg key query a scan batch").split(' ')

  /** `documents` shaped like the table in TESTDATA.md: random-word texts from
    * a 30-word vocabulary, 5 % exact copies with " dup" appended.
    */
  private def documents(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(TableSeed)
    val base = Array.fill(Documents - Documents / 20) {
      Seq.fill(10 + rnd.nextInt(91))(words(rnd.nextInt(words.length))).mkString(" ")
    }
    val dups = Array.fill(Documents / 20)(base(rnd.nextInt(base.length)) + " dup")
    val texts = rnd.shuffle((base ++ dups).toSeq)
    val langs = Seq("en" -> 0.41, "zh" -> 0.5575, "es" -> 0.705, "fr" -> 0.8525, "de" -> 1.0)
    val rows = texts.zipWithIndex.map { case (t, i) =>
      val u = rnd.nextDouble()
      (i.toLong, t, langs.find(u < _._2).get._1, s"src${i % 20}", t.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
  }

  def run(spark: SparkSession, work: String, seconds: Double,
      trace: Boolean, digests: Map[String, (Long, String)], out: Outcome,
      writeDigests: Option[String]): Unit = {
    val dir = s"$work/tables"
    documents(spark, dir)
    // set-up: the program's own, in a fresh session each time: install
    // the graft_* functions and open the input (`Tables.documents`)
    val setups = (1 to SetupReps).map { _ =>
      Stats.timed(Tables.documents(spark.newSession(), dir).count())._2
    }
    out.mark("table written and opened")
    val fns = SparkEntry.queries
    val layers = new Layers
    if (trace) spark.sparkContext.addSparkListener(layers)

    val found = scala.collection.mutable.LinkedHashMap.empty[String, (Long, String)]
    def verify(name: String, df: DataFrame): Unit = {
      val d = Checks.digest(df)
      found(name) = d
      if (writeDigests.isEmpty) digests.get(name) match {
        case Some(want) => out.check(s"$name digest", d == want,
          s"${d._1} rows ${d._2}, expected ${want._1} rows ${want._2}")
        case None => out.check(s"$name digest", ok = false, "no expected digest kept")
      }
    }

    /** (build s, run s) of one execution; None when it threw. */
    def exec(name: String, pass: String, traced: Boolean,
        check: Boolean): Option[(Double, Double)] = {
      out.attempted += 1
      val scope = s"$pass/$name"
      def phase[A](p: String)(body: => A): A =
        if (!traced) body
        else Layers.within(spark, s"$scope/$p") {
          Trace.span(p, s"query@$scope", scope)(body)
        }
      try {
        val t0 = System.nanoTime()
        def body(): (Double, Double) = {
          val df = phase("build")(fns(name)(spark, dir))
          val t1 = System.nanoTime()
          phase("run") {
            if (check) verify(name, df)
            else df.write.format("noop").mode("overwrite").save()
          }
          val t2 = System.nanoTime()
          ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
        }
        Some(if (traced) Trace.span("query", "", scope, s"query@$scope")(body()) else body())
      } catch {
        case e: Throwable =>
          out.failed += 1
          out.notes += s"$name failed: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          None
      } finally spark.catalog.clearCache()
    }

    type Pass = Seq[(String, Double, Double)]
    /** Work and JIT CPU seconds of each pass, by label. */
    val passCpu = mutable.LinkedHashMap.empty[String, (Double, Double)]
    def pass(label: String, traced: Boolean, check: Boolean = false): Pass = {
      val (p, work, jit) = Stats.cpuOf(Queries.flatMap { q =>
        exec(q, label, traced, check).map { case (b, r) => (q, b, r) }
      })
      passCpu(label) = (work, jit)
      p
    }
    def total(p: Pass) = p.map(x => x._2 + x._3).sum

    val cold = pass("cold", traced = false, check = true)
    out.metric("cold_s", total(cold))
    out.metric("cold_cpu_s", passCpu("cold")._1)
    out.mark("cold pass and digests done")
    writeDigests.foreach { path =>
      val w = new java.io.PrintWriter(path, "UTF-8")
      try w.println(Json.mapper.writeValueAsString(found.map { case (k, (n, h)) =>
        k -> Map("rows" -> n, "digest" -> h) }))
      finally w.close()
    }
    // a traced run times three sets of passes (untraced, traced,
    // untraced), each a third as long, so it takes about as long as an
    // untraced run
    val (minPasses, window) = if (trace) (1, seconds / 3) else (MinWarmPasses, seconds)
    def warmPasses(label: String, traced: Boolean): Seq[Pass] = {
      val t0 = System.nanoTime()
      val ps = Seq.newBuilder[Pass]
      var n = 0
      while (n < minPasses || (System.nanoTime() - t0) / 1e9 < window) {
        ps += pass(s"$label$n", traced); n += 1
      }
      ps.result()
    }
    val warm = warmPasses("warm", traced = false)
    out.mark(s"${warm.size} warm passes done")
    out.notes += "warm passes (s): " + warm.map(p => f"${total(p)}%.2f").mkString(" ")

    Queries.foreach { q =>
      def cell(ps: Seq[Pass]) = {
        val xs = ps.flatMap(_.filter(_._1 == q))
        if (xs.isEmpty) "      -" else
          f"${Stats.median(xs.map(_._2))}%7.3f ${Stats.median(xs.map(_._3))}%7.3f"
      }
      out.notes += f"$q%-30s cold build/run ${cell(Seq(cold))}  warm build/run ${cell(warm)}"
    }
    val video = warm.flatMap(_.filter(_._1 == "q20_pipeline_detections"))
      .map(x => x._2 + x._3)
    out.metric("frames_per_s", FramesPerVideoQuery / Stats.median(video))
    out.metric("latency_p50_ms", Stats.median(warm.flatten.map(x => (x._2 + x._3) * 1000.0)))
    out.metric("warm_s", Stats.median(warm.map(total)))
    val warmCpu = warm.indices.map(i => passCpu(s"warm$i"))
    out.metric("warm_cpu_s", Stats.median(warmCpu.map(_._1)))
    out.metric("jvm.jit_cpu_s", Stats.median(warmCpu.map(_._2)))
    out.notes += "warm passes (work/jit cpu s): " + warmCpu
      .map { case (c, j) => f"$c%.2f/$j%.2f" }.mkString(" ")
    out.metric("setup_s", Stats.median(setups))
    if (trace) {
      Trace.clear()
      val traced = warmPasses("traced", traced = true)
      Layers.drain(spark)
      def counts(q: String, p: String) = traced.indices.flatMap(i =>
        layers.get(s"traced$i/$q/$p"))
      def qmetrics(prefix: String, qs: Seq[String]): Unit = {
        def m(f: ScopeCounts => Double, p: String) =
          Stats.median(traced.indices.map(i => qs.flatMap(q =>
            layers.get(s"traced$i/$q/$p")).map(f).sum))
        def secs(sel: ((String, Double, Double)) => Double) =
          Stats.median(traced.map(_.filter(x => qs.contains(x._1)).map(sel).sum))
        out.metric(s"$prefix.build_s", secs(_._2))
        out.metric(s"$prefix.run_s", secs(_._3))
        out.metric(s"$prefix.build_jobs", m(_.jobs.get.toDouble, "build"))
        out.metric(s"$prefix.run_jobs", m(_.jobs.get.toDouble, "run"))
        out.metric(s"$prefix.task_s",
          m(_.taskMs.get / 1000.0, "build") + m(_.taskMs.get / 1000.0, "run"))
        out.metric(s"$prefix.cpu_s",
          m(_.cpuNs.get / 1e9, "build") + m(_.cpuNs.get / 1e9, "run"))
        out.metric(s"$prefix.shuffle_bytes",
          m(_.shuffleWrite.get.toDouble, "build") + m(_.shuffleWrite.get.toDouble, "run"))
      }
      qmetrics("query", Queries)
      Queries.foreach(q => qmetrics(s"query.${q.takeWhile(_ != '_')}", Seq(q)))
      out.failed += Queries.flatMap(q => counts(q, "build") ++ counts(q, "run"))
        .map(_.failedJobs.get).sum
      // listener counts onto the spans they belong to
      val spans = Trace.all
      Trace.clear()
      spans.foreach { s =>
        val c = if (s.name == "build" || s.name == "run") layers.get(s"${s.shared}/${s.name}") else None
        Trace.add(c.fold(s)(c => s.copy(jobs = c.jobs.get, stages = c.stages.get,
          tasks = c.tasks.get)))
      }
      val again = warmPasses("again", traced = false)
      val base = Stats.median((warm ++ again).map(total))
      out.metric("trace.overhead_pct",
        100.0 * (Stats.median(traced.map(total)) - base) / base)
    }
  }
}
