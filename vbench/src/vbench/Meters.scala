package vbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import graft.model.{Detection, VideoFrame}
import graft.streaming.StreamLoadSink.Transport
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds this JVM has used so far, every thread (tasks, driver,
    * GC, JIT). The kernel leaves out time the hypervisor gave to other
    * guests, so on a shared host this moves far less than wall time.
    */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  /** CPU seconds the JIT compiler threads have used so far (the JVM
    * runs with a fixed set of them, so none exits and takes its count
    * along).
    */
  def jitCpuS(): Double =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      try {
        val name = readFile(new java.io.File(t, "comm"))
        if (!name.startsWith("C1 Compiler") && !name.startsWith("C2 Compiler")) 0.0
        else {
          val st = readFile(new java.io.File(t, "stat"))
          val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) / ClockTicks
        }
      } catch { case _: java.io.IOException => 0.0 } // thread gone
    }.sum

  private val ClockTicks = 100.0 // USER_HZ, the unit of /proc/<pid>/stat times
  private def readFile(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim

  /** Work and JIT CPU seconds of `body`, after a full collection so that
    * no garbage of earlier work is collected on its account.
    */
  def cpuOf[A](body: => A): (A, Double, Double) = {
    System.gc()
    val (c0, j0) = (cpuS(), jitCpuS())
    val a = body
    val (c1, j1) = (cpuS(), jitCpuS())
    (a, (c1 - c0) - (j1 - j0), j1 - j0)
  }
}

/** Memory of this JVM. [[peakMb]] is the largest memory in use right
  * after a garbage collection (every pool: heap, metaspace, code cache):
  * the run's peak live footprint, independent of how far the heap grew
  * before collecting.
  */
object Memory {
  @volatile private var peak = 0L

  def install(): Unit =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          import com.sun.management.GarbageCollectionNotificationInfo
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            synchronized { peak = math.max(peak, used) }
          }
        }, null, null)
      case _ =>
    }

  def peakMb: Double = peak / (1024.0 * 1024.0)

  /** Memory still in use after a full collection, in MB, free of GC
    * timing. Taken once the workload has finished: what the engine keeps
    * (plan and codegen caches, loaded classes, anything leaked).
    */
  def retainedMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / (1024.0 * 1024.0)
  }
}

/** Share of this machine's CPU time the hypervisor gave to other guests
  * (the `steal` column of /proc/stat): run-to-run noise on a shared
  * host shows here.
  */
object Steal {
  private def ticks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }
  private val start = ticks()
  def pctSinceStart: Double = {
    val (t, s) = ticks()
    if (t > start._1) 100.0 * (s - start._2) / (t - start._1) else 0.0
  }
}

/** Spark work attributed to one scope: a streaming micro-batch
  * (`<queryId>/<batchId>`) or a job group set by the benchmark
  * (property [[Layers.ScopeKey]]).
  */
final class ScopeCounts {
  val jobs = new AtomicLong
  val failedJobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleWrite = new AtomicLong
  /** stageId → shuffle bytes read by each task of that stage. */
  val shuffleReads = new ConcurrentHashMap[Int, java.util.Vector[Long]]()

  /** Largest ÷ median task shuffle read, per stage that reads a shuffle. */
  def skews: Seq[Double] = shuffleReads.values.asScala.toSeq.flatMap { v =>
    val xs = v.asScala.toSeq.map(_.toDouble)
    val med = Stats.median(xs)
    if (med > 0) Some(xs.max / med) else None
  }
}

/** Public SparkListener data, bucketed by scope. */
final class Layers extends SparkListener {
  private val scopes = new ConcurrentHashMap[String, ScopeCounts]()
  private val stageScope = new ConcurrentHashMap[Int, String]()
  private val jobScope = new ConcurrentHashMap[Int, String]()

  def scope(name: String): ScopeCounts =
    scopes.computeIfAbsent(name, _ => new ScopeCounts)
  def get(name: String): Option[ScopeCounts] = Option(scopes.get(name))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val sc = p.flatMap(x => Option(x.getProperty(Layers.ScopeKey))).orElse(
      for {
        x <- p
        q <- Option(x.getProperty("sql.streaming.queryId"))
        b <- Option(x.getProperty("streaming.sql.batchId"))
      } yield s"$q/$b")
    sc.foreach { s =>
      jobScope.put(e.jobId, s)
      e.stageIds.foreach(id => stageScope.put(id, s))
      scope(s).jobs.incrementAndGet()
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    e.jobResult match {
      case JobSucceeded =>
      case _ => Option(jobScope.get(e.jobId)).foreach(s =>
        scope(s).failedJobs.incrementAndGet())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageScope.get(e.stageInfo.stageId)).foreach(s =>
      scope(s).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageScope.get(e.stageId)).foreach { s =>
      val c = scope(s)
      c.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        c.taskMs.addAndGet(m.executorRunTime)
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        val read = m.shuffleReadMetrics.totalBytesRead
        if (read > 0)
          c.shuffleReads.computeIfAbsent(e.stageId, _ => new java.util.Vector[Long]())
            .add(read)
      }
    }
}

object Layers {
  val ScopeKey = "vbench.scope"

  /** Runs `body` with its Spark jobs attributed to `scope`. */
  def within[A](spark: SparkSession, scope: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(ScopeKey)
    sc.setLocalProperty(ScopeKey, scope)
    try body finally sc.setLocalProperty(ScopeKey, prev)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.VBenchBus.drain(spark.sparkContext)
}

/** Every StreamingQueryProgress, by query id. */
final class Progress extends StreamingQueryListener {
  private val byQuery = new ConcurrentHashMap[String, java.util.Vector[StreamingQueryProgress]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    byQuery.computeIfAbsent(e.progress.id.toString, _ => new java.util.Vector())
      .add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Progress of the batches that read input, in batch order. */
  def batches(queryId: java.util.UUID): Seq[StreamingQueryProgress] =
    Option(byQuery.get(queryId.toString)).map(_.asScala.toSeq).getOrElse(Nil)
      .filter(_.numInputRows > 0).sortBy(_.batchId)
}

object Progress {
  def duration(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)

  /** Wall-clock ms at which the batch, with its sinks and offset
    * commit, ended.
    */
  def endMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli + duration(p, "triggerExecution")

  /** MemoryStream offset range (start, end] the batch read. */
  def offsets(p: StreamingQueryProgress): (Long, Long) = {
    def parse(s: String) = if (s == null || s == "null") -1L else s.trim.toLong
    (parse(p.sources.head.startOffset), parse(p.sources.head.endOffset))
  }
}

/** One traced interval. `shared` ties spans of one micro-batch or query
  * together; `parent` names the enclosing span's id.
  */
final case class Span(id: String, name: String, parent: String,
    shared: String, startNs: Long, endNs: Long, jobs: Long = 0,
    stages: Long = 0, tasks: Long = 0)

object Trace {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val seq = new AtomicLong

  def clear(): Unit = spans.clear()
  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq

  def span[A](name: String, parent: String, shared: String,
      id: String = null)(body: => A): A = {
    val sid = if (id != null) id else s"$name#${seq.incrementAndGet()}"
    val t0 = System.nanoTime()
    try body finally add(Span(sid, name, parent, shared, t0, System.nanoTime()))
  }

  /** nanoTime-scale instant of a wall-clock millisecond, so spans read
    * from StreamingQueryProgress line up with spans timed here.
    */
  private val wallToNano = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nanosOfWallMs(ms: Double): Long = (ms * 1e6).toLong - wallToNano

  /** Per span name: count, total seconds, self seconds (total minus
    * the time of direct children, floored at 0 when children ran in
    * parallel).
    */
  def summary: Seq[(String, Long, Double, Double)] = {
    val ss = all
    val childNs = ss.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    ss.groupBy(_.name).toSeq.map { case (n, xs) =>
      val total = xs.map(s => s.endNs - s.startNs).sum
      val self = xs.map(s => math.max(0L,
        (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L))).sum
      (n, xs.size.toLong, total / 1e9, self / 1e9)
    }.sortBy(-_._4)
  }

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try all.sortBy(_.startNs).foreach(s => w.println(Json.mapper.writeValueAsString(s)))
    finally w.close()
  }
}

/** Process-wide counters fed from executor threads (local mode: one JVM). */
object Counters {
  val detectCalls = new AtomicLong
  val detectNs = new AtomicLong
  val puts = ConcurrentHashMap.newKeySet[String]()
  val attempts = new AtomicLong
  val failedAttempts = new AtomicLong
  val putNs = new AtomicLong
  val bytes = new AtomicLong

  def reset(): Unit = {
    detectCalls.set(0); detectNs.set(0); puts.clear(); attempts.set(0)
    failedAttempts.set(0); putNs.set(0); bytes.set(0)
  }

  /** Wraps a detector, counting and timing each call. */
  def countingDetector(det: VideoFrame => Seq[Detection]): VideoFrame => Seq[Detection] =
    f => {
      val t0 = System.nanoTime()
      val r = det(f)
      detectNs.addAndGet(System.nanoTime() - t0)
      detectCalls.incrementAndGet()
      r
    }
}

/** Stream-Load transport wrapper: times and counts every put and
  * records it as a span under the micro-batch's sink span.
  */
final class TimingTransport(inner: Transport) extends Transport {
  override def put(label: String, payload: Array[Byte],
      props: Map[String, String]): Boolean = {
    val t0 = System.nanoTime()
    Counters.attempts.incrementAndGet()
    val ok = try inner.put(label, payload, props) catch {
      case e: Throwable => Counters.failedAttempts.incrementAndGet(); throw e
    }
    val t1 = System.nanoTime()
    if (ok) {
      Counters.puts.add(label)
      Counters.bytes.addAndGet(payload.length)
    } else Counters.failedAttempts.incrementAndGet()
    Counters.putNs.addAndGet(t1 - t0)
    // labels are <prefix>_<batchId>_<partition>_<seq>
    val batch = label.split('_').takeRight(3).head
    Trace.add(Span(s"streamload.put#$label", "streamload.put",
      s"streamload.writeBatch@$batch", batch, t0, t1))
    ok
  }
}

/** Jackson, from Spark's classpath, with Scala collections and case
  * classes.
  */
object Json {
  val mapper: com.fasterxml.jackson.databind.json.JsonMapper =
    com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()
}
