package graft
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLongArray
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import scala.jdk.CollectionConverters._

/** Local-session plumbing shared by the benchmark and correctness
  * mains ([[Bench]], [[Verify]]) and the dev tool ([[Dev]]), so their
  * numbers come from the same session and the same timed pass.
  */
object Harness {
  /** Local threads and shuffle partitions (`SPARK_GRAFT_CPUS`). */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `local[cpus]` with `cpus` shuffle partitions and no UI; callers add
    * their own settings before [[start]].
    */
  def builder(): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.ui.enabled", "false")

  def start(b: SparkSession.Builder = builder()): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Session warm-up (JVM/codegen/scheduler/parquet-reader init), not
    * query work — keeps the first timed query from absorbing one-time
    * costs. Warms the parquet reader on the smallest SIBLING sf dir of
    * `sfDir` when one exists (so the warm-up never touches the measured
    * data); falls back to `sfDir`'s own region table.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    val warmDir = {
      val sf = new java.io.File(sfDir)
      val siblings = Option(sf.getParentFile)
        .flatMap(p => Option(p.listFiles())) // listFiles() is null on unreadable dirs
        .getOrElse(Array.empty[java.io.File])
        .filter(d => d.isDirectory && d.getName != sf.getName &&
          new java.io.File(d, "region.parquet").exists())
      if (siblings.nonEmpty) siblings.minBy(d =>
        new java.io.File(d, "region.parquet").length()).getPath
      else sfDir
    }
    try spark.read.parquet(s"$warmDir/region.parquet").count()
    catch { case _: Throwable => () }
  }

  /** One timed pass: builds the DataFrame (construction jobs included)
    * and consumes it; returns wall seconds.
    *
    * Forces execution through the noop DataSourceV2 sink, NOT .count():
    * count() is rewritten to Aggregate[count(1)], after which
    * ColumnPruning drops deterministic per-row projections and
    * EliminateSorts drops orderBy — narrow scan→project queries would
    * time only the scan. The noop sink consumes every output row/column,
    * so the timed pass executes exactly the work a real consumer would.
    * clearCache in finally: connectedComponents persists its edge
    * table between rounds, and a query that THROWS mid-loop must not
    * leak those cached blocks into the next query's timed passes.
    */
  def timedPass(spark: SparkSession)(mk: => DataFrame): Double = {
    val t0 = System.nanoTime()
    try mk.write.format("noop").mode("overwrite").save()
    finally spark.catalog.clearCache()
    (System.nanoTime() - t0) / 1e9
  }

  /** JSON string body escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in an exception message or builder-authored
    * SQL would otherwise make a reader's json.load fail.
    */
  def jsonEscape(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case '\n'          => "\\n"
      case '\r'          => "\\r"
      case '\t'          => "\\t"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }

  /** Scheduler counters of the whole context — jobs, stages, tasks,
    * summed task and CPU time, shuffle bytes — plus one line per
    * completed stage, measured from the last [[mark]]. Once tasks are
    * small, job and stage counts, not task time, set the cost.
    */
  final class Counters(spark: SparkSession) extends SparkListener {
    // jobs, stages, tasks, task ms, cpu ns, shuffle write, shuffle read bytes
    private val n = new AtomicLongArray(7)
    private var marked = new Array[Long](7)
    private val stages = new ConcurrentLinkedQueue[String]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      n.incrementAndGet(0)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      n.incrementAndGet(1)
      n.addAndGet(5, m.shuffleWriteMetrics.bytesWritten)
      n.addAndGet(6, m.shuffleReadMetrics.totalBytesRead)
      val wall = (for { s <- si.submissionTime; c <- si.completionTime }
        yield (c - s) / 1e3).getOrElse(-1.0)
      val scopes = si.rddInfos.flatMap(_.scope).map(_.name)
        .filter(s => s != "WholeStageCodegen" && !s.startsWith("mapPartitions"))
        .distinct.mkString("|")
      stages.add(
        f"[stage] id=${si.stageId}%4d tasks=${si.numTasks}%4d " +
          f"wall=$wall%6.3f taskSum=${m.executorRunTime / 1e3}%6.3f " +
          f"cpu=${m.executorCpuTime / 1e9}%6.3f " +
          f"deser=${m.executorDeserializeTime / 1e3}%6.3f " +
          si.name.take(40) + " :: " + scopes.take(200))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      n.incrementAndGet(2)
      if (e.taskMetrics != null) {
        n.addAndGet(3, e.taskMetrics.executorRunTime)
        n.addAndGet(4, e.taskMetrics.executorCpuTime)
      }
    }

    /** Starts a measured interval once every earlier event is counted. */
    def mark(): Unit = {
      GraftSqlBridge.drainListenerBus(spark)
      marked = Array.tabulate(7)(n.get)
      stages.clear()
    }

    /** The counters since [[mark]], as one `key=value` line. */
    def sinceMark(): String = {
      GraftSqlBridge.drainListenerBus(spark)
      val d = Array.tabulate(7)(i => n.get(i) - marked(i))
      f"jobs=${d(0)} stages=${d(1)} tasks=${d(2)} taskSec=${d(3) / 1e3}%.2f " +
        f"cpuSec=${d(4) / 1e9}%.2f shufWriteMB=${d(5) / 1e6}%.1f " +
        f"shufReadMB=${d(6) / 1e6}%.1f"
    }

    /** The `[stage]` lines completed since [[mark]]. */
    def stageLines: Seq[String] = stages.asScala.toSeq
  }
}
