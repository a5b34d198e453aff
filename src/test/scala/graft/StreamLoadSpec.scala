package graft

import graft.model._
import graft.streaming.StreamLoadSink._
import graft.streaming.{FrameGenerator, VideoPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Stream-Load sink contract (ref sink/DorisSinkBuilder.java:62-95):
  * 128 KB buffer seal, 2-buffer post trigger, flush at close,
  * ≤3 retries, and label-scoped replay idempotence.
  */
class StreamLoadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Records every accepted payload by label; optionally fails the
    * first `failFirst` put attempts (retryable transport errors).
    */
  class RecordingTransport(failFirst: Int = 0) extends Transport {
    val loads = scala.collection.mutable.LinkedHashMap.empty[String, Array[Byte]]
    var puts = 0
    override def put(label: String, payload: Array[Byte],
        props: Map[String, String]): Boolean = synchronized {
      puts += 1
      if (puts <= failFirst) throw new java.io.IOException(s"fe down ($puts)")
      if (!loads.contains(label)) loads += label -> payload
      true
    }
  }

  private val cfg = StreamLoadConfig(labelPrefix = "t")

  test("buffer seals at bufferSize and posts when bufferCount are pending") {
    val tr = new RecordingTransport()
    // tiny thresholds: seal every ≥10 bytes, post when 2 sealed
    val buf = new Buffer(cfg.copy(bufferSize = 10, bufferCount = 2), tr, "0_0")
    buf.add("0123456789") // seals buffer 1 — nothing posted yet
    assert(tr.loads.isEmpty)
    buf.add("abcdefghij") // seals buffer 2 → bufferCount hit → post both
    assert(tr.loads.keySet == Set("t_0_0_0", "t_0_0_1"))
    assert(new String(tr.loads("t_0_0_0"), "UTF-8") == "0123456789\n")
  }

  test("post retries up to maxRetries then succeeds; counts attempts") {
    val tr = new RecordingTransport(failFirst = 2)
    val buf = new Buffer(cfg, tr, "0_0")
    buf.add("payload")
    buf.flush()
    assert(tr.loads.size == 1 && buf.attempts == 3) // 2 failures + 1 ok
  }

  test("post gives up after maxRetries+1 attempts and throws") {
    val tr = new RecordingTransport(failFirst = 99)
    val buf = new Buffer(cfg.copy(maxRetries = 3), tr, "0_0")
    buf.add("payload")
    val e = intercept[java.io.IOException](buf.flush())
    assert(e.getMessage.contains("after 4 attempts") && tr.puts == 4)
  }

  test("replayed batch regenerates identical labels; FileTransport dedupes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("slload").toString
    val tr = new FileTransport(dir)
    val df = Seq("r1", "r2", "r3", "r4").toDF("value").repartition(2)
    writeBatch(df, batchId = 7L, cfg, tr)
    val files1 = new java.io.File(dir).listFiles().map(_.getName).sorted.toSeq
    val lines1 = files1.flatMap(f =>
      scala.io.Source.fromFile(s"$dir/$f").getLines().toSeq).sorted
    writeBatch(df, batchId = 7L, cfg, tr) // at-least-once replay
    val files2 = new java.io.File(dir).listFiles().map(_.getName).sorted.toSeq
    val lines2 = files2.flatMap(f =>
      scala.io.Source.fromFile(s"$dir/$f").getLines().toSeq).sorted
    assert(files2 == files1, "replay must not mint new labels")
    assert(lines2 == lines1 && lines1 == Seq("r1", "r2", "r3", "r4"),
      "replay must not duplicate rows")
  }

  /** FileTransport with a concurrent winner injected into the race
    * window: the target file appears AFTER the existence check but
    * BEFORE the atomic publish — the speculative-execution
    * interleaving the create-new publish must survive.
    */
  private def racingTransport(dir: String, winner: Array[Byte]) =
    new FileTransport(dir) {
      override protected def beforePublish(target: java.io.File): Unit =
        if (!target.exists())
          java.nio.file.Files.write(target.toPath, winner)
    }

  test("losing concurrent attempt must not clobber the winner's payload") {
    val dir = java.nio.file.Files.createTempDirectory("slrace").toString
    val winner = "winner\n".getBytes("UTF-8")
    // identical replay: loser's publish fails (file exists), digest
    // check matches → acknowledged as dedupe, file untouched
    val tr = racingTransport(dir, winner)
    assert(tr.put("lbl", winner, Map.empty))
    val f = new java.io.File(dir, "lbl.jsonl")
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(f.toPath), winner),
      "winner's payload must survive the losing attempt")
    // no leaked temp files from the losing attempt
    assert(new java.io.File(dir).listFiles().map(_.getName).toSet == Set("lbl.jsonl"))
  }

  test("losing concurrent attempt with DIVERGENT payload fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("slrace2").toString
    val winner = "winner\n".getBytes("UTF-8")
    val tr = racingTransport(dir, winner)
    val e = intercept[IllegalStateException](
      tr.put("lbl", "loser\n".getBytes("UTF-8"), Map.empty))
    assert(e.getMessage.contains("diverged"))
    val f = new java.io.File(dir, "lbl.jsonl")
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(f.toPath), winner),
      "divergent loser must neither clobber nor merge")
  }

  test("streaming e2e: dorisJsonLines through foreachBatch + writeBatch, exactly once") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("slstream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("slckpt").toString
    val frames = FrameGenerator.frames(streams = 2, fps = 5, durationSec = 400)
    val (b1, b2) = frames.partition(
      _.timestamp < FrameGenerator.BASE_TS + 200000)
    val mem = MemoryStream[VideoFrame](spark)
    val q = VideoPipeline.dorisJsonLines(
        VideoPipeline.process(mem.toDS(), EngineConfig()))
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, cfg, new FileTransport(dir))
      }
      .start()
    mem.addData(b1)
    q.processAllAvailable()
    mem.addData(b2)
    q.processAllAvailable()
    q.stop()
    val got = new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.endsWith(".jsonl"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq)
      .sorted
    val expected = VideoPipeline.dorisJsonLines(
        VideoPipeline.process(spark.createDataset(frames.toIndexedSeq),
          EngineConfig()))
      .collect().map(_.getString(0)).toSeq.sorted
    assert(got.nonEmpty && got == expected,
      s"stream-load lines (${got.size}) must equal batch wire (${expected.size})")
  }
}
