package graft

import graft.model._
import graft.sources.FrameCodec
import graft.streaming.{FrameGenerator, VideoPipeline}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, TimeMode}
import org.scalatest.funsuite.AnyFunSuite

/** Stateful-core semantics (pure fold + streaming e2e): segment
  * boundary at exactly segmentDuration (ref VideoSegmentBuffer.java:48-53),
  * keyframe time + scene rules (KeyFrameExtractor.java:57-78),
  * batch/stream equivalence, and the JSON wire codec round-trip.
  */
class VideoPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val cfg = EngineConfig()

  private def frame(sid: String, id: Long, ts: Long,
      scene: Int = 0): VideoFrame =
    VideoFrame(sid, id, ts, FrameGenerator.frameBytes(id, scene), id.toInt,
      FrameMetadata(1920, 1080, 25, "jpeg"))

  private def fold(frames: Seq[VideoFrame]) =
    VideoPipeline.processFrames("s1", frames, VideoPipeline.initialState,
      cfg, VideoPipeline.defaultDetector(cfg))

  test("segment flushes at exactly segmentDuration, including the trigger frame") {
    val t0 = 1700000000000L
    val frames = Seq(
      frame("s1", 0, t0),
      frame("s1", 1, t0 + 100000),
      frame("s1", 2, t0 + 179999), // span 179999 < 180000 → no flush
      frame("s1", 3, t0 + 180000), // span exactly 180000 → flush NOW
      frame("s1", 4, t0 + 180001))
    val (events, st) = fold(frames)
    val segs = events.filter(_.kind == "segment").flatMap(_.segment)
    assert(segs.length === 1)
    val s = segs.head
    assert(s.startTime === t0)
    assert(s.endTime === t0 + 180000) // trigger frame included
    assert(s.frameCount === 4)
    assert(s.duration === 180000L)
    // frame 4 opens the next segment
    assert(st.segStart === t0 + 180001)
    assert(st.segFrames === 1)
  }

  test("segment path follows the OSS key scheme") {
    assert(VideoPipeline.segmentPath("camera_001", 1700000000000L) ===
      "videos/camera_001/20231114/22/camera_001_1700000000000.mp4")
  }

  test("keyframe time rule: first frame keys, then every >= minInterval") {
    val t0 = 1700000000000L
    // identical payloads (scene 0) → similarity 1.0 → scene rule never fires
    val frames = (0 until 12).map(i => frame("s1", i, t0 + i * 1000, 0)
      .copy(frameData = FrameGenerator.frameBytes(99, 0))) // same bytes
    val (events, st) = fold(frames)
    val keyTs = events.filter(_.kind == "detection").map(_.timestamp)
    // first frame: ts - 0 >= 5000 → key; then every 5 s
    assert(keyTs === Seq(t0, t0 + 5000, t0 + 10000))
    assert(st.keyFrames === 3 && st.totalFrames === 12)
  }

  test("scene-change rule fires on payload distribution shift") {
    val t0 = 1700000000000L
    val frames = Seq(
      frame("s1", 0, t0, 0), // key (time rule)
      frame("s1", 1, t0 + 1000, 0), // same scene → not key
      frame("s1", 2, t0 + 2000, 3)) // scene shift → key (scene rule)
    val sim = VideoPipeline.similarity(
      VideoPipeline.signature(frames(1).frameData),
      VideoPipeline.signature(frames(2).frameData))
    assert(sim < cfg.similarityThreshold, s"fixture must shift scene (sim=$sim)")
    val (events, _) = fold(frames)
    val keyIds = events.filter(_.kind == "detection").map(_.frameId)
    assert(keyIds === Seq(0L, 2L))
  }

  test("segments partition the stream: frame counts add up per key") {
    val frames = FrameGenerator.frames(streams = 1, fps = 5, durationSec = 600)
    val (events, st) = fold(frames)
    val segs = events.filter(_.kind == "segment").flatMap(_.segment)
    assert(segs.nonEmpty)
    assert(segs.map(_.frameCount).sum + st.segFrames === frames.length)
    // segments are disjoint and ordered
    segs.sliding(2).foreach {
      case Seq(a, b) => assert(a.endTime < b.startTime)
      case _ =>
    }
  }

  test("property: random streams — segment partition + time-rule gap invariants") {
    // arbitrary (seeded) frame cadence: segments always partition the
    // stream, never under-run the duration, and never overlap
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 20) {
      val n = 50 + rnd.nextInt(300)
      var ts = 1700000000000L
      val frames = (0 until n).map { i =>
        ts += 1 + rnd.nextInt(20000).toLong
        frame("s1", i, ts, rnd.nextInt(4))
      }
      val (events, st) = fold(frames)
      val segs = events.filter(_.kind == "segment").flatMap(_.segment)
      assert(segs.map(_.frameCount).sum + st.segFrames === n)
      segs.foreach(s => assert(s.duration >= cfg.segmentDurationMs))
      segs.sliding(2).foreach {
        case Seq(a, b) => assert(a.endTime < b.startTime)
        case _ =>
      }
    }
    // constant payload → similarity 1.0 → pure time rule: consecutive
    // keyframe gaps are never below the configured interval
    val still = FrameGenerator.frameBytes(7, 0)
    for (trial <- 0 until 10) {
      val rnd2 = new scala.util.Random(100 + trial)
      var ts = 1700000000000L
      val frames = (0 until 200).map { i =>
        ts += 1 + rnd2.nextInt(3000).toLong
        frame("s1", i, ts).copy(frameData = still)
      }
      val keyTs = fold(frames)._1.filter(_.kind == "detection").map(_.timestamp)
      assert(keyTs.nonEmpty)
      keyTs.sliding(2).foreach {
        case Seq(a, b) => assert(b - a >= cfg.keyframeMinIntervalMs)
        case _ =>
      }
    }
  }

  test("batch process() equals the pure fold per key") {
    import spark.implicits._
    val frames = FrameGenerator.frames(streams = 2, fps = 5, durationSec = 500)
    val ds = spark.createDataset(scala.util.Random.shuffle(frames)) // order-independence
    val got = VideoPipeline.process(ds, cfg).collect()
      .groupBy(_.streamId).view.mapValues(_.toSeq).toMap
    for (sid <- frames.map(_.streamId).distinct) {
      val expected = VideoPipeline.processFrames(sid,
        frames.filter(_.streamId == sid), VideoPipeline.initialState, cfg,
        VideoPipeline.defaultDetector(cfg))._1
      // events within a key are emitted in fold order
      assert(got(sid) === expected, s"stream $sid")
    }
  }

  test("streaming e2e (MemoryStream, 2 batches) matches single-batch run") {
    import spark.implicits._
    val frames = FrameGenerator.frames(streams = 2, fps = 5, durationSec = 500)
    val (b1, b2) = frames.partition(_.timestamp < FrameGenerator.BASE_TS + 250000)

    val mem = MemoryStream[VideoFrame](spark)
    val q = VideoPipeline.process(mem.toDS(), cfg).writeStream
      .format("memory").queryName("pipe_out").outputMode("append").start()
    mem.addData(b1)
    q.processAllAvailable()
    mem.addData(b2)
    q.processAllAvailable()
    val streamed = spark.table("pipe_out").as[PipelineEvent].collect()
    q.stop()

    val batch = VideoPipeline.process(spark.createDataset(frames), cfg).collect()
    // same event multiset (batch boundaries fall between frames in time
    // order here, so state carries identically)
    def key(e: PipelineEvent) = (e.kind, e.streamId, e.frameId, e.timestamp,
      e.detections.map(_.objectClass).mkString(","),
      e.segment.map(_.startTime).getOrElse(-1L)).toString
    assert(streamed.map(key).sorted.toSeq === batch.map(key).sorted.toSeq)
    assert(streamed.count(_.kind == "segment") > 0)
  }

  test("transformWithState path matches flatMapGroupsWithState across batches") {
    // dedicated session (shared context): TWS requires the RocksDB
    // state store provider, a session-level conf
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    locally {
      import s2.implicits._
      val frames = FrameGenerator.frames(streams = 2, fps = 5, durationSec = 500)
      val (b1, b2) = frames.partition(_.timestamp < FrameGenerator.BASE_TS + 250000)
      val mem = MemoryStream[VideoFrame](s2)
      val q = VideoPipeline.processTWS(mem.toDS(), cfg).writeStream
        .format("memory").queryName("tws_out").outputMode("append").start()
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      val streamed = s2.table("tws_out").as[PipelineEvent].collect()
      q.stop()
      val batch = VideoPipeline.process(s2.createDataset(frames), cfg).collect()
      def key(e: PipelineEvent) = (e.kind, e.streamId, e.frameId, e.timestamp,
        e.detections.map(_.objectClass).mkString(","),
        e.segment.map(_.startTime).getOrElse(-1L)).toString
      assert(streamed.map(key).sorted.toSeq === batch.map(key).sorted.toSeq)
      assert(streamed.count(_.kind == "segment") > 0)
    }
  }

  /** Runs the first half of a two-camera stream through `first`, stops
    * the query, and resumes from the same RocksDB checkpoint with
    * `processTWS` on the second half. Returns the events of both runs
    * and those of one uninterrupted batch run, as comparable keys.
    */
  private def twsResume(first: Dataset[VideoFrame] => Dataset[PipelineEvent])
      : (Seq[String], Seq[String]) = {
    // Dedicated session: the provider class is session-level conf.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val s: SparkSession = s2
    val base = java.nio.file.Files.createTempDirectory("graft_tws_ckpt_").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    new java.io.File(inDir).mkdirs()

    val frames = FrameGenerator.frames(streams = 2, fps = 5, durationSec = 500)
    val (b1, b2) = frames.partition(_.timestamp < FrameGenerator.BASE_TS + 250000)
    def writeBatch(fs: Seq[VideoFrame]): Unit =
      FrameCodec.encode(s2.createDataset(fs)).select("value")
        .coalesce(1).write.mode("append").text(inDir)

    def startQuery(op: Dataset[VideoFrame] => Dataset[PipelineEvent]) = {
      val src = FrameCodec.decode(
        s2.readStream.text(inDir).select($"value".cast("binary").as("value")))
      op(src).writeStream
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir)
        .outputMode("append").start()
    }

    writeBatch(b1)
    val q1 = startQuery(first)
    q1.processAllAvailable(); q1.stop() // "kill" mid-stream
    writeBatch(b2)
    // fresh query, same checkpoint → state restored
    val q2 = startQuery(VideoPipeline.processTWS(_, cfg))
    q2.processAllAvailable(); q2.stop()

    val got = s2.read.parquet(outDir).as[PipelineEvent].collect()
    val batch = VideoPipeline.process(s2.createDataset(frames), cfg).collect()
    assert(got.count(_.kind == "segment") > 0)
    def key(e: PipelineEvent) = (e.kind, e.streamId, e.frameId, e.timestamp,
      e.detections.map(_.objectClass).mkString(","),
      e.segment.map(_.startTime).getOrElse(-1L)).toString
    (got.map(key).sorted.toSeq, batch.map(key).sorted.toSeq)
  }

  test("transformWithState checkpoint recovery: kill mid-stream, resume equals uninterrupted run") {
    // The Spark-4 StatefulProcessor path (SURVEY §2 row D's stated
    // target) must restore its ValueState from the RocksDB-provider
    // checkpoint across a query restart — the reference's exactly-once
    // state contract (VideoProcessFunction.java:154-191). Open-segment
    // buffers carry through the checkpoint, no duplicates, no loss.
    val (got, expected) = twsResume(VideoPipeline.processTWS(_, cfg))
    assert(got === expected)
  }

  test("transformWithState resumes a checkpoint written by the groupByKey(_.streamId) shape") {
    // Checkpoints written while processTWS keyed with a typed function
    // (an AppendColumns key column) must resume under the column-keyed
    // shape: same exchange, same key hash, same key and state encoding.
    val (got, expected) = twsResume { frames =>
      import frames.sparkSession.implicits._
      frames.groupByKey(_.streamId).transformWithState(
        new VideoPipeline.VideoStatefulProcessor(cfg,
          VideoPipeline.defaultDetector(cfg)),
        TimeMode.None(), OutputMode.Append())
    }
    assert(got === expected)
  }

  test("state holds one row per stream, not per frame, on both stateful paths") {
    // The fold keeps only StreamState per key (open segments are
    // summaries, not buffered frames), so state is O(streams) however
    // many frames and micro-batches went through.
    val streams = 3
    val frames = FrameGenerator.frames(streams = streams, fps = 5, durationSec = 180)
    val batches = frames.groupBy(f => (f.timestamp - FrameGenerator.BASE_TS) / 60000)
      .toSeq.sortBy(_._1).map(_._2)
    assert(batches.size == 3)
    def rowsAfterBatches(mem: MemoryStream[VideoFrame], q: StreamingQuery): Long =
      try {
        batches.foreach { b => mem.addData(b); q.processAllAvailable() }
        q.lastProgress.stateOperators(0).numRowsTotal
      } finally q.stop()

    val base = java.nio.file.Files.createTempDirectory("graft_state_rows_").toString
    val viaRunStreaming = {
      import spark.implicits._
      val mem = MemoryStream[VideoFrame](spark)
      rowsAfterBatches(mem, VideoPipeline.runStreaming(mem.toDS(),
        s"$base/out", s"$base/ckpt", cfg))
    }
    // Dedicated session: the provider class is session-level conf.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val viaTWS = {
      import s2.implicits._
      val mem = MemoryStream[VideoFrame](s2)
      rowsAfterBatches(mem, VideoPipeline.processTWS(mem.toDS(), cfg).writeStream
        .format("memory").queryName("tws_state_rows").outputMode("append").start())
    }
    assert(viaRunStreaming === streams)
    assert(viaTWS === streams)
  }

  test("signature counts in ints yet stays bit-identical to the summing loop") {
    // Reference: += 1.0 per byte, then divide each bin. Summing 1.0 n
    // times is exact for n < 2^53, so both agree to the bit.
    def summingLoop(bytes: Array[Byte]): Array[Double] = {
      val h = new Array[Double](32)
      if (bytes == null || bytes.isEmpty) return h
      var i = 0
      while (i < bytes.length) { h((bytes(i) & 0xff) >> 3) += 1.0; i += 1 }
      var j = 0
      while (j < 32) { h(j) /= bytes.length; j += 1 }
      h
    }
    def bits(h: Array[Double]) = h.toSeq.map(java.lang.Double.doubleToRawLongBits)
    val rnd = new scala.util.Random(7)
    val payloads = Seq[Array[Byte]](null, Array.emptyByteArray,
      FrameGenerator.frameBytes(3, 1)) ++
      Seq(1, 2, 3, 31, 1000, 16384, 100003).map { n =>
        val b = new Array[Byte](n); rnd.nextBytes(b); b
      }
    for (p <- payloads)
      assert(bits(VideoPipeline.signature(p)) === bits(summingLoop(p)),
        s"payload of ${Option(p).map(_.length)} bytes")
  }

  test("watermarked segment summaries: windows close in append mode, late frames drop") {
    import spark.implicits._
    val t0 = FrameGenerator.BASE_TS
    def f(id: Long, ts: Long) = frame("s1", id, ts)
    val mem = MemoryStream[VideoFrame](spark)
    val q = VideoPipeline.segmentSummaries(mem.toDS(), "30 seconds")
      .writeStream.format("memory").queryName("seg_sum")
      .outputMode("append").start()
    // batch 1: two frames in window [t0, t0+180s)
    mem.addData(Seq(f(0, t0), f(1, t0 + 60000)))
    q.processAllAvailable()
    // batch 2: advance event time past window end + lateness → closes w0
    mem.addData(Seq(f(2, t0 + 180000 + 31000)))
    q.processAllAvailable()
    // batch 3: a LATE frame for the closed window — must be dropped
    mem.addData(Seq(f(3, t0 + 1000)))
    q.processAllAvailable()
    // batch 4: advance far enough to close the second window too
    mem.addData(Seq(f(4, t0 + 2 * 180000 + 31000)))
    q.processAllAvailable()
    val rows = spark.table("seg_sum").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toMap // window_start → count
    q.stop()
    val w0 = t0 / 180000 * 180000
    val w1 = (t0 + 211000) / 180000 * 180000
    assert(rows(w0) === 2L,
      s"first window has exactly the 2 on-time frames (late frame dropped): $rows")
    assert(rows(w1) === 1L, s"second window closed with its single frame: $rows")
  }

  test("streaming dedup drops redelivered frames within the watermark") {
    import spark.implicits._
    val t0 = FrameGenerator.BASE_TS
    val mem = MemoryStream[VideoFrame](spark)
    val q = VideoPipeline.dedupFrames(mem.toDS(), "30 seconds")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    val f1 = frame("s1", 1, t0)
    val f2 = frame("s1", 2, t0 + 1000)
    mem.addData(Seq(f1, f2, f1)) // duplicate within one batch
    q.processAllAvailable()
    mem.addData(Seq(f2, frame("s1", 3, t0 + 2000))) // redelivery across batches
    q.processAllAvailable()
    val ids = spark.table("dedup_out").select("frameId")
      .collect().map(_.getLong(0)).sorted
    q.stop()
    assert(ids.toSeq === Seq(1L, 2L, 3L))
  }

  test("runStreaming writes both sinks from one stateful pass") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_dual_").toString
    val mem = MemoryStream[VideoFrame](spark)
    val q = VideoPipeline.runStreaming(mem.toDS(), s"$base/out",
      s"$base/ckpt", cfg)
    mem.addData(FrameGenerator.frames(streams = 2, fps = 5, durationSec = 400))
    q.processAllAvailable()
    q.stop()
    val dets = spark.read.parquet(s"$base/out/detections")
    val segs = spark.read.parquet(s"$base/out/segments")
    assert(dets.count() > 0 && segs.count() > 0)
    assert(dets.columns.contains("object_class") &&
      segs.columns.contains("start_time"))
  }

  test("sink writes are idempotent under same-batchId replay") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_idem_").toString
    val events = VideoPipeline.process(spark.createDataset(
      FrameGenerator.frames(streams = 2, fps = 5, durationSec = 400)), cfg)
    VideoPipeline.writeEventBatch(events, batchId = 0L, s"$base/out")
    val dets1 = spark.read.parquet(s"$base/out/detections").count()
    val segs1 = spark.read.parquet(s"$base/out/segments").count()
    assert(dets1 > 0 && segs1 > 0)
    // at-least-once replay: same batchId, same data → no duplicates
    VideoPipeline.writeEventBatch(events, batchId = 0L, s"$base/out")
    assert(spark.read.parquet(s"$base/out/detections").count() === dets1)
    assert(spark.read.parquet(s"$base/out/segments").count() === segs1)
    // a NEW batch still appends (overwrite is per-partition, not global)
    VideoPipeline.writeEventBatch(events, batchId = 1L, s"$base/out")
    assert(spark.read.parquet(s"$base/out/detections").count() === 2 * dets1)
    assert(spark.read.parquet(s"$base/out/segments").count() === 2 * segs1)
  }

  test("replayed micro-batch after commit loss does not duplicate sink rows") {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val base = java.nio.file.Files.createTempDirectory("graft_replay_").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    new java.io.File(inDir).mkdirs()
    val frames = FrameGenerator.frames(streams = 2, fps = 5, durationSec = 400)
    FrameCodec.encode(spark.createDataset(frames)).select("value")
      .coalesce(1).write.mode("append").text(inDir)

    def startQuery() = {
      val src = FrameCodec.decode(
        spark.readStream.text(inDir).select($"value".cast("binary").as("value")))
      VideoPipeline.runStreaming(src, outDir, ckpt, cfg)
    }
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    val dets1 = spark.read.parquet(s"$outDir/detections").count()
    val segs1 = spark.read.parquet(s"$outDir/segments").count()
    assert(dets1 > 0 && segs1 > 0)

    // simulate a crash AFTER the sink write but BEFORE the checkpoint
    // commit: delete the latest commit marker → the restarted query
    // re-executes that batchId with the same source data
    val commitDir = new java.io.File(s"$ckpt/commits")
    val commits = commitDir.listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    val last = commits.last.getName
    assert(commits.last.delete())
    // also drop the Hadoop local-FS checksum sidecar, or the replayed
    // commit's rename collides with the stale .crc
    val crc = new java.io.File(commitDir, s".$last.crc")
    if (crc.exists()) crc.delete()

    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(s"$outDir/detections").count() === dets1,
      "replayed batch duplicated detection rows")
    assert(spark.read.parquet(s"$outDir/segments").count() === segs1,
      "replayed batch duplicated segment rows")
  }

  test("checkpoint recovery: state survives a query restart (file source)") {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    new java.io.File(inDir).mkdirs()

    val frames = FrameGenerator.frames(streams = 2, fps = 5, durationSec = 500)
    val (b1, b2) = frames.partition(_.timestamp < FrameGenerator.BASE_TS + 250000)
    def writeBatch(fs: Seq[VideoFrame], name: String): Unit =
      FrameCodec.encode(spark.createDataset(fs)).select("value")
        .coalesce(1).write.mode("append").text(inDir)

    def startQuery() = {
      val src = FrameCodec.decode(
        spark.readStream.text(inDir).select($"value".cast("binary").as("value")))
      VideoPipeline.process(src, cfg).writeStream
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir)
        .outputMode("append").start()
    }

    writeBatch(b1, "b1")
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    writeBatch(b2, "b2")
    val q2 = startQuery() // fresh query, same checkpoint → state restored
    q2.processAllAvailable(); q2.stop()

    val got = spark.read.parquet(outDir).as[PipelineEvent].collect()
    val batch = VideoPipeline.process(spark.createDataset(frames), cfg).collect()
    def key(e: PipelineEvent) = (e.kind, e.streamId, e.frameId, e.timestamp,
      e.detections.map(_.objectClass).mkString(","),
      e.segment.map(_.startTime).getOrElse(-1L)).toString
    // exactly-once across the restart: no duplicates, no loss, and
    // segments spanning the restart boundary prove state continuity
    assert(got.map(key).sorted.toSeq === batch.map(key).sorted.toSeq)
    assert(got.count(_.kind == "segment") > 0)
  }

  test("frame codec round-trip preserves frames byte-for-byte") {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val frames = FrameGenerator.frames(streams = 1, fps = 5, durationSec = 2)
    val wire = FrameCodec.encode(spark.createDataset(frames))
      .select($"value".cast("binary").as("value"))
    val decoded = FrameCodec.decode(wire).collect()
    assert(decoded.length === frames.length)
    val byId = decoded.map(f => f.frameId -> f).toMap
    for (f <- frames) {
      val d = byId(f.frameId)
      assert(d.streamId === f.streamId)
      assert(d.timestamp === f.timestamp)
      assert(d.frameData.toSeq === f.frameData.toSeq)
      assert(d.metadata === f.metadata)
    }
  }

  test("doris json lines carry exactly the reference sink's field names") {
    import spark.implicits._
    val events = Seq(PipelineEvent("detection", "s1", 2L, 1700000000000L,
      Seq(Detection("car", 0.9f, BoundingBox(1, 2, 3, 4))), None))
    val line = VideoPipeline.dorisJsonLines(spark.createDataset(events))
      .collect().head.getString(0)
    // field names per sink/DorisSinkBuilder.java:109-120
    val parsed = spark.read.json(Seq(line).toDS()).columns.toSet
    assert(parsed === Set("stream_id", "detection_time", "frame_id",
      "object_class", "confidence", "bbox_x1", "bbox_y1", "bbox_x2",
      "bbox_y2", "frame_url"))
  }

  test("salted join equals plain join on skewed data") {
    import graft.operators.Skew
    import spark.implicits._
    // 90% of rows share one hot key
    val big = (0 until 2000).map(i =>
      (if (i % 10 == 0) s"user_${i % 7}" else "hot_user", i.toLong))
      .toDF("user_id", "event_id")
    val small = big.groupBy("user_id").count()
    val salted = Skew.saltedJoin(big, small, "user_id", 8)
      .select("user_id", "event_id", "count")
      .collect().map(_.toSeq).sortBy(_.toString())
    val plain = big.join(small, "user_id")
      .select("user_id", "event_id", "count")
      .collect().map(_.toSeq).sortBy(_.toString())
    assert(salted === plain)
  }

  test("doris rows: empty-detection results produce no rows") {
    import spark.implicits._
    val events = Seq(
      PipelineEvent("detection", "s1", 1L, 1700000000000L, Seq.empty, None),
      PipelineEvent("detection", "s1", 2L, 1700000000000L,
        Seq(Detection("car", 0.9f, BoundingBox(1, 2, 3, 4))), None))
    val rows = VideoPipeline.dorisRows(spark.createDataset(events)).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("frame_id") === 2L)
    assert(rows.head.getAs[String]("detection_time") === "2023-11-14 22:13:20")
  }
}
