package graft

import graft.model._
import graft.sources.FrameCodec
import graft.streaming.{FrameGenerator, VideoPipeline}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{MapGroupsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.operators.stateful.StatefulOperator
import org.apache.spark.sql.execution.streaming.operators.stateful.flatmapgroupswithstate.FlatMapGroupsWithStateExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite

/** Stateful-core semantics (pure fold + streaming e2e): segment
  * boundary at exactly segmentDuration (ref VideoSegmentBuffer.java:48-53),
  * keyframe time + scene rules (KeyFrameExtractor.java:57-78),
  * every stateful run checked against the pure fold, and the JSON
  * wire codec round-trip.
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

  /** Asserts `got` holds exactly the events of the pure fold run per
    * stream over all of `frames` on the driver, each once. `inOrder`
    * also asserts each stream's events come in fold order.
    */
  private def assertPureFold(got: Seq[PipelineEvent], frames: Seq[VideoFrame],
      inOrder: Boolean = false): Unit = {
    def norm(es: Seq[PipelineEvent]) =
      if (inOrder) es else es.sortBy(e => (e.timestamp, e.kind, e.frameId))
    val sids = frames.map(_.streamId).distinct
    val byStream = got.groupBy(_.streamId)
    assert(byStream.keySet === sids.toSet)
    for (sid <- sids) {
      val expected = VideoPipeline.processFrames(sid,
        frames.filter(_.streamId == sid), VideoPipeline.initialState, cfg,
        VideoPipeline.defaultDetector(cfg))._1
      assert(norm(byStream(sid)) === norm(expected), s"stream $sid")
    }
    assert(got.exists(_.kind == "segment"))
  }

  test("batch process() equals the pure fold per key") {
    import spark.implicits._
    val frames = FrameGenerator.frames(streams = 2, fps = 5, durationSec = 500)
    val ds = spark.createDataset(scala.util.Random.shuffle(frames)) // order-independence
    // events within a key are emitted in fold order
    assertPureFold(VideoPipeline.process(ds, cfg).collect().toSeq, frames,
      inOrder = true)
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
    // the batch boundary falls between frames in time order, so state
    // carries exactly as in one fold over all frames
    assertPureFold(streamed.toSeq, frames)
  }

  test("process plans one flatMapGroupsWithState over one hash exchange on streamId") {
    import spark.implicits._
    // `fold`: batch plans the operator as a stateless MapGroupsExec
    def assertShape(plan: SparkPlan, fold: Class[_]): Unit = {
      val p = plan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case other => other
      }
      val folds = p.collect { case n if fold.isInstance(n) => n }
      val grouped = p.collect { case n @ (_: MapGroupsExec | _: StatefulOperator) => n }
      val exchanges = p.collect { case e: ShuffleExchangeExec => e }
      assert(folds.size === 1 && grouped === folds && exchanges.size === 1,
        p.treeString)
      assert(folds.head.find(_ eq exchanges.head).nonEmpty, p.treeString)
      exchanges.head.outputPartitioning match {
        case h: HashPartitioning =>
          assert(h.expressions.collect { case a: Attribute => a.name } === Seq("streamId"))
        case other => fail(s"exchange is not hashed on streamId: $other")
      }
    }
    val frames = FrameGenerator.frames(streams = 2, fps = 1, durationSec = 2)
    assertShape(VideoPipeline.process(spark.createDataset(frames), cfg)
      .queryExecution.executedPlan, classOf[MapGroupsExec])
    val mem = MemoryStream[VideoFrame](spark)
    val q = VideoPipeline.process(mem.toDS(), cfg).writeStream
      .format("memory").queryName("plan_shape").outputMode("append").start()
    try {
      mem.addData(frames); q.processAllAvailable()
      assertShape(q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan, classOf[FlatMapGroupsWithStateExec])
    } finally q.stop()
  }

  /** A session on the RocksDB state store provider (session-level conf). */
  private def rocksDb: SparkSession = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s2
  }

  /** Streams the first half of a two-camera file source through `first`,
    * stops the query ("kill" mid-stream), and resumes from the same
    * checkpoint with `process` on the second half. Both runs' events
    * must equal the pure fold over all frames: no duplicates, no loss,
    * and segments spanning the restart prove the state carried.
    */
  private def assertResumes(session: SparkSession,
      first: Dataset[VideoFrame] => Dataset[PipelineEvent] =
        VideoPipeline.process(_, cfg)): Unit = {
    import session.implicits._
    implicit val s: SparkSession = session
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    new java.io.File(inDir).mkdirs()

    val frames = FrameGenerator.frames(streams = 2, fps = 5, durationSec = 500)
    val (b1, b2) = frames.partition(_.timestamp < FrameGenerator.BASE_TS + 250000)
    def writeBatch(fs: Seq[VideoFrame]): Unit =
      FrameCodec.encode(session.createDataset(fs)).select("value")
        .coalesce(1).write.mode("append").text(inDir)

    def startQuery(op: Dataset[VideoFrame] => Dataset[PipelineEvent]) = {
      val src = FrameCodec.decode(
        session.readStream.text(inDir).select($"value".cast("binary").as("value")))
      op(src).writeStream
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir)
        .outputMode("append").start()
    }

    writeBatch(b1)
    val q1 = startQuery(first)
    q1.processAllAvailable(); q1.stop()
    writeBatch(b2)
    // fresh query, same checkpoint → state restored
    val q2 = startQuery(VideoPipeline.process(_, cfg))
    q2.processAllAvailable(); q2.stop()
    assertPureFold(session.read.parquet(outDir).as[PipelineEvent].collect().toSeq,
      frames)
  }

  test("RocksDB checkpoint recovery: kill mid-stream, resume equals the pure fold") {
    // The reference's exactly-once state contract
    // (VideoProcessFunction.java:154-191) on the provider the backfill
    // runs: open-segment state carries through the checkpoint.
    assertResumes(rocksDb)
  }

  test("process resumes a checkpoint written by the groupByKey(_.streamId) shape") {
    // Checkpoints written while the fold keyed with a typed function
    // (an AppendColumns key column) must resume under the column-keyed
    // shape: same exchange, same key hash, same key and state encoding.
    // locals, so the closure does not capture the (unserializable) spec
    val (c, det) = (cfg, VideoPipeline.defaultDetector(cfg))
    assertResumes(rocksDb, { frames =>
      import frames.sparkSession.implicits._
      frames.groupByKey(_.streamId).flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(VideoPipeline.groupFn(c, det))
    })
  }

  test("state holds one row per stream, not per frame, on both state stores") {
    // The fold keeps only StreamState per key (open segments are
    // summaries, not buffered frames), so state is O(streams) however
    // many frames and micro-batches went through.
    val streams = 3
    val frames = FrameGenerator.frames(streams = streams, fps = 5, durationSec = 180)
    val batches = frames.groupBy(f => (f.timestamp - FrameGenerator.BASE_TS) / 60000)
      .toSeq.sortBy(_._1).map(_._2)
    assert(batches.size == 3)
    def rowsAfterBatches(session: SparkSession): Long = {
      import session.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft_state_rows_").toString
      val mem = MemoryStream[VideoFrame](session)
      val q = VideoPipeline.runStreaming(mem.toDS(), s"$base/out", s"$base/ckpt", cfg)
      try {
        batches.foreach { b => mem.addData(b); q.processAllAvailable() }
        q.lastProgress.stateOperators(0).numRowsTotal
      } finally q.stop()
    }
    assert(rowsAfterBatches(spark) === streams)
    assert(rowsAfterBatches(rocksDb) === streams)
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
    assertResumes(spark)
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
