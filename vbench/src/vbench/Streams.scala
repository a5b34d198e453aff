package vbench

import graft.model.{EngineConfig, PipelineEvent, VideoFrame}
import graft.sources.FrameCodec
import graft.streaming.{StreamLoadSink, VideoPipeline}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** One streaming query's life: a MemoryStream of JSON wire messages
  * standing in for the Kafka topic, decoded by `FrameCodec.decode`, and
  * the backfill sink wiring. `dir` is fresh per phase, so no checkpoint,
  * state or output is ever resumed.
  */
final class Phase(val q: StreamingQuery, val mem: MemoryStream[Array[Byte]],
    val dir: String, val tag: String) {
  def out: String = s"$dir/out"
  def addData(msgs: Array[Array[Byte]]): Long =
    mem.addData(msgs.toSeq).json().trim.toLong
}

/** What one timed window measured. CPU seconds are the process's,
  * outside the JIT compiler, per chunk.
  */
final case class Window(
    batches: Seq[StreamingQueryProgress], // batches that read timed input
    latenciesMs: Seq[Double],
    frames: Long,
    seconds: Double, // busy time the frames took
    chunkCpuS: Seq[Double],
    chunkJitS: Seq[Double],
    seqEnd: Int) // frames of every camera up to this seq were sent

/** Closed loop: archived footage replayed chunk by chunk as fast as the
  * engine takes it, through `processTWS` on the RocksDB state store;
  * detections go out as Stream-Load JSON lines, segments as parquet.
  */
object Backfill {
  val cfg = EngineConfig()
  val sh = Shape(cameras = 16, fps = 2, bytes = 16384, sceneEvery = 8)
  /** Frames per camera fed in the one micro-batch of a set-up, so the
    * query has planned, generated its code and opened its state store.
    */
  val SetupSeqs = 8
  val ChunkSeqs = 125 // frames per camera per chunk: 2000-frame chunks
  /** Chunks fed before the timed ones of an untimed run, so the JIT has
    * compiled the per-frame path, and timed chunks at least: the median
    * of a run rests on this many.
    */
  val WarmupChunks = 2
  val MinChunks = 7
  val slcfg = StreamLoadSink.StreamLoadConfig(labelPrefix = "vbench")

  private var phaseNo = 0

  /** Starts a fresh query and feeds it its set-up frames; spans of batch
    * `b` hang under `addBatch@<tag>/<b>`.
    */
  def start(spark: SparkSession, work: String, seed: Long, traced: Boolean): Phase = {
    import spark.implicits._
    phaseNo += 1
    val tag = s"p$phaseNo"
    val dir = s"$work/$tag"
    val mem = MemoryStream[Array[Byte]](spark)
    val frames = FrameCodec.decode(mem.toDF())(spark)
    val ph = new Phase(wire(frames, dir, tag, traced), mem, dir, tag)
    ph.addData(Frames.wireChunk(seed, sh, 0, SetupSeqs))
    ph.q.processAllAvailable()
    ph
  }

  def wire(frames: Dataset[VideoFrame], dir: String, tag: String,
      traced: Boolean): StreamingQuery = {
    val det = if (traced) Counters.countingDetector(VideoPipeline.defaultDetector(cfg)) else null
    val file = new StreamLoadSink.FileTransport(s"$dir/streamload")
    val transport = if (traced) new TimingTransport(file) else file
    VideoPipeline.processTWS(frames, cfg, det).writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: Dataset[PipelineEvent], batchId: Long) =>
        def span(name: String, id: String = null)(body: => Unit): Unit =
          if (traced) Trace.span(name, s"addBatch@$tag/$batchId", batchId.toString, id)(body)
          else body
        val cached = batch.persist()
        span("streamload.writeBatch", s"streamload.writeBatch@$batchId") {
          StreamLoadSink.writeBatch(VideoPipeline.dorisJsonLines(cached), batchId,
            slcfg, transport)
        }
        span("writeEventBatch") {
          VideoPipeline.writeEventBatch(cached, batchId, s"$dir/out")
        }
        cached.unpersist()
        ()
      }
      .start()
  }

  def run(spark: SparkSession, work: String, seed: Long, seconds: Double,
      trace: Boolean, out: Outcome): Unit = {
    val progress = new Progress
    val layers = new Layers
    spark.streams.addListener(progress)
    spark.sparkContext.addSparkListener(layers)

    // set-up: a fresh query on a fresh checkpoint, fed its set-up
    // frames. Repeated; every phase but the one measured is stopped.
    val reps = if (trace) 1 else 3
    val setups = (1 to reps).map { r =>
      val ((ph, s), cpu, _) = Stats.cpuOf(Stats.timed(start(spark, work, seed, traced = false)))
      if (r < reps) stopChecked(ph, out)
      (ph, s, cpu)
    }
    Layers.drain(spark)
    out.mark(s"$reps set-ups done")
    // first micro-batch of a freshly started query: planning, codegen
    // and state-store start-up
    val coldMs = Stats.median(setups.map { case (p, _, _) =>
      progress.batches(p.q.id).headOption
        .map(Progress.duration(_, "triggerExecution")).getOrElse(Double.NaN)
    })
    // a traced run measures three windows (untraced, traced, untraced),
    // each a third as long, so it takes about as long as an untraced run
    val window = if (trace) seconds / 3 else seconds
    val ph = setups.last._1
    val w = measure(ph, seed, window, if (trace) 0 else MinChunks, WarmupChunks,
      progress, out)
    stopChecked(ph, out)
    out.mark(s"${w.batches.size} timed batches done")
    out.metric("setup_s", Stats.median(setups.map(_._2)))
    out.metric("cold_cpu_s", Stats.median(setups.map(_._3)))
    out.metric("warm_cpu_s", Stats.median(w.chunkCpuS))
    out.metric("cold_s", coldMs / 1000.0)
    out.metric("warm_s", Stats.median(
      w.batches.map(Progress.duration(_, "triggerExecution") / 1000.0)))
    out.metric("latency_p50_ms", Stats.median(w.latenciesMs))
    out.metric("frames_per_s", w.frames / w.seconds)
    out.metric("jvm.jit_cpu_s", Stats.median(w.chunkJitS))
    out.notes += "timed batches (rows:ms): " + w.batches.map(p =>
      s"${p.numInputRows}:${Progress.duration(p, "triggerExecution").toLong}").mkString(" ")
    out.notes += "timed chunks (work/jit cpu s): " + w.chunkCpuS.zip(w.chunkJitS)
      .map { case (c, j) => f"$c%.2f/$j%.2f" }.mkString(" ")
    if (!trace) {
      check(spark, ph, seed, w.seqEnd, out)
      out.mark("checked against the batch twin")
    } else {
      // traced phase: the same load again with every probe in place
      Trace.clear(); Counters.reset()
      val tph = start(spark, work, seed, traced = true)
      val tw = measure(tph, seed, window, 0, 0, progress, out)
      stopChecked(tph, out)
      check(spark, tph, seed, tw.seqEnd, out)
      batchLayers(tph, tw, layers, out)
      out.metric("detect.keyframe_ratio",
        Counters.detectCalls.get.toDouble / (tw.seqEnd.toLong * sh.cameras))
      sinkLayers(tph, tw, out)
      out.metric("streamload.puts", Counters.puts.size.toDouble)
      out.metric("streamload.attempts", Counters.attempts.get.toDouble)
      out.metric("streamload.put_s", Counters.putNs.get / 1e9)
      out.metric("streamload.bytes", Counters.bytes.get.toDouble)
      out.failed += Counters.failedAttempts.get
      singleThread(spark, seed, out)
      // untraced again, so the baseline brackets the traced window and
      // JIT warm-up does not pass for tracing overhead
      val ph2 = start(spark, work, seed, traced = false)
      val w2 = measure(ph2, seed, window, 0, 0, progress, out)
      stopChecked(ph2, out)
      val base = (Stats.median(w.latenciesMs) + Stats.median(w2.latenciesMs)) / 2
      out.metric("trace.overhead_pct",
        100.0 * (Stats.median(tw.latenciesMs) - base) / base)
    }
  }

  /** Adds one chunk, waits until it has committed, and repeats until
    * `seconds` of busy time have passed, at least `minChunks` chunks are
    * timed and every camera has crossed a 3-minute segment boundary. The
    * first `warmup` chunks are not timed.
    */
  def measure(ph: Phase, seed: Long, seconds: Double, minChunks: Int, warmup: Int,
      progress: Progress, out: Outcome): Window = {
    val crossSeq = (cfg.segmentDurationMs / sh.intervalMs).toInt + 1
    // a slow engine stops here; the segment check then fails the run
    val cap = System.nanoTime() + (3 * seconds * 1e9).toLong + 60000000000L
    var seq = SetupSeqs
    var n = 0
    var busy = 0.0
    val sent = Seq.newBuilder[(Long, Double)]
    val cpu = Seq.newBuilder[(Double, Double)]
    while ((n < warmup + minChunks || busy < seconds || seq <= crossSeq) &&
        System.nanoTime() < cap) {
      val msgs = Frames.wireChunk(seed, sh, seq, seq + ChunkSeqs)
      val ((off, addMs, s), work, jit) = Stats.cpuOf {
        val addMs = System.currentTimeMillis().toDouble
        val (off, s) = Stats.timed {
          val off = ph.addData(msgs)
          ph.q.processAllAvailable()
          off
        }
        (off, addMs, s)
      }
      if (n >= warmup) {
        busy += s
        sent += ((off, addMs))
        cpu += ((work, jit))
      }
      seq += ChunkSeqs; n += 1
    }
    Layers.drain(ph.q.sparkSession)
    val chunks = sent.result()
    val bs = progress.batches(ph.q.id).filter(p => Progress.offsets(p)._2 >= chunks.head._1)
    val lat = chunks.flatMap { case (off, addMs) =>
      bs.find { p => val (s, e) = Progress.offsets(p); s < off && off <= e }
        .map(Progress.endMs(_) - addMs)
    }
    out.attempted += bs.size
    if (lat.size < chunks.size)
      out.check("every timed chunk committed by a batch", ok = false,
        s"${chunks.size - lat.size} of ${chunks.size} chunks not found in progress")
    val cs = cpu.result()
    Window(bs, lat, chunks.size.toLong * ChunkSeqs * sh.cameras, busy, cs.map(_._1),
      cs.map(_._2), seq)
  }

  private def stopChecked(ph: Phase, out: Outcome): Unit = {
    val err = ph.q.exception
    ph.q.stop()
    if (err.isDefined) {
      out.failed += 1
      out.check(s"query ${ph.tag} ran", ok = false, err.get.getMessage.take(300))
    }
  }

  /** Compares the Stream-Load JSON lines, detections and segments of the
    * phase with the batch twin: `VideoPipeline.process` over the same
    * frames.
    */
  def check(spark: SparkSession, ph: Phase, seed: Long, seqEnd: Int,
      out: Outcome): Unit = {
    import spark.implicits._
    val events = VideoPipeline.process(Frames.dataset(spark, seed, sh, seqEnd), cfg).cache()
    val posted = Checks.files(s"${ph.dir}/streamload").filter(_.getName.endsWith(".jsonl"))
    out.attempted += posted.size
    val lines = posted.flatMap(f => new String(java.nio.file.Files.readAllBytes(f.toPath),
      "UTF-8").split("\n").filter(_.nonEmpty))
    Checks.sameRows(out, "backfill Stream-Load JSON lines == batch twin",
      spark.createDataset(lines.toSeq).toDF("value"), VideoPipeline.dorisJsonLines(events))
    Checks.sameRows(out, "backfill detections == batch twin",
      readParquet(spark, s"${ph.out}/detections"), VideoPipeline.dorisRows(events))
    val segs = readParquet(spark, s"${ph.out}/segments")
    Checks.sameRows(out, "backfill segments == batch twin", segs,
      VideoPipeline.segmentRows(events))
    val closed = segs.select("stream_id").distinct().count()
    out.check("backfill closes a segment per camera", closed == sh.cameras,
      s"$closed of ${sh.cameras} cameras closed a segment")
    events.unpersist()
  }

  /** Micro-batch engine, state store and shuffle layers, from progress
    * and listener data of the timed batches; one span per batch with
    * its progress phases as children.
    */
  private def batchLayers(ph: Phase, w: Window, layers: Layers, out: Outcome): Unit = {
    val bs = w.batches
    def med(f: StreamingQueryProgress => Double) = Stats.median(bs.map(f))
    out.metric("batch.trigger_ms", med(Progress.duration(_, "triggerExecution")))
    out.metric("batch.wal_commit_ms", med(Progress.duration(_, "walCommit")))
    out.metric("batch.commit_offsets_ms", med(Progress.duration(_, "commitOffsets")))
    out.metric("batch.planning_ms", med(Progress.duration(_, "queryPlanning")))
    val scopes = bs.map(p => layers.scope(s"${p.id}/${p.batchId}"))
    out.metric("batch.jobs", Stats.median(scopes.map(_.jobs.get.toDouble)))
    out.metric("batch.stages", Stats.median(scopes.map(_.stages.get.toDouble)))
    out.metric("batch.tasks", Stats.median(scopes.map(_.tasks.get.toDouble)))
    out.metric("batch.task_s", scopes.map(_.taskMs.get).sum / 1000.0)
    out.metric("batch.cpu_s", scopes.map(_.cpuNs.get).sum / 1e9)
    out.failed += scopes.map(_.failedJobs.get).sum
    out.metric("shuffle.write_bytes_per_frame",
      scopes.map(_.shuffleWrite.get).sum.toDouble / w.frames)
    val skews = scopes.flatMap(_.skews)
    out.metric("shuffle.skew", if (skews.isEmpty) 0.0 else Stats.median(skews))

    val st = bs.flatMap(_.stateOperators.headOption)
    def smed(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      if (st.isEmpty) 0.0 else Stats.median(st.map(f))
    out.metric("state.commit_ms", smed(_.commitTimeMs.toDouble))
    out.metric("state.update_ms", smed(_.allUpdatesTimeMs.toDouble))
    out.metric("state.rows_total", st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0))
    out.metric("state.memory_bytes", smed(_.memoryUsedBytes.toDouble))
    out.metric("state.rocksdb_sync_ms", smed(s =>
      Option(s.customMetrics.get("rocksdbCommitFileSyncLatencyMs"))
        .map(_.doubleValue).getOrElse(0.0)))

    out.metric("detect.calls", Counters.detectCalls.get.toDouble)
    out.metric("detect.s", Counters.detectNs.get / 1e9)

    // phases in MicroBatchExecution order, laid end to end from the
    // trigger start: durations are exact, offsets approximate
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
      "addBatch", "commitOffsets")
    bs.zip(scopes).foreach { case (p, c) =>
      val t0 = Trace.nanosOfWallMs(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
      val bid = s"batch@${ph.tag}/${p.batchId}"
      Trace.add(Span(bid, "microbatch", "", p.batchId.toString, t0,
        t0 + (Progress.duration(p, "triggerExecution") * 1e6).toLong,
        c.jobs.get, c.stages.get, c.tasks.get))
      var at = t0
      order.foreach { k =>
        val d = (Progress.duration(p, k) * 1e6).toLong
        if (d > 0) Trace.add(Span(s"$k@${ph.tag}/${p.batchId}", s"batch.$k", bid,
          p.batchId.toString, at, at + d))
        at += d
      }
    }
  }

  /** Single-thread and isolated-layer baselines on the workload's own
    * frames: the fold without Spark, and a batch decode of the wire.
    */
  private def singleThread(spark: SparkSession, seed: Long, out: Outcome): Unit = {
    import spark.implicits._
    val seqs = math.max(1, 4000 / sh.cameras)
    val frames = for (cam <- 0 until sh.cameras)
      yield (0 until seqs).map(i => Frames.frame(seed, sh, cam, SetupSeqs + i))
    val det = VideoPipeline.defaultDetector(cfg)
    val n = seqs * sh.cameras
    val fold = (1 to 3).map { _ =>
      Stats.timed(frames.foreach(fs => VideoPipeline.processFrames(
        fs.head.streamId, fs, VideoPipeline.initialState, cfg, det)))._2
    }
    out.metric("fold.single_thread_frames_per_s", n / Stats.median(fold))
    val msgs = Frames.wireChunk(seed, sh, SetupSeqs, SetupSeqs + seqs)
    val raw = spark.createDataset(msgs.toSeq).toDF("value").cache()
    raw.count()
    val dec = (1 to 3).map { _ =>
      Stats.timed(FrameCodec.decode(raw)(spark).write.format("noop")
        .mode("overwrite").save())._2
    }
    raw.unpersist()
    out.metric("codec.decode_frames_per_s", n / Stats.median(dec))
  }

  /** The `writeEventBatch` parquet sinks: seconds per timed batch, and
    * files written per batch.
    */
  private def sinkLayers(ph: Phase, w: Window, out: Outcome): Unit = {
    val timed = w.batches.map(_.batchId.toString).toSet
    val ws = Trace.all.filter(s => s.name == "writeEventBatch" && timed(s.shared))
      .map(s => (s.endNs - s.startNs) / 1e9)
    out.metric("sink.parquet_s", if (ws.isEmpty) 0.0 else Stats.median(ws))
    val files = Checks.files(ph.out).count(_.getName.endsWith(".parquet"))
    val batches = Trace.all.count(_.name == "writeEventBatch")
    out.metric("sink.parquet_files", files.toDouble / math.max(1, batches))
  }

  private def readParquet(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).drop("batch_id")
}
