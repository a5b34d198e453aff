package graft.streaming

import graft.functions.DetectionKernels
import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The stateful core of the engine — the Spark re-expression of the
  * reference's keyed process function (function/VideoProcessFunction
  * .java:78-139): per-stream segment buffering + keyframe extraction +
  * detection, emitting a tagged-union event stream (Spark has no side
  * outputs; SURVEY.md §7.3).
  *
  * Semantics (documented intent, SURVEY.md §2.1.1/2.1.2 — per-KEY
  * state, real similarity):
  *   per frame, in (timestamp, frameId) order within each micro-batch:
  *     1. extend the current segment; if ts − segStart ≥ segmentDuration,
  *        emit the segment (INCLUDING this frame — reference adds the
  *        frame before the flush check) and reset.
  *     2. keyframe iff ts − lastKeyFrameTime ≥ minInterval (time rule,
  *        KeyFrameExtractor.java:57-61) OR histogram similarity with
  *        the previous frame < threshold (scene rule, :64-78 — the
  *        reference's stubbed compareHistograms replaced by a real
  *        deterministic byte-histogram intersection).
  *     3. detect on keyframes → detection event.
  *
  * Scale design: state per key is O(1) — counters and bounds, never a
  * frame buffer (the reference buffers raw JPEGs only to feed ffmpeg,
  * which is stubbed here; a real encode sink would write frames to
  * object storage per micro-batch and compose manifests instead of
  * holding them in state). The only shuffle is the hash exchange on
  * the streamId column, identical to the reference's keyBy. Grouping
  * on the column, not on a `VideoFrame => String` function, keeps the
  * frames in Spark's row format up to the fold: no map-side object
  * round trip just to read the key.
  */
object VideoPipeline {

  /** Per-key state. prevSig is the previous frame's 32-bin byte
    * histogram (similarity rule); seg* track the open segment.
    */
  final case class StreamState(
      lastKeyFrameTime: Long,
      prevSig: Array[Double],
      segStart: Long, // first buffered frame ts; -1 = empty buffer
      segEnd: Long,
      segFrames: Int,
      segBytes: Long,
      totalFrames: Long,
      keyFrames: Long)

  val initialState: StreamState =
    StreamState(0L, null, -1L, -1L, 0, 0L, 0L, 0L)

  /** 32-bin normalized byte histogram (the deterministic stand-in for
    * the reference's stubbed OpenCV histogram, util/ImageUtils.java:80-84).
    */
  def signature(bytes: Array[Byte]): Array[Double] = {
    val h = new Array[Double](32)
    if (bytes == null || bytes.isEmpty) return h
    val counts = new Array[Int](32)
    var i = 0
    while (i < bytes.length) { counts((bytes(i) & 0xff) >> 3) += 1; i += 1 }
    var j = 0
    while (j < 32) { h(j) = counts(j).toDouble / bytes.length; j += 1 }
    h
  }

  /** Histogram intersection similarity in [0,1]. */
  def similarity(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < 32) { s += math.min(a(i), b(i)); i += 1 }
    s
  }

  /** OSS/MinIO object key scheme (sink/OSSVideoSink.java:48-57),
    * UTC-formatted from the segment start (data-derived, never
    * wall-clock).
    */
  def segmentPath(streamId: String, startTime: Long): String = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd/HH")
      .withZone(java.time.ZoneOffset.UTC)
    s"videos/$streamId/${fmt.format(java.time.Instant.ofEpochMilli(startTime))}/${streamId}_$startTime.mp4"
  }

  /** The pure per-key fold: frames (already time-ordered) × state →
    * (events, new state). Shared verbatim by the streaming operator,
    * the batch twin, and the unit tests.
    */
  def processFrames(streamId: String, frames: Seq[VideoFrame],
      state: StreamState, cfg: EngineConfig,
      detector: VideoFrame => Seq[Detection]): (Seq[PipelineEvent], StreamState) = {
    var st = state
    val out = Seq.newBuilder[PipelineEvent]
    for (f <- frames) {
      // 1. segment buffering (buffer-extend BEFORE flush check — the
      // flushed segment includes the current frame)
      val segStart = if (st.segStart < 0) f.timestamp else st.segStart
      val segFrames = st.segFrames + 1
      val segBytes = st.segBytes +
        (if (f.frameData == null) 0 else f.frameData.length)
      if (f.timestamp - segStart >= cfg.segmentDurationMs) {
        val seg = VideoSegment(streamId, segStart, f.timestamp,
          segmentPath(streamId, segStart), segFrames, segBytes,
          f.timestamp - segStart)
        out += PipelineEvent("segment", streamId, -1L, f.timestamp,
          Seq.empty, Some(seg))
        st = st.copy(segStart = -1L, segEnd = -1L, segFrames = 0, segBytes = 0L)
      } else {
        st = st.copy(segStart = segStart, segEnd = f.timestamp,
          segFrames = segFrames, segBytes = segBytes)
      }
      // 2. keyframe decision
      val sig = signature(f.frameData)
      val timeRule = f.timestamp - st.lastKeyFrameTime >= cfg.keyframeMinIntervalMs
      val sceneRule = st.prevSig != null &&
        similarity(st.prevSig, sig) < cfg.similarityThreshold
      val isKey = timeRule || sceneRule
      st = st.copy(prevSig = sig, totalFrames = st.totalFrames + 1,
        lastKeyFrameTime = if (isKey) f.timestamp else st.lastKeyFrameTime,
        keyFrames = if (isKey) st.keyFrames + 1 else st.keyFrames)
      // 3. detection on keyframes
      if (isKey) {
        out += PipelineEvent("detection", streamId, f.frameId, f.timestamp,
          detector(f), None)
      }
    }
    (out.result(), st)
  }

  /** Default pluggable detector: deterministic synthetic (the ONNX
    * blobs are absent from the reference repo — SURVEY.md §2.1.7; a
    * real ONNX adapter plugs in behind the same signature with a
    * lazily-initialized per-executor session).
    */
  def defaultDetector(cfg: EngineConfig): VideoFrame => Seq[Detection] =
    f => DetectionKernels.syntheticDetect(f.frameData,
      if (f.metadata != null) f.metadata.width else 1920,
      if (f.metadata != null) f.metadata.height else 1080,
      cfg.confidenceThreshold.toFloat)

  /** The per-group step of [[process]]. Visible in `graft` so specs
    * can rebuild older checkpoint shapes around the same function.
    */
  private[graft] def groupFn(cfg: EngineConfig, detector: VideoFrame => Seq[Detection])(
      streamId: String, it: Iterator[VideoFrame],
      gs: GroupState[StreamState]): Iterator[PipelineEvent] = {
    val sorted = it.toSeq.sortBy(f => (f.timestamp, f.frameId))
    val st = gs.getOption.getOrElse(initialState)
    val (events, next) = processFrames(streamId, sorted, st, cfg, detector)
    gs.update(next)
    events.iterator
  }

  /** The one stateful operator of the fold, for batch (q20–q22,
    * Verify, Bench) and streaming ([[runStreaming]], the backfill)
    * alike: one exchange on streamId, then the per-key fold with
    * persistent state across micro-batches. Within a batch frames are
    * sorted by event time; across batches arrival order rules (the
    * reference has no watermarks either — VideoStreamProcessingJob
    * .java:61).
    *
    * flatMapGroupsWithState, like the engine's other stateful
    * operators, rather than transformWithState (TWS). On a batch
    * Dataset Spark plans it as a plain MapGroupsExec with no state
    * store. Batch TWS opens one per task (and fails with
    * CANNOT_LOAD_STATE_STORE until the session has touched
    * `spark.streams`), and its `init` resolves the state encoder and
    * generates projections in every task. In vbench (local[4]) batch
    * TWS took q20 from 0.74–0.84 to 1.50–1.83 task-seconds and
    * batch_queries `warm_cpu_s` from 8.48 to 8.72 s (median of 4
    * pairs, worse in 3). Streaming the backfill through this operator
    * instead of TWS on RocksDB was flat: `warm_cpu_s` median 2.295 →
    * 2.325 s over 10 pairs, 5 won, inside the TWS runs' quartiles of
    * 2.26–2.41 s.
    */
  def process(frames: Dataset[VideoFrame],
      cfg: EngineConfig = EngineConfig(),
      detector: VideoFrame => Seq[Detection] = null): Dataset[PipelineEvent] = {
    import frames.sparkSession.implicits._
    val det = if (detector == null) defaultDetector(cfg) else detector
    frames.groupBy(col("streamId")).as[String, VideoFrame]
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(groupFn(cfg, det))
  }

  /** Detection branch → flat Doris-shaped rows (ref ops F+G:
    * explode detections, flatten bbox, format time, drop empty —
    * sink/DorisSinkBuilder.java:100-124). Pure built-ins.
    */
  def dorisRows(events: Dataset[PipelineEvent]): DataFrame = {
    // date_format renders in spark.sql.session.timeZone; shift the
    // instant by the session offset first so detection_time is always
    // the UTC wall time — same pinning as segmentPath above.
    // Documented divergence: the reference formats in the JVM DEFAULT
    // timezone (DorisSinkBuilder.convertToJson's SimpleDateFormat) —
    // deployment-dependent output we deliberately pin to UTC for
    // determinism. Caveat of the shift-then-format composition: for
    // instants inside a DST transition window of a DST-observing
    // session tz it is off by the DST delta; harness sessions run
    // pinned UTC (Verify sets spark.sql.session.timeZone=UTC), where
    // the composition is exact.
    val sessionTz =
      events.sparkSession.conf.get("spark.sql.session.timeZone")
    events.toDF()
      .filter(col("kind") === "detection" && size(col("detections")) > 0)
      .select(col("streamId").as("stream_id"),
        date_format(
          to_utc_timestamp(timestamp_millis(col("timestamp")), sessionTz),
          "yyyy-MM-dd HH:mm:ss").as("detection_time"),
        col("frameId").as("frame_id"),
        explode(col("detections")).as("d"))
      .select(col("stream_id"), col("detection_time"), col("frame_id"),
        col("d.objectClass").as("object_class"),
        col("d.confidence").as("confidence"),
        col("d.bbox.x1").as("bbox_x1"), col("d.bbox.y1").as("bbox_y1"),
        col("d.bbox.x2").as("bbox_x2"), col("d.bbox.y2").as("bbox_y2"),
        lit("").as("frame_url"))
  }

  /** Detection rows → the exact JSON-lines wire the Doris Stream-Load
    * sink posts (field names/order: sink/DorisSinkBuilder.java:109-120;
    * escaping is to_json's — the reference hand-escapes, :129-136).
    */
  def dorisJsonLines(events: Dataset[PipelineEvent]): DataFrame =
    dorisRows(events).select(to_json(struct(
      col("stream_id"), col("detection_time"), col("frame_id"),
      col("object_class"), col("confidence"),
      col("bbox_x1"), col("bbox_y1"), col("bbox_x2"), col("bbox_y2"),
      col("frame_url"))).as("value"))

  /** Segment branch → segment descriptor rows (ref side output → OSS
    * sink, model/VideoSegment.java:17-55).
    */
  def segmentRows(events: Dataset[PipelineEvent]): DataFrame =
    events.toDF()
      .filter(col("kind") === "segment")
      .select(col("streamId").as("stream_id"),
        col("segment.startTime").as("start_time"),
        col("segment.endTime").as("end_time"),
        col("segment.localFilePath").as("path"),
        col("segment.frameCount").as("frame_count"),
        col("segment.fileSize").as("file_size"),
        col("segment.duration").as("duration_ms"))

  /** Streaming exact dedup on (streamId, frameId) — at-least-once
    * sources (the reference's Kafka ingest, op A) can redeliver
    * frames; this drops redeliveries whose event time falls within
    * the watermark horizon, with bounded state (keys older than the
    * watermark are evicted — unbounded-state dropDuplicates is not an
    * option on an infinite stream).
    */
  def dedupFrames(frames: Dataset[VideoFrame],
      lateness: String = "30 seconds"): Dataset[VideoFrame] = {
    import frames.sparkSession.implicits._
    frames
      .withColumn("ts", timestamp_millis(col("timestamp")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("streamId", "frameId")
      .drop("ts")
      .as[VideoFrame]
  }

  /** Forwards to [[process]]. Kept only because the streaming
    * benchmark's backfill (`vbench/src/vbench/Streams.scala`) calls the
    * fold by this name; it goes when that call moves to `process`.
    */
  def processTWS(frames: Dataset[VideoFrame],
      cfg: EngineConfig = EngineConfig(),
      detector: VideoFrame => Seq[Detection] = null): Dataset[PipelineEvent] =
    process(frames, cfg, detector)

  /** Streaming twin of the tumbling segmentation (q10) as a
    * watermarked windowed aggregation: event-time 3-minute windows per
    * stream, closed (and emitted, in append mode) once the watermark
    * passes window end. The reference runs NO watermarks
    * (VideoStreamProcessingJob.java:61) and silently distorts segments
    * under disorder (SURVEY.md §2 streaming notes); this operator is
    * the documented-intent fix: bounded disorder tolerance with
    * deterministic late-frame drop. State per (stream, window) is the
    * aggregate only — O(1), never buffered frames.
    */
  def segmentSummaries(frames: Dataset[VideoFrame],
      lateness: String = "30 seconds"): DataFrame =
    frames.toDF()
      .select(col("streamId"), timestamp_millis(col("timestamp")).as("ts"),
        col("frameData"))
      .withWatermark("ts", lateness)
      .groupBy(col("streamId"), window(col("ts"), "3 minutes"))
      .agg(count(lit(1)).as("frame_count"),
        sum(length(col("frameData"))).as("byte_count"),
        min(unix_millis(col("ts"))).as("first_ts"),
        max(unix_millis(col("ts"))).as("last_ts"))
      .select(col("streamId").as("stream_id"),
        unix_millis(col("window.start")).as("window_start"),
        col("frame_count"), col("byte_count"), col("first_ts"),
        col("last_ts"))

  /** End-to-end streaming wiring (ref job DAG,
    * VideoStreamProcessingJob.java:56-102): one stateful pass, both
    * branches written per micro-batch from the SAME foreachBatch (one
    * state store, no second query re-running the fold).
    *
    * Idempotence under micro-batch retry: foreachBatch is at-least-once
    * (a crash between write and checkpoint-commit replays the batch —
    * same batchId, same data), so plain `append` would duplicate rows.
    * Each batch writes its rows under `batch_id=<id>` with DYNAMIC
    * partition overwrite: a replay rewrites exactly its own partition
    * and nothing else, making the sink effectively exactly-once. This
    * is the Spark-native equivalent of the reference sink's retry
    * story (DorisSinkBuilder.java:62-95 retries a Stream-Load under a
    * batch-scoped label so Doris dedupes the re-post; batch_id is our
    * label, the partition swap our dedupe).
    */
  def runStreaming(frames: Dataset[VideoFrame], outDir: String,
      checkpointDir: String, cfg: EngineConfig = EngineConfig()) = {
    val events = process(frames, cfg)
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[PipelineEvent], batchId: Long) =>
        writeEventBatch(batch, batchId, outDir)
      }
      .start()
  }

  /** One micro-batch → both sinks; idempotent under same-batchId replay
    * (see [[runStreaming]]'s contract note). Public so the replay
    * semantics are testable without orchestrating a mid-batch crash.
    */
  def writeEventBatch(batch: Dataset[PipelineEvent], batchId: Long,
      outDir: String): Unit = {
    val cached = batch.persist()
    def writeBranch(df: DataFrame, dir: String): Unit =
      df.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(dir)
    writeBranch(dorisRows(cached), s"$outDir/detections")
    writeBranch(segmentRows(cached), s"$outDir/segments")
    cached.unpersist()
    ()
  }
}
