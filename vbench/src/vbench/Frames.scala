package vbench

import graft.model.{FrameMetadata, VideoFrame}
import graft.streaming.FrameGenerator
import org.apache.spark.sql.{Dataset, SparkSession}

/** Camera load shape: `cameras` streams, each frame `bytes` long, a new
  * scene every `sceneEvery` frames, frame `seq` of every camera due at
  * event time [[ts]], one every `intervalMs`.
  */
final case class Shape(cameras: Int, fps: Int, bytes: Int, sceneEvery: Int) {
  def intervalMs: Long = 1000L / fps
  def ts(seq: Int): Long = FrameGenerator.BASE_TS + seq * intervalMs
}

/** Seeded frames and their JSON wire bytes. Every frame is a pure
  * function of (seed, shape, camera, seq), so the streaming run and its
  * batch twin see identical inputs without keeping them in memory.
  */
object Frames {

  private def mix(a: Long, b: Long): Long = {
    var x = a * 0x9E3779B97F4A7C15L + b
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  /** Payload bytes drawn from a 64-value window whose offset moves by 89
    * at every scene change: frames within a scene have near-identical
    * byte histograms, consecutive scenes disjoint ones, so the scene
    * rule of the keyframe fold fires exactly at scene changes.
    */
  def payload(seed: Long, shape: Shape, cam: Int, seq: Int): Array[Byte] = {
    val scene = seq / shape.sceneEvery
    val base = (mix(seed, cam) + scene * 89L) & 0xff
    val out = new Array[Byte](shape.bytes)
    var x = mix(mix(seed, cam), seq) | 1L
    var i = 0
    while (i < out.length) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      var r = x; var k = 0
      while (k < 8 && i < out.length) {
        out(i) = ((base + (r & 63)) & 0xff).toByte
        r >>>= 8; k += 1; i += 1
      }
    }
    out
  }

  def frame(seed: Long, shape: Shape, cam: Int, seq: Int): VideoFrame =
    VideoFrame(
      streamId = f"camera_${cam + 1}%03d",
      frameId = seq.toLong * shape.cameras + cam,
      timestamp = shape.ts(seq),
      frameData = payload(seed, shape, cam, seq),
      frameSequence = seq,
      metadata = FrameMetadata(1920, 1080, shape.fps, "jpeg"))

  /** The producer's JSON message (Jackson field names and order,
    * base64 payload), as `FrameCodec.decode` reads it.
    */
  def wire(f: VideoFrame): Array[Byte] = {
    val b64 = java.util.Base64.getEncoder.encodeToString(f.frameData)
    val sb = new java.lang.StringBuilder(b64.length + 192)
    sb.append("{\"streamId\":\"").append(f.streamId)
      .append("\",\"frameId\":").append(f.frameId)
      .append(",\"timestamp\":").append(f.timestamp)
      .append(",\"frameData\":\"").append(b64)
      .append("\",\"frameSequence\":").append(f.frameSequence)
      .append(",\"metadata\":{\"width\":").append(f.metadata.width)
      .append(",\"height\":").append(f.metadata.height)
      .append(",\"fps\":").append(f.metadata.fps)
      .append(",\"codec\":\"").append(f.metadata.codec).append("\"}}")
    sb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  }

  /** Wire messages of every camera for seq in [from, until), in due
    * order (seq-major), as one chunk.
    */
  def wireChunk(seed: Long, shape: Shape, from: Int, until: Int): Array[Array[Byte]] = {
    val out = new Array[Array[Byte]]((until - from) * shape.cameras)
    var j = 0
    for (seq <- from until until; cam <- 0 until shape.cameras) {
      out(j) = wire(frame(seed, shape, cam, seq)); j += 1
    }
    out
  }

  /** Typed frames of seq in [0, until) for every camera, built on the
    * executors: the input of the batch twin.
    */
  def dataset(spark: SparkSession, seed: Long, shape: Shape,
      until: Int): Dataset[VideoFrame] = {
    import spark.implicits._
    val cams = shape.cameras
    spark.range(0L, until.toLong * cams).map { id =>
      frame(seed, shape, (id % cams).toInt, (id / cams).toInt)
    }
  }
}
