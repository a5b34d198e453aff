package graft.model

import org.apache.spark.sql.types._

/** Data model of the engine, mirroring the reference's record types
  * (reference: model/VideoFrame.java:17-77, model/Detection.java:14-44,
  * model/DetectionResult.java:18-46, model/VideoSegment.java:17-55)
  * re-expressed as Scala case classes with Spark Encoders.
  */

/** Nested frame metadata (reference model/VideoFrame.java:55-77). */
final case class FrameMetadata(
    width: Int,
    height: Int,
    fps: Int,
    codec: String)

/** One video frame on the wire (reference model/VideoFrame.java:17-49).
  * `timestamp` is epoch millis (event time); `frameData` is the JPEG
  * payload (base64 on the JSON wire, raw bytes in-engine).
  */
final case class VideoFrame(
    streamId: String,
    frameId: Long,
    timestamp: Long,
    frameData: Array[Byte],
    frameSequence: Int,
    metadata: FrameMetadata)

/** Axis-aligned box, pixel coords, top-left / bottom-right
  * (reference model/Detection.java:37-44).
  */
final case class BoundingBox(x1: Float, y1: Float, x2: Float, y2: Float)

/** One detected object (reference model/Detection.java:14-31). */
final case class Detection(
    objectClass: String,
    confidence: Float,
    bbox: BoundingBox)

/** Per-keyframe detection output (reference model/DetectionResult.java:18-46). */
final case class DetectionResult(
    streamId: String,
    frameId: Long,
    timestamp: Long,
    frameUrl: Option[String],
    detections: Seq[Detection])

/** 3-minute segment descriptor (reference model/VideoSegment.java:17-55). */
final case class VideoSegment(
    streamId: String,
    startTime: Long,
    endTime: Long,
    localFilePath: String,
    frameCount: Int,
    fileSize: Long,
    duration: Long)

/** Tagged union row for the dual-output stateful operator (the reference
  * uses a Flink side output, VideoStreamProcessingJob.java:42-43,73-74;
  * Spark has no side outputs so we emit one sum-type row stream and
  * split it by `kind` into the two sinks — SURVEY.md §7.3).
  */
final case class PipelineEvent(
    kind: String, // "detection" | "segment"
    streamId: String,
    frameId: Long,
    timestamp: Long,
    detections: Seq[Detection],
    segment: Option[VideoSegment])

/** Engine configuration (reference config/VideoStreamConfig.java:15-151 +
  * src/main/resources/application.properties:1-44). One config source —
  * the reference's split between Flink Configuration and properties
  * (SURVEY.md §2.1.6) is deliberately unified here.
  */
final case class EngineConfig(
    segmentDurationMs: Long = 180000L, // video.segment.duration
    keyframeMinIntervalMs: Long = 5000L, // keyframe.min.interval
    similarityThreshold: Double = 0.7, // scene-change fires below this
    confidenceThreshold: Double = 0.5, // yolo.confidence.threshold
    iouThreshold: Double = 0.45, // NMS IoU
    frameRate: Int = 25)

object Schemas {
  /** Wire schema of a VideoFrame JSON message (Jackson field names,
    * reference serialization/VideoFrameDeserializationSchema.java:13-31).
    * `frameData` arrives base64-encoded (Jackson byte[] default) and is
    * declared binary, so `from_json` decodes it inside the parse
    * (Jackson `getBinaryValue`), with no intermediate string.
    */
  val frameWire: StructType = StructType(Seq(
    StructField("streamId", StringType),
    StructField("frameId", LongType),
    StructField("timestamp", LongType),
    StructField("frameData", BinaryType), // base64 on the wire
    StructField("frameSequence", IntegerType),
    StructField("metadata", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("fps", IntegerType),
      StructField("codec", StringType))))))

  val bbox: StructType = StructType(Seq(
    StructField("x1", FloatType),
    StructField("y1", FloatType),
    StructField("x2", FloatType),
    StructField("y2", FloatType)))

  val detection: StructType = StructType(Seq(
    StructField("objectClass", StringType),
    StructField("confidence", FloatType),
    StructField("bbox", bbox)))
}

/** The 80 COCO class names, index-aligned with the YOLO class-score rows
  * (reference processor/YOLODetector.java:35-46).
  */
object CocoClasses {
  val names: Array[String] = Array(
    "person", "bicycle", "car", "motorcycle", "airplane", "bus", "train",
    "truck", "boat", "traffic light", "fire hydrant", "stop sign",
    "parking meter", "bench", "bird", "cat", "dog", "horse", "sheep",
    "cow", "elephant", "bear", "zebra", "giraffe", "backpack", "umbrella",
    "handbag", "tie", "suitcase", "frisbee", "skis", "snowboard",
    "sports ball", "kite", "baseball bat", "baseball glove", "skateboard",
    "surfboard", "tennis racket", "bottle", "wine glass", "cup", "fork",
    "knife", "spoon", "bowl", "banana", "apple", "sandwich", "orange",
    "broccoli", "carrot", "hot dog", "pizza", "donut", "cake", "chair",
    "couch", "potted plant", "bed", "dining table", "toilet", "tv",
    "laptop", "mouse", "remote", "keyboard", "cell phone", "microwave",
    "oven", "toaster", "sink", "refrigerator", "book", "clock", "vase",
    "scissors", "teddy bear", "hair drier", "toothbrush")
}
