package graft.sources

import graft.model.{Schemas, VideoFrame}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Wire codec for the frame stream: JSON messages with base64 frame
  * payloads, exactly the reference's Kafka wire format (Jackson
  * serialization, serialization/VideoFrameDeserializationSchema.java:13-31;
  * sample message README.md:174-186).
  *
  * Decode is pure Catalyst: one `from_json` whose schema declares the
  * payload binary, so Jackson base64-decodes it while parsing (no
  * intermediate `String` or `UTF8String` of the payload). No per-row
  * JVM object churn beyond the typed boundary the caller asks for.
  *
  * A payload Jackson cannot decode as base64 (say `"abc"`, or
  * `"!!!!"`) reads as a null `frameData` with the other fields kept.
  * Jackson skips JSON-escaped line breaks inside it.
  */
object FrameCodec {

  /** value(binary JSON) → typed frames. Works identically on a batch
    * DataFrame and a streaming one (same plan both ways).
    */
  def decode(raw: DataFrame)(implicit s: SparkSession): Dataset[VideoFrame] = {
    import s.implicits._
    raw
      .select(from_json(col("value").cast("string"), Schemas.frameWire).as("f"))
      .select(col("f.*"))
      .as[VideoFrame]
  }

  /** Typed frames → JSON wire bytes (inverse of decode; the mock
    * producer's format, mock/VideoStreamMockProducer.java:152).
    */
  def encode(frames: Dataset[VideoFrame]): DataFrame =
    frames.toDF()
      .select(col("streamId").as("key"),
        to_json(struct(
          col("streamId"), col("frameId"), col("timestamp"),
          base64(col("frameData")).as("frameData"),
          col("frameSequence"), col("metadata"))).as("value"))

  /** Kafka streaming source (reference op A: topic `video-stream-topic`,
    * latest offsets, VideoStreamProcessingJob.java:134-142). Not
    * exercised in this harness (no broker); the decode path it feeds is
    * covered by tests over in-memory JSON.
    */
  def kafkaSource(s: SparkSession, brokers: String,
      topic: String): Dataset[VideoFrame] =
    decode(s.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      .load())(s)

  /** Kafka streaming sink (inverse wiring — the mock producer's role,
    * mock/VideoStreamMockProducer.java:122-196, keyed by streamId so
    * per-stream ordering holds within a partition). Not exercised in
    * this harness (no broker); encode() is covered by the round-trip
    * test.
    */
  def kafkaSink(frames: Dataset[VideoFrame], brokers: String,
      topic: String, checkpointDir: String) =
    encode(frames).writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)
      .option("checkpointLocation", checkpointDir)
      .start()
}
