package graft

import graft.model.{FrameMetadata, VideoFrame}
import graft.sources.FrameCodec
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** What `FrameCodec.decode` makes of payloads that are not clean
  * base64. The messages run through executor tasks (an RDD source, not
  * a local relation the optimizer would fold on the driver), as Kafka
  * messages do.
  */
class FrameCodecSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val meta = FrameMetadata(1920, 1080, 25, "jpeg")

  /** One wire message; `payload` is spliced into the JSON string as is. */
  private def wire(payload: String): String =
    s"""{"streamId":"s1","frameId":7,"timestamp":1700000000000,""" +
      s""""frameData":"$payload","frameSequence":3,""" +
      """"metadata":{"width":1920,"height":1080,"fps":25,"codec":"jpeg"}}"""

  private def decode(payload: String): Array[VideoFrame] = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val raw = spark.sparkContext.parallelize(Seq(wire(payload)), 1).toDF("value")
      .select($"value".cast("binary").as("value"))
    FrameCodec.decode(raw).collect()
  }

  private def assertFieldsKept(f: VideoFrame): Unit = {
    assert(f.streamId === "s1")
    assert(f.frameId === 7L)
    assert(f.timestamp === 1700000000000L)
    assert(f.frameSequence === 3)
    assert(f.metadata === meta)
  }

  test("clean base64 decodes to its bytes") {
    val Array(f) = decode("QUJD")
    assertFieldsKept(f)
    assert(f.frameData.toSeq === "ABC".getBytes("US-ASCII").toSeq)
  }

  test("a JSON-escaped line break inside the payload is skipped") {
    val Array(f) = decode("QUJD\\nREVG")
    assertFieldsKept(f)
    assert(f.frameData.toSeq === "ABCDEF".getBytes("US-ASCII").toSeq)
  }

  test("unpadded short payload decodes to a null frameData, other fields kept") {
    val Array(f) = decode("abc")
    assertFieldsKept(f)
    assert(f.frameData === null)
  }

  test("payload of non-alphabet characters decodes to a null frameData") {
    val Array(f) = decode("!!!!")
    assertFieldsKept(f)
    assert(f.frameData === null)
  }

  test("payload with a dangling 6-bit unit fails the query") {
    // Jackson nulls the whole record; the typed boundary then rejects
    // the null frameId, so one bad message stops the query.
    val e = intercept[SparkThrowable](decode("abcde"))
    assert(e.getCondition === "NOT_NULL_ASSERT_VIOLATION")
    assert(e.getMessageParameters.toString.contains("frameId"))
  }
}
