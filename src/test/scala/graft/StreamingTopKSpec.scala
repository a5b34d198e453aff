package graft

import graft.streaming.StreamingTopK
import graft.streaming.StreamingTopK.{Det, Ranked}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The streaming leaderboard against its batch twin (the custom
  * TopKPerKey operator behind q15): the final per-key top-k after any
  * sequence of micro-batches must equal the batch operator over the
  * union of all rows, regardless of how the stream was split; the
  * merge step must be associative and its state bounded by k.
  */
class StreamingTopKSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Deterministic detections: 4 streams × 60 rows with colliding
    * confidences so the (frameId, detId) tiebreak is exercised.
    */
  private def dets: Seq[Det] =
    for {
      s <- 0 until 4
      i <- 0 until 60
    } yield Det(s"cam$s", ((i * 7 + s * 3) % 20) / 20.0,
      frameId = i / 5, detId = i % 5)

  /** Batch truth through the custom operator itself. */
  private def batchTopK(rows: Seq[Det], k: Int): Set[(String, Int, Long, Long)] = {
    import spark.implicits._
    graft.plans.TopK.perKey(
        rows.toDF("streamId", "confidence", "frameId", "detId"),
        Seq("streamId"),
        Seq(("confidence", false), ("frameId", true), ("detId", true)),
        k = k)
      .collect()
      .map(r => (r.getAs[String]("streamId"), r.getAs[Int]("rn").toInt,
        r.getAs[Long]("frameId"), r.getAs[Long]("detId")))
      .toSet
  }

  private def finalBoards(table: String): Set[(String, Int, Long, Long)] = {
    import spark.implicits._
    // update-mode memory sink appends every emission; the leaderboard
    // semantics are replace-per-key, so the LAST emission per (stream,
    // rn) is the current board
    spark.table(table).as[Ranked].collect().zipWithIndex
      .groupBy(r => (r._1.streamId, r._1.rn))
      .map { case (_, vs) => vs.maxBy(_._2)._1 }
      .map(r => (r.streamId, r.rn, r.frameId, r.detId))
      .toSet
  }

  test("leaderboard after 5 micro-batches equals batch TopKPerKey over all rows") {
    import spark.implicits._
    val rows = dets
    val input = MemoryStream[Det](spark)
    val q = StreamingTopK.leaderboard(input.toDS(), k = 3)
      .writeStream.format("memory").queryName("topk_stream")
      .outputMode("update").start()
    try {
      rows.grouped(48).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(finalBoards("topk_stream") === batchTopK(rows, 3))
  }

  test("split point is invisible: any prefix/suffix split gives the same final board") {
    import spark.implicits._
    val rows = dets
    for (cut <- Seq(1, 37, 120, 239)) {
      val input = MemoryStream[Det](spark)
      val name = s"topk_cut_$cut"
      val q = StreamingTopK.leaderboard(input.toDS(), k = 3)
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        input.addData(rows.take(cut)); q.processAllAvailable()
        input.addData(rows.drop(cut)); q.processAllAvailable()
      } finally q.stop()
      assert(finalBoards(name) === batchTopK(rows, 3), s"cut=$cut")
    }
  }

  test("merge is associative and bounded by k") {
    val a = dets.take(100); val b = dets.slice(100, 180)
    val c = dets.drop(180)
    val oneShot = StreamingTopK.merge(3, Nil, a ++ b ++ c)
    val stepped = StreamingTopK.merge(3,
      StreamingTopK.merge(3, StreamingTopK.merge(3, Nil, a), b), c)
    assert(oneShot === stepped)
    assert(stepped.length <= 3)
    // ordering contract: confidence DESC then (frameId, detId) ASC
    assert(stepped === stepped.sortBy(d =>
      (-d.confidence, d.frameId, d.detId)))
  }
}
