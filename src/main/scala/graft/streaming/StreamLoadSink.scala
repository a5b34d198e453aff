package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}

/** Stream-Load sink contract of the reference's Doris path
  * (sink/DorisSinkBuilder.java:62-95): JSON-lines rows are buffered
  * client-side and posted in labeled payloads —
  *
  *   - a buffer seals at `bufferSize` bytes (128 KB);
  *   - sealed buffers post when `bufferCount` (2) are pending, or at
  *     close (a [[StreamLoadSink.Buffer]] lives for one partition ×
  *     micro-batch, so the reference's flush interval never fires
  *     before close and has no counterpart here);
  *   - each post carries a unique label and is retried up to
  *     `maxRetries` (3) times — the server dedupes replays BY LABEL,
  *     which is what makes the at-least-once client exactly-once
  *     end-to-end.
  *
  * Spark mapping: the Flink sink lifecycle (open/invoke/close per
  * subtask) becomes one [[StreamLoadSink.Buffer]] per partition ×
  * micro-batch inside [[StreamLoadSink.writeBatch]], called from
  * `foreachBatch`. Labels are `<prefix>_<epoch>_<partition>_<seq>`
  * — deterministic, so a replayed micro-batch or retried task
  * regenerates the SAME labels and the transport's label-dedupe
  * drops the duplicates. The reference seeds its prefix with
  * wall-clock (`"flink_video_" + System.currentTimeMillis()`,
  * DorisSinkBuilder.java:69), which would defeat replay dedupe;
  * we deliberately pin the prefix per query instead.
  */
object StreamLoadSink {

  /** Mirrors DorisExecutionOptions (DorisSinkBuilder.java:68-75) plus
    * the Stream-Load properties (:62-65).
    */
  final case class StreamLoadConfig(
      labelPrefix: String = "graft_video",
      bufferSize: Int = 128 * 1024,
      bufferCount: Int = 2,
      maxRetries: Int = 3,
      props: Map[String, String] = Map(
        "format" -> "json",
        "strip_outer_array" -> "false",
        "read_json_by_line" -> "true"))

  /** Transport boundary: post one labeled payload. Must be idempotent
    * by label (a real Doris FE is; the test/file transports here are).
    * Returns true on accept; false or any exception other than
    * [[IllegalStateException]] signals a RETRYABLE failure;
    * IllegalStateException is the non-retryable label-divergence
    * signal and propagates immediately.
    *
    * Label-dedupe contract: the server keeps only the FIRST payload
    * posted under a label; a replay with a different payload is NOT
    * merged. Correctness therefore requires replays to be bytewise
    * deterministic — our labels are scoped (epoch, partition, seq),
    * and the rows feeding a (epoch, partition) come from a Spark
    * shuffle/scan replay of the same partition, whose iteration order
    * Spark reproduces for a deterministic lineage. Non-deterministic
    * lineages (e.g. a repartition() on a random key upstream) would
    * break this — the same caveat Spark itself documents for task
    * retry of side-effecting foreachPartition code. [[FileTransport]]
    * enforces the contract by digest-checking replayed labels.
    */
  trait Transport extends Serializable {
    def put(label: String, payload: Array[Byte],
        props: Map[String, String]): Boolean
  }

  /** Filesystem transport: one file per label under `dir` — the
    * harness stand-in for the Stream-Load HTTP PUT (no Doris in the
    * sandbox). Idempotent: an existing label is acknowledged without
    * rewrite, exactly the server-side label dedupe — but unlike a
    * remote FE we can afford to verify the replay: a replayed label
    * whose payload differs from what was loaded means the caller's
    * partition replay was non-deterministic and data would be lost
    * silently, so fail loudly instead.
    */
  class FileTransport(dir: String) extends Transport {

    /** Test seam: invoked between the temp write and the atomic
      * publish — the exact window in which a concurrent attempt can
      * land the target file first. Specs override it to drive that
      * interleaving deterministically; production leaves it a no-op.
      */
    protected def beforePublish(target: java.io.File): Unit = ()

    override def put(label: String, payload: Array[Byte],
        props: Map[String, String]): Boolean = {
      val d = new java.io.File(dir)
      if (!d.isDirectory) d.mkdirs()
      val f = new java.io.File(d, s"$label.jsonl")
      if (checkExisting(f, label, payload)) return true
      // per-attempt unique temp + atomic CREATE-NEW publish: concurrent
      // attempts for the same label (speculative execution) can't
      // interleave writes into one temp file or overwrite the winner.
      // Files.move(ATOMIC_MOVE) is the WRONG primitive here — on Linux
      // it is rename(2), which silently REPLACES an existing target, so
      // a losing attempt would clobber the winner's file. createLink is
      // link(2): atomic and guaranteed to fail with
      // FileAlreadyExistsException when the target exists, so the loser
      // falls into the digest check instead, preserving "the server
      // keeps only the FIRST payload".
      val tmp = java.io.File.createTempFile(s".$label.", ".tmp", d)
      val out = new java.io.FileOutputStream(tmp)
      try out.write(payload)
      finally out.close()
      beforePublish(f)
      try {
        java.nio.file.Files.createLink(f.toPath, tmp.toPath)
        tmp.delete()
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          tmp.delete()
          checkExisting(f, label, payload)
      }
    }

    /** True iff `f` holds exactly `payload`; throws (non-retryable) on
      * divergence — a replay with different bytes means the caller's
      * partition replay was non-deterministic and data would be lost
      * silently.
      */
    private def checkExisting(f: java.io.File, label: String,
        payload: Array[Byte]): Boolean = {
      if (!f.exists()) return false
      val loaded = java.nio.file.Files.readAllBytes(f.toPath)
      if (!java.util.Arrays.equals(loaded, payload))
        throw new IllegalStateException(
          s"replay of label $label diverged from the loaded payload " +
            s"(${loaded.length} vs ${payload.length} bytes): the " +
            "upstream partition replay is non-deterministic")
      true
    }
  }

  /** Client-side buffering + labeled retry, the per-subtask state
    * machine of the reference sink.
    */
  final class Buffer(cfg: StreamLoadConfig, transport: Transport,
      labelScope: String) {
    private val current = new java.io.ByteArrayOutputStream()
    private val pending = scala.collection.mutable.Queue.empty[Array[Byte]]
    private var seq = 0L
    private var attemptsTotal = 0L

    /** Attempts across all posts (observability; spec asserts retry counts). */
    def attempts: Long = attemptsTotal

    /** Append one JSON line; seal/flush when thresholds trip. */
    def add(line: String): Unit = {
      val bytes = (line + "\n").getBytes("UTF-8")
      current.write(bytes)
      if (current.size() >= cfg.bufferSize) seal()
      if (pending.size >= cfg.bufferCount) flush()
    }

    /** Seal the open buffer and post everything pending. */
    def flush(): Unit = {
      seal()
      while (pending.nonEmpty) post(pending.dequeue())
    }

    private def seal(): Unit =
      if (current.size() > 0) {
        pending.enqueue(current.toByteArray)
        current.reset()
      }

    private def post(payload: Array[Byte]): Unit = {
      val label = s"${cfg.labelPrefix}_${labelScope}_$seq"
      seq += 1
      var attempt = 0
      var ok = false
      var lastErr: Throwable = null
      while (!ok && attempt <= cfg.maxRetries) {
        attempt += 1
        attemptsTotal += 1
        try ok = transport.put(label, payload, cfg.props)
        catch {
          // IllegalStateException is the transport's NON-retryable
          // signal (label-payload divergence): retrying a permanent
          // corruption wastes attempts and buries the diagnosis in a
          // retry-exhaustion message
          case e: IllegalStateException => throw e
          case e: Exception             => lastErr = e
        }
      }
      if (!ok)
        throw new java.io.IOException(
          s"stream load of $label failed after $attempt attempts" +
            (if (lastErr != null) s": ${lastErr.getMessage}" else ""))
      // task retry after this point replays the same labels — the
      // transport's label dedupe makes the replay a no-op
    }
  }

  /** Push a one-column JSON-lines DataFrame (the output of
    * VideoPipeline.dorisJsonLines) through the buffered, labeled path,
    * one label scope per partition. Streams call it from
    * `.writeStream.foreachBatch` with the micro-batch id as `batchId`,
    * so a replayed batch regenerates identical labels. A failed task
    * abandons its buffer: the retry re-opens the same (batch,
    * partition) scope and replays the same labels.
    */
  def writeBatch(df: DataFrame, batchId: Long, cfg: StreamLoadConfig,
      transport: Transport): Unit =
    df.foreachPartition { (rows: Iterator[Row]) =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val buf = new Buffer(cfg, transport, s"${batchId}_$pid")
      rows.foreach(r => buf.add(r.getString(0)))
      buf.flush()
    }
}
