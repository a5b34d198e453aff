package graft.streaming

import graft.functions.TextKernels
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.util.LongAccumulator

/** Streaming incremental-ingest dedup — q68's production shape run
  * continuously: a `foreachBatch` pipeline classifies each micro-batch
  * of new documents against a PERSISTED corpus index (sha256 exact
  * table + simhash band tables, precomputed at ingest) as
  * 'exact' / 'near' / 'novel' with the smallest matching store doc as
  * evidence, then writes the classifications through the
  * Stream-Load sink contract ([[StreamLoadSink]]).
  *
  * The index is the point: store documents are hashed ONCE, when they
  * enter the store — classification joins against their cached
  * (c_id, sha256) and (c_id, band) rows, never their bodies. Each
  * increment hashes only its own documents (one UDF pass, persisted,
  * shared by the classify joins and the index update). At deployment
  * scale the two index tables live in a real table store (Delta/
  * Iceberg/state store) partitioned by hash prefix; here they are
  * `localCheckpoint` generations — materialized leaf plans, the same
  * generational shape as [[graft.operators.Dedup.connectedComponents]]
  * and for the same reason (lineage must not accrete per round).
  *
  * Near semantics match q68/q43: 4×16-bit simhash bands (pigeonhole:
  * any pair within hamming ≤ 3 shares ≥ 1 band) → band equi-join →
  * exact hamming verify ≤ 3. 'exact' takes precedence over 'near';
  * matches aggregate to min store id before the evidence joins.
  */
object IncrementalDedup {

  private val NUM_BANDS = 4
  private val HAMMING_MAX = 3

  private val exactSchema = StructType(Seq(
    StructField("c_id", LongType), StructField("h", StringType)))
  private val bandSchema = StructType(Seq(
    StructField("c_id", LongType), StructField("c_sh", LongType),
    StructField("band_idx", IntegerType), StructField("band_val", LongType)))

  /** Mutable corpus index driven from `foreachBatch` (micro-batches
    * arrive serially on the streaming thread, so no synchronization).
    *
    * @param onHash optional accumulator bumped once per document-body
    *   hash — the spec's measured proof that store documents are never
    *   re-hashed.
    * @param ingestClassified when true (the continuous-corpus-growth
    *   mode), each classified batch joins the store afterwards, so
    *   later increments dedup against it; when false the store stays
    *   as bootstrapped — exactly q68's inc-vs-corp semantics, which is
    *   what makes the streamed statuses equal the batch query's.
    *   Same-batch duplicates are classified against the PRE-batch
    *   store either way (micro-batch atomicity).
    */
  /** @param pairsStorePath when set, every classified batch APPENDS
    *   its discovered duplicate pairs to the
    *   [[graft.operators.Dedup.readPairsStore]]-compatible store at
    *   this path — exact matches as `src_exact`, simhash-band near
    *   matches as `src_simhash` (provenance = how the pair was
    *   found). The batch snapshot is mined once
    *   ([[graft.operators.Dedup.minePairs]]); the stream keeps the
    *   store current between snapshots. Appends may re-record a pair
    *   (redelivery, exact pairs also band-matching); the store READER
    *   OR-normalizes per pair, so append stays blind-write cheap —
    *   the right trade at 100 TB where the increment path must never
    *   read-modify-write the full store.
    */
  final class Index(spark: SparkSession,
      onHash: Option[LongAccumulator] = None,
      ingestClassified: Boolean = true,
      pairsStorePath: Option[String] = None) {

    private var exactIdx: DataFrame =
      spark.createDataFrame(java.util.Collections.emptyList[Row](), exactSchema)
    private var bandIdx: DataFrame =
      spark.createDataFrame(java.util.Collections.emptyList[Row](), bandSchema)

    // Production path: the native graft_simhash codegen expression
    // (same kernel, no UDF boundary). When a hash-pass accumulator is
    // requested (the spec's measured never-re-hashed proof), an
    // instrumented UDF twin of the same kernel substitutes — counting
    // requires a closure, which only a UDF can carry.
    private val simhashCol: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      onHash match {
        case Some(acc) =>
          val countingUdf = udf { text: String =>
            acc.add(1L)
            TextKernels.simhash(text, 2)
          }
          c => countingUdf(c)
        case None =>
          graft.plans.GraftExtensions.install(spark)
          c => call_function("graft_simhash", coalesce(c, lit("")), lit(2))
      }

    /** One hashing pass over (doc_id, text) — the only place bodies
      * are read. Callers persist + materialize so it runs once.
      */
    private def hashed(docs: DataFrame): DataFrame =
      docs.select(col("doc_id"), sha2(col("text"), 256).as("h"),
        simhashCol(col("text")).as("sh"))

    /** 16-bit band slices of the simhash (q43's layout). */
    private def bandsOf(hd: DataFrame): DataFrame =
      hd.select(col("doc_id"), col("sh"),
        posexplode(array((0 until NUM_BANDS).map(j =>
          shiftrightunsigned(col("sh"), 16 * j).bitwiseAND(lit(65535L))): _*))
          .as(Seq("band_idx", "band_val")))

    /** Add pre-hashed docs to the store: each generation is an EAGER
      * `localCheckpoint` — materialized now (reading `hd`'s cache, so
      * nothing upstream re-executes) and truncated to a leaf plan.
      * The leaf is what makes "never re-hashed" robust: a generation
      * embedded in later plans can never silently fall through a
      * cache-lookup miss back to the hashing scan (a real hazard —
      * cross-generation subtree matching on Generate/posexplode plans
      * is not reliable), and the plan stays constant-sized instead of
      * growing one union per batch. Stale generations' blocks are
      * reclaimed by the ContextCleaner once unreferenced.
      */
    private def addToStore(hd: DataFrame): Unit = {
      exactIdx = exactIdx
        .union(hd.select(col("doc_id").as("c_id"), col("h")))
        .localCheckpoint()
      bandIdx = bandIdx
        .union(bandsOf(hd).select(col("doc_id").as("c_id"),
          col("sh").as("c_sh"), col("band_idx"), col("band_val")))
        .localCheckpoint()
    }

    /** Bootstrap (or extend) the store without classifying —
      * ingest-time precompute of the exact + band tables.
      */
    def ingest(docs: DataFrame): Unit = {
      val hd = hashed(docs).persist()
      hd.count()
      addToStore(hd)
      hd.unpersist()
    }

    /** Classify one micro-batch against the current store, then (in
      * continuous mode) add it. Returns (doc_id, status, match_id) —
      * q68's exact output shape; the result is pinned via eager
      * `localCheckpoint()` (materialized now, truncated to a leaf
      * plan) so callers may consume it after the store generations
      * this plan read have been replaced and `hd` unpersisted. The
      * pin stays DISTRIBUTED — foreachBatch gives no batch-size
      * bound, so a replay/backfill batch must never round-trip
      * through the driver the way the previous collect+parallelize
      * pin did.
      */
    def classifyAndIngest(batch: DataFrame): DataFrame = {
      val hd = hashed(batch).persist()
      hd.count() // one hashing pass, shared by classify AND ingest
      val exPairs = hd.join(exactIdx, "h")
        .select(col("doc_id"), col("c_id"))
      val ex = exPairs
        .groupBy(col("doc_id")).agg(min(col("c_id")).as("ex_match"))
      val nearPairs = bandsOf(hd)
        .join(bandIdx, Seq("band_idx", "band_val"))
        .filter(bit_count(col("sh").bitwiseXOR(col("c_sh"))) <= HAMMING_MAX)
        .select(col("doc_id"), col("c_id"))
      val near = nearPairs
        .groupBy(col("doc_id")).agg(min(col("c_id")).as("near_match"))
      // append this batch's discovered pairs to the corpus pair store
      // (blind append; the reader OR-normalizes — see class doc)
      pairsStorePath.foreach { p =>
        def norm(df: DataFrame, exact: Boolean) = df.select(
          least(col("doc_id"), col("c_id")).as("doc_a"),
          greatest(col("doc_id"), col("c_id")).as("doc_b"),
          lit(exact).as("src_exact"), lit(false).as("src_minhash"),
          lit(!exact).as("src_simhash"), lit(false).as("src_ppjoin"),
          lit(false).as("src_embed"))
        norm(exPairs, exact = true).union(norm(nearPairs, exact = false))
          .distinct()
          .write.mode("append").parquet(p)
      }
      val out = hd.select(col("doc_id"))
        .join(ex, Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("ex_match").isNotNull, "exact")
            .when(col("near_match").isNotNull, "near")
            .otherwise("novel").as("status"),
          coalesce(col("ex_match"), col("near_match")).as("match_id"))
      // pin the result NOW (eager leaf-plan cut): the store
      // generations this plan reads are about to be replaced and hd
      // unpersisted, and the pin must stay distributed (no driver
      // round-trip — a backfill batch can be arbitrarily large)
      val result = out.localCheckpoint()
      if (ingestClassified) addToStore(hd)
      hd.unpersist()
      result
    }

    /** Drop the store references — checkpoint blocks are reclaimed by
      * the ContextCleaner once the generations are unreachable.
      */
    def close(): Unit = {
      exactIdx = spark.createDataFrame(
        java.util.Collections.emptyList[Row](), exactSchema)
      bandIdx = spark.createDataFrame(
        java.util.Collections.emptyList[Row](), bandSchema)
    }
  }

  /** The full pipeline: bootstrap the store from `corpus`, then attach
    * to a streaming (doc_id, text) source; every micro-batch is
    * classified and the classifications stream-load through
    * `transport` as JSON lines (`{"doc_id":…,"status":…,"match_id":…}`,
    * nulls kept) with labels scoped by the epoch — replays dedupe by
    * label, the [[StreamLoadSink]] contract.
    */
  def attach(stream: DataFrame, index: Index,
      cfg: StreamLoadSink.StreamLoadConfig,
      transport: StreamLoadSink.Transport)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, epochId: Long) =>
      val classified = index.classifyAndIngest(batch)
      val jsonLines = classified.select(to_json(
        struct(col("doc_id"), col("status"), col("match_id")),
        java.util.Collections.singletonMap("ignoreNullFields", "false"))
        .as("line"))
      StreamLoadSink.writeBatch(jsonLines, epochId, cfg, transport)
    }
}
