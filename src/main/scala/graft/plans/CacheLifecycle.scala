package graft.plans

import org.apache.spark.sql.DataFrame

/** The one materialization contract for the intermediates the
  * operator library shares between branches (signature tables,
  * quantized corpora, pair lists, histograms).
  *
  * By default an intermediate is NOT materialized: a frame consumed by
  * several branches of one plan stays a plain subtree, and AQE
  * exchange reuse computes any shared exchange once. Where a measured
  * number says the recomputation costs more than sharing, the frame
  * is cut with `Dataset.localCheckpoint()` (directly, or through
  * [[materializeSpread]]):
  *
  *  - eager: the checkpoint runs as its own job while the DataFrame is
  *    BUILT, so construction executes work (explain-only tooling pays
  *    it too) and every later consumer reads finished blocks — the
  *    logical plan is truncated to a `LogicalRDD`, so no consumer
  *    re-optimizes or re-runs the lineage;
  *  - reclaimed by the ContextCleaner: the blocks live as long as the
  *    returned frame is reachable and are removed after it is
  *    garbage-collected — nothing registers in the SQL cache, and no
  *    caller owes an unpersist or a `clearCache`;
  *  - not replicated: the blocks sit on the executor that computed
  *    them, so losing that executor (dynamic deallocation, a crash)
  *    loses the checkpoint, and a later action on the frame fails
  *    instead of recomputing. In local mode the driver is the only
  *    executor; on a cluster the frame must be consumed while its
  *    executors live.
  *
  * A frame may stay plain only when recomputing it per branch yields
  * the same rows in every branch: its analyzed plan is deterministic
  * and any `row_number`/`rank` inside it orders on a unique key.
  * Otherwise it is checkpointed.
  */
object CacheLifecycle {

  /** Eagerly materialize an expensive generator table ONCE, spread
    * across the session's full parallelism, for plans whose branches
    * consume it CONCURRENTLY (AQE submits every leaf exchange job at
    * the same time).
    *
    * Why eager: a lazy cache is built by whichever task first
    * computes each partition — when N concurrent AQE stage jobs all
    * scan a not-yet-built cache, every one of them pays the full
    * generator pass (measured r12: the multi-signal mine ran 6–14
    * parallel single-task stages of 0.85–1.0 s each, all
    * recomputing/lock-waiting the same signature partition; wall cost
    * ≈ one full SERIAL generator pass per query, per the BlockManager
    * "already exists; not re-adding" races). Checkpointing first runs
    * the generator exactly once, as its own job, before any consumer
    * exists.
    *
    * Why the spread: generator inputs are typically a narrow
    * projection of a table scan, and parquet cannot split below a row
    * group — a small-file corpus scans as ONE partition, so the
    * per-row signature kernels (minhash/simhash/shingle hashes) run
    * single-threaded however many cores the session has. When the
    * scan's partition count is below the session's default
    * parallelism, one round-robin repartition of the (narrow) input
    * spreads the kernel work across all cores. The condition is
    * data-derived, not a regime switch: a scan with fewer splits than
    * cores (small files, or a few large row groups at any size) is
    * repartitioned, and that shuffle moves every column of `input` —
    * the raw text included — once. Callers therefore pass the
    * narrowest projection their kernel reads. Production pipelines
    * persist signature tables at ingest instead.
    */
  def materializeSpread(mk: DataFrame => DataFrame)(input: DataFrame)
      : DataFrame = {
    val target = input.sparkSession.sparkContext.defaultParallelism
    // .rdd only PLANS here (inputs are scan+project, exchange-free),
    // so getNumPartitions is the scan's split count. The repartition
    // goes on the INPUT, before `mk`'s kernel projection — Catalyst
    // collapses a projection into its scan, so repartitioning the
    // OUTPUT would still run the kernel single-task and merely move
    // its rows afterwards.
    val spread =
      if (input.rdd.getNumPartitions < target) input.repartition(target)
      else input
    mk(spread).localCheckpoint()
  }
}
