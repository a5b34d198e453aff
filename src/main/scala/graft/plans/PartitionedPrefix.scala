package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Range-bucketed two-pass prefix aggregates — the scale-safe
  * replacement for `agg.over(Window.orderBy(key))` cumulative sums /
  * prefix minima over aggregated histograms (q79/q81/q85/q86/q128/
  * q137/q148).
  *
  * A window with no PARTITION BY moves the whole frame to ONE task
  * (WindowExec logs "No Partition Defined ... Moving all data to a
  * single partition"). The frames here are distinct-value histograms —
  * bounded by the value domain, not the corpus, but the domain still
  * grows with corpus scale (distinct lengths, distinct count values),
  * so at 100 TB the single-partition sort is a serial bottleneck on
  * the critical path. The classic fix (guide §2): two-pass prefix
  * sums —
  *
  *   1. bucket every row by a DATA-INDEPENDENT order-preserving map
  *      of the key — (bit length, top 5 bits): exact integer
  *      arithmetic (`length(bin(v))`, never an FP log whose boundary
  *      rounding could break monotonicity), no min/max pre-pass over
  *      the frame (a bounds aggregate + broadcast measured ~0.5 s of
  *      pure stage latency per bench query in the first cut);
  *   2. per-bucket partials (≤ ~2 k rows, one per OCCUPIED bucket)
  *      and per-bucket EXCLUSIVE offsets via a tiny self-join — no
  *      unpartitioned window anywhere;
  *   3. within-bucket running aggregates under
  *      `Window.partitionBy(bucket)` — each bucket's window runs in
  *      parallel — plus the broadcast bucket offset.
  *
  * cum(row) = offset(bucket) ⊕ within-bucket prefix — exactly the
  * global ordered aggregate when key values are DISTINCT (the
  * aggregated-histogram shape every caller has; ties would make both
  * the old RANGE frame and this decomposition ambiguous).
  *
  * Bucket granularity: each power-of-two range splits into 32
  * sub-buckets, so the largest bucket holds ~1/32 of a
  * uniformly-spread domain (a 1e6-value length histogram fans out to
  * ~hundreds of buckets; the serial worst case drops from the whole
  * frame to one sub-bucket).
  *
  * Requirements: `key` is a non-null NON-NEGATIVE integral column
  * with distinct values per row (the bit-length map is monotone only
  * for v >= 0 — every call site's key is a length, count, shard or
  * hash-bucket id); summed columns are integral (LongType).
  */
object PartitionedPrefix {

  /** Order-preserving data-independent bucket id of a non-negative
    * integral key: bitLength(v)·32 + (v >> (bitLength(v) − 5)).
    * Exact-integer monotone: v < w ⇒ bucket(v) <= bucket(w) (strictly
    * larger bit length dominates the ×32 term; equal bit lengths
    * compare on the shared 5-bit prefix).
    */
  private def bucketOf(key: String) =
    expr(s"length(bin($key)) * 32L + " +
      s"shiftright($key, greatest(length(bin($key)) - 5, 0))")

  /** A constant-zero NON-FOLDABLE partition key for windows whose
    * frame is bounded by a CONSTANT (not by the data): `anchor % 1`
    * over any column of the frame. `Window.partitionBy(lit(0))` does
    * NOT work for this — Spark's `EliminateWindowPartitions` rule
    * strips foldable partition expressions, silently reverting the
    * window to an unpartitioned spec (the all-rows-to-one-task plan
    * WindowExec warns about). An attribute-anchored pmod survives the
    * optimizer, costs one integer op per row, and documents at the
    * call site that the single partition is a deliberate, bounded
    * choice. Null-safe for any anchor type (null/NaN casts → 0).
    */
  def onePart(anchor: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(coalesce(anchor.cast("long"), lit(0L)), lit(1L))

  /** Append running aggregates over `df` ordered by `key`:
    * `sums`: (valCol, outCol) → outCol = sum(valCol) over rows from
    * the frame start (in key order, `desc`-aware) through the current
    * row, inclusive. `minExcl`: (valCol, outCol) → outCol =
    * min(valCol) over rows STRICTLY BEFORE the current row (null for
    * the first row) — q137's dominance frame.
    *
    * `df` is consumed by several branches (partials self-join + the
    * final windowed frame) but is NOT materialized here: every call
    * site's `df` is an aggregate ending in its own exchange, and AQE's
    * stage reuse computes that shuffle once for all canonically-equal
    * consumers — a lazy persist measured ~0.2 s/task of pure
    * InMemoryRelation build overhead on the bench's tiny frames and
    * would hold histogram-sized executor memory at scale for nothing
    * the exchange files don't already provide.
    */
  def cumulative(df: DataFrame, key: String, desc: Boolean = false,
      sums: Seq[(String, String)] = Nil,
      minExcl: Seq[(String, String)] = Nil): DataFrame = {
    require(sums.nonEmpty || minExcl.nonEmpty)
    val withB = df.withColumn("__b", bucketOf(key))
    val pAggs = sums.map { case (v, o) => sum(col(v)).as(s"__ps_$o") } ++
      minExcl.map { case (v, o) => min(col(v)).as(s"__pm_$o") }
    val partials = withB.groupBy(col("__b")).agg(pAggs.head, pAggs.tail: _*)
    // exclusive per-bucket offsets: one running aggregate over the
    // OCCUPIED-BUCKET table in traversal order. The bucket id is
    // bounded by a CONSTANT (≤ 64 bit lengths × 32 sub-buckets ≈ 2k
    // rows at ANY data size), so a single explicit partition is the
    // right plan — [[onePart]] keeps it from being stripped back to
    // an unpartitioned spec. This replaces the first cut's
    // partials×partials "strictly before" join + re-aggregation: same
    // nulls (first bucket's exclusive frame is empty), ~2 fewer
    // stages and no O(buckets²) predicate evaluation per call.
    val ordB = if (desc) col("__b").desc else col("__b").asc
    val wOff = Window.partitionBy(onePart(col("__b"))).orderBy(ordB)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = partials.select(col("__b") +:
      (sums.map { case (_, o) =>
        sum(col(s"__ps_$o")).over(wOff).as(s"__off_$o") } ++
        minExcl.map { case (_, o) =>
          min(col(s"__pm_$o")).over(wOff).as(s"__offm_$o") }): _*)
    val ord = if (desc) col(key).desc else col(key).asc
    val wIn = Window.partitionBy(col("__b")).orderBy(ord)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wInEx = Window.partitionBy(col("__b")).orderBy(ord)
      .rowsBetween(Window.unboundedPreceding, -1)
    var out = withB.join(broadcast(offsets), Seq("__b"), "left")
    sums.foreach { case (v, o) =>
      out = out.withColumn(o,
        coalesce(col(s"__off_$o"), lit(0L)) + sum(col(v)).over(wIn))
    }
    minExcl.foreach { case (v, o) =>
      // least() skips nulls: null offset (first bucket) and/or null
      // within-prefix (first row of a bucket) degrade exactly like the
      // global exclusive frame — null only for the global first row
      out = out.withColumn(o,
        least(col(s"__offm_$o"), min(col(v)).over(wInEx)))
    }
    out.drop("__b" +: (sums.map(s => s"__off_${s._2}") ++
      minExcl.map(m => s"__offm_${m._2}")): _*)
  }
}
