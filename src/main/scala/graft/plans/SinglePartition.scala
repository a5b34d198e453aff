package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The explicit single partition for windows whose frame is bounded by
  * a value domain or a constant, not by the corpus: histogram running
  * sums (q79/q81/q85/q86/q128/q137/q148), the top-V vocab ids (q74)
  * and the IVF cell ranking (q107).
  */
object SinglePartition {

  /** A constant-zero NON-FOLDABLE partition key: `anchor % 1` over any
    * column of the frame. `Window.partitionBy(lit(0))` does NOT work
    * for this — Spark's `EliminateWindowPartitions` rule strips
    * foldable partition expressions, silently reverting the window to
    * an unpartitioned spec (the all-rows-to-one-task plan WindowExec
    * warns about with "No Partition Defined"). An attribute-anchored
    * pmod survives the optimizer, costs one integer op per row, and
    * documents at the call site that the single partition is a
    * deliberate, bounded choice. Null-safe for any anchor type
    * (null/NaN casts → 0).
    */
  def onePart(anchor: Column): Column =
    pmod(coalesce(anchor.cast("long"), lit(0L)), lit(1L))
}
