package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loaders for the driver testdata (TESTDATA.md). Plain
  * `spark.read.parquet` — filters and column pruning reach the scan via
  * Catalyst pushdown, so no manual projection here.
  */
object Tables {
  def lineitem(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
  def orders(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/orders.parquet")
  def customer(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/customer.parquet")
  def supplier(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/supplier.parquet")
  def part(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/part.parquet")
  def nation(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/nation.parquet")
  def region(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/region.parquet")
  /** `events.ts` has shipped as two physical types across driver
    * testdata generations: parquet TIMESTAMP(NANOS) (which Spark 4
    * rejects by default, SPARK-40819 — read nanos as long, truncate to
    * micros) and plain TIMESTAMP(MICROS) with isAdjustedToUTC=false
    * (which Spark reads as TIMESTAMP_NTZ). Both normalize to the same
    * session-UTC TimestampType here, so every downstream query, oracle,
    * and golden digest sees one schema regardless of generation.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/events.parquet")
    val ts = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr("timestamp_micros(ts div 1000)")
      case _ => col("ts").cast("timestamp") // NTZ wall-clock == UTC instant
    }
    raw.withColumn("ts", ts)
  }
  def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
}
