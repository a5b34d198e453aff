package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark drains it before
  * reading listener counts so no job, stage or progress event of a
  * measured interval is still in flight.
  */
object VBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
