package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a span
  * samples the counters of all the work it caused. The bus is internal to
  * Spark, hence this one shim inside Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
