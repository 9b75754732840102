package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * the benchmark's listener totals are complete when a pass is read. The
  * bus is `private[spark]`, hence this one-line shim in Spark's package. */
object PerfbenchDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
