package org.apache.spark

/** Lives in Spark's package only to reach the listener bus, which is
  * private to Spark: the traced run drains it before reading listener
  * totals, so every job and task event of a pass has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
