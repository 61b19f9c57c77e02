package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener's counters cover all the jobs an operation ran before the
  * benchmark reads them. The bus is private to Spark; this object sits in
  * Spark's package only to reach it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
