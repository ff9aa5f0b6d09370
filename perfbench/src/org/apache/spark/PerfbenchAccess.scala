package org.apache.spark

/** Access to the listener bus drain, which is private to Spark: the
  * benchmark reads its listener's counters at op boundaries, after every
  * event of the op has been delivered.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
