package org.apache.spark

/** Access to the listener bus drain, which is private to Spark: a spec
  * that asserts on listener events waits until every event of its
  * actions has been delivered.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
