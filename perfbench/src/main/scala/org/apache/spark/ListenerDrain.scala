package org.apache.spark

/** Blocks until every Spark listener event posted so far has been
  * delivered, so per-op counters are complete when an op is closed.
  * The listener bus is private to Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
