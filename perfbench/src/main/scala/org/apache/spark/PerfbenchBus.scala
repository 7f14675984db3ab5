package org.apache.spark

/** The listener bus's drain is private to Spark; the benchmark needs it so
  * counters read after a cycle include every event the cycle posted.
  */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
