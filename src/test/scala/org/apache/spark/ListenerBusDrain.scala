package org.apache.spark

/** The listener bus's drain is private to Spark; specs that count
  * listener events wait on it so every posted event has been delivered.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
