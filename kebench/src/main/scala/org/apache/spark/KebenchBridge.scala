package org.apache.spark

/** Access to the context's package-private listener bus, so listener
  * counts are read only after every event of a pass was delivered. */
object KebenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
