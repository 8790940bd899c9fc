package org.apache.spark

/** The listener bus is package-private to Spark; the traced run needs every
  * posted event handled before it reads its counters. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
