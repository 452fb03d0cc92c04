package org.apache.spark

/** The listener bus is package-private; the benchmark drains it so that
  * counters read after a window include every event raised inside it. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
