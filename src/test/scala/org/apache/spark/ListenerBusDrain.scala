package org.apache.spark

/** The listener bus is package-private; tests that count events drain it so
  * that a count read after an action includes every event the action raised. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
