package org.apache.spark

/** The listener bus is package-private and asynchronous; code that reads
  * listener events (`graft.tools.Profile`'s plan capture, tests that count
  * events) drains it so that what it reads after an action includes every
  * event the action raised. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
