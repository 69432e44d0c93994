package org.apache.spark

/** The listener bus is package-private; the traced run waits on it so the
  * listener has seen every job of a call before the call's cost is read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
