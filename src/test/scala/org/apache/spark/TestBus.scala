package org.apache.spark

/** The listener bus is package-private; a test that counts a call's jobs
  * waits on it so its listener has seen every job the call ran. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
