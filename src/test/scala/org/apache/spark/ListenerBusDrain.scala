package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so
  * far, so a test's `SparkListener` has seen every job a finished action
  * started. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
