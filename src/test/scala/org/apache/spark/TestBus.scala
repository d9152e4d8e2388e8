package org.apache.spark

/** Listener events arrive asynchronously; a spec that asserts on what a
  * `SparkListener` saw first waits for the bus to drain.
  * `waitUntilEmpty` is package-private. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
