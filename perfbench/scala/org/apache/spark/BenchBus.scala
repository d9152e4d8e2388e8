package org.apache.spark

/** The listener bus delivers events asynchronously; a traced pass
  * waits for it to drain so every job, stage and query of the pass is
  * counted in that pass. `waitUntilEmpty` is package-private. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
