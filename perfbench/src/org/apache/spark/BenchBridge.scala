package org.apache.spark

/** The one Spark-internal call the benchmark needs: waiting for the
  * listener bus to drain, so span totals are complete when read. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
