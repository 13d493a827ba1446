package org.apache.spark

/** The one Spark-internal call the harness needs: listener events are
  * delivered asynchronously, so per-pass task metrics are complete only
  * after the bus has drained. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
