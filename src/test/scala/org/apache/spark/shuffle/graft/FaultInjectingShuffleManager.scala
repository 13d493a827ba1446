package org.apache.spark.shuffle.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{SparkConf, TaskContext}
import org.apache.spark.shuffle.{ShuffleHandle, ShuffleReader, ShuffleReadMetricsReporter}
import org.apache.spark.shuffle.sort.SortShuffleManager

/** Test-only fault injector for the shuffle seam: the first
  * `FaultInjection.arm(n)` reduce-side readers throw mid-fetch, after
  * which every read succeeds — the analog of the reference's transport
  * plugin dying mid-fetch and the framework recovering by task retry
  * (its O22 fallback path re-fetches through the vanilla transport;
  * Spark's equivalent recovery is TaskSetManager re-attempting the
  * reduce task, which calls `getReader` again). Queries must survive
  * the injected failures with byte-identical results.
  *
  * A [[SortShuffleManager]] like the production seam, overriding only
  * `getReader`, so the injected-fault runs take production's write path
  * (no pre-shuffle row copy; see `GraftShuffleManager`).
  *
  * Lives under `org.apache.spark.shuffle` because the ShuffleManager
  * SPI is `private[spark]`; instantiated reflectively from
  * `spark.shuffle.manager`. The counter is a JVM-global static, which
  * is exactly right for `local[n,f]` where driver and executors share
  * the JVM.
  */
object FaultInjection {
  val remaining = new AtomicInteger(0)
  val injected = new AtomicInteger(0)
  def arm(n: Int): Unit = { remaining.set(n); injected.set(0) }
}

private[spark] class FaultInjectingShuffleManager(conf: SparkConf)
    extends SortShuffleManager(conf) {

  override def getReader[K, C](
      handle: ShuffleHandle,
      startMapIndex: Int, endMapIndex: Int,
      startPartition: Int, endPartition: Int,
      context: TaskContext,
      metrics: ShuffleReadMetricsReporter): ShuffleReader[K, C] = {
    val inner = super.getReader[K, C](handle, startMapIndex, endMapIndex,
      startPartition, endPartition, context, metrics)
    if (FaultInjection.remaining.getAndDecrement() > 0) {
      FaultInjection.injected.incrementAndGet()
      new ShuffleReader[K, C] {
        override def read(): Iterator[Product2[K, C]] = {
          // fail mid-stream, not at open: the real fetch starts, then
          // the task dies after consuming a record — the ugliest point
          // in the reference's failure window
          val it = inner.read()
          if (it.hasNext) it.next()
          throw new RuntimeException(
            "graft test: injected shuffle fetch failure")
        }
      }
    } else inner
  }
}
