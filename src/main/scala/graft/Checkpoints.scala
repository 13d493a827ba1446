package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Lifecycle of a `localCheckpoint`: the one way to drop its blocks. */
object Checkpoints {

  /** Unpersists the RDDs under `checkpointed`'s `LogicalRDD`s.
    * `Dataset.unpersist` does not reach them: a checkpoint is not in the
    * cache manager, so its blocks would stay pinned for the session. */
  def release(checkpointed: Dataset[_]): Unit =
    checkpointed.queryExecution.analyzed.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
}
