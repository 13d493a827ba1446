package org.apache.spark.shuffle.graft

import org.apache.spark.SparkEnv
import org.apache.spark.shuffle.sort.SortShuffleManager

/** Test access to the `private[spark]` sort shuffle manager class. */
object ShuffleSeamAccess {
  def isSortShuffleManager: Boolean =
    SparkEnv.get.shuffleManager.isInstanceOf[SortShuffleManager]
}
