package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** Test hooks into private[spark] state: the listener bus, so a suite can
  * count jobs exactly instead of sleeping, and the block manager master,
  * so a suite can see which RDD blocks the executors still hold. */
object SparkTestHooks {
  /** Block until every event posted so far has reached every listener. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The ids of the RDDs with at least one block stored anywhere. */
  def rddsWithBlocks(): Set[Int] =
    SparkEnv.get.blockManager.master
      .getMatchingBlockIds(_.isInstanceOf[RDDBlockId], askStorageEndpoints = true)
      .collect { case RDDBlockId(id, _) => id }.toSet
}
