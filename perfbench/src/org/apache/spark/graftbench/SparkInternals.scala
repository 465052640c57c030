// Lives under org.apache.spark so the traced run can reach two
// private[spark] services that no public API exposes: draining the
// listener bus (so every event of a query is attributed before the next
// query starts) and listing the blocks still held by the block manager.
package org.apache.spark.graftbench

import org.apache.spark.{SparkContext, SparkEnv}

object SparkInternals {
  /** Blocks until every listener has processed every event posted so far. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Names of the live persistent-RDD and broadcast blocks, as the block
    * manager master sees them. */
  def liveBlocks(): Set[String] =
    SparkEnv.get.blockManager.master
      .getMatchingBlockIds(id => id.isRDD || id.isBroadcast, askStorageEndpoints = true)
      .map(_.name).toSet
}
