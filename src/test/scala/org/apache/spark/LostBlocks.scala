package org.apache.spark

/** Test-side block removal (the block manager is `private[spark]`):
  * drops every cached block of an RDD, as losing its executors would. */
object LostBlocks {
  def remove(rddId: Int): Unit =
    SparkEnv.get.blockManager.master.removeRdd(rddId, blocking = true)
}
