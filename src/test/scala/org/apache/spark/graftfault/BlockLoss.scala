package org.apache.spark.graftfault

import org.apache.spark.SparkEnv

/** Block removal for fault-injection specs (`BlockManagerMaster` is
  * private[spark]). */
object BlockLoss {

  /** Removes every stored block of RDD `id` from every block manager,
    * as a lost executor or an evicted disk block would, and waits until
    * they are gone. */
  def removeRdd(id: Int): Unit =
    SparkEnv.get.blockManager.master.removeRdd(id, blocking = true)
}
