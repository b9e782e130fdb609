package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

/** Test access to the driver's block manager (`private[spark]`), same
  * technique as [[ListenerBusBridge]].
  */
object BlockManagerBridge {
  /** Ids of the broadcasts whose value block the driver's block manager
    * holds and whose value satisfies `p`. */
  def broadcastIds(p: Any => Boolean): Set[Long] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.flatMap {
      case b @ BroadcastBlockId(id, _) =>
        // draining the values releases the block's read lock
        bm.getLocalValues(b).filter(_.data.toList.exists(p)).map(_ => id)
      case _ => None
    }.toSet
  }
}
