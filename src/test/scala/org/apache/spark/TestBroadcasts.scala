package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Test access to the driver's block manager: the values of the
  * broadcast variables it still holds (a destroyed broadcast's blocks
  * are removed asynchronously).
  */
object TestBroadcasts {
  def values(): Seq[Any] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.flatMap(id => bm.getLocalValues(id).toSeq.flatMap(_.data.toList))
  }
}
