package org.apache.spark

/** Test access to Spark-private API: wait until the listener bus has
  * delivered every queued event, so listener counts are complete, and
  * tell a submitted stage's kind.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Is the stage a shuffle-map stage (it writes shuffle output)? */
  def isShuffleMap(info: org.apache.spark.scheduler.StageInfo): Boolean = info.shuffleDepId.isDefined
}
