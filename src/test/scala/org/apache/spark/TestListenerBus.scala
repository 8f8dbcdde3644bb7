package org.apache.spark

/** Test access to Spark-private API: wait until the listener bus has
  * delivered every queued event, so listener counts are complete.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
