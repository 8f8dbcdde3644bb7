package org.apache.spark

/** The one reach into Spark-private API the benchmark makes: waiting for
  * the listener bus to deliver every queued event, so span counters are
  * complete before they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
