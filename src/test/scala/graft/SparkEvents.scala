package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs and tasks started while a body runs, counted by a
  * listener (the bus is drained on both sides, so counts are complete).
  */
object SparkEvents {
  final case class Counts(jobs: Int, tasks: Int)

  def of[T](spark: SparkSession)(body: => T): (T, Counts) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      TestListenerBus.drain(sc)
      (r, Counts(jobs.get, tasks.get))
    } finally sc.removeSparkListener(listener)
  }
}
