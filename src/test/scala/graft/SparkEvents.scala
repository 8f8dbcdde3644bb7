package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs and tasks started while a body runs, counted by a
  * listener (the bus is drained on both sides, so counts are complete).
  */
object SparkEvents {
  /** @param jobTasks tasks started per job, in job start order */
  final case class Counts(jobs: Int, tasks: Int, jobTasks: Seq[Int])

  def of[T](spark: SparkSession)(body: => T): (T, Counts) = {
    val sc = spark.sparkContext
    val tasks = new AtomicInteger
    val jobOfStage = mutable.Map.empty[Int, Int]
    val perJob = mutable.LinkedHashMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobOfStage.synchronized {
          e.stageIds.foreach(jobOfStage(_) = e.jobId)
          perJob(e.jobId) = 0
        }
      }
      override def onTaskStart(e: SparkListenerTaskStart): Unit = {
        tasks.incrementAndGet()
        jobOfStage.synchronized {
          jobOfStage.get(e.stageId).foreach(j => perJob(j) += 1)
        }
      }
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      TestListenerBus.drain(sc)
      (r, jobOfStage.synchronized(Counts(perJob.size, tasks.get, perJob.values.toSeq)))
    } finally sc.removeSparkListener(listener)
  }
}
